"""Streaming mode: the same pipeline over a streaming source via
foreachBatch, with per-node metrics and checkpointing — plus the
recovery orchestrator cycle (reference TestRecovery shape,
inttest/integration_test.go:125-212, scaled to a file-backed source)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from firebolt_spark import Pipeline
from firebolt_spark.catalog import load_table
from firebolt_spark.streaming.offsets import RecoveryRange
from firebolt_spark.streaming.recovery import RecoveryOrchestrator, RecoveryTracker
from firebolt_spark.streaming.runner import StreamingPipelineRunner


def await_batches(runner: StreamingPipelineRunner, n: int, timeout_s: float = 60.0) -> bool:
    """Wait until the runner has processed >= n batches
    (the reference's AwaitCondition, testutil/testutil.go)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if runner.metrics.batches >= n:
            return True
        time.sleep(0.2)
    return False


STREAM_YAML = """
application: stream-test
source: {name: rate, params: {rows_per_second: 200}}
nodes:
  - name: project
    id: shape
    params: {exprs: ["value", "value % 10 AS bucket"]}
    children:
      - name: filter
        id: keep_evens
        params: {predicate: "value % 2 = 0"}
"""


def test_streaming_pipeline_over_rate_source(spark, tmp_path):
    pipeline = Pipeline.from_yaml(STREAM_YAML)
    seen: list[int] = []

    def sink(df, batch_id):
        seen.extend(r["value"] for r in df.select("value").collect())

    runner = StreamingPipelineRunner(
        pipeline,
        sinks={"keep_evens": sink},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    query = runner.start(
        spark, trigger={"processingTime": "1 second"}, query_name="t-rate"
    )
    try:
        assert await_batches(runner, 3, timeout_s=60)
    finally:
        query.stop()
    # the filter held on every micro-batch
    assert seen and all(v % 2 == 0 for v in seen)
    # metrics parity: keep_evens success ≤ shape success, both counted
    m = runner.metrics
    assert m.node("shape").success >= m.node("keep_evens").success > 0
    assert m.rows_in >= m.node("shape").success


def test_metrics_cost_exactly_one_sweep_job_per_batch(spark):
    """VERDICT r1 #2: metrics-on must add exactly ONE Spark job per
    micro-batch (the sweep), not one .count() per node (N+2 jobs)."""
    pipeline = Pipeline.from_yaml(STREAM_YAML)
    batch = spark.range(0, 1000).select(
        F.col("id").alias("value"), F.lit("x").alias("tag")
    )

    def jobs_for(runner, group):
        # AQE executes each exchange stage as its own job, which makes
        # job-count ≠ action-count; disable it so 1 action ≈ 1 job and
        # the "exactly one extra action" invariant is countable.
        sc = spark.sparkContext
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup(group, group)
        try:
            runner._process_batch(spark)(batch, 0)
        finally:
            sc.setJobGroup(None, None)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # sink runs exactly one action (collect)
    on = StreamingPipelineRunner(
        pipeline, sinks={"keep_evens": lambda df, _b: df.collect()}
    )
    off = StreamingPipelineRunner(
        pipeline,
        sinks={"keep_evens": lambda df, _b: df.collect()},
        collect_metrics=False,
    )
    n_off = jobs_for(off, "m-off")
    n_on = jobs_for(on, "m-on")
    assert n_on == n_off + 1
    # sweep counted every node and the source
    assert on.metrics.rows_in == 1000
    assert on.metrics.node("shape").success == 1000
    assert on.metrics.node("keep_evens").success == 500


def test_failing_sink_releases_batch_caches(spark):
    """A sink that raises after its action must not leave the batch's
    cached source or fan-out prefix behind: the runner releases them on
    every path out of a micro-batch, and the error still propagates."""
    pipeline = Pipeline.from_yaml(
        """
application: leak-test
source: {name: rate, params: {rows_per_second: 1}}
nodes:
  - name: filter
    id: keep
    params: {predicate: "value % 2 = 0"}
    children:
      - name: project
        id: left
        params: {exprs: ["value"]}
      - name: project
        id: right
        params: {exprs: ["value * 2 AS doubled"]}
"""
    )
    batch = spark.range(0, 200).select(F.col("id").alias("value"))

    def cached() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def failing(df, _batch_id):
        df.collect()
        raise RuntimeError("sink down")

    def healthy(df, _batch_id):
        df.collect()

    before = cached()
    ok = StreamingPipelineRunner(pipeline, sinks={"left": healthy, "right": healthy})
    ok._process_batch(spark)(batch, 0)
    assert cached() == before
    bad = StreamingPipelineRunner(pipeline, sinks={"left": failing, "right": healthy})
    with pytest.raises(RuntimeError, match="sink down"):
        bad._process_batch(spark)(batch, 0)
    assert cached() == before
    assert bad.metrics.batches == 0


def test_prometheus_exposition_for_90_7_3_pipeline(spark):
    """C4 parity (metrics/metrics.go:106-185): source emitted, per-node
    received/processed/failed/filtered in exposition format after a
    100-row batch that filters 3 and errors 7 → 90 successes."""
    from firebolt_spark.streaming.metrics import (
        MetricsServer,
        prometheus_exposition,
    )

    pipeline = Pipeline.from_yaml(
        """
application: metrics-test
source: {name: rate, params: {rows_per_second: 1}}
nodes:
  - name: filter
    id: keep
    params: {predicate: "tag <> 'skip'"}
    children:
      - name: raise_when
        id: validate
        params: {predicate: "tag = 'bad'", message: "'boom'"}
        error_handler:
          name: error_kafka_producer
          id: dlq
          params: {topic: errors}
"""
    )
    tags = ["skip"] * 3 + ["bad"] * 7 + ["ok"] * 90
    batch = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tags)], "value BIGINT, tag STRING"
    )
    runner = StreamingPipelineRunner(pipeline, sinks={})
    runner._process_batch(spark)(batch, 0)

    text = prometheus_exposition(runner.metrics, pipeline, prefix="fb")
    assert "# TYPE fb_source_events_emitted_total counter" in text
    assert "fb_source_events_emitted_total 100" in text
    assert 'fb_node_received_events_total{node_id="keep"} 100' in text
    assert 'fb_node_filtered_events_total{node_id="keep"} 3' in text
    assert 'fb_node_processed_events_total{node_id="keep"} 97' in text
    assert 'fb_node_received_events_total{node_id="validate"} 97' in text
    assert 'fb_node_failed_events_total{node_id="validate"} 7' in text
    assert 'fb_node_processed_events_total{node_id="validate"} 90' in text
    # the error handler consumes validate's DEAD LETTERS: it receives
    # the parent's 7 errors (not its 90 successes), processes all 7,
    # and filters none
    assert 'fb_node_received_events_total{node_id="dlq"} 7' in text
    assert 'fb_node_processed_events_total{node_id="dlq"} 7' in text
    assert 'fb_node_filtered_events_total{node_id="dlq"} 0' in text

    # and the /metrics endpoint serves the same text
    import urllib.request

    server = MetricsServer(runner.metrics, pipeline, prefix="fb").start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics", timeout=10
        ).read().decode()
        assert body == text
    finally:
        server.stop()


def test_streaming_rejects_batch_source(spark, sf_dir):
    pipeline = Pipeline.from_yaml(STREAM_YAML)
    runner = StreamingPipelineRunner(pipeline)
    with pytest.raises(ValueError, match="not a streaming"):
        runner.start(spark, source_df=load_table(spark, sf_dir, "events"))


PIPE_YAML = """
application: recovery-test
source: {name: parquet, params: {path: "%(path)s"}}
nodes:
  - name: project
    id: out
    params: {exprs: ["event_id", "user_id"]}
"""


def _offsets_view(spark, sf_dir):
    """events as an offset-addressed stream: partition = user_id % 4,
    offset = event_id (dense per-partition offsets aren't required by
    the planner, only ordering)."""
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("partition", (F.col("user_id") % 4).cast("int"))
        .withColumn("offset", F.col("event_id"))
    )


def test_recovery_cycle(spark, sf_dir, tmp_path):
    src = _offsets_view(spark, sf_dir)
    pipeline = Pipeline.from_yaml(PIPE_YAML % {"path": f"{sf_dir}/events.parquet"})
    tracker = RecoveryTracker(str(tmp_path / "state"))
    orch = RecoveryOrchestrator(pipeline, tracker, max_partition_lag=100)

    highs = {
        r["partition"]: r["high"]
        for r in src.groupBy("partition").agg(F.max("offset").alias("high")).collect()
    }
    committed = {p: 0 for p in highs}
    plan = orch.plan(committed, highs)

    # live query starts high-maxlag; the gap is tracked for backfill
    for p, high in highs.items():
        assert plan.starting_offsets[p] == high - 100
    assert {r.partition_id for r in plan.ranges} == set(highs)

    rng = plan.ranges[0]
    result = orch.run_backfill_batch(spark, src, rng)
    out = result.outputs["out"]
    n = out.count()
    expect = src.filter(
        (F.col("partition") == rng.partition_id)
        & (F.col("offset") >= rng.from_offset)
        & (F.col("offset") < rng.to_offset)
    ).count()
    assert n == expect > 0
    # recovery stamp rides the envelope (recoveryconsumer.go:311-315)
    assert out.filter(~F.col("recovery")).count() == 0
    # completed range leaves the pending set
    assert rng not in tracker.pending()
    assert len(tracker.pending()) == len(plan.ranges) - 1


def test_recovery_max_records_cap(spark, sf_dir, tmp_path):
    pipeline = Pipeline.from_yaml(PIPE_YAML % {"path": f"{sf_dir}/events.parquet"})
    tracker = RecoveryTracker(str(tmp_path / "state"))
    orch = RecoveryOrchestrator(
        pipeline, tracker, max_partition_lag=10, max_records_per_partition=50
    )
    plan = orch.plan({0: 0}, {0: 1000})
    # parallelrecoverymaxrecords: only the newest 50 of the 990-gap
    assert plan.ranges == [RecoveryRange(0, 940, 990)]


def test_native_streaming_event_time_window(spark, tmp_path):
    """Watermarked tumbling window over a streaming source — native
    streaming state (not foreachBatch), the T8 capability the reference
    lacks."""
    from firebolt_spark.streaming.eventtime import tumbling_agg

    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .withColumnRenamed("timestamp", "created")
    )
    agg = tumbling_agg(
        sdf, "created", "2 seconds", group_cols=None, watermark="2 seconds"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 60
        rows = []
        while time.monotonic() < deadline:
            rows = spark.sql("SELECT * FROM win_counts").collect()
            if len(rows) >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 2
    for r in rows:
        # each closed 2s window carries ≈200 rows at 100 rps
        assert 0 < r["n"] <= 220
        assert (r["w"]["end"] - r["w"]["start"]).total_seconds() == 2.0


def test_streaming_file_source_picks_up_new_files(spark, tmp_path):
    """FileSource in streaming mode: rows flow as files land in the
    directory, including files added after the query starts."""
    import time

    from firebolt_spark.sources import FileSource

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, s STRING").write.mode(
        "append"
    ).parquet(str(in_dir))

    src = FileSource(
        {
            "path": str(in_dir),
            "streaming": True,
            "schema": "id BIGINT, s STRING",
        }
    ).load(spark)
    pipeline = Pipeline.from_yaml(
        """
application: file-stream
source: {name: rate, params: {}}
nodes:
  - name: project
    id: shape
    params: {exprs: ["id", "upper(s) AS s_up"]}
"""
    )
    seen: list[tuple] = []
    runner = StreamingPipelineRunner(
        pipeline,
        sinks={"shape": lambda df, bid: seen.extend(
            (r["id"], r["s_up"]) for r in df.collect()
        )},
        checkpoint_dir=str(tmp_path / "ckpt_fs"),
    )
    q = runner.start(spark, source_df=src, trigger={"processingTime": "1 second"})
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and len(seen) < 2:
            time.sleep(0.3)
        assert sorted(seen) == [(1, "A"), (2, "B")]
        # land a new file mid-stream
        spark.createDataFrame([(3, "c")], "id BIGINT, s STRING").write.mode(
            "append"
        ).parquet(str(in_dir))
        while time.monotonic() < deadline and len(seen) < 3:
            time.sleep(0.3)
    finally:
        q.stop()
    assert sorted(seen) == [(1, "A"), (2, "B"), (3, "C")]


def test_native_streaming_composition_with_error_split(spark, tmp_path):
    """streaming_transform: the YAML tree applied directly to a stream —
    filter + error-split run natively; ok and dlq branches are separate
    streaming DataFrames, each sinkable."""
    import time

    from firebolt_spark.sources import FileSource

    in_dir = tmp_path / "native_in"
    in_dir.mkdir()
    rows = [(1, "good"), (2, "error"), (3, "good"), (4, "error"), (5, "skipme")]
    spark.createDataFrame(rows, "id BIGINT, tag STRING").coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    pipeline = Pipeline.from_yaml(
        """
application: native
source: {name: rate, params: {}}
nodes:
  - name: filter
    id: keep
    params: {predicate: "tag <> 'skipme'"}
    children:
      - name: raise_when
        id: split
        params: {predicate: "tag = 'error'", message: "'native stream error'"}
        error_handler:
          name: error_kafka_producer
          id: dlq
          params: {topic: errs}
"""
    )
    src = FileSource(
        {"path": str(in_dir), "streaming": True, "schema": "id BIGINT, tag STRING"}
    ).load(spark)
    res = pipeline.streaming_transform(spark, source_df=src)
    assert res.outputs["split"].isStreaming and res.outputs["dlq"].isStreaming

    q_ok = (
        res.outputs["split"].select("id").writeStream.format("memory")
        .queryName("native_ok").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ok")).start()
    )
    q_dlq = (
        res.outputs["dlq"].writeStream.format("memory")
        .queryName("native_dlq").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dlq")).start()
    )
    try:
        deadline = time.monotonic() + 60
        ok_rows, dlq_rows = [], []
        while time.monotonic() < deadline and (len(ok_rows) < 2 or len(dlq_rows) < 2):
            ok_rows = spark.sql("SELECT id FROM native_ok").collect()
            dlq_rows = spark.sql("SELECT value FROM native_dlq").collect()
            time.sleep(0.3)
    finally:
        q_ok.stop()
        q_dlq.stop()
    assert sorted(r["id"] for r in ok_rows) == [1, 3]
    assert len(dlq_rows) == 2
    payload = bytes(dlq_rows[0]["value"]).decode()
    assert "native stream error" in payload and '"code":"ERR_UNKNOWN"' in payload


def test_stateful_running_counter(spark, tmp_path):
    """applyInPandasWithState: per-key counts accumulate ACROSS
    micro-batches (checkpointed state) — the custom-stateful-operator
    capability (SURVEY §7.0)."""
    from firebolt_spark.streaming.stateful import running_counter

    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .withColumn("key", (F.col("value") % 3).cast("string"))
    )
    out = running_counter(sdf, "key")
    q = (
        out.writeStream.format("memory")
        .queryName("counter_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 60
        done = False
        while time.monotonic() < deadline and not done:
            rows = spark.sql(
                "SELECT key, max(n) AS n, count(*) AS updates "
                "FROM counter_out GROUP BY key"
            ).collect()
            # state accumulated over >1 batch for every key
            done = len(rows) == 3 and all(
                r["updates"] >= 2 and r["n"] > r["updates"] for r in rows
            )
            time.sleep(0.5)
    finally:
        q.stop()
    assert done
    # running totals strictly exceed any single batch's contribution
    per_update = spark.sql(
        "SELECT key, n, batch_rows FROM counter_out ORDER BY n DESC"
    ).collect()
    top = per_update[0]
    assert top["n"] > top["batch_rows"] > 0


def test_tracker_merge_and_cancel(spark, tmp_path):
    tracker = RecoveryTracker(str(tmp_path / "state"))
    tracker.add([RecoveryRange(0, 0, 10), RecoveryRange(0, 5, 20)])
    assert tracker.pending() == [RecoveryRange(0, 0, 20)]
    tracker.add([RecoveryRange(0, 15, 30), RecoveryRange(1, 0, 5)])
    assert tracker.pending() == [RecoveryRange(0, 0, 30), RecoveryRange(1, 0, 5)]
    tracker.cancel_all()
    assert tracker.pending() == []


def test_sessionize_closed_only_emits_no_snapshots(spark, tmp_path):
    """emit_policy='closed_only': open sessions are never emitted —
    append-like consumption, one row per session ever."""
    import time as _time

    from firebolt_spark.streaming.stateful import sessionize

    src_dir = tmp_path / "sess_co"
    src_dir.mkdir()
    b1 = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:05:00")],
        "k STRING, ts STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.parquet(str(src_dir / "b1"))

    sdf = (
        spark.readStream.schema("k STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    out = sessionize(
        sdf, key_col="k", ts_col="ts", gap_seconds=30,
        emit_policy="closed_only",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_co")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_co"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.monotonic() + 30
        closed = []
        while _time.monotonic() < deadline and not closed:
            closed = spark.sql("SELECT * FROM sess_co WHERE closed").collect()
            _time.sleep(0.5)
        # the 5-min gap between the two events closes session 1
        assert len(closed) == 1 and closed[0]["n_events"] == 1
        # and NO open-session snapshot was ever emitted
        assert spark.sql("SELECT * FROM sess_co WHERE NOT closed").count() == 0
    finally:
        q.stop()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="emit_policy"):
        sessionize(sdf, emit_policy="bogus")


def test_session_fold_late_data_policy():
    """ADVICE r2: a cross-batch late event must never rewind the open
    session. In-gap late events count without moving session_end;
    events older than the closed-gap horizon are dropped."""
    from firebolt_spark.streaming.stateful import fold_session

    gap = 30_000_000  # 30 s in us
    # open session state: start=100s, last=200s, 5 events
    start, last, n = 100_000_000, 200_000_000, 5

    # in-gap late event (185 s): counted, session_end stays 200 s
    closed, (s2, l2, n2) = fold_session([185_000_000], start, last, n, gap)
    assert closed == [] and (s2, l2, n2) == (start, 200_000_000, 6)

    # late event INSIDE the open session's span (150 s ∈ [start, last]):
    # counted, boundaries untouched — it belongs to this session
    closed, (s3, l3, n3) = fold_session([150_000_000], start, last, n, gap)
    assert closed == [] and (s3, l3, n3) == (start, last, n + 1)

    # within gap of session_start (80 s >= start - gap): still counted,
    # session_start NOT rewound
    closed, (s5, l5, n5) = fold_session([80_000_000], start, last, n, gap)
    assert closed == [] and (s5, l5, n5) == (start, last, n + 1)

    # genuinely too late (60 s < start - gap): no extension of the open
    # session can reach it — dropped entirely
    closed, (s6, l6, n6) = fold_session([60_000_000], start, last, n, gap)
    assert closed == [] and (s6, l6, n6) == (start, last, n)

    # normal gap close still works: 300 s closes, opens a new session
    closed, (s4, l4, n4) = fold_session([300_000_000], start, last, n, gap)
    assert closed == [(start, last, n)]
    assert (s4, l4, n4) == (300_000_000, 300_000_000, 1)


def test_stateful_sessionize_gap_and_cross_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: a key's events split into
    sessions at event-time gaps; state carries the open session across
    micro-batches (file-per-trigger stream)."""
    import time as _time

    from firebolt_spark.streaming.stateful import sessionize

    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()
    schema = "k STRING, ts STRING"
    base = "2024-01-01 00:00:"
    batch1 = spark.createDataFrame(
        [("a", f"{base}00"), ("a", f"{base}05"), ("a", f"{base}10")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch2 = spark.createDataFrame(
        # 100s later — past the 30s gap: closes session 1, opens session 2
        [("a", "2024-01-01 00:01:50"), ("a", "2024-01-01 00:01:55")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch1.coalesce(1).write.parquet(str(src_dir / "b1"))

    sdf = (
        spark.readStream.schema("k STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    out = sessionize(sdf, key_col="k", ts_col="ts", gap_seconds=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline:
            if spark.sql("SELECT * FROM sess_out").count() >= 1:
                break
            _time.sleep(0.5)
        batch2.coalesce(1).write.parquet(str(src_dir / "b2"))
        deadline = _time.monotonic() + 30
        closed = []
        while _time.monotonic() < deadline and not closed:
            closed = spark.sql(
                "SELECT * FROM sess_out WHERE closed"
            ).collect()
            _time.sleep(0.5)
    finally:
        q.stop()
    # session 1 (3 events spanning 10s) closed by the 100s gap
    assert len(closed) == 1
    c = closed[0]
    assert c["n_events"] == 3
    assert c["session_end"] - c["session_start"] == 10_000_000
    # and the open session-2 snapshot carries the 2 new events
    snap = spark.sql(
        "SELECT * FROM sess_out WHERE NOT closed ORDER BY session_start DESC"
    ).collect()
    assert snap and snap[0]["n_events"] == 2


def test_checkpoint_restart_processes_each_file_exactly_once(spark, tmp_path):
    """T6/T7: stop the query, restart a NEW runner from the same
    checkpoint — already-committed input files are not reprocessed and
    new files are picked up (effectively-exactly-once to an idempotent
    sink across restarts)."""
    import time as _time

    src_dir = tmp_path / "restart_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")

    def write_batch(name, lo, hi):
        spark.createDataFrame(
            [(i,) for i in range(lo, hi)], "event_id BIGINT"
        ).coalesce(1).write.parquet(str(src_dir / name))

    yaml_text = """
application: restart
source:
  name: file
  params: {path: "%(path)s", format: parquet, schema: "event_id BIGINT",
           streaming: true, options: {maxFilesPerTrigger: 1}}
nodes:
  - name: project
    id: out
    params: {exprs: ["event_id"]}
"""
    seen: list[int] = []

    def sink(df, batch_id):
        seen.extend(r["event_id"] for r in df.select("event_id").collect())

    def run_until(n_rows, timeout=45):
        pipeline = Pipeline.from_yaml(yaml_text % {"path": f"{src_dir}/*"})
        runner = StreamingPipelineRunner(
            pipeline, sinks={"out": sink}, checkpoint_dir=ckpt
        )
        q = runner.start(spark, trigger={"processingTime": "1 second"},
                         query_name="t-restart")
        try:
            deadline = _time.monotonic() + timeout
            while _time.monotonic() < deadline and len(seen) < n_rows:
                _time.sleep(0.5)
            # stopping between foreachBatch and the offset commit would
            # (correctly, at-least-once) replay the batch on restart;
            # wait for an EMPTY committed trigger so the data batch's
            # offsets are durably committed before we stop
            while _time.monotonic() < deadline:
                lp = q.lastProgress
                if lp and lp["numInputRows"] == 0:
                    break
                _time.sleep(0.5)
        finally:
            q.stop()

    write_batch("f1", 0, 10)
    run_until(10)
    assert sorted(seen) == list(range(10))

    write_batch("f2", 10, 20)
    run_until(20)  # restart from the same checkpoint
    # f1 was NOT reprocessed; f2 arrived exactly once
    assert sorted(seen) == list(range(20))


SINK_TREE_YAML = """
application: sink-tree
source: {{name: rate, params: {{}}}}
nodes:
  - name: filter
    id: keep
    params: {{predicate: "id >= 0"}}
    children:
      - name: file_sink
        id: files
        params: {{path: "{root}/files", mode: append}}
      - name: lakehouse_sink
        id: lake
        params: {{path: "{root}/lake"}}
"""


def test_runner_writes_each_sink_once_per_micro_batch_with_its_id(spark, tmp_path):
    """With no caller sink, the runner writes every sink node once per
    micro-batch with the real batch id: the lakehouse table keeps every
    row in one ``_batch_id`` slice per micro-batch, and an appending
    file sink keeps every row. A caller's sink for a node replaces the
    node's own write."""
    from firebolt_spark.sources import FileSource

    in_dir = str(tmp_path / "in")
    for b in range(3):
        spark.range(b * 10, b * 10 + 10).coalesce(1).write.mode("append").parquet(in_dir)

    def run(root, sinks=None):
        pipeline = Pipeline.from_yaml(SINK_TREE_YAML.format(root=root))
        src = FileSource(
            {"path": in_dir, "streaming": True, "schema": "id BIGINT",
             "options": {"maxFilesPerTrigger": 1}}
        ).load(spark)
        runner = StreamingPipelineRunner(
            pipeline, sinks=sinks, checkpoint_dir=str(root / "ckpt")
        )
        q = runner.start(spark, source_df=src, trigger={"availableNow": True})
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        assert q.exception() is None and runner.metrics.batches == 3

    own, caller = tmp_path / "own", tmp_path / "caller"
    run(own)
    lake = spark.read.parquet(str(own / "lake"))
    assert sorted(r.id for r in lake.collect()) == list(range(30))
    slices = {r["_batch_id"]: r["count"] for r in lake.groupBy("_batch_id").count().collect()}
    assert slices == {0: 10, 1: 10, 2: 10}
    files = spark.read.parquet(str(own / "files"))
    assert sorted(r.id for r in files.collect()) == list(range(30))

    got: list[tuple[int, int]] = []
    run(caller, {"lake": lambda df, b: got.append((b, df.count()))})
    assert sorted(got) == [(0, 10), (1, 10), (2, 10)]
    assert not (caller / "lake").exists()
    assert spark.read.parquet(str(caller / "files")).count() == 30


BACKFILL_SINKS_YAML = """
application: backfill-sinks
source: {{name: rate, params: {{}}}}
nodes:
  - name: file_sink
    id: files
    params: {{path: "{root}/files", mode: {mode}}}
  - name: lakehouse_sink
    id: lake
    params: {{path: "{root}/lake"}}
"""


def test_backfill_writes_its_sinks_before_completing_the_range(spark, tmp_path):
    """A backfill writes every sink before it marks its range done: a
    sink that raises leaves the range pending; a run that succeeds keeps
    every row of the range in an appending file sink and in a lakehouse
    slice that a live micro-batch's write leaves in place."""
    import os

    from firebolt_spark.event import ensure_envelope

    src = spark.range(40).select(
        F.col("id").alias("offset"), (F.col("id") % 2).cast("int").alias("partition")
    )
    tracker = RecoveryTracker(str(tmp_path / "state"))
    rng = RecoveryRange(0, 10, 30)
    tracker.add([rng])

    def orchestrator(root, mode):
        pipeline = Pipeline.from_yaml(BACKFILL_SINKS_YAML.format(root=root, mode=mode))
        return RecoveryOrchestrator(pipeline, tracker, max_partition_lag=100)

    bad = tmp_path / "bad"
    os.makedirs(bad / "files")  # mode error: the file sink raises
    with pytest.raises(Exception, match="already exists"):
        orchestrator(bad, "error").run_backfill_batch(spark, src, rng)
    assert tracker.pending() == [rng]

    ok = tmp_path / "ok"
    orch = orchestrator(ok, "append")
    orch.run_backfill_batch(spark, src, rng).unpersist()
    assert tracker.pending() == []
    expect = list(range(10, 30, 2))
    files = spark.read.parquet(str(ok / "files"))
    assert sorted(r.offset for r in files.collect()) == expect

    # a live micro-batch 0 leaves the backfill's lakehouse slice in place
    from firebolt_spark.streaming.recovery import backfill_batch_id

    live_src = ensure_envelope(src.filter(F.col("offset") < 4))
    live = orch.pipeline.run_batch(spark, source_df=live_src)
    orch.pipeline.write_sinks(live, 0)
    live.unpersist()
    lake = spark.read.parquet(str(ok / "lake"))
    slices = {
        r["_batch_id"]: sorted(r["offsets"])
        for r in lake.groupBy("_batch_id")
        .agg(F.collect_list("offset").alias("offsets"))
        .collect()
    }
    assert backfill_batch_id(rng) < 0
    assert slices == {backfill_batch_id(rng): expect, 0: [0, 1, 2, 3]}


def test_runner_indexes_an_es_leaf_once_per_micro_batch(spark, tmp_path):
    """With metrics on and no caller sink, the Elasticsearch leaf is
    indexed once per micro-batch, by its own write; the sweep counts it
    from what that write returned instead of forcing its frame again."""
    import os
    from functools import partial

    from firebolt_spark.sinks.elasticsearch import ElasticsearchSink
    from tests.es_fakes import FileBackedBulkClient

    pipeline = Pipeline.from_yaml(
        """
application: es-runner
source: {name: rate, params: {}}
nodes:
  - name: elasticsearch
    id: es
"""
    )
    spool = str(tmp_path / "spool")
    pipeline.roots[0].operator = ElasticsearchSink(
        {"batch_size": 10, "client_factory": partial(FileBackedBulkClient, spool, {"d3"})}
    )
    batch = spark.range(50).selectExpr(
        "'logs' AS index", "concat('d', id) AS doc_id", "'{}' AS doc"
    ).coalesce(2)
    runner = StreamingPipelineRunner(pipeline)
    runner._process_batch(spark)(batch, 0)

    calls = os.path.join(spool, "calls")
    indexed = sum(int(open(os.path.join(calls, f)).read()) for f in os.listdir(calls))
    assert indexed == 50
    assert runner.metrics.rows_in == 50
    assert runner.metrics.node("es").success == 1  # the one dead letter, d3


def test_streaming_transform_sinks_an_es_leaf(spark, tmp_path):
    """Native streaming indexes the Elasticsearch leaf: its dead-letter
    frame is a streaming plan, and ``foreachBatch`` on the node's
    ``write`` indexes every doc exactly once."""
    import os

    from firebolt_spark.sinks.elasticsearch import ElasticsearchSink
    from firebolt_spark.sources import FileSource
    from tests.es_fakes import FileBackedBulkClient

    schema = "index STRING, doc_id STRING, doc STRING"
    in_dir = str(tmp_path / "docs_in")
    spark.range(30).selectExpr(
        "'logs' AS index", "concat('d', id) AS doc_id", "'{}' AS doc"
    ).coalesce(2).write.parquet(in_dir)

    pipeline = Pipeline.from_yaml(
        """
application: es-native
source: {name: rate, params: {}}
nodes:
  - name: elasticsearch
    id: es
"""
    )
    spool = str(tmp_path / "spool")
    es = pipeline.roots[0].operator = ElasticsearchSink(
        {"batch_size": 7, "client_factory": lambda: FileBackedBulkClient(spool, {"d3"})}
    )
    src = FileSource({"path": in_dir, "streaming": True, "schema": schema}).load(spark)
    res = pipeline.streaming_transform(spark, source_df=src)
    written = []
    q = (
        res.outputs["es"].writeStream
        .foreachBatch(lambda df, batch_id: written.append(es.write(df, batch_id)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    calls = os.path.join(spool, "calls")
    sent = sum(int(open(os.path.join(calls, f)).read()) for f in os.listdir(calls))
    assert sent == 30
    assert FileBackedBulkClient(spool).indexed_ids() == sorted(
        f"d{i}" for i in range(30) if i != 3
    )
    assert sum(w.rows for w in written) == 1
    assert [r["doc_id"] for w in written for r in w.sample] == ["d3"]


def _await_advancing(q, done, window_s: float = 45.0) -> None:
    """Poll ``done()`` until it holds or ``window_s`` seconds pass with
    no new micro-batch that read input. Each such batch restarts the
    window, so a slow query that still advances is not cut off; the
    input is finite, so the wait still ends."""
    import time

    def read_batches() -> int:
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    seen, deadline = read_batches(), time.monotonic() + window_s
    while not done() and time.monotonic() < deadline:
        time.sleep(0.5)
        n = read_batches()
        if n != seen:
            seen, deadline = n, time.monotonic() + window_s


def test_chaos_sessionize_to_idempotent_sink_survives_crash_restart(
    spark, tmp_path
):
    """VERDICT r3 "Next #6" — the reference's TestRecovery shape
    (inttest/integration_test.go:125-212) composed end-to-end: the
    stateful sessionizer feeds an IdempotentBatchWriter; the query is
    killed AFTER the sink wrote the batch that closes a session but
    BEFORE its offsets commit; a new query restarts from the same
    checkpoint. Asserted TOGETHER on the final table: exactly-once
    effect (each closed session present once despite the redelivery)
    AND session conservation (every source event counted exactly once
    across closed sessions + live snapshots)."""
    from firebolt_spark.sinks.lakehouse import IdempotentBatchWriter
    from firebolt_spark.streaming.stateful import sessionize

    src_dir = tmp_path / "chaos_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "chaos_ckpt")
    out_path = str(tmp_path / "chaos_out")

    schema = "k STRING, ts STRING"
    b1 = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00"),
            ("a", "2024-01-01 00:00:05"),
            ("a", "2024-01-01 00:00:10"),
            ("b", "2024-01-01 00:00:02"),
            ("b", "2024-01-01 00:00:07"),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # 100 s later — past the 30 s gap: closes a's first session
    b2 = spark.createDataFrame(
        [("a", "2024-01-01 00:01:50"), ("a", "2024-01-01 00:01:55")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    total_events = 7

    writer = IdempotentBatchWriter(out_path)
    crashed = {"done": False}
    deliveries: list[tuple[int, tuple]] = []

    def chaos_sink(df, batch_id):
        rows = df.collect()
        deliveries.extend(
            (batch_id, (r["key"], r["session_start"], r["closed"]))
            for r in rows
        )
        writer(df, batch_id)  # the write LANDS before the crash
        if any(r["closed"] for r in rows) and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("simulated crash after write, before commit")

    def start_query():
        sdf = (
            spark.readStream.schema("k STRING, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir / "*"))
        )
        out = sessionize(
            sdf, key_col="k", ts_col="ts", gap_seconds=30,
            idle_timeout_ms=600_000,  # no idle closes inside the test
        )
        return (
            out.writeStream.foreachBatch(chaos_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    b1.coalesce(1).write.parquet(str(src_dir / "f1"))
    q = start_query()
    try:
        _await_advancing(q, lambda: bool(deliveries))
        assert deliveries, "first batch never arrived"
        b2.coalesce(1).write.parquet(str(src_dir / "f2"))
        _await_advancing(q, lambda: q.exception() is not None)
        assert q.exception() is not None, "chaos crash must fail the query"
    finally:
        q.stop()
    assert crashed["done"]

    # restart from the same checkpoint: the uncommitted batch replays
    q = start_query()
    try:
        _await_advancing(
            q, lambda: len([d for d in deliveries if d[1][2]]) >= 2
        )
    finally:
        q.stop()

    # the closed session really was redelivered (same content, twice)...
    closed_deliveries = [d for d in deliveries if d[1][2]]
    assert len(closed_deliveries) >= 2
    assert len({d[1] for d in closed_deliveries}) == 1
    # ...with the SAME batch id both times (replay, not a new batch)
    assert len({d[0] for d in closed_deliveries}) == 1

    # final table: exactly-once + conservation, asserted together
    final = spark.read.parquet(out_path).collect()
    closed_rows = [r for r in final if r["closed"]]
    closed_keys = [(r["key"], r["session_start"]) for r in closed_rows]
    assert len(closed_keys) == len(set(closed_keys)), "duplicated session"
    assert ("a", 0) not in closed_keys  # sanity: micros, not zero
    assert len(closed_rows) == 1 and closed_rows[0]["n_events"] == 3

    latest_open: dict[tuple, object] = {}
    for r in final:
        if not r["closed"]:
            key = (r["key"], r["session_start"])
            if (
                key not in latest_open
                or r["_batch_id"] > latest_open[key]["_batch_id"]
            ):
                latest_open[key] = r
    live = [
        r for key, r in latest_open.items() if key not in set(closed_keys)
    ]
    counted = sum(r["n_events"] for r in closed_rows) + sum(
        r["n_events"] for r in live
    )
    assert counted == total_events, (
        f"conservation broken: {counted} != {total_events}"
    )


def test_mid_batch_crash_replays_batch_to_idempotent_sink(spark, tmp_path):
    """VERDICT r2 #7 (no broker in this sandbox, so the kill is a sink
    crash between writes): the sink dies MID-BATCH after a partial
    write; a new runner restarts from the same checkpoint. The batch
    must replay — its offsets were never committed — with the SAME
    batch_id, and an idempotent upsert sink converges to exactly-once
    effect: every row present once, no duplicates, no loss."""
    import time as _time

    src_dir = tmp_path / "crash_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "crash_ckpt")
    spark.createDataFrame(
        [(i,) for i in range(10)], "event_id BIGINT"
    ).coalesce(1).write.parquet(str(src_dir / "f1"))

    yaml_text = """
application: midbatch-crash
source:
  name: file
  params: {path: "%(path)s", format: parquet, schema: "event_id BIGINT",
           streaming: true, options: {maxFilesPerTrigger: 1}}
nodes:
  - name: project
    id: out
    params: {exprs: ["event_id"]}
"""
    store: dict[int, int] = {}  # event_id -> batch_id (idempotent upsert)
    deliveries: list[tuple[int, int]] = []  # every (batch_id, event_id) attempt
    crashed = {"done": False}

    def sink(df, batch_id):
        rows = sorted(r["event_id"] for r in df.select("event_id").collect())
        for i, ev in enumerate(rows):
            if not crashed["done"] and i == len(rows) // 2:
                crashed["done"] = True
                raise RuntimeError("simulated mid-batch crash")
            store[ev] = batch_id
            deliveries.append((batch_id, ev))

    def start_runner():
        pipeline = Pipeline.from_yaml(yaml_text % {"path": f"{src_dir}/*"})
        runner = StreamingPipelineRunner(
            pipeline, sinks={"out": sink}, checkpoint_dir=ckpt
        )
        return runner.start(
            spark, trigger={"processingTime": "1 second"}, query_name="t-crash"
        )

    # attempt 1: crashes mid-batch, offsets never committed
    q = start_runner()
    deadline = _time.monotonic() + 45
    while _time.monotonic() < deadline and q.exception() is None:
        _time.sleep(0.5)
    assert q.exception() is not None, "sink crash must fail the query"
    q.stop()
    assert 0 < len(store) < 10  # the partial write really happened

    # attempt 2: same checkpoint — the uncommitted batch replays
    q = start_runner()
    try:
        deadline = _time.monotonic() + 45
        while _time.monotonic() < deadline and len(store) < 10:
            _time.sleep(0.5)
    finally:
        q.stop()

    # exactly-once effect: all rows present, none lost, none duplicated
    assert sorted(store) == list(range(10))
    # the replay really was a redelivery (some rows delivered twice)...
    redelivered = len(deliveries) - len(set(deliveries))
    assert redelivered > 0
    # ...and it carried the SAME batch_id, the key an idempotent
    # overwrite-by-batch sink (e.g. partitioned parquet rewrite) needs
    assert len({b for b, _ in deliveries}) == 1


def test_stream_interval_join_matches_within_window(spark, tmp_path):
    """Watermarked stream-stream interval join (round 7): rows sharing
    the key match iff the right event lands within [0s, 60s] after the
    left event; out-of-interval and key-mismatched rows never emit. The
    interval condition is what bounds the join state — asserted by the
    query actually running in append mode (unbounded stream-stream
    joins without it are rejected by Spark for exactly that reason)."""
    import time

    from firebolt_spark.streaming.eventtime import stream_interval_join

    schema = "k BIGINT, created TIMESTAMP, v STRING"
    ldir, rdir = tmp_path / "l", tmp_path / "r"
    t0 = "2026-01-01 00:00:"
    spark.createDataFrame(
        [(1, f"{t0}00", "l1"), (2, f"{t0}00", "l2"), (3, f"{t0}00", "l3")],
        "k BIGINT, created STRING, v STRING",
    ).selectExpr("k", "CAST(created AS TIMESTAMP) created", "v").write.parquet(
        str(ldir)
    )
    spark.createDataFrame(
        [
            (1, f"{t0}30", "r-in"),        # inside [0, 60s]
            (2, "2026-01-01 00:02:00", "r-late"),  # outside upper bound
            (9, f"{t0}10", "r-nokey"),     # no matching key
        ],
        "k BIGINT, created STRING, v STRING",
    ).selectExpr("k", "CAST(created AS TIMESTAMP) created", "v").write.parquet(
        str(rdir)
    )
    left = spark.readStream.schema(schema).parquet(str(ldir))
    right = spark.readStream.schema(schema).parquet(str(rdir))
    joined = stream_interval_join(
        left, right, keys=["k"], lower="0 seconds", upper="60 seconds",
        watermark="5 minutes",
    )
    assert set(joined.columns) == {"k", "created", "v", "created_r", "v_r"}
    q = (
        joined.writeStream.format("memory")
        .queryName("sij")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sij"))
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        rows = []
        while time.monotonic() < deadline:
            rows = spark.sql("SELECT k, v, v_r FROM sij").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert [(r["k"], r["v"], r["v_r"]) for r in rows] == [(1, "l1", "r-in")]


def test_stream_interval_join_escapes_embedded_backticks(spark):
    """A column name CONTAINING a backtick (ADVICE r8's residual case)
    is quoted with the doubled-backtick escape instead of terminating
    the quote and injecting into the F.expr parse. Batch frames: the
    watermark is a no-op and the same join plan executes eagerly."""
    from firebolt_spark.streaming.eventtime import stream_interval_join

    def mk(v):
        return spark.createDataFrame(
            [(1, "2026-01-01 00:00:00", v)], ["k", "created_s", "v"]
        ).selectExpr(
            "k AS `weird``key`", "CAST(created_s AS TIMESTAMP) created", "v"
        )

    joined = stream_interval_join(
        mk("l1"), mk("r1"), keys=["weird`key"],
        lower="0 seconds", upper="60 seconds",
    )
    assert [f.name for f in joined.schema.fields] == [
        "weird`key", "created", "v", "created_r", "v_r"]
    rows = joined.collect()
    assert rows and rows[0]["v_r"] == "r1"


def test_stream_interval_join_quotes_identifiers_and_validates_intervals(
    spark, tmp_path
):
    """A key named with a space (legal via backticks everywhere else in
    the API) must survive the F.expr interpolation, and a free-text
    interval that is not '<int> <unit>' is rejected before it reaches
    the SQL parser (ADVICE r7)."""
    import time

    import pytest

    from firebolt_spark.streaming.eventtime import stream_interval_join

    schema = "`event key` BIGINT, created TIMESTAMP, v STRING"
    ldir, rdir = tmp_path / "l", tmp_path / "r"
    mk = lambda rows: spark.createDataFrame(
        rows, "`event key` BIGINT, created STRING, v STRING"
    ).selectExpr("`event key`", "CAST(created AS TIMESTAMP) created", "v")
    mk([(1, "2026-01-01 00:00:00", "l1")]).write.parquet(str(ldir))
    mk([(1, "2026-01-01 00:00:30", "r1")]).write.parquet(str(rdir))
    left = spark.readStream.schema(schema).parquet(str(ldir))
    right = spark.readStream.schema(schema).parquet(str(rdir))

    with pytest.raises(ValueError, match="interval"):
        stream_interval_join(left, right, keys=["event key"],
                             lower="0 seconds OR 1=1", upper="60 seconds")
    with pytest.raises(ValueError, match="interval"):
        stream_interval_join(left, right, keys=["event key"],
                             lower="0 seconds", upper="drop table x")

    joined = stream_interval_join(
        left, right, keys=["event key"], lower="0 seconds",
        upper="60 seconds", watermark="5 minutes",
    )
    q = (joined.writeStream.format("memory").queryName("sij_quoted")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_q"))
         .start())
    try:
        deadline = time.monotonic() + 60
        rows = []
        while time.monotonic() < deadline:
            rows = spark.sql(
                "SELECT `event key` AS k, v, v_r FROM sij_quoted").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert [(r["k"], r["v"], r["v_r"]) for r in rows] == [(1, "l1", "r1")]

"""One tree, three execution paths, one answer.

The same seeded columnar tree runs over the same rows as a batch
(``Pipeline.run_batch``), as three foreachBatch micro-batches
(``StreamingPipelineRunner``) and as a native stream
(``Pipeline.streaming_transform`` into memory sinks). Every leaf must
emit the same multiset of rows in all three, and the runner's counters
must equal the batch outputs' row counts — the two-engines-one-answer
check that keeps the shared tree walk honest.
"""

from __future__ import annotations

import random
import uuid
from collections import Counter

from firebolt_spark import Pipeline
from firebolt_spark.sources import FileSource
from firebolt_spark.streaming.runner import StreamingPipelineRunner

TREE_YAML = """
application: differential
source: {name: rate, params: {}}
nodes:
  - name: filter
    id: keep
    params: {predicate: "tag <> 'skip'"}
    children:
      - name: raise_when
        id: split
        params: {predicate: "tag = 'bad'", message: "concat('bad row ', id)"}
        error_handler:
          name: error_kafka_producer
          id: dlq
          params: {topic: errors}
        children:
          - name: project
            id: a
            params: {exprs: ["id", "upper(tag) AS shout"]}
          - name: filter
            id: b
            params: {predicate: "id % 3 = 0"}
"""

SCHEMA = "id BIGINT, tag STRING, created TIMESTAMP, recovery BOOLEAN"
LEAVES = ("a", "b", "dlq")
N_ROWS, N_BATCHES = 300, 3


def _rows(seed: int = 7) -> list[tuple]:
    """300 events, a seeded shuffle of 75 'skip', 75 'bad' and 150 'ok'
    tags, with fixed ``created``/``recovery`` envelope columns so the
    dead-letter envelope is the same in every mode."""
    import datetime as dt

    tags = ["skip"] * 75 + ["bad"] * 75 + ["ok"] * 150
    random.Random(seed).shuffle(tags)
    t0 = dt.datetime(2024, 1, 1)
    return [
        (i, tag, t0 + dt.timedelta(seconds=i), i % 2 == 0)
        for i, tag in enumerate(tags)
    ]


def _multiset(rows) -> Counter:
    return Counter(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in rows
    )


def test_batch_runner_and_native_stream_agree(spark, tmp_path):
    pipeline = Pipeline.from_yaml(TREE_YAML)
    rows = _rows()
    size = N_ROWS // N_BATCHES
    slices = [rows[i * size:(i + 1) * size] for i in range(N_BATCHES)]

    # 1. batch
    batch = pipeline.run_batch(spark, source_df=spark.createDataFrame(rows, SCHEMA))
    try:
        want = {leaf: _multiset(batch.outputs[leaf].collect()) for leaf in LEAVES}
        counts = {nid: df.count() for nid, df in batch.outputs.items()}
        error_counts = {nid: df.count() for nid, df in batch.errors.items()}
    finally:
        batch.unpersist()
    assert sorted(batch.leaves) == sorted(LEAVES)
    assert counts["keep"] == 225 and counts["split"] == 150
    assert error_counts == {"split": 75}
    assert sum(want["a"].values()) == 150 and sum(want["dlq"].values()) == 75

    # 2. foreachBatch runner over three micro-batches
    got: dict[str, list] = {leaf: [] for leaf in LEAVES}
    runner = StreamingPipelineRunner(
        pipeline,
        sinks={
            leaf: (lambda df, _b, leaf=leaf: got[leaf].extend(df.collect()))
            for leaf in LEAVES
        },
    )
    process = runner._process_batch(spark)
    for batch_id, part in enumerate(slices):
        process(spark.createDataFrame(part, SCHEMA), batch_id)
    for leaf in LEAVES:
        assert _multiset(got[leaf]) == want[leaf], f"runner leaf {leaf}"
    m = runner.metrics
    assert m.batches == N_BATCHES and m.rows_in == N_ROWS
    for nid, n in counts.items():
        assert m.node(nid).success == n, f"runner success counter {nid}"
    for nid in counts:
        assert m.node(nid).error == error_counts.get(nid, 0), f"runner error counter {nid}"

    # 3. native stream, one file per micro-batch, drained by availableNow
    in_dir = tmp_path / "in"
    for part in slices:
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode("append").parquet(
            str(in_dir)
        )
    src = FileSource(
        {
            "path": str(in_dir),
            "streaming": True,
            "schema": SCHEMA,
            "options": {"maxFilesPerTrigger": 1},
        }
    ).load(spark)
    native = pipeline.streaming_transform(spark, source_df=src)
    names = {leaf: f"diff_{leaf}_{uuid.uuid4().hex[:8]}" for leaf in LEAVES}
    queries = [
        native.outputs[leaf].writeStream.format("memory").queryName(names[leaf])
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ck_{leaf}"))
        .start()
        for leaf in LEAVES
    ]
    try:
        for q in queries:
            assert q.awaitTermination(120), f"native query {q.name} did not drain"
    finally:
        for q in queries:
            q.stop()
    for leaf, name in names.items():
        assert _multiset(spark.table(name).collect()) == want[leaf], f"native leaf {leaf}"
        spark.catalog.dropTempView(name)

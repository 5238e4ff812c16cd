"""The three workloads. Each builds its pipeline from YAML through the
public surface, times set-up, then measures for the run's seconds with
every leaf forced the way its sink would force it, and checks every
output against counts derived from the generated input.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import (
    NullBulkClient,
    SparkRest,
    Tracer,
    counter_accumulators,
    find_node,
    median,
    peak_rss_mb,
    quantile,
    start_session,
    weighted_quantile,
)

SETUP_REPEATS = 3
NEAR_THRESHOLD = 0.5
NEAR_RECALL_FLOOR = 0.9      # share of planted near-duplicate pairs emitted
NEAR_PRECISION_FLOOR = 0.98  # share of emitted pairs with exact Jaccard >= threshold

# Input sizes at --scale 1. A logging_batch pass costs about 0.76 s
# fixed plus 13 us per event on 4 vCPUs; at 150k events the per-event
# part is about 72 % of the pass.
LOGGING_EVENTS = 150_000
CORPUS_DOCS = 1_000
STREAM_FILE_EVENTS = 1_000  # events per generated file
STREAM_INTERVAL = 1.0       # one file per interval: 1000 events/s
STREAM_TRIGGER_S = 3.0      # micro-batch trigger: three files per batch
STREAM_WARM_S = 6.0         # generated before the steady window: two micro-batches

LOGGING_TREE = """
nodes:
  - name: filter
    id: drop
    params: {predicate: "NOT startswith(payload, 'filter me')"}
    children:
      - name: syslog_parser
        id: parse
        error_handler:
          name: error_kafka_producer
          id: errors
          params: {topic: logging-errors}
        children:
          - name: doc_builder
            id: docs
            params: {index: logs, id_col: event_id}
            children:
              - name: elasticsearch
                id: es
          - name: json_builder
            id: build
            params: {fields: [event_id, host, program, pid, cee]}
            children:
              - name: kafka_producer
                id: kafka
                params: {topic: logs}
"""

LOGGING_BATCH_YAML = """
application: perfbench-logging-batch
source:
  name: parquet
  params: {path: "INPUT"}
""" + LOGGING_TREE

LOGGING_STREAM_YAML = f"""
application: perfbench-logging-stream
source:
  name: file
  params: {{path: "INPUT", format: parquet, streaming: true, schema: "{gen.EVENT_DDL}"}}
""" + LOGGING_TREE

CORPUS_YAML = f"""
application: perfbench-corpus
source:
  name: parquet
  params: {{path: "INPUT"}}
nodes:
  - name: gopher_quality
    id: quality
    params:
      include: [text]
      min_mean_word_len: 2.0
      max_dup_word_frac: 0.9
      max_top_bigram_frac: 0.5
    children:
      - name: filter
        id: keep
        params: {{predicate: "keep = 1"}}
        children:
          - name: dedup_exact
            id: exact
          - name: dedup_minhash
            id: near
            params: {{threshold: {NEAR_THRESHOLD}, max_bucket: 1000}}
          - name: line_dedup
            id: lines
"""


@dataclass
class Run:
    """One benchmark invocation: arguments, scratch dir, live session,
    the span recorder, and the tally of attempted/failed operations."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    corrupt: bool
    work: str
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    t_begin: float = field(default_factory=time.perf_counter)

    def expect(self, what: str, got, want) -> None:
        """One correctness check; ``--corrupt`` skews every expected
        count by one so the self-test can see failures register."""
        if self.corrupt and isinstance(want, int) and not isinstance(want, bool):
            want += 1
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.mismatches.append(f"{what}: got {got}, want {want}")

    def action(self, what: str, fn):
        """One Spark action; a raise counts as failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed action is a measured outcome
            self.failed += 1
            self.mismatches.append(f"{what} raised {type(exc).__name__}: {str(exc)[:200]}")
            return None

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the run began."""
        print(f"[{time.perf_counter() - self.t_begin:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def noop_force(df, *aggs) -> list:
    """Force every column of df as a writing sink would (the noop
    format materializes each row) and return observed aggregates: the
    row count first, then ``aggs``."""
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("_n")] + [a.alias(f"_a{i}") for i, a in enumerate(aggs)]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return [got["_n"]] + [got[f"_a{i}"] for i in range(len(aggs))]


def timed_setup(run: Run, yaml_text: str, prepare, warm):
    """Set up SETUP_REPEATS times: ``get_spark`` + ``from_yaml`` + one
    warm-up pass (input generation excluded). The session is stopped
    between set-ups, so each one starts a new SparkContext; only the
    first also launches the JVM, which a process keeps. Returns the last
    pipeline and the medians of the set-up and plan-build times."""
    from firebolt_spark.pipeline import Pipeline

    setups, builds = [], []
    pipeline = None
    for _ in range(SETUP_REPEATS):
        run.stop_spark()
        t0 = time.perf_counter()
        run.spark = start_session(run.work)
        t1 = time.perf_counter()
        pipeline = Pipeline.from_yaml(yaml_text)
        builds.append(time.perf_counter() - t1)
        prepare(pipeline)
        warm(pipeline)
        setups.append(time.perf_counter() - t0)
        run.log(f"set-up {len(setups)}: {setups[-1]:.2f}s")
    return pipeline, median(setups), median(builds)


def _timed_loop(seconds: float, body, min_iters: int = 3) -> list:
    out, t_end = [], time.perf_counter() + seconds
    while len(out) < min_iters or time.perf_counter() < t_end:
        out.append(body())
    return out


# ------------------------------------------------------------ batch passes

def _batch_pass(run: Run, pipeline, leaves, check) -> dict:
    """One untraced pass: plan the tree, force each leaf in turn, release
    the caches. Records when each leaf's sink returned."""
    t0 = time.perf_counter()
    result = pipeline.run_batch(run.spark)
    out, done = {}, []
    for name, force in leaves:
        out[name] = run.action(name, lambda: force(result))
        done.append(time.perf_counter() - t0)
    result.unpersist()
    wall = time.perf_counter() - t0
    check(out)
    return {"wall": wall, "leaves": done}


def _traced_pass(run: Run, pipeline, nodes: dict, leaves, check, source=None,
                 spans: bool = True) -> dict:
    """One traced pass, a span per layer call (recorded only when
    ``spans``; the timings it returns are taken either way):

    - ``sources.scan``: force ``source_dataframe(...).count()``;
    - ``force.<node>``: with the fan-out caches dropped, force each
      node's output; its self time is its forcing time minus its
      parent's (``nodes`` maps node -> parent, parents first);
    - ``pipeline.prefix``: materialize the persisted fan-out prefixes;
    - one span per leaf, forced over the cached prefix.

    ``source`` returns the batch source (default: the pipeline's own)."""
    t, spark = run.tracer, run.spark
    t.enabled = spans
    source = source or (lambda: pipeline.source_dataframe(spark))
    t0 = time.perf_counter()
    cum, rows = {}, {}
    with t.span("pass"):
        with t.span("sources.scan"):
            source().count()
        with t.span("pipeline.plan"):
            cold = pipeline.run_batch(spark, source_df=source())
            for df in cold.persisted:
                df.unpersist()
        for nid in ["source", *nodes]:
            df = source() if nid == "source" else cold.outputs[nid]
            s = time.perf_counter()
            with t.span(f"force.{nid}"):
                rows[nid] = noop_force(df)[0]
            cum[nid] = time.perf_counter() - s
        cold.unpersist()
        with t.span("pipeline.plan"):
            result = pipeline.run_batch(spark, source_df=source())
        with t.span("pipeline.prefix"):
            for df in result.persisted:
                df.count()
        out = {}
        for name, force in leaves:
            with t.span(name):
                out[name] = run.action(name, lambda: force(result))
        result.unpersist()
    wall = time.perf_counter() - t0
    check(out)
    return {
        "wall": wall,
        "spans": spans,
        "self": {nid: cum[nid] - cum[parent] for nid, parent in nodes.items()},
        "rows": rows,
    }


def _batch_workload(run: Run, yaml_text: str, records: int, prepare, leaves,
                    check, nodes: dict, settle_s: float) -> tuple[dict, list | None]:
    """Set-up, untraced passes, and (traced runs) traced passes. Returns
    the metrics and the traced passes (None when untraced)."""
    run.log("input generated")
    pipeline, setup_s, build_s = timed_setup(
        run, yaml_text, prepare, lambda p: _batch_pass(run, p, leaves, check)
    )
    # JIT compilation and the Python workers keep speeding passes up
    # for several passes after set-up; let them settle unmeasured
    if settle_s:
        _timed_loop(settle_s, lambda: _batch_pass(run, pipeline, leaves, check), min_iters=1)
        run.log("settled")
    untraced = run.seconds / 2 if run.trace else run.seconds
    rest = SparkRest(run.spark)
    sh0 = rest.shuffle_write_bytes()
    passes = _timed_loop(untraced, lambda: _batch_pass(run, pipeline, leaves, check))
    shuffle = (rest.shuffle_write_bytes() - sh0) / len(passes)
    walls = [p["wall"] for p in passes]
    run.log(f"{len(passes)} passes, median {median(walls):.3f}s: " + " ".join(f"{w:.3f}" for w in walls))
    if not run.trace:
        run.info["latency_samples"] = f"{len(passes)} passes of {len(leaves)} leaf results"
        # each pass's own quantile, then the median over passes: one
        # slow pass moves it no more than it moves the median wall
        return {
            "setup_s": (setup_s, "s"),
            "throughput_rps": (records / median(walls), "records/s"),
            "latency_p50_s": (median([quantile(p["leaves"], 0.5) for p in passes]), "s"),
            "latency_p90_s": (median([quantile(p["leaves"], 0.9) for p in passes]), "s"),
            "drain_s": (median(walls), "s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }, None

    # the traced-pass body alternately with spans on and off: the
    # difference of the two medians is the cost of the spans alone
    flags = itertools.cycle([True, False])
    tps = _timed_loop(
        run.seconds / 2,
        lambda: _traced_pass(run, pipeline, nodes, leaves, check, spans=next(flags)),
        min_iters=2,
    )
    run.log(f"{len(tps)} traced passes")
    st = run.tracer.self_times()
    layer = {
        "config.build_s": build_s,
        "shuffle.write_bytes": shuffle,
        "sources.scan_s": median(st["sources.scan"]),
        "pipeline.prefix_s": median(st["pipeline.prefix"]),
        "trace.overhead_s": (median([p["wall"] for p in tps if p["spans"]])
                             - median([p["wall"] for p in tps if not p["spans"]])),
    }
    for nid in nodes:
        layer[f"operators.{nid}.self_s"] = median([p["self"][nid] for p in tps])
        layer[f"operators.{nid}.rows_out"] = tps[0]["rows"][nid]
    for name, _ in leaves:
        layer[f"{name}_s"] = median(st[name])
    return layer, tps


# ------------------------------------------------------------ logging batch

def _inject_es(pipeline, accs, per_file=None) -> None:
    find_node(pipeline, "es").operator.client_factory = partial(NullBulkClient, accs, per_file)


LOGGING_NODES = {"drop": "source", "parse": "drop", "docs": "parse", "build": "parse"}
LOGGING_LEAVES = [
    ("sinks.elasticsearch.index", lambda r: r.outputs["es"].collect()),
    ("sinks.kafka_producer.encode", lambda r: noop_force(r.outputs["kafka"])),
    ("errors.sink", lambda r: noop_force(r.outputs["errors"])),
]


def logging_batch(run: Run) -> dict:
    input_dir = os.path.join(run.work, "events")
    n_events = max(1000, int(LOGGING_EVENTS * run.scale))
    want = gen.write_event_partitions(input_dir, run.seed, n_events)
    run.info["input"] = f"{n_events} events in 4 parquet partitions"
    es = {}

    def prepare(pipeline):
        es["accs"] = counter_accumulators(run.spark.sparkContext)
        es["seen"] = {"docs": 0, "id_sum": 0, "calls": 0}
        _inject_es(pipeline, es["accs"])

    def check(out):
        delta = {k: es["accs"][k].value - v for k, v in es["seen"].items()}
        es["seen"] = {k: es["accs"][k].value for k in es["seen"]}
        es["last"] = delta
        es["dead"] = out["errors.sink"] and out["errors.sink"][0]
        dlq = out["sinks.elasticsearch.index"]
        kafka = out["sinks.kafka_producer.encode"]
        errs = out["errors.sink"]
        run.expect("es dead letters", None if dlq is None else len(dlq), 0)
        run.expect("es docs", delta["docs"], want.parsed)
        run.expect("es doc id sum", delta["id_sum"], want.id_sum)
        run.expect("kafka records", kafka and kafka[0], want.parsed)
        run.expect("dead letters", errs and errs[0], want.errors)

    metrics, tps = _batch_workload(
        run, LOGGING_BATCH_YAML.replace("INPUT", input_dir), n_events,
        prepare, LOGGING_LEAVES, check, LOGGING_NODES, settle_s=3.0,
    )
    if tps is not None:
        metrics["errors.dead_letters"] = es["dead"]
        metrics["sinks.elasticsearch.docs"] = es["last"]["docs"]
        metrics["sinks.elasticsearch.bulk_calls"] = es["last"]["calls"]
        metrics.update(_trace_corpus(run))
    return metrics


# ---------------------------------------------------------- corpus curation

@dataclass
class CorpusCase:
    """The corpus tree over one generated corpus: its YAML, leaves,
    per-pass check and traced nodes."""

    run: Run
    corpus: gen.Corpus
    yaml_text: str
    n_docs: int
    near_n: int | None = None
    below_threshold: int = 0

    NODES = {"quality": "source", "keep": "quality", "exact": "keep", "near": "keep", "lines": "keep"}

    @property
    def n_kept(self) -> int:
        return len(self.corpus.kept_ids)

    @property
    def leaves(self):
        return [
            ("sinks.exact", lambda r: noop_force(r.outputs["exact"], F.sum(F.col("dup_count") - 1))),
            ("sinks.near", lambda r: r.outputs["near"].collect()),
            ("sinks.lines", lambda r: noop_force(
                r.outputs["lines"], F.sum(F.col("n_lines") - F.col("n_kept")))),
        ]

    def check_pairs(self, pairs) -> None:
        run, corpus = self.run, self.corpus
        got = {(min(a, b), max(a, b)) for a, b, _ in pairs}
        self.below_threshold = sum(
            gen.jaccard(corpus.text_by_id[a], corpus.text_by_id[b]) < NEAR_THRESHOLD
            for a, b in got
        )
        precision = 1 - self.below_threshold / max(1, len(got))
        recall = len(got & corpus.planted_near) / max(1, len(corpus.planted_near))
        run.info["near_pairs"] = (
            f"{len(got)} emitted, {self.below_threshold} below exact Jaccard "
            f"{NEAR_THRESHOLD}, recall {recall:.4f} of {len(corpus.planted_near)} planted"
        )
        run.expect(f"near precision >= {NEAR_PRECISION_FLOOR}", precision >= NEAR_PRECISION_FLOOR, True)
        run.expect(f"near recall >= {NEAR_RECALL_FLOOR}", recall >= NEAR_RECALL_FLOOR, True)

    def check(self, out) -> None:
        run, corpus = self.run, self.corpus
        exact, near, lines = out["sinks.exact"], out["sinks.near"], out["sinks.lines"]
        run.expect("exact groups", exact and exact[0], self.n_kept - corpus.exact_dups)
        run.expect("exact duplicates", exact and exact[1], corpus.exact_dups)
        run.expect("line-dedup docs", lines and lines[0], self.n_kept)
        run.expect("duplicate lines removed", lines and lines[1], corpus.dup_lines)
        if near is not None:
            if self.near_n is None:
                self.near_n = len(near)
                self.check_pairs(near)
            run.expect("near pairs stable across passes", len(near), self.near_n)

    def layer_metrics(self, tps) -> dict:
        """Per-layer numbers from traced passes of this tree."""
        self.run.expect("quality gate survivors", tps[0]["rows"]["keep"], self.n_kept)
        out = {
            "dedup.exact_dups": self.corpus.exact_dups,
            "dedup.near_pairs": self.near_n,
            "dedup.near_below_threshold": self.below_threshold,
        }
        for nid in ("quality", "exact", "near", "lines"):
            out[f"operators.{nid}.self_s"] = median([p["self"][nid] for p in tps])
            out[f"operators.{nid}.rows_out"] = tps[0]["rows"][nid]
        return out


def _corpus_case(run: Run) -> CorpusCase:
    path = os.path.join(run.work, "corpus", "docs.parquet")
    n_docs = max(500, int(CORPUS_DOCS * run.scale))
    corpus = gen.make_corpus(run.seed, n_docs)
    gen.write_corpus(path, corpus)
    return CorpusCase(run, corpus, CORPUS_YAML.replace("INPUT", path), n_docs)


def corpus_curation(run: Run) -> dict:
    case = _corpus_case(run)
    run.info["input"] = f"{case.n_docs} docs, {case.n_kept} pass the quality gate"
    metrics, tps = _batch_workload(
        run, case.yaml_text, case.n_docs, lambda p: None, case.leaves, case.check,
        CorpusCase.NODES, settle_s=6.0,
    )
    if tps is not None:
        metrics.update(case.layer_metrics(tps))
    return metrics


def _trace_corpus(run: Run) -> dict:
    """Per-layer numbers for the text and dedup operators: the corpus
    tree, built as a second pipeline in the same session, after one
    untraced warm-up pass and two traced passes."""
    from firebolt_spark.pipeline import Pipeline

    case = _corpus_case(run)
    run.info["corpus"] = f"{case.n_docs} docs traced for the text/dedup operator layers"
    pipeline = Pipeline.from_yaml(case.yaml_text)
    rest = SparkRest(run.spark)
    sh0 = rest.shuffle_write_bytes()
    run.tracer.enabled = False
    _batch_pass(run, pipeline, case.leaves, case.check)
    shuffle = rest.shuffle_write_bytes() - sh0
    tps = [_traced_pass(run, pipeline, CorpusCase.NODES, case.leaves, case.check) for _ in range(2)]
    return {"shuffle.corpus_write_bytes": shuffle, **case.layer_metrics(tps)}


# ---------------------------------------------------------- logging stream

def logging_stream(run: Run) -> dict:
    from firebolt_spark.streaming.runner import StreamingPipelineRunner

    stream_dir = os.path.join(run.work, "stream")
    warm_dir = os.path.join(run.work, "warm")
    per_file = max(10, int(STREAM_FILE_EVENTS * run.scale))
    # one micro-batch's worth of files (ids far above the generator's range)
    batch_files = round(STREAM_TRIGGER_S / STREAM_INTERVAL)
    warm_want = gen.write_event_partitions(
        warm_dir, run.seed + 1, per_file * batch_files, partitions=batch_files, first_id=10**12)
    state = {"warm": 0}

    def prepare(pipeline):
        state["accs"] = counter_accumulators(run.spark.sparkContext)
        _inject_es(pipeline, state["accs"], per_file)

    def warm(pipeline):
        # the warm-up pass is one micro-batch of a query over these
        # files: the code path the measured stream runs
        state["warm"] += 1
        sinks = {
            "es": lambda df, _: run.action("warm es", df.collect),
            "kafka": lambda df, _: run.action("warm kafka", lambda: noop_force(df)),
            "errors": lambda df, _: run.action("warm errors", lambda: noop_force(df)),
        }
        wr = StreamingPipelineRunner(
            pipeline, sinks=sinks, collect_metrics=True,
            checkpoint_dir=os.path.join(run.work, f"warm-checkpoint-{state['warm']}"))
        q = wr.start(run.spark, trigger={"availableNow": True},
                     source_df=run.spark.readStream.schema(gen.EVENT_DDL).parquet(warm_dir))
        q.awaitTermination(120)
        run.expect("warm-up micro-batch", (q.exception() is None, wr.metrics.batches), (True, 1))

    run.log("input generated")
    pipeline, setup_s, build_s = timed_setup(
        run, LOGGING_STREAM_YAML.replace("INPUT", stream_dir), prepare, warm
    )
    spark, tracer, accs = run.spark, run.tracer, state["accs"]
    static = None
    if run.trace:
        # node self times need batch forcing: two traced passes of the
        # same tree over the warm-up input, before the stream starts
        def static_check(out):
            dlq, kafka = out["sinks.elasticsearch.index"], out["sinks.kafka_producer.encode"]
            run.expect("static es dead letters", None if dlq is None else len(dlq), 0)
            run.expect("static kafka records", kafka and kafka[0], warm_want.parsed)

        static = [
            _traced_pass(run, pipeline, LOGGING_NODES, LOGGING_LEAVES, static_check,
                         source=lambda: spark.read.schema(gen.EVENT_DDL).parquet(warm_dir))
            for _ in range(2)
        ]
        static_spans = tracer.self_times()
        tracer.enabled = False
    first_stream_span = len(tracer.spans)
    sunk = {"es_docs": 0, "es_sum": 0, "kafka": 0, "errors": 0}
    file_done: dict[int, float] = {}   # file seq -> return time of its ES sink
    batches: dict[int, dict] = {}      # batch id -> per-batch timings and files
    prev_batch_s: list[float] = []     # the runner's own last_batch_seconds

    def timed(batch_id, span, fn):
        b = batches.setdefault(
            batch_id, {"traced": tracer.enabled, "t": time.time(), "sink_s": 0.0, "files": []})
        s = time.perf_counter()
        with tracer.span(span):
            out = run.action(span, fn)
        b["sink_s"] += time.perf_counter() - s
        b["end"] = time.time()  # the last sink callback's return wins
        return out

    def es_sink(df, batch_id):
        if tracer.enabled and runner.metrics.batches:
            prev_batch_s.append(runner.metrics.last_batch_seconds)
        before = dict(accs["per_file"].value)
        d0, s0 = accs["docs"].value, accs["id_sum"].value
        dlq = timed(batch_id, "sinks.elasticsearch.index", df.collect)
        done = time.time()
        run.expect("stream es dead letters", None if dlq is None else len(dlq), 0)
        sunk["es_docs"] += accs["docs"].value - d0
        sunk["es_sum"] += accs["id_sum"].value - s0
        for f, n in accs["per_file"].value.items():
            if n != before.get(f, 0):
                file_done[f] = done
                batches[batch_id]["files"].append(f)

    def kafka_sink(df, batch_id):
        out = timed(batch_id, "sinks.kafka_producer.encode", lambda: noop_force(df))
        sunk["kafka"] += out[0] if out else 0

    def error_sink(df, batch_id):
        out = timed(batch_id, "errors.sink", lambda: noop_force(df))
        sunk["errors"] += out[0] if out else 0

    run_batch_s: list[float] = []
    plain_run_batch = pipeline.run_batch

    def traced_run_batch(*args, **kwargs):
        # instance-level hook: a span around the runner's call into the
        # pipeline layer, only while tracing
        if not tracer.enabled:
            return plain_run_batch(*args, **kwargs)
        s = time.perf_counter()
        with tracer.span("pipeline.run_batch"):
            out = plain_run_batch(*args, **kwargs)
        run_batch_s.append(time.perf_counter() - s)
        return out

    pipeline.run_batch = traced_run_batch

    # the measured query's own first micro-batch pays one-off costs: it
    # runs, unmeasured, a copy of the warm-up files, there at the start
    shutil.copytree(warm_dir, stream_dir)
    runner = StreamingPipelineRunner(
        pipeline,
        sinks={"es": es_sink, "kafka": kafka_sink, "errors": error_sink},
        checkpoint_dir=os.path.join(run.work, "checkpoint"),
        collect_metrics=True,
    )
    query = runner.start(
        spark, trigger={"processingTime": f"{int(STREAM_TRIGGER_S * 1000)} milliseconds"}
    )
    rest = SparkRest(spark)
    # files land mid-way between trigger ticks, so none races a tick,
    # and a segment's last file lands just before a tick
    writer = gen.OpenLoopWriter(
        stream_dir, run.seed, per_file, STREAM_INTERVAL,
        align=STREAM_TRIGGER_S, offset=STREAM_INTERVAL / 2,
    )

    def whole_triggers(s: float) -> float:
        # segments of whole triggers follow one another with no gap
        return max(1, math.ceil(s / STREAM_TRIGGER_S - 1e-9)) * STREAM_TRIGGER_S

    # the generator runs without a break: an unmeasured warm-up window,
    # then the steady window (its second half traced on traced runs)
    segments = [whole_triggers(run.seconds / 2)] * 2 if run.trace else [whole_triggers(run.seconds)]
    try:
        _await_idle(query, lambda: runner.metrics.batches > 0)
        run.log("first micro-batch done")
        for k in sunk:
            sunk[k] = 0
        file_done.clear()
        batches.clear()
        accs0 = {k: accs[k].value for k in ("docs", "calls")}
        win0 = (rest.jobs_started(), runner.metrics.batches, rest.shuffle_write_bytes())
        writer.run(STREAM_WARM_S)
        n_warm = len(writer.files)
        for i, seconds in enumerate(segments):
            tracer.enabled = run.trace and i == 1
            writer.run(seconds)
        want = writer.totals()
        deadline = time.time() + 60
        while time.time() < deadline and query.exception() is None and (
            sunk["es_docs"] < want.parsed or sunk["kafka"] < want.parsed
            or sunk["errors"] < want.errors
        ):
            time.sleep(0.01)
        _await_idle(query, lambda: True)
        win1 = (rest.jobs_started(), runner.metrics.batches, rest.shuffle_write_bytes())
        progress = list(query.recentProgress)
    finally:
        query.stop()
        query.awaitTermination(30)
    run.log(f"stream stopped after {win1[1]} batches")

    run.expect("stream query healthy", query.exception() is None, True)
    run.expect("stream es docs exactly once", sunk["es_docs"], want.parsed)
    run.expect("stream es doc id sum", sunk["es_sum"], want.id_sum)
    run.expect("stream kafka records", sunk["kafka"], want.parsed)
    run.expect("stream dead letters", sunk["errors"], want.errors)
    run.expect("every file sunk", len(file_done), len(writer.files))

    files = writer.files[n_warm:]
    steady = {bid for bid, bt in batches.items() if bt["files"] and min(bt["files"]) >= n_warm}
    n_batches = win1[1] - win0[1]
    run.info["input"] = (
        f"{len(writer.files)} files x {per_file} events every {STREAM_INTERVAL}s "
        f"({n_warm} before the steady window), trigger {STREAM_TRIGGER_S}s"
    )
    run.info["latency_samples"] = f"{len(steady)} micro-batches, {len(files)} files"
    prog = [p for p in progress if p["batchId"] in steady]
    if not run.trace:
        lat = [(file_done[f.seq] - f.created, f.counts.parsed) for f in files if f.seq in file_done]
        # drain: had the generator stopped right after a micro-batch's
        # newest file, every event is sunk when that batch's last sink
        # returns (batches run in order). Each steady batch is such a stop
        # point; the real stop at the end is the last of them.
        created = {f.seq: f.created for f in writer.files}
        drains = [batches[b]["end"] - created[max(batches[b]["files"])] for b in steady]
        run.info["micro-batch rows:addBatch/triggerExecution ms"] = " ".join(
            f"{p['numInputRows']}:{p['durationMs']['addBatch']}/{p['durationMs']['triggerExecution']}"
            for p in prog)
        return {
            "setup_s": (setup_s, "s"),
            # input rows per second of micro-batch execution, median
            # over micro-batches: the rate the tree sustains while busy,
            # not the generator's rate
            "throughput_rps": (median(
                [p["numInputRows"] * 1000 / p["durationMs"]["triggerExecution"] for p in prog]
            ), "records/s"),
            "latency_p50_s": (weighted_quantile(lat, 0.5), "s"),
            "latency_p90_s": (weighted_quantile(lat, 0.9), "s"),
            "drain_s": (median(drains), "s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }

    def dur(p, key):
        return p.get("durationMs", {}).get(key, 0)

    traced = [p for p in prog if batches[p["batchId"]]["traced"]]
    untraced = [p for p in prog if not batches[p["batchId"]]["traced"]
                and batches[p["batchId"]]["t"] >= writer.t0]
    sink_s = [b["sink_s"] for b in batches.values() if b["traced"]]
    st = tracer.self_times(first_stream_span)
    nodes = runner.metrics.nodes
    layer = {
        "config.build_s": build_s,
        "streaming.batch_s": median(prev_batch_s),
        "streaming.sink_s": median(sink_s),
        "streaming.sweep_s": median(prev_batch_s) - median(run_batch_s) - median(sink_s),
        "streaming.batches": n_batches,
        "streaming.jobs_per_batch": (win1[0] - win0[0]) / max(1, n_batches),
        "streaming.rows_per_batch": runner.metrics.rows_in / max(1, runner.metrics.batches),
        "streaming.trigger_ms": median([dur(p, "triggerExecution") for p in traced]),
        "streaming.add_batch_ms": median([dur(p, "addBatch") for p in traced]),
        "streaming.latest_offset_ms": median([dur(p, "latestOffset") for p in traced]),
        "streaming.wal_commit_ms": median([dur(p, "walCommit") for p in traced]),
        "sinks.elasticsearch.index_s": median(st.get("sinks.elasticsearch.index", [])),
        "sinks.kafka_producer.encode_s": median(st.get("sinks.kafka_producer.encode", [])),
        "sinks.elasticsearch.docs": accs["docs"].value - accs0["docs"],
        "sinks.elasticsearch.bulk_calls": accs["calls"].value - accs0["calls"],
        "errors.dead_letters": sunk["errors"],
        "shuffle.write_bytes": (win1[2] - win0[2]) / max(1, n_batches),
        "gen.late_max_s": writer.late_max_s,
        "trace.overhead_s": (
            median([dur(p, "addBatch") for p in traced])
            - median([dur(p, "addBatch") for p in untraced])) / 1000,
    }
    for nid in ("parse", "docs", "build"):
        layer[f"operators.{nid}.rows_out"] = nodes[nid].success if nid in nodes else 0
        layer[f"operators.{nid}.self_s"] = median([p["self"][nid] for p in static])
    layer["sources.scan_s"] = median(static_spans["sources.scan"])
    layer["pipeline.prefix_s"] = median(static_spans["pipeline.prefix"])
    return layer


def _await_idle(query, ready, timeout: float = 60.0) -> None:
    """Wait until ``ready()`` holds and no trigger is running."""
    deadline = time.time() + timeout
    while time.time() < deadline and query.exception() is None:
        if ready() and not query.status["isTriggerActive"]:
            return
        time.sleep(0.01)


WORKLOADS = {
    "logging_batch": logging_batch,
    "logging_stream": logging_stream,
    "corpus_curation": corpus_curation,
}

"""Streaming execution — the same operator tree, micro-batched.

The reference runs its node tree continuously over a Kafka stream
(reference executor/executor.go:142-207). Here the identical Pipeline
(same YAML, same operators) runs under Structured Streaming via
``foreachBatch``: every micro-batch DataFrame flows through
``Pipeline.run_batch``, then ``Pipeline.write_sinks`` writes each sink
once with the real micro-batch id, the key an idempotent sink replays
on. This is the design SURVEY §7.0 calls "dual execution modes — same
operator code".

Delivery semantics: checkpointed offsets + at-least-once to arbitrary
sinks (effectively exactly-once to idempotent ones) — strictly stronger
than the reference's auto-commit at-least-once (SURVEY §2.7 T4).
Backpressure is the pull model + ``maxOffsetsPerTrigger`` (T2/T9);
graceful shutdown is ``query.stop()`` + checkpoint recovery (T6/T7).

Per-node metrics (the reference's Prometheus counters,
metrics/metrics.go:106-185) are collected driver-side per batch —
``foreachBatch`` executes its body on the driver, so plain dicts work.
All per-node counters come from ONE sweep job per micro-batch (a union
of global counts over every node output, read from the persisted
source), not one ``.count()`` action per node: round 1 ran N+2 jobs per
trigger with metrics on — a latency multiplier a 100× node-tree would
feel immediately. A fan-out prefix is persisted only when
``pipeline._must_persist`` says so; otherwise the sweep recomputes it
once per branch. A node whose own ``write`` forced its output
(returned ``sinks.Written``) is counted from that return instead, so the
sweep never runs that sink again.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from firebolt_spark.pipeline import Pipeline, PipelineResult
from firebolt_spark.sinks import Written


@dataclass
class NodeMetrics:
    """received/success/error per node, filtered derivable (C4 parity)."""

    success: int = 0
    error: int = 0
    batches: int = 0


@dataclass
class StreamingMetrics:
    nodes: dict[str, NodeMetrics] = field(default_factory=dict)
    batches: int = 0
    rows_in: int = 0
    last_batch_seconds: float = 0.0

    def node(self, node_id: str) -> NodeMetrics:
        return self.nodes.setdefault(node_id, NodeMetrics())


class StreamingPipelineRunner:
    """Run a Pipeline over a streaming source.

    sinks: node_id → callable(df, batch_id) invoked with that node's
    ok-output every micro-batch (error-handler node ids work too),
    instead of the node's own ``write``. Every other sink node writes
    itself once per micro-batch, as in the reference where a terminal
    node IS its sink; other leaves are counted only (metrics).
    """

    def __init__(
        self,
        pipeline: Pipeline,
        sinks: dict[str, Callable[[DataFrame, int], None]] | None = None,
        checkpoint_dir: str | None = None,
        collect_metrics: bool = True,
    ):
        self.pipeline = pipeline
        self.sinks = sinks or {}
        self.checkpoint_dir = checkpoint_dir
        self.collect_metrics = collect_metrics
        self.metrics = StreamingMetrics()

    def _process_batch(self, spark: SparkSession):
        def process(batch_df: DataFrame, batch_id: int) -> None:
            t0 = time.perf_counter()
            from firebolt_spark.event import ensure_envelope

            src = ensure_envelope(batch_df)
            if self.collect_metrics:
                # materialized lazily by the first action; every node and
                # the metrics sweep then read the cached source
                src = src.persist()
            result = None
            try:
                result = self.pipeline.run_batch(spark, source_df=src)
                written = self.pipeline.write_sinks(result, batch_id, self.sinks)
                if self.collect_metrics:
                    self._sweep_metrics(src, result, written)
            finally:
                # on every path out, a raising sink included: the cached
                # source (a no-op when metrics are off), the fan-out
                # prefixes and the operator-persisted intermediates that
                # ride on node outputs (minhash signatures, simhash
                # fingerprints, signed corpora)
                src.unpersist()
                if result is not None:
                    result.unpersist()
            self.metrics.batches += 1
            self.metrics.last_batch_seconds = time.perf_counter() - t0

        return process

    def _sweep_metrics(
        self, src: DataFrame, result: PipelineResult, written: dict[str, Any]
    ) -> None:
        """All per-node counters in ONE Spark job.

        Each node's ok/error output contributes a global count tagged
        with (node_id, kind); the union is collected once. Every lineage
        starts at the persisted source, so the sweep reads cached blocks
        plus whatever each branch recomputes above them (a fan-out prefix
        is persisted only when ``pipeline._must_persist`` says so),
        versus the round-1 shape of one full re-execution per node per
        batch.
        """

        def part(df: DataFrame, node_id: str, kind: str) -> DataFrame:
            return df.groupBy().agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(node_id).alias("node_id"), F.lit(kind).alias("kind"), "n"
            )

        # a node whose write forced its own output (the ES leaf) counts
        # from what that write returned: forcing it again re-runs the sink
        forced = {n: w.rows for n, w in written.items() if isinstance(w, Written)}
        parts = [part(src, "__source__", "source")]
        parts += [
            part(df, nid, "ok")
            for nid, df in result.outputs.items()
            if nid not in forced
        ]
        parts += [part(df, nid, "error") for nid, df in result.errors.items()]
        rows = reduce(DataFrame.unionAll, parts).collect()
        rows += [Row(node_id=nid, kind="ok", n=n) for nid, n in forced.items()]
        for row in rows:
            if row["kind"] == "source":
                self.metrics.rows_in += row["n"]
            elif row["kind"] == "ok":
                nm = self.metrics.node(row["node_id"])
                nm.batches += 1
                nm.success += row["n"]
            else:
                self.metrics.node(row["node_id"]).error += row["n"]

    def start(
        self,
        spark: SparkSession,
        source_df: DataFrame | None = None,
        trigger: dict[str, Any] | None = None,
        query_name: str = "firebolt-pipeline",
    ):
        sdf = (
            source_df
            if source_df is not None
            else self.pipeline.source_dataframe(spark)
        )
        if not sdf.isStreaming:
            raise ValueError("source is not a streaming DataFrame")
        writer = sdf.writeStream.foreachBatch(self._process_batch(spark)).queryName(
            query_name
        )
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

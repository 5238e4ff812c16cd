"""Parallel recovery orchestration — the reference's one genuinely
novel subsystem, rebuilt Spark-shaped (SURVEY §7.1 M5).

Reference behavior (node/kafkaconsumer/recoveryconsumer.go,
recoverytracker.go): when the consumer skips ahead to honor
``maxpartitionlag``, the skipped ranges are tracked durably and a
second, rate-limited consumer back-fills them concurrently, stamping
``recovery=true``; overlapping requests merge; ranges can be canceled.

Spark design — "backfill as a bounded job with the same operator DAG"
(SURVEY §7.3 risk 3):

1. at assignment time, ``plan_assignment`` computes live starting
   offsets + skipped ranges (offsets.py);
2. the live query starts from those offsets (recovery=false);
3. each pending range runs as a bounded Kafka batch read
   (``startingOffsets``/``endingOffsets`` per-partition JSON) with
   ``maxOffsetsPerTrigger``-equivalent pacing, ``recovery=true``,
   through the SAME Pipeline;
4. range state lives in a checkpointed parquet table (the analogue of
   the compacted tracking topic) and merges via the distributed
   interval-merge operator.

The tracker is engine code, testable without Kafka; the Kafka wiring is
option plumbing on the standard source (sources/__init__.py KafkaSource).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebolt_spark.pipeline import Pipeline, PipelineResult
from firebolt_spark.streaming.offsets import (
    RecoveryRange,
    merge_ranges,
    plan_assignment,
)

class RecoveryTracker:
    """Durable recovery-range bookkeeping in a JSON state file.

    The rebuild of reference recoverytracker.go:17-262: add (with
    overlap merge), consume in order, complete, cancel-all. State is a
    tiny file rewritten atomically per mutation — at any real scale this is
    metadata (ranges, not data), so a driver-side rewrite is correct
    and cheap.
    """

    def __init__(self, state_dir: str):
        self.state_dir = state_dir

    def _read(self) -> list[dict]:
        path = os.path.join(self.state_dir, "ranges.json")
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def _write(self, rows: list[dict]) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        path = os.path.join(self.state_dir, "ranges.json")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(rows, f)
        os.replace(tmp, path)  # atomic, like the compacted-topic LWW

    def add(self, ranges: list[RecoveryRange]) -> None:
        """AddRecoveryRequest w/ overlap merge (recoverytracker.go:86-96)."""
        pending = [
            RecoveryRange(r["partition_id"], r["from_offset"], r["to_offset"])
            for r in self._read()
            if not r["done"]
        ]
        merged = merge_ranges(pending + list(ranges))
        done = [r for r in self._read() if r["done"]]
        self._write(
            done
            + [
                {
                    "partition_id": r.partition_id,
                    "from_offset": r.from_offset,
                    "to_offset": r.to_offset,
                    "done": False,
                }
                for r in merged
            ]
        )

    def pending(self) -> list[RecoveryRange]:
        """In-order pending ranges (GetRecoveryRequest returns the head
        per partition, recoverytracker.go:51-61)."""
        return sorted(
            (
                RecoveryRange(r["partition_id"], r["from_offset"], r["to_offset"])
                for r in self._read()
                if not r["done"]
            ),
            key=lambda r: (r.partition_id, r.from_offset),
        )

    def complete(self, r: RecoveryRange) -> None:
        rows = self._read()
        for row in rows:
            if (
                row["partition_id"] == r.partition_id
                and row["from_offset"] == r.from_offset
                and row["to_offset"] == r.to_offset
            ):
                row["done"] = True
        self._write(rows)

    def cancel_all(self) -> None:
        """recoverycancelall (recoverytracker.go:147-201)."""
        self._write([r for r in self._read() if r["done"]])


def backfill_batch_id(rng: RecoveryRange) -> int:
    """The sink batch id of a backfill of ``rng``: negative, so its
    lakehouse slice never replaces a live micro-batch's (those count up
    from 0), and fixed by the range's start, so re-running the range
    replaces its own slice. Partition ids must fit in 16 bits."""
    if not 0 <= rng.partition_id < 1 << 16:
        raise ValueError(f"partition id out of range: {rng.partition_id}")
    return -1 - (rng.from_offset << 16 | rng.partition_id)


@dataclass
class RecoveryPlan:
    starting_offsets: dict[int, int]
    ranges: list[RecoveryRange]


class RecoveryOrchestrator:
    """Drives the live-start + backfill cycle over any offset-addressed
    source (Kafka in production; an offset-keyed table in tests)."""

    def __init__(
        self,
        pipeline: Pipeline,
        tracker: RecoveryTracker,
        max_partition_lag: int,
        max_records_per_partition: int | None = None,
    ):
        self.pipeline = pipeline
        self.tracker = tracker
        self.max_partition_lag = max_partition_lag
        self.max_records = max_records_per_partition

    def plan(
        self, committed: dict[int, int], high_watermarks: dict[int, int]
    ) -> RecoveryPlan:
        starting, ranges = plan_assignment(
            committed, high_watermarks, self.max_partition_lag
        )
        if self.max_records is not None:
            # parallelrecoverymaxrecords cap (recoveryconsumer.go:328-343):
            # recover only the NEWEST max_records of each skipped range
            ranges = [
                RecoveryRange(
                    r.partition_id,
                    max(r.from_offset, r.to_offset - self.max_records),
                    r.to_offset,
                )
                for r in ranges
            ]
        self.tracker.add(ranges)
        return RecoveryPlan(starting, self.tracker.pending())

    def run_backfill_batch(
        self,
        spark: SparkSession,
        source_df: DataFrame,
        rng: RecoveryRange,
        partition_col: str = "partition",
        offset_col: str = "offset",
    ) -> PipelineResult:
        """One bounded backfill: rows of ``rng`` through the SAME
        pipeline DAG, stamped recovery=true (recoveryconsumer.go:311-315).
        Rate limiting at real scale = maxOffsetsPerTrigger on the
        bounded read; here the range bound itself is the cap. The sinks
        are written (as ``backfill_batch_id(rng)``) before the range is
        marked done, so a failed write leaves it pending."""
        from firebolt_spark.event import RECOVERY_COL, ensure_envelope

        window = source_df.filter(
            (F.col(partition_col) == rng.partition_id)
            & (F.col(offset_col) >= rng.from_offset)
            & (F.col(offset_col) < rng.to_offset)
        )
        src = ensure_envelope(window).withColumn(RECOVERY_COL, F.lit(True))
        result = self.pipeline.run_batch(spark, source_df=src)
        self.pipeline.write_sinks(result, backfill_batch_id(rng))
        self.tracker.complete(rng)
        return result

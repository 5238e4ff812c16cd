"""Elasticsearch-style bulk sink with the reference's retry taxonomy.

Rebuild of the reference's ES node (reference node/elasticsearch/
elasticsearch.go:30-140, elastic_index_client.go:91-280):

- input rows are IndexRequest envelopes ``(index, mapping_type, doc_id,
  doc)`` (elasticsearch.go:14-19);
- docs are indexed in bulk batches of ``batch_size`` (default 100) — in
  Spark each partition iterates its rows and flushes every batch_size
  (the time-based ``batch-max-wait-ms`` flush is meaningless in a
  finite micro-batch — the partition end is the flush);
- whole-batch failure → retry with exponential backoff 5 s → 180 s cap
  (elastic_index_client.go:128-151); bounded by ``max_batch_retries``
  here instead of infinite, so a poisoned micro-batch surfaces instead
  of hanging the stream;
- per-doc failures → retried up to ``bulk_index_max_retries`` (3) in
  subsequent batches, EXCEPT ``mapper_parsing_exception`` which is never
  retried and is routed to the dead-letter output
  (elastic_index_client.go:211-280);
- the HTTP client is injected (``client_factory``) — tests use a fake;
  a real cluster would plug an elasticsearch-py client in;
- the client is recreated every ``reconnect_batch_count`` bulk batches
  (round 4 — parity with connectionfactory.go:55-69, default 10000 from
  elasticsearch.go:65): periodic reconnects spread load across client
  nodes behind a load balancer on long-lived streams. Per partition —
  each executor holds its own connection, as each reference goroutine
  shares the factory's;
- retry/reconnect/DLQ counters are Spark accumulators, so executor-side
  activity is visible driver-side: ``sink.counters()`` after any
  ``write``, and the metrics exposition renders them via
  ``prometheus_exposition(..., extra_counters=...)``.

``transform`` returns a LAZY dead-letter frame, a ``mapInArrow`` plan
over a batch or a streaming input: every action over it indexes the
input again. ``write`` is the one action a pipeline runs on it: it
counts the dead letters and brings back a bounded sample of them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from firebolt_spark.sinks import Written

MAPPER_PARSING_EXCEPTION = "mapper_parsing_exception"


class BulkIndexError(Exception):
    """Whole-batch failure (transport-level)."""


@dataclass
class DocFailure:
    doc_id: str
    error_type: str
    message: str = ""


class BulkClient:
    """Injectable bulk-index client interface.

    ``bulk(actions) -> list[DocFailure]``: index a batch; raise
    BulkIndexError for whole-batch failure; return per-doc failures.
    """

    def bulk(self, actions: list[dict]) -> list[DocFailure]:  # pragma: no cover
        raise NotImplementedError(
            "no Elasticsearch client in this environment — inject a "
            "client_factory (tests use a fake; production wires "
            "elasticsearch-py helpers.bulk)"
        )


DEAD_LETTER_SAMPLE = 20  # dead-letter rows ElasticsearchSink.write returns
DEAD_LETTER_COLS = ("index", "doc_id", "error_type", "message")
DEAD_LETTER_DDL = ", ".join(f"{c} STRING" for c in DEAD_LETTER_COLS)


class ElasticsearchSink:
    """Params: batch_size (100), bulk_index_max_retries (3),
    max_batch_retries (5), initial_backoff_s (5), max_backoff_s (180),
    reconnect_batch_count (10000, min 1 — reference elasticsearch.go:65),
    client_factory — zero-arg callable returning a BulkClient."""

    def __init__(self, params: dict[str, Any]):
        self.batch_size = int(params.get("batch_size", 100))
        self.doc_retries = int(params.get("bulk_index_max_retries", 3))
        self.max_batch_retries = int(params.get("max_batch_retries", 5))
        self.initial_backoff_s = float(params.get("initial_backoff_s", 5.0))
        self.max_backoff_s = float(params.get("max_backoff_s", 180.0))
        self.reconnect_batch_count = max(
            1, int(params.get("reconnect_batch_count", 10000))
        )
        self.client_factory: Callable[[], BulkClient] = params.get(
            "client_factory", BulkClient
        )
        self._accs: dict[str, Any] = {}
        # applicationId (a plain string — this object is pickled to
        # executors, a SparkContext reference would not be) of the
        # context the accumulators were registered on
        self._accs_app_id: str | None = None

    def counters(self) -> dict[str, int]:
        """Driver-side view of executor activity since the first
        transform: es_reconnects_total, es_failure_reconnects_total,
        es_batch_retries_total, es_doc_retries_total,
        es_docs_dead_lettered_total.

        Semantics: AT-LEAST-ONCE. These are Spark accumulators updated
        inside a transformation, so a retried or speculatively-executed
        task adds its increments again — Spark only deduplicates
        accumulator updates in actions. That is the right contract for
        Prometheus-style monotonic activity counters (they measure work
        performed, including retried work), and matches the reference's
        metrics, which also count every physical attempt; do NOT treat
        them as exactly-once row counts.

        Totals also reset to zero when the SparkSession restarts (the
        accumulators are re-bound to the new SparkContext on the next
        ``transform``) — the same restart-reset contract as a Prometheus
        counter; aggregate with rate()/increase()-style logic if you
        need continuity across restarts."""
        return {name: acc.value for name, acc in self._accs.items()}

    def _index_partition(self, batches: Iterator, accs: dict[str, Any]) -> Iterator:
        import pyarrow as pa

        client = self.client_factory()
        batches_on_client = 0
        dead: list[tuple] = []

        def dispose(c: BulkClient) -> None:
            # real elasticsearch-py clients hold connection pools; the
            # fakes in tests don't have close() — tolerate both
            try:
                getattr(c, "close", lambda: None)()
            except Exception:
                pass

        def get_client() -> BulkClient:
            # periodic reconnect spreads load across ES client nodes
            # (reference connectionfactory.go:55-69): a fresh client
            # every reconnect_batch_count bulk batches
            nonlocal client, batches_on_client
            batches_on_client += 1
            # reference semantics: the Nth acquisition reconnects and
            # uses the fresh client, counter resets
            if batches_on_client == self.reconnect_batch_count:
                dispose(client)
                client = self.client_factory()
                batches_on_client = 0
                accs["es_reconnects_total"].add(1)
            return client

        def flush(batch: list[dict], attempts_left: dict[str, int]) -> None:
            # whole-batch retry with exponential backoff
            # (elastic_index_client.go:128-151), bounded
            nonlocal client
            backoff = self.initial_backoff_s
            c = get_client()
            for attempt in range(self.max_batch_retries + 1):
                try:
                    failures = c.bulk(batch)
                    break
                except BulkIndexError:
                    if attempt == self.max_batch_retries:
                        raise
                    accs["es_batch_retries_total"].add(1)
                    # a possibly-dead connection must not burn the whole
                    # retry budget: replace the client before backing
                    # off. Failure-driven — does not advance the
                    # periodic reconnect cadence (batches_on_client).
                    # Dispose the old one: a retry storm must not leak
                    # one connection pool per attempt.
                    dispose(c)
                    c = client = self.client_factory()
                    accs["es_failure_reconnects_total"].add(1)
                    time.sleep(min(backoff, self.max_backoff_s))
                    backoff *= 2
            retry: list[dict] = []
            for f in failures:
                doc = next(d for d in batch if d["doc_id"] == f.doc_id)
                # mapper_parsing_exception is never retried — straight to
                # DLQ (elastic_index_client.go:239-255); other per-doc
                # failures go there once their retries are spent
                if f.error_type != MAPPER_PARSING_EXCEPTION:
                    attempts_left[f.doc_id] = attempts_left.get(
                        f.doc_id, self.doc_retries + 1
                    ) - 1
                    if attempts_left[f.doc_id] > 0:
                        accs["es_doc_retries_total"].add(1)
                        retry.append(doc)
                        continue
                accs["es_docs_dead_lettered_total"].add(1)
                dead.append((doc["index"], doc["doc_id"], f.error_type, f.message))
            if retry:
                flush(retry, attempts_left)

        batch: list[dict] = []
        attempts: dict[str, int] = {}
        # finally: the LAST live client must be disposed too — periodic
        # and failure reconnects close the client they replace, but the
        # partition's final client otherwise leaks one pool per task
        # (also covers the retries-exhausted raise path) (ADVICE r6)
        try:
            for record_batch in batches:
                for doc in record_batch.to_pylist():
                    batch.append(doc)
                    if len(batch) >= self.batch_size:
                        flush(batch, attempts)
                        batch = []
            if batch:
                flush(batch, attempts)
            if dead:
                cols = [pa.array(c, pa.string()) for c in zip(*dead)]
                yield pa.RecordBatch.from_arrays(cols, names=list(DEAD_LETTER_COLS))
        finally:
            dispose(client)

    def transform(self, df: DataFrame) -> DataFrame:
        """Bulk-index every partition in parallel; returns the DLQ rows
        (index, doc_id, error_type, message)."""
        sc = df.sparkSession.sparkContext
        if not self._accs or self._accs_app_id != sc.applicationId:
            # bind (or re-bind after a session restart — accumulators
            # registered on a stopped SparkContext are dead) the
            # counters to the context that will run the tasks
            self._accs = {
                name: sc.accumulator(0)
                for name in (
                    "es_reconnects_total",
                    "es_failure_reconnects_total",
                    "es_batch_retries_total",
                    "es_doc_retries_total",
                    "es_docs_dead_lettered_total",
                )
            }
            self._accs_app_id = sc.applicationId
        accs = self._accs
        return df.mapInArrow(
            lambda batches: self._index_partition(batches, accs), DEAD_LETTER_DDL
        )

    def write(self, df: DataFrame, batch_id: int) -> Written:
        """Index once by forcing this node's output (the ``transform``
        frame). Returns the dead-letter count and at most
        ``DEAD_LETTER_SAMPLE`` of those rows, so a batch the cluster
        rejects whole holds no more than that on the driver. Doc ids make
        a replay idempotent. One DataFrame action, not a ``limit`` (that
        would stop the indexing early), so an ``Observation`` above fires."""
        obs = Observation()
        # the low 33 bits of monotonically_increasing_id number the rows
        # of a partition: keep each partition's first few, read them all
        first = F.monotonically_increasing_id() % (1 << 33) < DEAD_LETTER_SAMPLE
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        head = counted.where(first).collect()[:DEAD_LETTER_SAMPLE]
        return Written(obs.get["rows"], head)

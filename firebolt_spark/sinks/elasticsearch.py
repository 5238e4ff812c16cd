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

``transform`` returns a LAZY dead-letter frame: every action over it
indexes the input partition-parallel again. ``write`` is the one action
a pipeline runs on it: it counts the dead letters and brings back a
bounded sample of them.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, Row

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


def _count_and_head(rows: Iterator[Row]):
    head = list(itertools.islice(rows, DEAD_LETTER_SAMPLE))
    yield len(head) + sum(1 for _ in rows), head


class ElasticsearchSink:
    """Params: batch_size (100), bulk_index_max_retries (3),
    max_batch_retries (5), initial_backoff_s (5), max_backoff_s (180),
    reconnect_batch_count (10000, min 1 — reference elasticsearch.go:65),
    client_factory — zero-arg callable returning a BulkClient."""

    BATCH_ONLY = True  # df.rdd: native streaming passes the input through

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

    def _index_partition(
        self, rows: Iterator[Row], accs: dict[str, Any] | None = None
    ) -> Iterator[Row]:
        accs = accs or {}

        def count(name: str, n: int = 1) -> None:
            if name in accs:
                accs[name].add(n)

        client = self.client_factory()
        batches_on_client = 0
        dead: list[Row] = []

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
                count("es_reconnects_total")
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
                    count("es_batch_retries_total")
                    # a possibly-dead connection must not burn the whole
                    # retry budget: replace the client before backing
                    # off. Failure-driven — does not advance the
                    # periodic reconnect cadence (batches_on_client).
                    # Dispose the old one: a retry storm must not leak
                    # one connection pool per attempt.
                    dispose(c)
                    c = client = self.client_factory()
                    count("es_failure_reconnects_total")
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
                        count("es_doc_retries_total")
                        retry.append(doc)
                        continue
                count("es_docs_dead_lettered_total")
                dead.append(
                    Row(
                        index=doc["index"],
                        doc_id=doc["doc_id"],
                        error_type=f.error_type,
                        message=f.message,
                    )
                )
            if retry:
                flush(retry, attempts_left)

        batch: list[dict] = []
        attempts: dict[str, int] = {}
        # finally: the LAST live client must be disposed too — periodic
        # and failure reconnects close the client they replace, but the
        # partition's final client otherwise leaks one pool per task
        # (also covers the retries-exhausted raise path) (ADVICE r6)
        try:
            for row in rows:
                batch.append(row.asDict(recursive=True))
                if len(batch) >= self.batch_size:
                    flush(batch, attempts)
                    batch = []
            if batch:
                flush(batch, attempts)
            yield from dead
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
        sink = self
        accs = self._accs
        rdd = df.rdd.mapPartitions(lambda rows: sink._index_partition(rows, accs))
        return df.sparkSession.createDataFrame(
            rdd, "index STRING, doc_id STRING, error_type STRING, message STRING"
        )

    def write(self, df: DataFrame, batch_id: int) -> Written:
        """Index once by forcing this node's output (the ``transform``
        frame). Returns the dead-letter count and at most
        ``DEAD_LETTER_SAMPLE`` of those rows, so a batch the cluster
        rejects whole holds no more than that on the driver. Doc ids make
        a replay idempotent."""
        parts = df.rdd.mapPartitions(_count_and_head).collect()
        head = [row for _, rows in parts for row in rows][:DEAD_LETTER_SAMPLE]
        return Written(sum(n for n, _ in parts), head)

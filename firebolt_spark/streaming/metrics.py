"""Prometheus-format metrics export (reference C4 parity).

The reference registers per-node counters — received / processed /
failed / filtered events, plus the source's emitted count — and serves
them at ``/metrics`` (reference metrics/metrics.go:106-185,
metrics/metrics_server.go:19-45). Here the counters live in
``StreamingMetrics`` (filled by the runner's single sweep job per
micro-batch) and this module renders them in Prometheus exposition
text format and, optionally, serves them over a stdlib HTTP server —
no client library needed, the text format is the contract.

Derived counters: ``received`` for a node is its parent's success count
(the source's row count for roots; for an ERROR HANDLER, the parent's
error count — handlers consume the dead-letter stream) and ``filtered``
is ``received - success - error`` — the events a filter-style node
dropped without erroring, exactly the reference's Filtered semantics
(node/node.go: a nil return counts as filtered).
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from firebolt_spark.pipeline import Pipeline

from .runner import StreamingMetrics

_HELP = {
    "source_events_emitted_total": "The total number of events emitted by this application's source",
    "node_received_events_total": "The total number of events received by this node",
    "node_processed_events_total": "The total number of events processed successfully by this node",
    "node_failed_events_total": "The total number of events processed with errors by this node",
    "node_filtered_events_total": "The total number of events filtered out by this node",
    "batches_processed_total": "The total number of micro-batches processed",
    "last_batch_duration_seconds": "Wall-clock duration of the most recent micro-batch",
    "es_reconnects_total": "Periodic Elasticsearch client reconnects (every reconnect_batch_count bulk batches)",
    "es_failure_reconnects_total": "Elasticsearch client replacements triggered by a bulk transport failure (before the backoff retry)",
    "es_batch_retries_total": "Whole-bulk-batch transport retries (exponential backoff)",
    "es_doc_retries_total": "Per-document bulk index retries",
    "es_docs_dead_lettered_total": "Documents routed to the dead-letter output",
}


def _parents(
    pipeline: Pipeline | None,
) -> tuple[dict[str, str | None], set[str]]:
    """node_id → parent node_id (None for roots), plus the set of ids
    that are error handlers — a handler parents to the node whose dead
    letters it consumes, and its received count must be derived from
    that parent's ERROR count (the dead-letter stream), not its success
    count like an ordinary child."""
    nodes = list(pipeline.nodes()) if pipeline is not None else []
    parents = {rt.id: parent and parent.id for rt, parent in nodes}
    handlers = {
        rt.id for rt, parent in nodes if parent and parent.error_handler is rt
    }
    return parents, handlers


def prometheus_exposition(
    metrics: StreamingMetrics,
    pipeline: Pipeline | None = None,
    prefix: str = "firebolt",
    extra_counters: dict[str, int] | None = None,
) -> str:
    """Render the runner's counters in Prometheus text exposition format.

    With ``pipeline`` given, received/filtered are derived from the node
    tree; without it only the directly-tracked counters are emitted.
    ``extra_counters`` (e.g. ``ElasticsearchSink.counters()``) are
    appended — names must be registered in ``_HELP``.
    """
    parents, handlers = _parents(pipeline)

    def received(node_id: str) -> int | None:
        if node_id not in parents:
            return None
        parent = parents[node_id]
        if parent is None:
            return metrics.rows_in
        if parent not in metrics.nodes:
            return None
        parent_counts = metrics.nodes[parent]
        # an error handler consumes its parent's dead letters, so it
        # receives the parent's error count, not its success count
        return (
            parent_counts.error if node_id in handlers else parent_counts.success
        )

    lines: list[str] = []

    def emit(name: str, value, labels: str = "") -> None:
        full = f"{prefix}_{name}"
        if not any(line.startswith(f"# HELP {full} ") for line in lines):
            lines.append(f"# HELP {full} {_HELP[name]}")
            kind = "gauge" if name.endswith("_seconds") else "counter"
            lines.append(f"# TYPE {full} {kind}")
        lines.append(f"{full}{labels} {value}")

    emit("source_events_emitted_total", metrics.rows_in)
    emit("batches_processed_total", metrics.batches)
    emit("last_batch_duration_seconds", round(metrics.last_batch_seconds, 6))
    for node_id in sorted(metrics.nodes):
        nm = metrics.nodes[node_id]
        label = f'{{node_id="{node_id}"}}'
        rcv = received(node_id)
        if rcv is not None:
            emit("node_received_events_total", rcv, label)
            emit(
                "node_filtered_events_total",
                max(rcv - nm.success - nm.error, 0),
                label,
            )
        emit("node_processed_events_total", nm.success, label)
        emit("node_failed_events_total", nm.error, label)
    for name in sorted(extra_counters or {}):
        emit(name, (extra_counters or {})[name])
    return "\n".join(lines) + "\n"


class MetricsServer:
    """Tiny /metrics HTTP endpoint over a runner's StreamingMetrics —
    the reference's metrics_server.go in ~40 lines of stdlib. Start with
    port=0 for an ephemeral port (read it back from ``.port``)."""

    def __init__(
        self,
        metrics: StreamingMetrics,
        pipeline: Pipeline | None = None,
        prefix: str = "firebolt",
        port: int = 0,
    ):
        render = lambda: prometheus_exposition(metrics, pipeline, prefix)  # noqa: E731

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path != "/metrics":
                    self.send_error(404)
                    return
                body = render().encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # quiet
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "MetricsServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

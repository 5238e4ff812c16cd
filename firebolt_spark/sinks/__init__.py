"""Sinks — terminal nodes of a pipeline.

Rebuilds of the reference's sinks: kafkaproducer (reference
node/kafkaproducer/kafkaproducer.go:16-160), errorkafkaproducer
(node/kafkaproducer/errorproducer.go:18-40), elasticsearch (see
sinks/elasticsearch.py). In batch mode sinks either materialize to a
path/format or pass through (so tests can inspect the DataFrame); in
streaming mode they become writeStream targets.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firebolt_spark.errors import EVENT_ERROR_SCHEMA


class KafkaProducerSink:
    """Kafka producer: rows of (topic, value[, key]).

    Per-row topic override beats the node-config default topic —
    the reference errors when neither is set (kafkaproducer.go:99-106);
    Spark's Kafka sink natively prefers the ``topic`` column over the
    ``topic`` option, so the semantics line up. The reference's
    producer buffering (50k msgs / 256 MB / 3 s linger, snappy —
    kafkaproducer.go:64-73) maps to the sink's own producer batching.

    Params: brokers; topic — default topic; passthrough (default True in
    batch) — return the (topic, value) rows instead of writing.
    """

    def __init__(self, params: dict[str, Any]):
        self.brokers = params.get("brokers")
        self.topic = params.get("topic")
        self.passthrough = bool(params.get("passthrough", True))

    def transform(self, df: DataFrame) -> DataFrame:
        cols = dict.fromkeys(df.columns)
        topic = (
            F.coalesce(F.col("topic"), F.lit(self.topic))
            if "topic" in cols
            else F.lit(self.topic)
        )
        if self.topic is None and "topic" not in cols:
            raise ValueError(
                "kafka producer requires a topic column or a default topic"
            )  # kafkaproducer.go:99-106
        value = F.col("value") if "value" in cols else F.col("payload")
        out = df.select(
            topic.alias("topic"),
            value.cast("binary").alias("value"),
        )
        if not self.passthrough:
            (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", self.brokers)
                .option("topic", self.topic or "")
                .save()
            )
        return out


class ErrorKafkaProducerSink:
    """Dead-letter producer: JSON-serialize the EventError envelope.

    Rebuild of errorproducer.go:18-40 — ``{"timestamp", "event",
    "error": {"code", "message"}}`` with plain errors normalized to
    ERR_UNKNOWN (error.go:29-47). Consumes the engine's EventError
    DataFrame (timestamp, event, error struct).
    """

    CONSUMES = EVENT_ERROR_SCHEMA

    def __init__(self, params: dict[str, Any]):
        self.topic = params.get("topic", "errors")

    def transform(self, df: DataFrame) -> DataFrame:
        value = F.to_json(
            F.struct(
                F.col("timestamp"),
                F.col("event"),
                F.struct(
                    F.col("error.code").alias("code"),
                    F.col("error.message").alias("message"),
                ).alias("error"),
            )
        )
        return df.select(
            F.lit(self.topic).alias("topic"),
            F.encode(value, "UTF-8").alias("value"),
        )


class FileSink:
    """Generic file writer (parquet/json/csv/orc). BATCH_ONLY in
    native-streaming composition.

    Params: path (required); format (default parquet); mode (overwrite);
    partition_by; options (e.g. header/compression). Partitioning on the
    downstream filter keys is the cheap 100 TB pruning lever. Also
    registered as ``parquet_sink``, whose format is the default.
    """

    BATCH_ONLY = True

    def __init__(self, params: dict[str, Any]):
        self.path = params["path"]
        self.format = params.get("format", "parquet")
        self.mode = params.get("mode", "overwrite")
        self.partition_by = params.get("partition_by")
        self.options = dict(params.get("options") or {})

    def transform(self, df: DataFrame) -> DataFrame:
        writer = df.write.mode(self.mode).format(self.format)
        for k, v in self.options.items():
            writer = writer.option(k, str(v))
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.save(self.path)
        return df


class LakehouseSink:
    """Idempotent lakehouse table sink — YAML-config face of
    ``sinks.lakehouse.IdempotentBatchWriter`` (round 4).

    Batch mode writes as batch id ``batch_id`` (default 0) — re-running
    the same pipeline REPLACES that slice instead of appending, so a
    re-run converges instead of duplicating. Streaming composition
    attaches the writer itself via foreachBatch (the runner passes the
    real micro-batch id). Backend (Delta vs dynamic-partition-overwrite
    parquet) follows what already exists at ``path``; see lakehouse.py.

    Params: path (required); batch_id (default 0); use_delta (optional
    tri-state override).
    """

    BATCH_ONLY = True

    def __init__(self, params: dict[str, Any]):
        from firebolt_spark.sinks.lakehouse import IdempotentBatchWriter

        self.batch_id = int(params.get("batch_id", 0))
        self.writer = IdempotentBatchWriter(
            params["path"], use_delta=params.get("use_delta")
        )

    def transform(self, df: DataFrame) -> DataFrame:
        self.writer(df, self.batch_id)
        return df


class ConsoleSink:
    """Debug sink. Params: num_rows (default 20). BATCH_ONLY."""

    BATCH_ONLY = True

    def __init__(self, params: dict[str, Any]):
        self.num_rows = int(params.get("num_rows", 20))

    def transform(self, df: DataFrame) -> DataFrame:
        df.show(self.num_rows, truncate=False)
        return df


def register_sink_node_types(registry) -> None:
    from firebolt_spark.sinks.elasticsearch import ElasticsearchSink

    registry.register_node_type("kafka_producer", KafkaProducerSink, None, None)
    registry.register_node_type(
        "error_kafka_producer", ErrorKafkaProducerSink, EVENT_ERROR_SCHEMA, None
    )
    registry.register_node_type("parquet_sink", FileSink, None, None)
    registry.register_node_type("lakehouse_sink", LakehouseSink, None, None)
    registry.register_node_type("file_sink", FileSink, None, None)
    registry.register_node_type("console_sink", ConsoleSink, None, None)
    registry.register_node_type("elasticsearch", ElasticsearchSink, None, None)

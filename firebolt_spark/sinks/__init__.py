"""Sinks — terminal nodes of a pipeline.

Rebuilds of the reference's sinks: kafkaproducer (reference
node/kafkaproducer/kafkaproducer.go:16-160), errorkafkaproducer
(node/kafkaproducer/errorproducer.go:18-40), elasticsearch (see
sinks/elasticsearch.py). A sink writes only in ``write(df, batch_id)``,
the ``foreachBatch`` signature, given its node's output; no
``transform`` writes. ``Pipeline.write_sinks`` calls it once per batch
(the CLI as batch 0, the streaming runner with each micro-batch's id).
A ``write`` that forces its node's output frame returns ``Written``, so
callers count and print from that instead of forcing the frame again.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firebolt_spark.errors import EVENT_ERROR_SCHEMA


class Written(NamedTuple):
    """What a ``write`` that forced its node's output frame returns: the
    frame's row count and at most a few of its rows."""

    rows: int
    sample: list


class KafkaProducerSink:
    """Kafka producer: rows of (topic, value[, key]).

    Per-row topic override beats the node-config default topic —
    the reference errors when neither is set (kafkaproducer.go:99-106);
    Spark's Kafka sink reads the projected ``topic`` column per row. The
    reference's producer buffering (50k msgs / 256 MB / 3 s linger,
    snappy — kafkaproducer.go:64-73) maps to the sink's own producer
    batching.

    Params: brokers — ``write`` produces only when set; topic — default.
    """

    def __init__(self, params: dict[str, Any]):
        self.brokers = params.get("brokers")
        self.topic = params.get("topic")

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
        return df.select(
            topic.alias("topic"),
            value.cast("binary").alias("value"),
        )

    def write(self, df: DataFrame, batch_id: int) -> None:
        if self.brokers:
            writer = df.write.format("kafka")
            writer.option("kafka.bootstrap.servers", self.brokers).save()


class ErrorKafkaProducerSink:
    """Dead-letter producer: JSON-serialize the EventError envelope.

    Rebuild of errorproducer.go:18-40 — ``{"timestamp", "event",
    "error": {"code", "message"}}`` with plain errors normalized to
    ERR_UNKNOWN (error.go:29-47). Consumes the engine's EventError
    DataFrame (timestamp, event, error struct), the schema it is
    registered to consume.
    """

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
    """Generic file writer (parquet/json/csv/orc).

    Params: path (required); format (default parquet); mode (overwrite;
    ``append`` keeps every micro-batch under the runner); partition_by;
    options (e.g. header/compression). Partitioning on the downstream
    filter keys is the cheap 100 TB pruning lever. Also registered as
    ``parquet_sink``, whose format is the default.
    """

    def __init__(self, params: dict[str, Any]):
        self.path = params["path"]
        self.format = params.get("format", "parquet")
        self.mode = params.get("mode", "overwrite")
        self.partition_by = params.get("partition_by")
        self.options = dict(params.get("options") or {})

    def write(self, df: DataFrame, batch_id: int) -> None:
        writer = df.write.mode(self.mode).format(self.format)
        for k, v in self.options.items():
            writer = writer.option(k, str(v))
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.save(self.path)


class LakehouseSink:
    """Idempotent lakehouse table sink — YAML-config face of
    ``sinks.lakehouse.IdempotentBatchWriter`` (round 4).

    ``write(df, batch_id)`` REPLACES that batch id's slice, so a replayed
    micro-batch or a re-run (the CLI writes batch 0) converges instead of
    duplicating. Backend (Delta vs dynamic-partition-overwrite parquet) follows what
    already exists at ``path``; see lakehouse.py.

    Params: path (required); use_delta (optional tri-state override).
    """

    def __init__(self, params: dict[str, Any]):
        from firebolt_spark.sinks.lakehouse import IdempotentBatchWriter

        # the foreachBatch-shaped idempotent writer IS the sink's write
        self.write = IdempotentBatchWriter(
            params["path"], use_delta=params.get("use_delta")
        )


class ConsoleSink:
    """Debug sink. Params: num_rows (default 20)."""

    def __init__(self, params: dict[str, Any]):
        self.num_rows = int(params.get("num_rows", 20))

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.show(self.num_rows, truncate=False)


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

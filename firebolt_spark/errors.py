"""Error envelope and normalization — the dead-letter contract.

Mirrors the reference's error model (reference error.go:12-65):

- ``FBError{Code, Msg, ErrorInfo}`` — structured error;
- ``EventError{Timestamp, Event, Err}`` — the envelope delivered to
  error_handler nodes;
- plain (non-FB) errors are normalized to ``{"code": "ERR_UNKNOWN",
  "message": <msg>}`` when marshalled (reference error.go:29-47).

In the rebuild an errored row becomes a row in a dead-letter DataFrame
with columns ``(timestamp, event, error STRUCT<code, message,
errorinfo>)``; the JSON wire shape is produced by ``event_error_json``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

ERR_UNKNOWN = "ERR_UNKNOWN"

ERROR_STRUCT_TYPE = StructType(
    [
        StructField("code", StringType(), True),
        StructField("message", StringType(), True),
        StructField("errorinfo", StringType(), True),
    ]
)

EVENT_ERROR_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType(), False),
        StructField("event", StringType(), True),
        StructField("error", ERROR_STRUCT_TYPE, True),
    ]
)


@dataclass
class FBError(Exception):
    """Structured error (reference error.go:50-65)."""

    code: str
    msg: str
    errorinfo: str | None = None

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"{self.code}: {self.msg}"


def normalize_error(err: BaseException | str) -> tuple[str, str, str | None]:
    """Plain error -> (ERR_UNKNOWN, msg, None); FBError passes through.

    Mirrors EventError JSON marshalling (reference error.go:29-47).
    """
    if isinstance(err, FBError):
        return (err.code, err.msg, err.errorinfo)
    return (ERR_UNKNOWN, str(err), None)


def error_struct(message: Column, code: Column | None = None, errorinfo: Column | None = None) -> Column:
    """Build the error STRUCT column, applying ERR_UNKNOWN normalization
    when no code is given (declarative path of error.go:29-47)."""
    code_col = code if code is not None else F.lit(ERR_UNKNOWN)
    info_col = errorinfo if errorinfo is not None else F.lit(None).cast(StringType())
    return F.struct(
        code_col.alias("code"),
        message.alias("message"),
        info_col.alias("errorinfo"),
    )


def event_error_json(event: Column, message: Column, code: Column | None = None) -> Column:
    """Canonical JSON of ``{"code", "message"}`` for the error member —
    the shape the reference's errorkafkaproducer emits (error.go:29-47,
    node/kafkaproducer/errorproducer.go:18-40). Null errorinfo is omitted
    like Go's ``omitempty``."""
    code_col = code if code is not None else F.lit(ERR_UNKNOWN)
    return F.to_json(F.struct(code_col.alias("code"), message.alias("message")))


def split_errors(df: DataFrame, error_col: str = "_error") -> tuple[DataFrame, DataFrame]:
    """Split a DataFrame carrying an error column into (ok, dlq).

    The engine's per-row error protocol: operators that can fail attach a
    nullable ``_error STRUCT<code,message,errorinfo>`` column; rows where
    it is NULL continue down the tree, rows where it is set are routed to
    the node's error_handler (reference node/node.go:178-196, 278-295).
    """
    ok = df.filter(F.col(error_col).isNull()).drop(error_col)
    dlq = df.filter(F.col(error_col).isNotNull())
    return ok, dlq

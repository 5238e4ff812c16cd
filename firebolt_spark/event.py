"""The Event envelope.

The reference's unit of data is ``Event{Payload interface{}, Created
time.Time, Recovery bool}`` (reference event.go:6-10). Here an event
stream is a DataFrame whose rows carry:

- one or more *payload* columns (typed per pipeline stage — the analogue
  of the dynamically-typed ``Payload``),
- ``created TIMESTAMP`` — event-time stamp, set at ingest and preserved
  across payload transformations (reference event.go:31-37 WithPayload),
- ``recovery BOOLEAN`` — true for rows re-ingested by the recovery path
  (reference node/kafkaconsumer/recoveryconsumer.go:311-315).

``with_payload`` mirrors WithPayload: replace the payload columns while
the envelope columns ride along untouched — which in DataFrame terms is
just "don't drop them".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, TimestampType

CREATED_COL = "created"
RECOVERY_COL = "recovery"
ENVELOPE_COLS = (CREATED_COL, RECOVERY_COL)

ENVELOPE_FIELDS = [
    StructField(CREATED_COL, TimestampType(), nullable=False),
    StructField(RECOVERY_COL, BooleanType(), nullable=False),
]


def ensure_envelope(
    df: DataFrame,
    created: Column | str | None = None,
    recovery: Column | bool = False,
) -> DataFrame:
    """Stamp the envelope columns onto a raw DataFrame (the source's job).

    Mirrors the Kafka source stamping ``Created: time.Now(), Recovery:
    false`` (reference kafkaconsumer.go:220-224); batch sources use an
    event-time column from the data when one exists.
    """
    out = df
    if CREATED_COL not in df.columns:
        if created is None:
            col = F.current_timestamp()
        elif isinstance(created, str):
            col = F.col(created)
        else:
            col = created
        out = out.withColumn(CREATED_COL, col)
    if RECOVERY_COL not in out.columns:
        rec = F.lit(bool(recovery)) if isinstance(recovery, bool) else recovery
        out = out.withColumn(RECOVERY_COL, rec)
    return out


def with_payload(df: DataFrame, **payload_cols: Column) -> DataFrame:
    """Replace payload columns, preserving the envelope (event.go:31-37).

    Drops every non-envelope column and installs the given payload
    columns — the strict analogue of ``WithPayload`` producing an event
    whose payload is wholly new but whose Created/Recovery are inherited.
    """
    keep = [c for c in df.columns if c in ENVELOPE_COLS]
    return df.select(
        *[F.col(c) for c in keep],
        *[c.alias(name) for name, c in payload_cols.items()],
    )


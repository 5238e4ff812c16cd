"""Event-time processing — watermarks, windows, late data.

The reference has NO event-time processing (reference README.md:47-49;
SURVEY §2.7 T8 — only the ``Created`` stamp is carried). In the rebuild
these come native from Structured Streaming; this module packages the
idioms so pipelines get them declaratively:

- ``with_watermark``      — bound state by tolerated lateness;
- ``tumbling_agg``        — windowed aggregation (same expression works
  in batch: see queries.relational.q_window_tumbling);
- late rows beyond the watermark are dropped by Spark and the dropped
  count is observable in each progress' ``stateOperators`` — the
  engine's metrics listener surfaces it.

State sizing at scale: a watermark of W with windows of size T keeps
O(keys × W/T) state rows per executor; keys here are the group-by
columns, so cardinality control (e.g. hashing high-card keys into
buckets for monitoring aggregations) is the operator author's lever.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the only interval shape stream_interval_join interpolates into SQL:
# a signed integer + time unit (Spark accepts more, but free-text into
# the parser is exactly what the validation exists to prevent)
_INTERVAL_RE = re.compile(
    r"-?\d+\s+(microsecond|millisecond|second|minute|hour|day|week)s?",
    re.IGNORECASE,
)


def with_watermark(sdf: DataFrame, ts_col: str = "created", delay: str = "10 seconds") -> DataFrame:
    return sdf.withWatermark(ts_col, delay)


def tumbling_agg(
    sdf: DataFrame,
    ts_col: str,
    window: str,
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time windowed aggregation; streaming-safe when a
    watermark is given (append-mode compatible)."""
    src = sdf.withWatermark(ts_col, watermark) if watermark else sdf
    groups = [F.window(ts_col, window).alias("w"), *(group_cols or [])]
    out_aggs = aggs or [F.count(F.lit(1)).alias("n")]
    return src.groupBy(*groups).agg(*out_aggs)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "created",
    right_ts: str = "created",
    lower: str = "0 seconds",
    upper: str = "5 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: match rows sharing
    ``keys`` whose right-side event time lies in
    ``[left_ts + lower, left_ts + upper]`` — the enrichment join a
    streaming pipeline needs when BOTH sides are live (clicks ×
    impressions, request × response correlation). The batch analogue
    is operators/joins.range_join_binned; this is its streaming face.

    Both sides get a watermark, and the time-range condition bounds
    the join state Spark must buffer: each side retains only rows
    inside ``watermark + (upper - lower)`` of the stream clock —
    without the interval condition a stream-stream join's state grows
    without bound, which is the scale failure mode this wrapper makes
    unrepresentable. ``how`` may be ``inner`` or ``left_outer``
    (outer emission waits for the watermark to close the interval).

    Column naming: the right side's ``keys`` are dropped after the
    join (equal by construction — plain ``=``, which Spark requires to
    key the join state store; NULL keys never match, as in SQL); other
    right columns colliding with left names get an ``_r`` suffix.
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError("stream_interval_join supports inner/left_outer")
    # identifiers are backtick-quoted (embedded backticks doubled — the
    # Spark escape; an unescaped one would terminate the quote and
    # inject into the parse, ADVICE r8) and intervals validated before
    # interpolation into F.expr: a key named with a space/hyphen/
    # reserved word (legal everywhere else in this API) must not parse
    # as something else, and an interval string is the only other
    # free-text reaching the parser (ADVICE r7)
    for iv in (lower, upper):
        if not _INTERVAL_RE.fullmatch(iv.strip()):
            raise ValueError(
                f"interval must look like '<signed int> <unit>[s]' "
                f"(e.g. '-30 seconds', '5 minutes'), got {iv!r}"
            )

    def q(side: str, name: str) -> str:
        return f"{side}.`{name.replace('`', '``')}`"

    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts = q("l", left_ts)
    rts = q("r", right_ts)
    cond = F.expr(
        " AND ".join(
            [f"{q('l', k)} = {q('r', k)}" for k in keys]
            + [
                f"{rts} >= {lts} + INTERVAL {lower}",
                f"{rts} <= {lts} + INTERVAL {upper}",
            ]
        )
    )
    joined = l.join(r, cond, how)
    out_cols = [F.col(q("l", c)) for c in left.columns]
    for c in right.columns:
        if c in keys:
            continue
        name = c if c not in left.columns else f"{c}_r"
        out_cols.append(F.col(q("r", c)).alias(name))
    return joined.select(*out_cols)

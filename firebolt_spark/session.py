"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for correctness-portability (UTC session timezone so
timestamp math matches DuckDB/ANSI engines) and for scale (AQE on, skew
join handling, partition coalescing, Arrow for any pandas exchange).
On a real cluster the same builder applies — only master/shuffle sizing
comes from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "firebolt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE enabled: runtime partition coalescing, skew-join splitting, and
      dynamic broadcast conversion — the knobs that keep a 100 TB shuffle
      from dying on one skewed key.
    - Arrow enabled: every pandas_udf / mapInPandas exchange is batched.
    - UTC session timezone: deterministic timestamp semantics across
      engines (the DuckDB oracle treats naive timestamps as UTC).

    On a live session ``getOrCreate`` applies every builder option to
    that session: shuffle partitions (from ``SPARK_GRAFT_CPUS`` unless
    given), AQE, the broadcast threshold and ``extra_conf`` all
    overwrite what the caller had set. Only static confs, such as
    driver memory, are ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the driver JVM IS every executor; the 1g default
        # heap cannot hold a 64MB-threshold AQE broadcast build plus 32
        # task threads (found by the sf1 scale step: tpch3's
        # orders⋈customer build side OOMed the broadcast). Only read at
        # JVM launch — a no-op on getOrCreate of a live session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark has no native type for: read them as BIGINT nanos and let
        # catalog.load_table convert (ns DIV 1000 -> timestamp_micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/spill codec (guide §2.3): A/B-measured r18 at sf1 —
        # zstd cut total shuffle bytes but cost more CPU than it saved
        # on local[32]'s in-memory "network", suite-flat to slightly
        # worse (see OPTIMIZATION_r18.md), so lz4 stays the default;
        # the env override is the production knob for clusters where
        # shuffle crosses real NICs and byte ratio wins.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # Non-ANSI eval: bad casts -> NULL rather than task failure. The
        # engine's per-row error-capture protocol (operators/sync.py) is the
        # sanctioned error path, mirroring the reference's per-event
        # (nil, err) contract instead of Spark's task-kill behavior.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.maxResultSize", "2g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

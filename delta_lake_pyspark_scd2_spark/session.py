"""SparkSession factory.

Mirrors the reference's session setup (``src/header_etl.py:354-359``:
Delta catalog extensions + ``timeParserPolicy=CORRECTED``) translated to
this engine's needs: no Delta jars in the environment, so the versioned
table layer is Parquet-native; everything else (AQE, shuffle sizing,
Arrow, UTC) is 100-TB-minded configuration that also behaves well on
``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "delta_lake_pyspark_scd2_spark"


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale notes (the same knobs apply on a 1000-executor cluster, with
    different values):
      * AQE on: runtime shuffle-partition coalescing, skew-join splitting
        and dynamic join-strategy switching. At 100 TB the static
        ``shuffle.partitions`` is only an upper bound; AQE right-sizes.
      * ``maxPartitionBytes`` 128m: scan-side split size, keeps a 100 TB
        scan at ~800k tasks instead of a handful of giant ones.
      * Arrow enabled: every Pandas-UDF operator (dedup/similarity/
        multimodal) rides vectorized Arrow batches, not per-row pickle.
      * UTC session timezone: deterministic timestamp semantics and
        DuckDB-oracle comparability (parquet timestamps are naive-UTC).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp type — read as long, loader converts to µs
        # (sub-µs digits are zero in this corpus, so conversion is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # A versioned-table scan names every file from its manifest, and
        # past this many paths Spark lists them with a parallel Spark
        # job (one per scan, 0.4-0.8 s at 92 files) where a driver-side
        # stat per file is all a local file system needs — the
        # manifest's commit primitive already assumes one.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Respect an already-running session's master (tests share one JVM).
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

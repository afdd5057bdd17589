"""SparkSession factory and driver-testdata loaders.

Scale notes: these configs are tuned for local[$CPUS] testing but the
defaults are chosen to survive a real cluster — AQE on (runtime shuffle
coalescing, skew-join splitting, dynamic broadcast conversion), shuffle
partitions sized to cores locally (a cluster deployment overrides via
--conf), UTC session time zone pinned so results are reproducible and
comparable against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def build_session(
    app_name: str = "legal_rag_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw int64 nanos and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def barrier(df: DataFrame) -> DataFrame:
    """Optimizer barrier: a round-robin repartition inserts an Exchange,
    stopping CollapseProject from inlining an expensive column
    expression into every downstream reference (e.g. 32 MinHash slots
    each re-deriving the token-hash array — measured 10x blowups).
    The exchanged data is small (ids + signature arrays); at scale the
    CPU saved dwarfs the extra shuffle.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize ``events.ts`` to a plain TIMESTAMP across driver testdata
    generations.

    The driver has shipped ``events.parquet`` with two physical types:

    * TIMESTAMP(NANOS) — with ``nanosAsLong`` it surfaces as int64
      nanoseconds; integer ``DIV 1000`` truncates to microseconds exactly
      like DuckDB's TIMESTAMP_NS -> TIMESTAMP cast, keeping oracle
      comparisons bit-identical (double division would round and drift
      by 1us).
    * ``timestamp[us]`` with no zone — surfaces as TIMESTAMP_NTZ, which
      ``withWatermark`` / ``unix_micros`` reject. The session time zone
      is pinned UTC, so casting NTZ -> TIMESTAMP reinterprets the same
      wall-clock value as the same instant and oracle hashes hold.

    Works on both batch and streaming DataFrames (pure projection).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} DIV CAST(1000 AS BIGINT)"))
        )
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table, normalizing physical-type quirks
    (see :func:`normalize_event_ts` for the ``events.ts`` story).
    """
    # The caller may hand us a vanilla SparkSession (the correctness
    # driver builds its own); nanosAsLong is runtime-settable, so set it
    # here rather than relying on build_session having run. Same for the
    # session time zone: the NTZ->TIMESTAMP cast in normalize_event_ts
    # reinterprets wall-clock in the SESSION zone, so a vanilla session
    # on a non-UTC box would silently shift every event timestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df

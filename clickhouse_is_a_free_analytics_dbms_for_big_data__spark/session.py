"""SparkSession factory for the engine.

Defaults target local[N] testing but are written for a real cluster:
AQE (runtime re-plan, skew-join splitting, partition coalescing) is the
scale story for 100 TB — it replaces the reference's hand-rolled
two-level aggregation/IN-shard machinery (reference:
dbms/src/Interpreters/Aggregator.cpp:859, two-level conversion) with
runtime shuffle statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def sized_shuffle_partitions(total_input_bytes: int, cpus: int) -> int:
    """Shuffle width sized to the DATA, not to the core count.

    Target ~64 MB of input per reduce partition, clamped to
    [cpus // 4, 32768]:

    - small inputs (local test SFs): a cores-wide shuffle over a few
      MB pays ~0.1-0.2 s of pure task-scheduling latency per exchange
      (measured r9: q17 @1M rows, width 32 -> 8 = 0.53 -> 0.42 s);
      the floor keeps enough parallelism to matter while cutting the
      empty-task overhead;
    - large inputs (the 100 TB target): width follows data volume so
      partitions stay executor-memory-sized; the 32768 cap bounds
      scheduler/metadata cost (the standard large-job range), and AQE
      coalesces stages whose runtime shuffle volume is far below the
      input estimate (post-filter, post-partial-agg).
    """
    by_size = total_input_bytes // (64 << 20)
    return int(max(max(cpus // 4, 1), min(by_size, 32768)))


def dir_size_bytes(path: str) -> int:
    """Recursive on-disk size of a dataset directory (or file)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def get_session(
    app_name: str = "clickhouse_dbms_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism,
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` the shuffle width.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle width ~= cores locally; AQE coalesces down at runtime,
        # so on a real cluster this is a ceiling, not a fixed cost.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparisons (DuckDB) are UTC-naive; pin the session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # The reference treats missing values as type defaults, not NULL;
        # ANSI off keeps casts forgiving (toUInt32OrZero-style semantics).
        .config("spark.sql.ansi.enabled", "false")
        # Test corpus writes events.ts as TIMESTAMP(NANOS); read as long
        # nanos and convert in the catalog (Spark has no nanos timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # decode() of non-UTF-8 bytes substitutes U+FFFD instead of
        # throwing (reinterpretAsString builds strings from raw
        # little-endian integer bytes — golden 00003)
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

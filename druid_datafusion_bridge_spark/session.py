"""SparkSession factory with scale-aware defaults.

The reference executes single-threaded over one in-memory RecordBatch
(reference src/datafusion_ext/execution_plan.rs:42,95-116 — 1 partition,
whole segment materialized). Our session is configured the opposite way:
AQE on, partition counts sized to cores, Arrow exchange on, so the same
logical plans scale from local[32] to a 1000-executor cluster without
code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "druid-datafusion-bridge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local core count),
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Size the shuffle to the machine, not the 200 default. On a real
        # cluster this would be ~2-3x total cores; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast decisions — the scale-safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics against the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet columns written isAdjustedToUTC=false read natively as
        # TimestampType instead of TIMESTAMP_NTZ — value-identical under
        # the pinned UTC session tz, and it keeps time-range filters
        # (l_shipdate / o_orderdate / ts — the engine's hottest
        # predicates) eligible for parquet pushdown with no NTZ->TZ cast
        # in the plan.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for any Python-side exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Split size tuned to the local test scale so small parquet files
        # still fan out across cores (at cluster scale with TB inputs the
        # 128m default is right — pass it through extra_conf).
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Data-quality profiling operators (training-pipeline extension)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from . import query


@query(
    "prof_column_stats",
    oracle="""
    SELECT * FROM (
      SELECT 'l_orderkey' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS null_count,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
             CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
             CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT),
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
             CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
             CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
             MIN(l_returnflag), MAX(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
             CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
             MIN(l_linestatus), MAX(l_linestatus)
      FROM lineitem)
    ORDER BY column_name
    """,
)
def prof_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (the data-quality pass every
    large-scale ingest pipeline runs before training): per column —
    row count, null count, exact distinct count, min, max — one row
    per profiled column.

    The non-distinct statistics are expressions of one Aggregate node;
    each exact distinct count is its own dedup-then-count aggregation,
    attached by broadcast cross join; the 1-row wide result is then
    pivoted to long form with explode over literal structs
    (driver-side-free). min/max serialize to strings so heterogeneous
    column types share one output schema; only integer and varchar
    columns are profiled so Spark and DuckDB render identical text."""
    li = table(spark, sf_dir, "lineitem", heavy_scan=True)
    cols = ["l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"]
    # Keeping the distinct counts out of the main Aggregate keeps it
    # Expand-free (a multi-column COUNT(DISTINCT) would duplicate every
    # scan row once per profiled column before the exchange); partial
    # aggregation folds duplicates map-side, so each distinct exchange
    # carries distinct values only. Counts identical: COUNT(c) over
    # DISTINCT c rows == COUNT(DISTINCT c) (the NULL row survives dedup
    # but COUNT skips it). The five aggregate subtrees are independent
    # stages over the same mirror scan and schedule concurrently.
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    wide = li.agg(*aggs)
    for c in cols:
        nd = li.select(c).distinct().agg(F.count(c).alias(f"nd_{c}"))
        wide = wide.crossJoin(F.broadcast(nd))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"nulls_{c}").alias("null_count"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_value"),
                F.col(f"max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(rows).alias("s"))
        .select("s.*")
        .orderBy("column_name")
    )


@query(
    "prof_column_stats_approx",
    oracle="""
    SELECT * FROM (
      SELECT 'l_orderkey' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS null_count,
             TRUE AS approx_within_rsd,
             CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
             CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT),
             TRUE, CAST(MIN(l_suppkey) AS VARCHAR),
             CAST(MAX(l_suppkey) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
             TRUE, MIN(l_returnflag), MAX(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
             TRUE, MIN(l_linestatus), MAX(l_linestatus)
      FROM lineitem)
    ORDER BY column_name
    """,
)
def prof_column_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profiler: prof_column_stats with HLL approx distinct
    counts — the profile aggregate compiles WITHOUT Expand (input rows
    cross the exchange once, not once per profiled column; plan-pinned
    on the bare operator in tests/test_plans.py). Deterministic columns
    (counts/nulls/min/max) are exactly oracled; the approximate
    distinct count is checked through its error CONTRACT — the HLL
    estimate (rsd=0.02) must land within 3*rsd of the exact count,
    emitted as a flag DuckDB asserts as literal TRUE. The exact counts
    feeding the flag are verification scaffolding a production run
    drops (that branch is where the Expand lives)."""
    from ..operators.profiling import approx_column_profile

    li = table(spark, sf_dir, "lineitem", heavy_scan=True)
    cols = ["l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"]
    prof = approx_column_profile(li, cols, rsd=0.02)
    exact = li.agg(*[F.countDistinct(c).alias(c) for c in cols])
    exact_long = exact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).alias("nd_exact"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    flag = (
        F.abs(F.col("nd_approx") - F.col("nd_exact")) / F.col("nd_exact")
        <= 0.06
    )
    return (
        prof.join(F.broadcast(exact_long), "column_name")
        .select(
            "column_name",
            "n_rows",
            "null_count",
            flag.alias("approx_within_rsd"),
            "min_value",
            "max_value",
        )
        .orderBy("column_name")
    )

"""Subprocess child for test_driver_session: runs registry queries under
a PLAIN SparkSession (no engine config at all — the grading driver's
setup) and diffs them against DuckDB.

Invoked as: python driver_session_child.py <sf_dir> <name> [<name> ...]
Prints "OK <n>" on success; raises (non-zero exit) on any mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from pyspark.sql import SparkSession

    # Deliberately bare: no shuffle sizing, no AQE/timezone/NTZ/Arrow
    # settings. Everything a query needs semantically must be applied
    # per-read inside the engine (catalog.table), not assumed from
    # get_spark — this is exactly the session the grading driver hands us.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-session-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from druid_datafusion_bridge_spark.queries import all_oracles, all_queries
    from tests.oracle_harness import compare, make_duck

    con = make_duck(sf_dir)

    queries = all_queries()
    oracles = all_oracles()
    for name in names:
        compare(queries[name](spark, sf_dir), con, oracles[name], name)
    print(f"OK {len(names)}")


if __name__ == "__main__":
    main()

"""Subprocess child for test_druid_datasource's zip-finder test: a
``local[1]`` session (so every Python task runs on the same reused
worker), one druidsegment scan, and a count of the zip-archive import
finders inside the Spark install that the worker holds before the scan,
after it, and on a second task.

Invoked as: python zip_finder_child.py <segment_root>
Prints "FINDERS <before> <after_scan> <second_task>".
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def report(batches):
    """mapInArrow body: the number of cached zipimporters whose archive
    lies under SPARK_HOME, as seen at the start of this task."""
    import zipimport

    import pyarrow as pa

    home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
    n = sum(
        1
        for f in list(sys.path_importer_cache.values())
        if isinstance(f, zipimport.zipimporter)
        and os.path.realpath(f.archive).startswith(home)
    )
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"n": [n]})


def main() -> None:
    root = sys.argv[1]

    from pyspark.sql import SparkSession

    from druid_datafusion_bridge_spark.sources import register_druid_datasource

    spark = (
        SparkSession.builder.master("local[1]")
        .appName("zip-finder-child")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_druid_datasource(spark)

    def count() -> int:
        probe = spark.range(1, numPartitions=1).mapInArrow(report, "n long")
        return probe.collect()[0]["n"]

    before = count()
    spark.read.format("druidsegment").load(root).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"FINDERS {before} {count()} {count()}")


if __name__ == "__main__":
    main()

"""Druid ingestion-spec execution (ingestion_spec.py): an
index_parallel JSON task body reads files, applies timestampSpec /
transformSpec / dimensionsSpec, rolls up by queryGranularity with
metricsSpec, and writes real Druid v9 segments partitioned by
segmentGranularity — verified by reading the segments back through the
druidsegment DataSource and answering a NATIVE query over them (the
full keep-your-specs lifecycle)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.ingestion_spec import ingest
from druid_datafusion_bridge_spark.native_query import native_query


def _write_json_input(tmp_path):
    rows = [
        {"time": "2024-01-01T00:10:00Z", "channel": "en", "delta": 5, "bot": "t"},
        {"time": "2024-01-01T00:20:00Z", "channel": "en", "delta": 7, "bot": "f"},
        {"time": "2024-01-01T00:40:00Z", "channel": "en", "delta": 5, "bot": "f"},
        {"time": "2024-01-01T02:00:00Z", "channel": "de", "delta": 11, "bot": "f"},
        {"time": "2024-01-02T09:30:00Z", "channel": "de", "delta": 2, "bot": "f"},
        {"time": "2024-01-02T09:45:00Z", "channel": "fr", "delta": 3, "bot": "t"},
    ]
    src = tmp_path / "input"
    src.mkdir()
    with open(src / "wiki.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(src)


def _spec(base_dir, rollup=True):
    return {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "wikipedia",
                "timestampSpec": {"column": "time", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["channel"]},
                "transformSpec": {
                    "transforms": [
                        {"type": "expression", "name": "channel",
                         "expression": "upper(channel)"},
                    ],
                    "filter": {"type": "selector", "dimension": "bot",
                               "value": "f"},
                },
                "metricsSpec": [
                    {"type": "count", "name": "count"},
                    {"type": "longSum", "name": "delta_sum",
                     "fieldName": "delta"},
                ],
                "granularitySpec": {
                    "segmentGranularity": "day",
                    "queryGranularity": "hour",
                    "rollup": rollup,
                    "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"],
                },
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": base_dir,
                                "filter": "*.json"},
                "inputFormat": {"type": "json"},
            },
            "tuningConfig": {
                "partitionsSpec": {"type": "dynamic",
                                   "maxRowsPerSegment": 1000}
            },
        },
    }


def test_ingest_spec_rollup_segments_and_native_query(spark, tmp_path):
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deep")
    manifest = ingest(spark, _spec(base), storage).collect()
    # day granularity, non-bot rows on both days -> 2 segments
    assert len(manifest) == 2
    assert all(m["segment_dir"].startswith(storage) for m in manifest)

    from druid_datafusion_bridge_spark.sources import register_druid_datasource

    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option(
        "path", storage + "/wikipedia"
    ).load()
    rows = {
        (str(r["__time"]), r["channel"]): (r["count"], r["delta_sum"])
        for r in df.collect()
    }
    # bot rows dropped (the 00:10 EN row and the fr row); channel
    # uppercased by the transform; hourly rollup folded the two
    # surviving 00:xx EN rows into one stored row
    assert rows == {
        ("2024-01-01 00:00:00", "EN"): (2, 12),
        ("2024-01-01 02:00:00", "DE"): (1, 11),
        ("2024-01-02 09:00:00", "DE"): (1, 2),
    }

    # native query over the ingested segments: Druid spec in, Druid
    # query out — re-aggregating stored metrics per channel
    out = native_query(df, {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": ["channel"],
        "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "delta_sum"},
        ],
    })
    assert {(r["channel"], r["total"]) for r in out.collect()} == {
        ("EN", 12), ("DE", 13),
    }


def test_ingest_spec_no_rollup_keeps_rows(spark, tmp_path):
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deep2")
    spec = _spec(base, rollup=False)
    spec["spec"]["dataSchema"]["metricsSpec"] = []
    # schemaless dimensions: drop the explicit list
    spec["spec"]["dataSchema"]["dimensionsSpec"] = {"dimensions": []}
    ingest(spark, spec, storage).collect()
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/wikipedia")
        .load()
    )
    got = df.select("channel", "delta", "bot").orderBy("delta").collect()
    # every non-bot row kept (no rollup), all source columns ride along
    assert [(r["channel"], r["delta"], r["bot"]) for r in got] == [
        ("DE", 2, "f"), ("EN", 5, "f"), ("EN", 7, "f"), ("DE", 11, "f"),
    ]
    # queryGranularity still truncates stored timestamps
    hours = {str(r["__time"]) for r in df.select("__time").collect()}
    assert hours == {
        "2024-01-01 00:00:00", "2024-01-01 02:00:00", "2024-01-02 09:00:00",
    }


def test_schemaless_parquet_excludes_timestamp_source_column(spark, tmp_path):
    """Schemaless dimensions over parquet with a tz-aware timestamp
    column: the timestampSpec source column becomes __time and is NOT
    discovered as a dimension (the segment writer has no type for a
    timestamp dimension)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "input"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({
            "ts": pa.array(
                [t0 + dt.timedelta(hours=h) for h in (1, 2, 26)],
                pa.timestamp("us", tz="UTC"),
            ),
            "k": ["a", "b", "a"],
            "v": pa.array([1, 2, 3], pa.int64()),
        }),
        str(src / "part.parquet"),
    )
    spec = {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "schemaless",
                "timestampSpec": {"column": "ts"},
                "dimensionsSpec": {"dimensions": []},
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "none",
                                    "rollup": False},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": str(src),
                                "filter": "*.parquet"},
                "inputFormat": {"type": "parquet"},
            },
        },
    }
    storage = str(tmp_path / "deep")
    assert len(ingest(spark, spec, storage).collect()) == 2  # two days
    from druid_datafusion_bridge_spark.sources import register_druid_datasource

    register_druid_datasource(spark)
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/schemaless")
        .load()
    )
    assert sorted(df.columns) == ["__time", "k", "v"]
    got = sorted((str(r["__time"]), r["k"], r["v"]) for r in df.collect())
    assert got == [
        ("2024-01-01 01:00:00", "a", 1),
        ("2024-01-01 02:00:00", "b", 2),
        ("2024-01-02 02:00:00", "a", 3),
    ]


def test_ingest_spec_csv_and_millis_timestamp(spark, tmp_path):
    src = tmp_path / "csv"
    src.mkdir()
    with open(src / "data.csv", "w") as f:
        f.write("1704067200000,alpha,3\n1704070800000,beta,4\n")
    spec = {
        "spec": {
            "dataSchema": {
                "dataSource": "csvsource",
                "timestampSpec": {"column": "t", "format": "millis"},
                "dimensionsSpec": {"dimensions": [
                    "name", {"type": "long", "name": "v"},
                ]},
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "none",
                                    "rollup": False},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": str(src),
                                "filter": "*.csv"},
                "inputFormat": {"type": "csv", "columns": ["t", "name", "v"]},
            },
        },
    }
    storage = str(tmp_path / "deep3")
    ingest(spark, spec, storage).collect()
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/csvsource")
        .load()
    )
    got = sorted((str(r["__time"]), r["name"], r["v"]) for r in df.collect())
    assert got == [
        ("2024-01-01 00:00:00", "alpha", 3),
        ("2024-01-01 01:00:00", "beta", 4),
    ]


def test_compact_task_rewrites_forest(spark, tmp_path):
    """A Druid `compact` task JSON rewrites the hourly-rolled-up,
    day-partitioned forest at month granularity: fewer segments, same
    rows, sources untouched (atomic-swap model)."""
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deepc")
    ingest(spark, _spec(base), storage).collect()
    manifest = ingest(spark, {
        "type": "compact",
        "dataSource": "wikipedia",
        "granularitySpec": {"segmentGranularity": "month"},
    }, storage).collect()
    assert len(manifest) == 1  # both days fold into one P1M segment
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/wikipedia_compacted")
        .load()
    )
    assert df.count() == 3
    # source forest untouched
    src = (
        spark.read.format("druidsegment")
        .option("path", storage + "/wikipedia")
        .load()
    )
    assert src.count() == 3


def test_segment_metadata_query_type(spark, tmp_path):
    """native segmentMetadata (merged form): per-column type /
    cardinality / min / max / null count over the datasource."""
    from druid_datafusion_bridge_spark.native_query import native_query

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "en", 5), ("2024-01-01 01:00:00", "de", None),
         ("2024-01-01 02:00:00", "en", 7)],
        "ts string, channel string, delta long",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS __time", "channel", "delta")
    out = native_query(df, {
        "queryType": "segmentMetadata",
        "toInclude": {"type": "list", "columns": ["channel", "delta"]},
    })
    got = {r["column"]: r for r in out.collect()}
    assert set(got) == {"channel", "delta"}
    assert (got["channel"]["type"], got["channel"]["cardinality"],
            got["channel"]["min_value"], got["channel"]["max_value"],
            got["channel"]["null_count"], got["channel"]["num_rows"]) == (
        "string", 2, "de", "en", 0, 3)
    assert (got["delta"]["cardinality"], got["delta"]["min_value"],
            got["delta"]["max_value"], got["delta"]["null_count"]) == (
        2, "5", "7", 1)


def test_compact_task_interval_scope_and_loud_fields(spark, tmp_path):
    """ioConfig.inputSpec interval scopes the rewrite; re-typing fields
    raise instead of being ignored."""
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deepi")
    ingest(spark, _spec(base), storage).collect()
    ingest(spark, {
        "type": "compact",
        "dataSource": "wikipedia",
        "ioConfig": {"type": "compact", "inputSpec": {
            "type": "interval",
            "interval": "2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"}},
        "granularitySpec": {"segmentGranularity": "month"},
    }, storage).collect()
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/wikipedia_compacted")
        .load()
    )
    assert df.count() == 2  # only day-1 rows rewritten
    with pytest.raises(ValueError, match="dimensionsSpec"):
        ingest(spark, {"type": "compact", "dataSource": "wikipedia",
                       "dimensionsSpec": {"dimensions": ["channel"]}},
               storage).collect()


def test_ingest_query_granularity_all_buckets_to_segment_start(spark, tmp_path):
    """queryGranularity ALL collapses each segment's rows into one time
    bucket (the segment interval start) — not per-row timestamps."""
    _check_query_granularity_all(spark, tmp_path, "all")


@pytest.mark.parametrize(
    "query_gran", [{"type": "all"}, "ALL TIME"], ids=["object", "all_time"]
)
def test_ingest_query_granularity_all_spellings(spark, tmp_path, query_gran):
    """Every spelling of ALL takes the segment-start rule — not per-row
    timestamps, and not the epoch."""
    _check_query_granularity_all(spark, tmp_path, query_gran)


def _check_query_granularity_all(spark, tmp_path, query_gran):
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deepall")
    spec = _spec(base)
    spec["spec"]["dataSchema"]["granularitySpec"]["queryGranularity"] = query_gran
    ingest(spark, spec, storage).collect()
    df = (
        spark.read.format("druidsegment")
        .option("path", storage + "/wikipedia")
        .load()
    )
    got = {(str(r["__time"]), r["channel"]): (r["count"], r["delta_sum"])
           for r in df.collect()}
    assert got == {
        ("2024-01-01 00:00:00", "EN"): (2, 12),
        ("2024-01-01 00:00:00", "DE"): (1, 11),
        ("2024-01-02 00:00:00", "DE"): (1, 2),
    }


def test_ingest_spec_loud_on_unsupported(spark, tmp_path):
    base = _write_json_input(tmp_path)
    spec = _spec(base)
    spec["spec"]["ioConfig"]["inputSource"] = {"type": "s3"}
    with pytest.raises(ValueError, match="inputSource"):
        ingest(spark, spec, str(tmp_path / "x")).collect()
    spec = _spec(base)
    spec["spec"]["ioConfig"]["inputFormat"] = {"type": "orc"}
    with pytest.raises(ValueError, match="inputFormat"):
        ingest(spark, spec, str(tmp_path / "x")).collect()
    spec = _spec(base)
    spec["type"] = "kafka"
    with pytest.raises(ValueError, match="task type"):
        ingest(spark, spec, str(tmp_path / "x")).collect()

def test_druid_input_source_reindex(spark, tmp_path):
    """Druid's reindexing inputSource (native-batch docs: type
    "druid" with dataSource + interval): a second spec re-ingests an
    EXISTING datasource's served rows — here day-granularity daily
    totals out of the hourly wikipedia rollup, interval-scoped to the
    first day only — landing a NEW datasource. Unused/overshadowed
    segments never feed the reindex (the read goes through the
    served-segment DataSource)."""
    base = _write_json_input(tmp_path)
    storage = str(tmp_path / "deep")
    ingest(spark, _spec(base), storage).collect()

    reindex = {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "wikipedia_daily",
                "timestampSpec": {"column": "__time", "format": "auto"},
                "dimensionsSpec": {"dimensions": ["channel"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "delta_sum",
                     "fieldName": "delta_sum"},
                ],
                "granularitySpec": {
                    "segmentGranularity": "day",
                    "queryGranularity": "day",
                    "rollup": True,
                },
            },
            "ioConfig": {
                "inputSource": {
                    "type": "druid",
                    "dataSource": "wikipedia",
                    "interval": "2024-01-01T00:00:00Z/2024-01-02T00:00:00Z",
                },
            },
        },
    }
    manifest = ingest(spark, reindex, storage).collect()
    assert len(manifest) == 1  # one day survived the interval scope

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )

    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option(
        "path", storage + "/wikipedia_daily"
    ).load()
    rows = {
        (str(r["__time"]), r["channel"]): r["delta_sum"]
        for r in df.collect()
    }
    assert rows == {
        ("2024-01-01 00:00:00", "EN"): 12,
        ("2024-01-01 00:00:00", "DE"): 11,
    }

    # unknown datasource and missing deep storage are loud
    bad = json.loads(json.dumps(reindex))
    bad["spec"]["ioConfig"]["inputSource"]["dataSource"] = "nope"
    with pytest.raises(Exception, match="unknown dataSource"):
        ingest(spark, bad, storage).collect()

def test_inline_input_source(spark, tmp_path):
    """inline inputSource (the form every Druid tutorial spec ships):
    rows travel in the spec string, parsed through the same
    inputFormat readers as files."""
    storage = str(tmp_path / "deep")
    spec = {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "inline_ds",
                "timestampSpec": {"column": "t", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["page"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "total",
                     "fieldName": "delta"},
                ],
                "granularitySpec": {
                    "segmentGranularity": "day",
                    "queryGranularity": "day",
                    "rollup": True,
                },
            },
            "ioConfig": {
                "inputSource": {
                    "type": "inline",
                    "data": (
                        '{"t":"2024-01-01T00:10:00Z","page":"x","delta":4}\n'
                        '{"t":"2024-01-01T05:00:00Z","page":"x","delta":2}\n'
                        '{"t":"2024-01-02T05:00:00Z","page":"y","delta":6}\n'
                    ),
                },
                "inputFormat": {"type": "json"},
            },
        },
    }
    manifest = ingest(spark, spec, storage).collect()
    assert len(manifest) == 2  # two days

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )

    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option(
        "path", storage + "/inline_ds"
    ).load()
    rows = {(str(r["__time"]), r["page"]): r["total"] for r in df.collect()}
    assert rows == {
        ("2024-01-01 00:00:00", "x"): 6,
        ("2024-01-02 00:00:00", "y"): 6,
    }


def test_inline_csv_header_and_format_field_discipline(spark, tmp_path):
    """inline csv with findColumnsFromHeader must peel EXACTLY the
    first physical line (a data row textually equal to the header
    survives — Spark's header=true over a dataset would drop it), and
    unknown inputFormat FIELDS raise like unknown types do (a silently
    ignored skipHeaderRows would ingest header rows as data)."""
    from druid_datafusion_bridge_spark.ingestion_spec import _read_input

    io_cfg = {
        "inputSource": {
            "type": "inline",
            # line 3 is a data row equal to the header text
            "data": "t,page,delta\n2024-01-01T00:10:00Z,x,4\nt,page,delta\n",
        },
        "inputFormat": {"type": "csv", "findColumnsFromHeader": True},
    }
    df = _read_input(spark, io_cfg)
    assert df.columns == ["t", "page", "delta"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("2024-01-01T00:10:00Z", "x", "4"),
        ("t", "page", "delta"),
    ]
    # header with zero data rows: empty frame, header schema kept
    empty = _read_input(spark, {
        "inputSource": {"type": "inline", "data": "a,b\n"},
        "inputFormat": {"type": "csv", "findColumnsFromHeader": True},
    })
    assert empty.columns == ["a", "b"] and empty.count() == 0
    # unsupported FIELD raises, naming it — for inline AND local
    with pytest.raises(ValueError, match="skipHeaderRows"):
        _read_input(spark, {
            "inputSource": {"type": "inline", "data": "a,b\n1,2\n"},
            "inputFormat": {"type": "csv", "skipHeaderRows": 1},
        })
    with pytest.raises(ValueError, match="flattenSpec"):
        _read_input(spark, {
            "inputSource": {"type": "local", "baseDir": str(tmp_path)},
            "inputFormat": {"type": "json", "flattenSpec": {}},
        })


@pytest.mark.parametrize("granularity,period", [
    ("ten_minute", "PT10M"), ("eight_hour", "PT8H"), ("PT2H", "PT2H"),
])
def test_segment_granularity_buckets_like_time_floor(spark, tmp_path,
                                                     granularity, period):
    """Any granularity a query accepts is a segment granularity too, on
    the same grid: one segment per non-empty TIME_FLOOR bucket, named by
    the bucket start and holding exactly that bucket's rows."""
    import os

    from druid_datafusion_bridge_spark.functions import (
        parse_period,
        time_floor,
    )

    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    millis = [t0 + k * 37 * 60_000 for k in range(40)]  # ~25 hours
    data = "".join(
        json.dumps({"t": m, "v": str(k)}) + "\n" for k, m in enumerate(millis)
    )
    spec = {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "grid",
                "timestampSpec": {"column": "t", "format": "millis"},
                "dimensionsSpec": {"dimensions": ["v"]},
                "granularitySpec": {"segmentGranularity": granularity,
                                    "queryGranularity": "none",
                                    "rollup": False},
            },
            "ioConfig": {"inputSource": {"type": "inline", "data": data},
                         "inputFormat": {"type": "json"}},
        },
    }
    manifest = ingest(spark, spec, str(tmp_path / "deep")).collect()
    expected = {
        r["b"]: r["n"]
        for r in spark.createDataFrame([(m,) for m in millis], "ms long")
        .groupBy(
            F.unix_millis(time_floor(F.timestamp_millis("ms"), period)).alias("b")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        int(os.path.basename(m["segment_dir"]).split("_")[1]): m["num_rows"]
        for m in manifest
    }
    assert got == expected and len(got) > 1
    step = parse_period(period)[1]
    for m in manifest:
        start = int(os.path.basename(m["segment_dir"]).split("_")[1])
        assert start <= m["interval_start_ms"]
        assert m["interval_end_ms"] <= start + step

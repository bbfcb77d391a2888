"""Tests for the CLI (info/files/dump — reference src/main.rs:97-184
parity) and the distributed DataFrame -> Druid-segment ingestion writer
(write back, then read back through the data source and diff)."""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.cli import cmd_dump, cmd_files, cmd_info
from druid_datafusion_bridge_spark.sources import (
    register_druid_datasource,
    write_segment,
)
from druid_datafusion_bridge_spark.sources.datasource import usable_cores
from druid_datafusion_bridge_spark.sources.ingest import write_druid_segments

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def seg_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli_seg") / "seg")
    t = pa.table(
        {
            "__time": pa.array([1000, 2000, 3000], pa.timestamp("ms")),
            "channel": pa.array(["#en", "#fr", None]),
            "added": pa.array([5, 7, 9], pa.int64()),
        }
    )
    write_segment(t, path)
    return path


def _capture(fn, *args) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        fn(*args)
    return buf.getvalue()


def test_cli_info(seg_dir):
    out = _capture(cmd_info, seg_dir)
    assert "Columns (3):" in out
    assert "__time: timestamp[ms]" in out
    assert "Dimensions: channel" in out
    assert "Rows: 3" in out
    assert "1970-01-01T00:00:01.000Z" in out  # interval start


def test_cli_files(seg_dir):
    out = _capture(cmd_files, seg_dir)
    assert "index.drd" in out and "metadata.drd" in out and "__time" in out
    assert "Total: 5 files" in out


def test_cli_dump_json(seg_dir):
    out = _capture(cmd_dump, seg_dir, "channel,added", 2, "json")
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert rows == [
        {"channel": "#en", "added": 5},
        {"channel": "#fr", "added": 7},
    ]


def test_cli_dump_csv(seg_dir, capfdbinary):
    cmd_dump(seg_dir, "added", 10, "csv")
    out = capfdbinary.readouterr().out.decode()
    assert out.splitlines()[0] == '"added"'
    assert [line for line in out.splitlines()[1:] if line] == ["5", "7", "9"]


def test_cli_dump_table(seg_dir):
    out = _capture(cmd_dump, seg_dir, None, 10, "table")
    assert "#en" in out and "channel" in out


def test_ingest_roundtrip(spark, tmp_path):
    """events -> daily Druid segments (distributed write) -> read back."""
    register_druid_datasource(spark)
    from druid_datafusion_bridge_spark.catalog import table as cat_table

    ev = (
        cat_table(spark, SF_DIR, "events")
        .select(
            F.col("ts").alias("__time"),
            "event_type",
            F.col("user_id").cast("long").alias("user_id"),
            "value",
        )
    )
    out_dir = str(tmp_path / "segments")
    manifest = write_druid_segments(ev, out_dir, granularity="PT1H").collect()
    assert len(manifest) >= 1
    assert sum(m["num_rows"] for m in manifest) == ev.count()

    back = spark.read.format("druidsegment").option("path", out_dir).load()
    assert back.rdd.getNumPartitions() == min(len(manifest), usable_cores())
    got = back.agg(
        F.count("*").alias("n"),
        F.sum("user_id").alias("su"),
        F.sum(F.col("value").cast("decimal(38,4)")).alias("sv"),
    ).collect()[0]
    want = ev.agg(
        F.count("*").alias("n"),
        F.sum("user_id").alias("su"),
        F.sum(F.col("value").cast("decimal(38,4)")).alias("sv"),
    ).collect()[0]
    assert (got["n"], got["su"], got["sv"]) == (want["n"], want["su"], want["sv"])


def test_ingest_sharding_splits_hot_interval(spark, tmp_path):
    from druid_datafusion_bridge_spark.catalog import table as cat_table

    ev = cat_table(spark, SF_DIR, "events").select(
        F.col("ts").alias("__time"), "event_type", "value"
    )
    n = ev.count()
    out_dir = str(tmp_path / "sharded")
    # force multiple shards: one giant bucket (P1D likely covers all rows
    # at sf0.001) with a tiny per-segment cap
    manifest = write_druid_segments(
        ev, out_dir, granularity="P1D", max_rows_per_segment=100
    ).collect()
    assert len(manifest) > 1
    assert sum(m["num_rows"] for m in manifest) == n
    # no shard exceeds ~3x the cap (hash spread, not exact)
    assert max(m["num_rows"] for m in manifest) < 400


def test_hll_sketch_rollup_roundtrip(spark, tmp_path):
    """COMPLEX sketch columns survive the segment format and stay
    mergeable: hourly HLL rollup -> segments -> union-merge estimate
    must land within HLL error of the exact distinct count."""
    from pyspark.sql import functions as F
    from druid_datafusion_bridge_spark.catalog import table as cat_table
    from druid_datafusion_bridge_spark.sources.ingest import write_druid_segments

    register_druid_datasource(spark)
    ev = cat_table(spark, SF_DIR, "events")
    rolled = ev.groupBy(
        F.date_trunc("hour", "ts").alias("__time"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.hll_sketch_agg("user_id").alias("user_sketch"),
    )
    out = str(tmp_path / "hll_segments")
    write_druid_segments(rolled, out, granularity="P1D").collect()

    back = spark.read.format("druidsegment").option("path", out).load()
    got = {
        r["event_type"]: (r["n_events"], r["approx_users"])
        for r in back.groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
                "approx_users"
            ),
        )
        .collect()
    }
    want = {
        r["event_type"]: (r["n"], r["d"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(want)
    for et, (n, approx) in got.items():
        exact_n, exact_d = want[et]
        assert n == exact_n  # row counts are exact through the rollup
        assert abs(approx - exact_d) <= max(2, 0.05 * exact_d), (et, approx, exact_d)


def test_cli_query_explain(seg_dir, capsys):
    from druid_datafusion_bridge_spark.cli import cmd_query

    cmd_query(
        seg_dir,
        "SELECT channel, COUNT(*) AS n FROM segment GROUP BY channel",
        explain=True,
    )
    plan = capsys.readouterr().out
    # formatted physical plan, scanning our datasource, aggregated
    assert "HashAggregate" in plan
    assert "druidsegment" in plan or "BatchEvalPython" in plan or "Scan" in plan


def test_ingest_preserves_nullable_int_and_ieee_doubles(spark, tmp_path):
    """Type-exactness of the Arrow write path: a nullable int64 column
    (with a value past 2^53) must stay LONG with null -> 0 — never
    drift to DOUBLE through a pandas NaN coercion, which would poison
    the datasource root's schema and round big ints — and genuine
    NaN / +-Inf doubles must round-trip unchanged (only NULLs become 0,
    the Druid v9 legacy null semantic)."""
    import math

    register_druid_datasource(spark)
    big = (1 << 60) + 1  # not representable in float64
    rows = [
        (1_700_000_000_000, big, 1.5),
        (1_700_000_000_001, None, float("nan")),
        (1_700_000_000_002, 7, float("inf")),
        (1_700_000_000_003, 8, None),
    ]
    df = spark.createDataFrame(
        rows, "t long, n_long long, m_double double"
    ).select(
        F.timestamp_millis("t").alias("__time"), "n_long", "m_double"
    )
    out = str(tmp_path / "segs")
    write_druid_segments(df, out, granularity="P1D").collect()
    back = (
        spark.read.format("druidsegment")
        .option("path", out)
        .load()
        .orderBy("__time")
    )
    assert dict(back.dtypes)["n_long"] == "bigint"
    assert dict(back.dtypes)["m_double"] == "double"
    got = back.collect()
    assert [r["n_long"] for r in got] == [big, 0, 7, 8]
    vals = [r["m_double"] for r in got]
    assert vals[0] == 1.5
    assert math.isnan(vals[1])
    assert math.isinf(vals[2]) and vals[2] > 0
    assert vals[3] == 0.0


def test_cli_search(seg_dir):
    from druid_datafusion_bridge_spark.cli import cmd_search

    out = _capture(cmd_search, seg_dir, "channel", "contains", "#")
    assert out.splitlines() == ["#en\t1", "#fr\t1"]
    out = _capture(cmd_search, seg_dir, "channel", "regex", "en$")
    assert out.splitlines() == ["#en\t1"]
    out = _capture(cmd_search, seg_dir, "channel", "like", "#_n")
    assert out.splitlines() == ["#en\t1"]
    # no match -> empty output, not an error; NULL never matches
    assert _capture(cmd_search, seg_dir, "channel", "icontains", "ZZ") == ""


def test_cli_scan_ordered_limit(tmp_path, capsys):
    """scan: time-ordered limit across a segment ROOT without Spark —
    ascending/descending cuts, projection without __time, and rows
    within a segment NOT stored time-sorted (the per-segment
    argpartition must still find them)."""
    import json as _json

    import pyarrow as pa

    from druid_datafusion_bridge_spark.cli import cmd_scan
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    def seg(times, vals, name):
        write_segment(
            pa.table(
                {
                    "__time": pa.array(
                        [1704067200000 + t for t in times], pa.timestamp("ms")
                    ),
                    "v": pa.array(vals, pa.int64()),
                }
            ),
            str(tmp_path / name),
        )

    seg([3, 1, 2], [3, 1, 2], "seg_000")     # unsorted within segment
    seg([11, 10, 12], [11, 10, 12], "seg_001")

    def scan(**kw):
        cmd_scan(str(tmp_path), kw.get("columns"), kw["limit"],
                 kw.get("order", "asc"), "json")
        out = capsys.readouterr().out.strip().splitlines()
        return [_json.loads(line) for line in out]

    rows = scan(limit=2)
    assert [r["v"] for r in rows] == [1, 2]
    rows = scan(limit=2, order="desc")
    assert [r["v"] for r in rows] == [12, 11]
    rows = scan(limit=4, order="desc", columns="v")
    assert [r["v"] for r in rows] == [12, 11, 10, 3]
    assert "__time" not in rows[0]


def test_cli_scan_schema_evolved_root(tmp_path, capsys):
    """scan over a root whose later segment ADDS a column (the s2c
    union-schema layout the DataSource supports): the missing column
    NULL-fills instead of crashing the Arrow merge, both for the
    full-row scan and for a projection naming only the new column."""
    import json as _json

    import pyarrow as pa
    import pytest

    from druid_datafusion_bridge_spark.cli import cmd_scan
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    write_segment(
        pa.table(
            {
                "__time": pa.array([1704067200000], pa.timestamp("ms")),
                "v": pa.array([1], pa.int64()),
            }
        ),
        str(tmp_path / "seg_000"),
    )
    write_segment(
        pa.table(
            {
                "__time": pa.array([1704067201000], pa.timestamp("ms")),
                "v": pa.array([2], pa.int64()),
                "w": pa.array(["new"], pa.string()),
            }
        ),
        str(tmp_path / "seg_001"),
    )

    def scan(**kw):
        cmd_scan(str(tmp_path), kw.get("columns"), kw["limit"],
                 kw.get("order", "asc"), "json")
        out = capsys.readouterr().out.strip().splitlines()
        return [_json.loads(line) for line in out]

    rows = scan(limit=2)
    assert [r["v"] for r in rows] == [1, 2]
    assert [r["w"] for r in rows] == [None, "new"]
    rows = scan(limit=2, columns="w")
    assert [r["w"] for r in rows] == [None, "new"]
    assert "__time" not in rows[0]
    with pytest.raises(SystemExit, match="unknown column"):
        scan(limit=1, columns="nope")
    with pytest.raises(SystemExit, match="positive"):
        scan(limit=0)


def test_cli_scan_and_search_honor_overshadowing(tmp_path, capsys):
    """The no-Spark CLI scan and search are QUERY surfaces: over a root
    where one interval exists under two versions they must read only
    the newest version — the same served-segment rule as the engine
    (served_segment_dirs), or the CLI and SQL disagree on row counts."""
    import json as _json

    import pyarrow as pa

    from druid_datafusion_bridge_spark.cli import cmd_scan, cmd_search
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    def seg(name, vals):
        write_segment(
            pa.table({
                "__time": pa.array(
                    [1704067200000 + i for i in range(len(vals))],
                    pa.timestamp("ms"),
                ),
                "channel": pa.array(vals, pa.string()),
            }),
            str(tmp_path / name),
        )

    seg("segment_1704067200000_0000_b0", ["en", "en", "de"])
    seg("segment_1704067200000_0000_b1", ["en", "fr", "fr"])  # corrected

    cmd_scan(str(tmp_path), None, 10, "asc", "json")
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3  # one version, not six rows
    assert sorted(r["channel"] for r in rows) == ["en", "fr", "fr"]

    cmd_search(str(tmp_path), "channel", "contains", "fr")
    out = capsys.readouterr().out
    assert "2" in out and "fr" in out  # b1's counts, not b0+b1
    cmd_search(str(tmp_path), "channel", "contains", "de")
    assert capsys.readouterr().out == ""  # b0's value is invisible


def test_cli_query_applies_druid_sql_rewrite(seg_dir, capsys):
    """The CLI SQL prompt must accept the SAME Druid SQL as the broker:
    rewrite-layer names (DS_HLL build-estimate, LATEST_BY, ARRAY
    family, Druid's full-match REGEXP_EXTRACT default) run verbatim —
    one dialect, not two subsets."""
    from druid_datafusion_bridge_spark.cli import cmd_query

    cmd_query(
        seg_dir,
        "SELECT HLL_SKETCH_ESTIMATE(DS_HLL(channel)) AS n_channels, "
        "LATEST_BY(channel, __time) AS last_channel, "
        "ARRAY_LENGTH(STRING_TO_ARRAY('a-b', '-')) AS two, "
        "REGEXP_EXTRACT('x17y', '[0-9]+') AS num "
        "FROM segment",
    )
    out = capsys.readouterr().out
    assert "two" in out and "17" in out  # full-match default, not group 1

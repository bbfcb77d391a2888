"""Unit tests for the Druid SQL function-compatibility layer
(functions/druid_sql.py): ISO-period parsing, calendar vs clock
flooring, ceil/shift edge cases, MV_* semantics, and that the SQL-text
registration produces the same answers as the Column helpers."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.functions import (
    lookup,
    mv_filter_only,
    mv_length,
    parse_period,
    register_druid_sql_functions,
    safe_divide,
    time_ceil,
    time_extract,
    time_floor,
    time_shift,
)

TS = "ts timestamp"


def _one(spark, ts: str, col):
    df = spark.createDataFrame([(dt.datetime.fromisoformat(ts),)], TS)
    return df.select(col.alias("v")).collect()[0].v


def test_parse_period():
    assert parse_period("PT15M") == (0, 900_000)
    assert parse_period("P1D") == (0, 86_400_000)
    assert parse_period("P2W") == (0, 1_209_600_000)
    assert parse_period("P3M") == (3, 0)
    assert parse_period("P1Y2M") == (14, 0)
    with pytest.raises(ValueError):
        parse_period("P1MT1H")  # mixed calendar+clock
    with pytest.raises(ValueError):
        parse_period("nope")
    with pytest.raises(ValueError):
        parse_period("P")


def test_time_floor_clock_and_calendar(spark):
    t = "2024-05-17T13:47:21"
    assert _one(spark, t, time_floor("ts", "PT15M")) == dt.datetime(
        2024, 5, 17, 13, 45
    )
    assert _one(spark, t, time_floor("ts", "P1D")) == dt.datetime(2024, 5, 17)
    assert _one(spark, t, time_floor("ts", "P3M")) == dt.datetime(2024, 4, 1)
    assert _one(spark, t, time_floor("ts", "P1Y")) == dt.datetime(2024, 1, 1)
    # origin-anchored week (Monday 1995-01-02): 2024-05-17 is a Friday
    assert _one(spark, t, time_floor("ts", "P1W", origin="1995-01-02")) == (
        dt.datetime(2024, 5, 13)
    )
    # pre-origin timestamps floor downward, not toward the origin
    assert _one(spark, "1969-12-31T23:59:59", time_floor("ts", "P1D")) == (
        dt.datetime(1969, 12, 31)
    )


def test_time_ceil_boundary_is_identity(spark):
    assert _one(spark, "2024-05-17T13:45:00", time_ceil("ts", "PT15M")) == (
        dt.datetime(2024, 5, 17, 13, 45)
    )
    assert _one(spark, "2024-05-17T13:45:01", time_ceil("ts", "PT15M")) == (
        dt.datetime(2024, 5, 17, 14, 0)
    )
    assert _one(spark, "2024-02-02T00:00:00", time_ceil("ts", "P1M")) == (
        dt.datetime(2024, 3, 1)
    )


def test_time_shift_preserves_time_of_day(spark):
    t = "2024-01-31T09:30:00"
    assert _one(spark, t, time_shift("ts", "P1M", 1)) == dt.datetime(
        2024, 2, 29, 9, 30
    )
    assert _one(spark, t, time_shift("ts", "P1D", -2)) == dt.datetime(
        2024, 1, 29, 9, 30
    )


def test_time_extract_iso_dow(spark):
    # 2024-05-13 is a Monday -> ISO dow 1; Sunday -> 7
    assert _one(spark, "2024-05-13T05:00:00", time_extract("ts", "DOW")) == 1
    assert _one(spark, "2024-05-19T05:00:00", time_extract("ts", "DOW")) == 7
    with pytest.raises(ValueError):
        time_extract("ts", "FORTNIGHT")


def test_mv_and_scalar_helpers(spark):
    df = spark.createDataFrame(
        [(["a", "b", "a", "c"], 10.0, 0.0), (None, 1.0, 2.0)],
        "arr array<string>, x double, y double",
    )
    out = df.select(
        mv_length("arr").alias("n"),
        mv_filter_only("arr", ["a", "c"]).alias("kept"),
        safe_divide("x", "y").alias("sd"),
        lookup(F.lit("k1"), {"k1": "v1"}, default="dflt").alias("hit"),
        lookup(F.lit("zz"), {"k1": "v1"}, default="dflt").alias("miss"),
    ).collect()
    assert out[0].n == 4
    assert out[0].kept == ["a", "a", "c"]  # duplicates preserved, order kept
    assert out[0].sd is None  # divide by zero -> NULL
    assert out[1].n is None  # NULL array -> NULL, not -1
    assert out[1].sd == 0.5
    assert out[0].hit == "v1" and out[0].miss == "dflt"


def test_sql_registration_matches_column_helpers(spark):
    register_druid_sql_functions(spark)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 5, 17, 13, 47, 21),)], TS
    )
    df.createOrReplaceTempView("t_fn")
    got = spark.sql(
        """
        SELECT TIME_FLOOR(ts, 'PT15M') AS fl,
               TIME_CEIL(ts, 'P1M') AS ce,
               TIME_SHIFT(ts, 'P1Y', -1) AS sh,
               TIME_EXTRACT(ts, 'DOW') AS dow,
               SAFE_DIVIDE(1.0, 0.0) AS sd,
               DIV(17, 5) AS dv,
               STRPOS('hello', 'll') AS sp,
               ICONTAINS_STRING('Hello', 'heLLo') AS ic
        FROM t_fn
        """
    ).collect()[0]
    helper = df.select(
        time_floor("ts", "PT15M").alias("fl"),
        time_ceil("ts", "P1M").alias("ce"),
        time_shift("ts", "P1Y", -1).alias("sh"),
        time_extract("ts", "DOW").alias("dow"),
    ).collect()[0]
    assert got.fl == helper.fl == dt.datetime(2024, 5, 17, 13, 45)
    assert got.ce == helper.ce == dt.datetime(2024, 6, 1)
    assert got.sh == helper.sh == dt.datetime(2023, 5, 17, 13, 47, 21)
    assert got.dow == helper.dow == 5  # Friday
    assert got.sd is None and got.dv == 3 and got.sp == 3 and got.ic is True


def test_week_flooring_is_iso_monday_everywhere(spark):
    """P1W must floor to MONDAY (Druid's ISO chronology) in the Column
    helper and the SQL TIME_FLOOR alike — an epoch-anchored week grid
    lands on Thursdays (the epoch's weekday) and buckets the same rows
    into different 'weeks'."""
    df = spark.createDataFrame([("2024-01-09 10:00:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    register_druid_sql_functions(spark)
    df.createOrReplaceTempView("wk_t")
    monday = dt.datetime(2024, 1, 8, 0, 0)
    row = df.select(time_floor("ts", "P1W").alias("helper")).collect()[0]
    assert row["helper"] == monday
    assert (
        spark.sql("SELECT TIME_FLOOR(ts, 'P1W') FROM wk_t").collect()[0][0]
        == monday
    )


_GRANULARITY_NAMES = [
    "second", "minute", "five_minute", "ten_minute", "fifteen_minute",
    "thirty_minute", "hour", "six_hour", "eight_hour", "day", "week",
    "month", "quarter", "year",
]


def test_floor_ms_matches_time_floor_for_every_granularity(spark):
    """The metadata plane's floor_ms (compaction's health check) and the
    row plane's time_floor (every segment write and query bucket) put
    an instant in the same bucket, for every Druid simple granularity
    and a few multi-unit periods — including pre-1970 instants, month
    ends, and the Sunday/Monday edge of ISO weeks."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        floor_ms,
        granularity_period,
    )

    samples = [
        "1900-03-01 12:34:56.789", "1965-07-31 23:00:00",
        "1969-12-28 12:00:00", "1969-12-29 00:00:00",
        "1969-12-31 23:59:59.999", "1970-01-01 00:00:00",
        "2023-02-28 23:59:00", "2024-01-07 23:59:59.999",
        "2024-01-08 00:00:00", "2024-01-31 23:59:59.999",
        "2024-02-29 18:00:00", "2024-03-31 23:30:00",
        "2024-06-15 13:47:21.123", "2024-12-31 23:59:59.999",
    ]
    epoch = dt.datetime(1970, 1, 1)
    millis = [
        (dt.datetime.fromisoformat(s) - epoch) // dt.timedelta(milliseconds=1)
        for s in samples
    ]
    periods = [granularity_period(g) for g in _GRANULARITY_NAMES]
    periods += ["PT2H", "P2D", "P2W", "P2M"]
    df = spark.createDataFrame([(m,) for m in millis], "ms long").select(
        "ms", F.timestamp_millis("ms").alias("ts")
    )
    rows = df.select(
        "ms",
        *[F.unix_millis(time_floor("ts", p)).alias(p) for p in periods],
    ).collect()
    assert len(rows) == len(samples)
    for r in rows:
        for p in periods:
            assert floor_ms(r["ms"], p) == r[p], (p, r["ms"])
        assert floor_ms(r["ms"], None) == 0  # ALL: one bucket at the epoch


def test_granularity_period_resolves_names_periods_and_all():
    """Simple names (any case), ISO periods and ALL [TIME] resolve; a
    name Druid lacks, "none" (not a segment grain) or a bad period
    raises."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        granularity_period,
    )

    assert [granularity_period(g) for g in ("DAY", "ten_minute", "Quarter")] == [
        "P1D", "PT10M", "P3M"]
    assert granularity_period("PT2H") == "PT2H"
    assert granularity_period("all") is None
    assert granularity_period("ALL  TIME") is None
    for bad in ("fortnight", "none", "PFOO", "P1M1D", ""):
        with pytest.raises(ValueError):
            granularity_period(bad)


def test_time_floor_origin_keeps_day_and_time(spark):
    """Origin-anchored month grids: boundaries are origin + k months —
    the origin's day-of-month and time-of-day are part of the grid
    (an add_months/date_trunc formulation drops both)."""
    df = spark.createDataFrame([("1970-02-20 12:00:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    row = df.select(
        time_floor("ts", "P1M", origin="1970-01-15").alias("d15"),
        time_floor("ts", "P1M", origin="1970-01-01 06:00:00").alias("h6"),
    ).collect()[0]
    assert row["d15"] == dt.datetime(1970, 2, 15, 0, 0)
    assert row["h6"] == dt.datetime(1970, 2, 1, 6, 0)


def test_druid_error_semantics_return_null_not_ansi_crash(spark):
    """Druid returns NULL where ANSI Spark would throw: TIME_PARSE on a
    malformed string, MV_OFFSET/MV_ORDINAL out of range / index zero /
    negative, and DIV must stay exact past 2^53 (a double round-trip
    silently rounds)."""
    from druid_datafusion_bridge_spark.functions import (
        div,
        mv_offset,
        mv_ordinal,
        time_parse,
    )

    bad = spark.createDataFrame(
        [("not-a-date",), ("2024-01-01",)], "s string"
    )
    got = [r[0] for r in bad.select(time_parse("s")).collect()]
    assert got[0] is None and got[1] == dt.datetime(2024, 1, 1)

    arr = spark.createDataFrame([([10, 20],)], "a array<int>")
    row = arr.select(
        mv_offset("a", 5).alias("past"),
        mv_ordinal("a", 0).alias("zero"),
        mv_offset("a", -1).alias("neg"),
        mv_offset("a", 1).alias("ok"),
    ).collect()[0]
    assert (row["past"], row["zero"], row["neg"], row["ok"]) == (
        None, None, None, 20,
    )

    big = spark.createDataFrame([(3000000000000000003, 3)], "x long, y long")
    assert big.select(div("x", "y")).collect()[0][0] == 1000000000000000001


def test_sql_time_floor_rejects_unsupported_period(spark):
    """An unsupported period must FAIL, not silently produce one big
    NULL bucket (the pre-fix CASE had no ELSE arm)."""
    register_druid_sql_functions(spark)
    df = spark.createDataFrame([("2024-01-09",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    df.createOrReplaceTempView("bad_period_t")
    with pytest.raises(Exception, match="unsupported period"):
        spark.sql("SELECT TIME_FLOOR(ts, 'P2D') FROM bad_period_t").collect()


def test_mv_sql_twins_match_column_helpers(spark):
    """The MV_* SQL-text UDFs and the Column helpers are the same
    function: seeded random arrays (with NULLs, empties, duplicates,
    regex-special separators in the data) answer identically through
    both paths."""
    import random

    from druid_datafusion_bridge_spark.functions import (
        mv_contains,
        mv_filter_none,
        mv_filter_only,
        mv_offset,
        mv_ordinal,
        mv_overlap,
        mv_to_string,
        string_to_mv,
    )

    rng = random.Random(42)
    vocab = ["red", "blue", "a.b", "x|y", "", "dup", "dup", "q*"]
    rows = []
    for _ in range(200):
        n = rng.randrange(0, 6)
        arr = [rng.choice(vocab) for _ in range(n)] if n else []
        rows.append((arr if rng.random() > 0.1 else None,
                     "|".join(rng.choices(vocab, k=3))))
    df = spark.createDataFrame(rows, "a array<string>, s string")
    register_druid_sql_functions(spark)

    py = df.select(
        mv_length("a").alias("n"),
        mv_contains("a", "red").alias("c"),
        mv_overlap("a", F.array(F.lit("red"), F.lit("dup"))).alias("o"),
        mv_offset("a", 1).alias("off"),
        mv_ordinal("a", 2).alias("ordn"),
        mv_filter_only("a", ["red", "dup"]).alias("only"),
        mv_filter_none("a", ["red", "dup"]).alias("none"),
        mv_to_string("a", ",").alias("j"),
        string_to_mv("s", "|").alias("sp"),
    ).collect()
    sql = df.selectExpr(
        "MV_LENGTH(a) AS n",
        "MV_CONTAINS(a, 'red') AS c",
        "MV_OVERLAP(a, array('red', 'dup')) AS o",
        "MV_OFFSET(a, 1) AS off",
        "MV_ORDINAL(a, 2) AS ordn",
        "MV_FILTER_ONLY(a, array('red', 'dup')) AS only",
        "MV_FILTER_NONE(a, array('red', 'dup')) AS none",
        "MV_TO_STRING(a, ',') AS j",
        "STRING_TO_MV(s, '|') AS sp",
    ).collect()
    assert [r.asDict() for r in py] == [r.asDict() for r in sql]


def test_time_floor_timezone_local_chronology(spark):
    """time_floor with tz (period granularity timeZone): buckets start
    at LOCAL midnight across a DST change — 08:00 UTC under PST, 07:00
    UTC under PDT — and the boundary instant is returned in UTC."""
    tz = "America/Los_Angeles"
    # winter (PST, UTC-8): 2024-01-15 10:30 UTC = 02:30 local
    assert _one(
        spark, "2024-01-15T10:30:00", time_floor("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 1, 15, 8, 0)
    # 07:59 UTC is still LOCAL Jan 14 (23:59) -> previous bucket
    assert _one(
        spark, "2024-01-15T07:59:00", time_floor("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 1, 14, 8, 0)
    # summer (PDT, UTC-7): 2024-06-15 09:30 UTC = 02:30 local
    assert _one(
        spark, "2024-06-15T09:30:00", time_floor("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 6, 15, 7, 0)
    # spring-forward day (2024-03-10): local midnight is still PST
    # (-8), so the bucket boundary is 08:00 UTC even though most of
    # that local day runs on PDT
    assert _one(
        spark, "2024-03-10T23:00:00", time_floor("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 3, 10, 8, 0)
    # ...and the NEXT local midnight is PDT: boundary at 07:00 UTC
    assert _one(
        spark, "2024-03-11T07:00:00", time_floor("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 3, 11, 7, 0)
    # monthly grid in local time
    assert _one(
        spark, "2024-06-01T05:00:00", time_floor("ts", "P1M", tz=tz)
    ) == dt.datetime(2024, 5, 1, 7, 0)  # local 2024-05-31 22:00 -> May
    # ceil shares the local chronology
    assert _one(
        spark, "2024-06-15T09:30:00", time_ceil("ts", "P1D", tz=tz)
    ) == dt.datetime(2024, 6, 16, 7, 0)


def test_regexp_extract_empty_match_divergence_pinned(spark):
    """Documented divergence (functions/druid_sql.py _ds_render): the
    REGEXP_EXTRACT rewrite maps Spark's empty-string no-match to NULL
    via nullif, which also nulls a GENUINE empty-string match — Druid
    returns '' when the pattern matches empty. Pinned so the edge is a
    deliberate choice, not an accident: both the no-match and the
    matches-empty cases answer NULL here."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
        rewrite_datasketches_sql,
    )

    register_druid_sql_functions(spark)
    row = spark.sql(rewrite_datasketches_sql(
        "SELECT REGEXP_EXTRACT('abc', 'z+') AS no_match, "
        "REGEXP_EXTRACT('abc', 'z*') AS empty_match, "  # Druid: ''
        "REGEXP_EXTRACT('abc', 'b+') AS real_match"
    )).first()
    assert row["no_match"] is None
    assert row["empty_match"] is None  # Druid would answer ''
    assert row["real_match"] == "b"


def test_theta_sketch_sql_exact_and_saturated(spark):
    """The theta SQL family (DS_THETA / THETA_SKETCH_ESTIMATE / _UNION /
    _INTERSECT / _NOT) against brute force. Below k every estimate is
    EXACT set algebra; saturated (k smaller than the distinct count),
    the estimate must equal the KMV estimator computed from the same
    md5 hashes in Python — bit-for-bit, both are deterministic."""
    import hashlib

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_datasketches_sql,
    )

    rows = [(i, f"u{i % 120}") for i in range(600)]
    spark.createDataFrame(rows, "i long, u string").createOrReplaceTempView(
        "tt"
    )
    # exact mode: k=1024 >> 120 distinct
    sql = rewrite_datasketches_sql("""
        WITH sks AS (
          SELECT (SELECT DS_THETA(u, 1024) FROM tt WHERE i % 2 = 0) AS a,
                 (SELECT DS_THETA(u, 1024) FROM tt WHERE i % 3 = 0) AS b
        )
        SELECT CAST(round(THETA_SKETCH_ESTIMATE(a)) AS BIGINT) AS na,
               CAST(round(THETA_SKETCH_ESTIMATE(b)) AS BIGINT) AS nb,
               CAST(round(THETA_SKETCH_ESTIMATE(
                 THETA_SKETCH_UNION(a, b))) AS BIGINT) AS nu,
               CAST(round(THETA_SKETCH_ESTIMATE(
                 THETA_SKETCH_INTERSECT(a, b))) AS BIGINT) AS ni,
               CAST(round(THETA_SKETCH_ESTIMATE(
                 THETA_SKETCH_NOT(a, b))) AS BIGINT) AS nn
        FROM sks
    """)
    row = spark.sql(sql).first()
    ea = {f"u{(i % 120)}" for i in range(0, 600, 2)}
    eb = {f"u{(i % 120)}" for i in range(0, 600, 3)}
    assert (row["na"], row["nb"]) == (len(ea), len(eb))
    assert row["nu"] == len(ea | eb)
    assert row["ni"] == len(ea & eb)
    assert row["nn"] == len(ea - eb)

    # saturated mode: k=32 << 120 distinct -> KMV estimator, replicated
    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    k = 32
    hs = sorted({h60(f"u{i}") for i in range(120)})
    theta = float(hs[k - 1])
    est = (k - 1) * float(1 << 60) / theta
    got = spark.sql(rewrite_datasketches_sql(
        "SELECT THETA_SKETCH_ESTIMATE(DS_THETA(u, 32)) AS e FROM tt"
    )).first()["e"]
    assert got == est

    # APPROX_COUNT_DISTINCT_DS_THETA: exact below k, estimator above
    got = spark.sql(rewrite_datasketches_sql(
        "SELECT APPROX_COUNT_DISTINCT_DS_THETA(u) AS n, "
        "APPROX_COUNT_DISTINCT_DS_THETA(u, 32) AS n32 FROM tt"
    )).first()
    assert got["n"] == 120
    assert got["n32"] == round(est)

    # a non-literal size is loud, not misread
    import pytest as _pytest
    with _pytest.raises(ValueError, match="integer literal"):
        rewrite_datasketches_sql("SELECT DS_THETA(u, i) FROM tt")


def test_quantiles_sketch_sql_family(spark):
    """The DataSketches quantiles SQL family (DS_QUANTILES_SKETCH +
    DS_GET_QUANTILE(S)/DS_HISTOGRAM/DS_RANK/DS_CDF) against brute
    force: RANK/CDF/HISTOGRAM are EXACT renders; GET_QUANTILE(S) ride
    percentile_approx, exact on this small group. An unwrapped
    consumer and a dangling sketch are loud."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
        rewrite_datasketches_sql,
    )

    register_druid_sql_functions(spark)
    spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "v double"
    ).createOrReplaceTempView("qq")
    row = spark.sql(rewrite_datasketches_sql("""
        SELECT DS_GET_QUANTILE(DS_QUANTILES_SKETCH(v), 0.5) AS p50,
               DS_GET_QUANTILES(DS_QUANTILES_SKETCH(v, 128), 0.1, 0.9)
                 AS deciles,
               DS_RANK(DS_QUANTILES_SKETCH(v), 25.0) AS rk,
               DS_HISTOGRAM(DS_QUANTILES_SKETCH(v), 26, 51) AS hist,
               DS_CDF(DS_QUANTILES_SKETCH(v), 26, 51) AS cdf
        FROM qq
    """)).first()
    assert row["p50"] == 50.0
    assert row["deciles"] == [10.0, 90.0]
    assert row["rk"] == 0.24  # 24 of 100 strictly below 25
    assert row["hist"] == [25.0, 25.0, 50.0]
    assert row["cdf"] == [0.25, 0.25, 0.5]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="DS_QUANTILES_SKETCH"):
        rewrite_datasketches_sql("SELECT DS_RANK(v, 1.0) FROM qq")
    from pyspark.errors import AnalysisException
    with _pytest.raises(Exception, match="consumable|GROUP"):
        spark.sql(rewrite_datasketches_sql(
            "SELECT DS_QUANTILES_SKETCH(v) FROM qq"
        )).collect()


def test_unnest_sql_rewrite(spark):
    """rewrite_unnest_sql: comma and CROSS JOIN forms become LATERAL
    VIEW explode; LEFT JOIN ... ON TRUE becomes the OUTER form (rows
    with empty arrays survive as NULL); literals stay untouched;
    malformed usage is loud; the output is idempotent."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_unnest_sql,
    )

    spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "c")], "id long, s string"
    ).createOrReplaceTempView("uu")

    for form in (
        "FROM uu, UNNEST(split(s, ' ')) AS t(w)",
        "FROM uu CROSS JOIN UNNEST(split(s, ' ')) AS t(w)",
    ):
        out = rewrite_unnest_sql(f"SELECT id, w {form}")
        assert rewrite_unnest_sql(out) == out  # idempotent
        rows = spark.sql(out).collect()
        # split('') yields [''] — every row unnests to >= 1 element
        assert len(rows) == 4

    outer = rewrite_unnest_sql(
        "SELECT id, w FROM uu LEFT JOIN "
        "UNNEST(CASE WHEN s = '' THEN array() ELSE split(s, ' ') END) "
        "AS t(w) ON TRUE"
    )
    assert "LATERAL VIEW OUTER" in outer
    got = {(r["id"], r["w"]) for r in spark.sql(outer).collect()}
    assert got == {(1, "a"), (1, "b"), (2, None), (3, "c")}

    # Druid-quoted identifiers inside the expression become columns
    q = rewrite_unnest_sql(
        'SELECT w FROM uu, UNNEST(split("s", \' \')) AS t(w)'
    )
    assert '`s`' in q and spark.sql(q).count() == 4

    # literals and comments never rewrite
    lit = "SELECT 'UNNEST(x) AS t(c)' AS s FROM uu"
    assert rewrite_unnest_sql(lit) == lit

    import pytest as _pytest
    with _pytest.raises(ValueError, match="AS alias"):
        rewrite_unnest_sql("SELECT * FROM uu, UNNEST(split(s, ' '))")
    with _pytest.raises(ValueError, match="ON TRUE"):
        rewrite_unnest_sql(
            "SELECT * FROM uu LEFT JOIN UNNEST(split(s, ' ')) AS t(w)"
        )
    with _pytest.raises(ValueError, match="must follow"):
        rewrite_unnest_sql(
            "SELECT * FROM UNNEST(split('a', ' ')) AS t(w)"
        )


def test_ipv4_functions(spark):
    """IPV4_PARSE/STRINGIFY/MATCH: octet arithmetic, NULL on invalid
    input (out-of-range octet, malformed CIDR), /0 matches all."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
    )

    register_druid_sql_functions(spark)
    r = spark.sql(
        "SELECT IPV4_PARSE('192.168.1.1') AS p,"
        " IPV4_PARSE('1.2.3.256') AS bad,"
        " IPV4_PARSE('a.b.c.d') AS bad2,"
        " IPV4_STRINGIFY(3232235777) AS s,"
        " IPV4_STRINGIFY(4294967296) AS over,"
        " IPV4_MATCH('192.168.1.77', '192.168.1.0/24') AS m_in,"
        " IPV4_MATCH('192.168.2.77', '192.168.1.0/24') AS m_out,"
        " IPV4_MATCH('8.8.8.8', '0.0.0.0/0') AS m_all,"
        " IPV4_MATCH('8.8.8.8', '8.8.8.8/32') AS m_exact,"
        " IPV4_MATCH('8.8.8.8', '8.8.8.0/33') AS m_badp"
    ).first()
    assert r["p"] == 3232235777 and r["s"] == "192.168.1.1"
    assert r["bad"] is None and r["bad2"] is None and r["over"] is None
    assert (r["m_in"], r["m_out"], r["m_all"], r["m_exact"]) == (
        True, False, True, True)
    assert r["m_badp"] is None


def test_mv_extended_sql_functions(spark):
    """The r10 MV mutators/locators: append/prepend/concat/slice and
    the 0/1-based locators with NULL on no match and NULL-array
    passthrough."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
    )

    register_druid_sql_functions(spark)
    r = spark.sql(
        "SELECT MV_APPEND(array('a','b'), 'c') AS ap,"
        " MV_PREPEND('z', array('a')) AS pre,"
        " MV_CONCAT(array('a'), array('b','c')) AS cc,"
        " MV_APPEND(CAST(NULL AS ARRAY<STRING>), 'x') AS ap_null,"
        " MV_SLICE(array('a','b','c','d'), 1, 3) AS sl,"
        " MV_SLICE(array('a','b'), 1, 9) AS sl_clamp,"
        " MV_SLICE(array('a','b'), -1, 1) AS sl_bad,"
        " MV_OFFSET_OF(array('a','b'), 'b') AS off,"
        " MV_ORDINAL_OF(array('a','b'), 'b') AS ordn,"
        " MV_OFFSET_OF(array('a','b'), 'z') AS off_miss"
    ).first()
    assert r["ap"] == ["a", "b", "c"] and r["pre"] == ["z", "a"]
    assert r["cc"] == ["a", "b", "c"] and r["ap_null"] is None
    assert r["sl"] == ["b", "c"] and r["sl_clamp"] == ["b"]
    assert r["sl_bad"] is None
    assert (r["off"], r["ordn"], r["off_miss"]) == (1, 2, None)


def test_truncate_and_parse_long_rewrite(spark):
    """TRUNCATE/TRUNC (numeric, toward zero) and PARSE_LONG (radix)
    rewrites; lowercase trunc stays Spark's date truncation."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_datasketches_sql,
    )

    r = spark.sql(rewrite_datasketches_sql(
        "SELECT TRUNCATE(3.789) AS t0, TRUNCATE(3.789, 2) AS t2,"
        " TRUNC(-3.789, 1) AS tn,"
        " PARSE_LONG('42') AS p10, PARSE_LONG('ff', 16) AS p16,"
        " PARSE_LONG('junk') AS pbad,"
        " trunc(DATE '2024-05-17', 'MM') AS dt"
    )).first()
    assert (r["t0"], r["t2"], r["tn"]) == (3.0, 3.78, -3.7)
    assert (r["p10"], r["p16"], r["pbad"]) == (42, 255, None)
    assert str(r["dt"]).startswith("2024-05-01")


def test_tdigest_sql_pair(spark):
    """TDIGEST_GENERATE_SKETCH + TDIGEST_QUANTILE: the t-digest module
    pair rides the quantiles marker machinery; unwrapped usage loud."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
        rewrite_datasketches_sql,
    )

    register_druid_sql_functions(spark)
    spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "v double"
    ).createOrReplaceTempView("td")
    row = spark.sql(rewrite_datasketches_sql(
        "SELECT TDIGEST_QUANTILE(TDIGEST_GENERATE_SKETCH(v), 0.5) AS p50,"
        " TDIGEST_QUANTILE(TDIGEST_GENERATE_SKETCH(v, 200), 0.9) AS p90 "
        "FROM td"
    )).first()
    assert row["p50"] == 50.0 and row["p90"] == 90.0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="TDIGEST_GENERATE_SKETCH"):
        rewrite_datasketches_sql("SELECT TDIGEST_QUANTILE(v, 0.5) FROM td")


def test_bloom_filter_sql_contract(spark):
    """BLOOM_FILTER / BLOOM_FILTER_TEST SQL names (bloom-filter
    extension): every built key MUST test true (no false negatives —
    checked per-key, not just in aggregate), a NULL probe is false,
    and the deterministic md5 bitmap matches an independent Python
    evaluation bit-for-bit, false positives included."""
    import hashlib

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_datasketches_sql,
    )

    keys = [f"k{i}" for i in range(0, 60, 2)]          # built: k0,k2,...
    probes = [f"k{i}" for i in range(60)] + [None]      # half absent
    spark.createDataFrame(
        [(k,) for k in keys], "k string"
    ).createOrReplaceTempView("bkeys")
    spark.createDataFrame(
        [(p,) for p in probes], "p string"
    ).createOrReplaceTempView("bprobes")
    sql = rewrite_datasketches_sql("""
        SELECT p, BLOOM_FILTER_TEST(p,
                 (SELECT BLOOM_FILTER(k, 30) FROM bkeys)) AS hit
        FROM bprobes
    """)
    got = {r["p"]: r["hit"] for r in spark.sql(sql).collect()}
    # independent Python bitmap: numEntries=30 -> ceil(300/60)=5 words
    total_bits = 5 * 60
    def pos(key, j):
        h = hashlib.md5(f"{j}:{key}".encode()).hexdigest()
        return int(h[:15], 16) % total_bits
    bits = {pos(k, j) for k in keys for j in range(3)}
    for p in probes:
        expect = (
            p is not None
            and all(pos(p, j) in bits for j in range(3))
        )
        assert got[p] == expect, p
    # the contract: every built key tests true
    assert all(got[k] for k in keys)
    # loud arg errors
    with pytest.raises(ValueError, match="integer literal"):
        rewrite_datasketches_sql("SELECT BLOOM_FILTER(x, n) FROM t")
    with pytest.raises(ValueError, match="takes 2 arguments"):
        rewrite_datasketches_sql("SELECT BLOOM_FILTER_TEST(x) FROM t")


def test_ipv6_match_sql(spark):
    """IPV6_MATCH hand cases: '::' expansion (middle, leading,
    trailing), full-form equivalence, mid-group /44 prefix, /0 and
    /128 edges, and the false-not-error contract for unparsable input
    (bad hex, wrong group count, multiple '::', embedded IPv4)."""
    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_datasketches_sql,
    )

    cases = [
        ("'2001:db8:a0::1'", "'2001:db8:a0::/48'", True),
        ("'2001:db8:a1::1'", "'2001:db8:a0::/48'", False),
        ("'2001:db8:af::1'", "'2001:db8:a0::/44'", True),
        ("'2001:db8:b0::1'", "'2001:db8:a0::/44'", False),
        ("'::1'", "'::1/128'", True),
        ("'::1'", "'::/0'", True),
        ("'fe80::'", "'fe80::/10'", True),
        ("'2001:0db8:0000:0000:0000:0000:0000:0001'",
         "'2001:db8::1/128'", True),
        ("'not:an:ip'", "'::/0'", False),
        ("'1::2::3'", "'::/0'", False),
        ("'::ffff:1.2.3.4'", "'::/0'", False),
        ("CAST(NULL AS STRING)", "'::/0'", None),
        ("'zzzz::1'", "'::/0'", False),
        # '::' must stand for >= 1 group, and a ':::' form is invalid
        # (r11 review finding: the expansion alone would normalize
        # both into 8 valid groups)
        ("'1:2:3:4:5:6:7::8'", "'::/0'", False),
        ("':::1'", "'::/0'", False),
        ("'1:2:3:4:5:6:7::'", "'::/0'", True),
        ("'1:2:3:4:5:6:7'", "'::/0'", False),
    ]
    sel = ", ".join(
        f"IPV6_MATCH({a}, {n}) AS c{i}"
        for i, (a, n, _) in enumerate(cases)
    )
    row = spark.sql(rewrite_datasketches_sql(f"SELECT {sel}")).collect()[0]
    for i, (a, n, want) in enumerate(cases):
        assert row[f"c{i}"] == want, (a, n)
    with pytest.raises(ValueError, match="string literal"):
        rewrite_datasketches_sql("SELECT IPV6_MATCH(a, b) FROM t")
    with pytest.raises(ValueError, match="invalid IPv6"):
        rewrite_datasketches_sql(
            "SELECT IPV6_MATCH(a, 'nope/12') FROM t"
        )


def test_r12_sql_audit_tail(spark):
    """The r12 function-audit additions: SCALAR_IN_ARRAY (type-generic
    swap onto array_contains, NULL semantics), ARRAY_QUANTILE
    (interpolation vs numpy on random draws, empty/all-null/
    out-of-range-rank answer NULL), MV_TO_ARRAY/ARRAY_TO_MV, and the
    DECODE_BASE64_COMPLEX loud-error contract."""
    import numpy as np

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
        rewrite_datasketches_sql,
    )

    register_druid_sql_functions(spark)
    # SCALAR_IN_ARRAY: rewrite + null semantics (NULL scalar/array)
    sql = rewrite_datasketches_sql(
        "SELECT SCALAR_IN_ARRAY('b', ARRAY('a', 'b')) AS hit, "
        "SCALAR_IN_ARRAY('z', ARRAY('a', 'b')) AS miss, "
        "SCALAR_IN_ARRAY(CAST(NULL AS STRING), ARRAY('a')) AS ns, "
        "SCALAR_IN_ARRAY(7, ARRAY(1, 7, 9)) AS num, "
        "SCALAR_IN_ARRAY('a', CAST(NULL AS ARRAY<STRING>)) AS na"
    )
    assert "array_contains" in sql and "SCALAR_IN_ARRAY" not in sql
    r = spark.sql(sql).first()
    assert (r["hit"], r["miss"], r["num"]) == (True, False, True)
    assert r["ns"] is None and r["na"] is None
    # ARRAY_QUANTILE: numpy differential on 10 seeded draws (linear
    # interpolation, the same definition), plus the NULL edges
    import random
    rng = random.Random(20260817)
    for _ in range(10):
        vals = [round(rng.uniform(-50, 50), 3) for _ in
                range(rng.randint(1, 9))]
        rank = round(rng.random(), 3)
        arr = ", ".join(f"CAST({v} AS DOUBLE)" for v in vals)
        got = spark.sql(
            f"SELECT ARRAY_QUANTILE(ARRAY({arr}, CAST(NULL AS DOUBLE))"
            f", {rank}) AS q"
        ).first()["q"]
        assert got == pytest.approx(
            float(np.percentile(np.array(vals), rank * 100)), rel=1e-12
        ), (vals, rank)
    r = spark.sql(
        "SELECT ARRAY_QUANTILE(ARRAY(CAST(NULL AS DOUBLE)), 0.5) AS an,"
        " ARRAY_QUANTILE(CAST(ARRAY() AS ARRAY<DOUBLE>), 0.5) AS ae,"
        " ARRAY_QUANTILE(ARRAY(CAST(1 AS DOUBLE)), 1.5) AS ar,"
        " ARRAY_QUANTILE(ARRAY(CAST(3 AS DOUBLE)), 0.99) AS one"
    ).first()
    assert r["an"] is None and r["ae"] is None and r["ar"] is None
    assert r["one"] == 3.0
    # MV_TO_ARRAY identity / ARRAY_TO_MV string cast
    r = spark.sql(
        "SELECT MV_TO_ARRAY(ARRAY('x', 'y')) AS mv, "
        "ARRAY_TO_MV(ARRAY(1, 2)) AS amv"
    ).first()
    assert r["mv"] == ["x", "y"] and r["amv"] == ["1", "2"]
    # DECODE_BASE64_COMPLEX: loud contract error, never a value
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="DECODE_BASE64_COMPLEX"):
        spark.sql(
            "SELECT DECODE_BASE64_COMPLEX('thetaSketch', 'AAAA')"
        ).collect()
    # BLOOM_FILTER_TEST rejects non-deterministic filter text (its
    # argument expands into six bit probes) — ADVICE r11 contract
    with pytest.raises(ValueError, match="deterministic"):
        rewrite_datasketches_sql(
            "SELECT BLOOM_FILTER_TEST(x, rand()) FROM t"
        )

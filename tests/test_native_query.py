"""Druid native query JSON interpreter (native_query.py): every
queryType, filter kind, granularity form, aggregator family,
postAggregation, having, limitSpec, and extractionFn subset against
hand-computed expectations on a small deterministic frame — plus an
end-to-end run over the druidsegment DataSource (a native query on a
REAL segment root, the full Druid emulation path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.native_query import native_query

T0 = "2024-01-01T00:00:00Z"


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # (__time, user, etype, value, props)
        ("2024-01-01 00:10:00", 1, "click", 1.0, "a=1"),
        ("2024-01-01 00:20:00", 2, "click", 2.0, "b=2"),
        ("2024-01-01 01:10:00", 1, "view", 3.0, None),
        ("2024-01-01 01:40:00", 3, "purchase", 10.0, "a=9"),
        ("2024-01-02 00:05:00", 2, "click", 4.0, "c=3"),
        ("2024-01-02 02:00:00", 2, "view", 5.0, "a=2"),
        ("2024-01-02 03:00:00", 4, None, 6.0, "x"),
    ]
    df = spark.createDataFrame(
        rows, "ts string, user_id long, event_type string, value double, props string"
    ).withColumn("__time", F.col("ts").cast("timestamp")).drop("ts")
    df.cache().count()
    return df


def run(df, spec, **kw):
    return native_query(df, spec, **kw)


def test_timeseries_hourly_sum_and_postagg(events):
    spec = {
        "queryType": "timeseries",
        "granularity": "hour",
        "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
        "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
        "aggregations": [
            {"type": "count", "name": "rows"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "postAggregations": [
            {
                "type": "arithmetic", "name": "avg_value", "fn": "/",
                "fields": [
                    {"type": "fieldAccess", "fieldName": "total"},
                    {"type": "fieldAccess", "fieldName": "rows"},
                ],
            }
        ],
    }
    rows = run(events, spec).collect()
    # Druid zero-fills empty buckets inside the interval by default: 24
    # hourly buckets, count/sum filled with 0 ('/' maps x/0 to 0.0)
    assert len(rows) == 24
    got = {
        str(r["timestamp"]): (r["rows"], r["total"], r["avg_value"])
        for r in rows
    }
    assert got["2024-01-01 00:00:00"] == (2, 3.0, 1.5)
    assert got["2024-01-01 05:00:00"] == (0, 0.0, 0.0)

    skip = dict(spec, context={"skipEmptyBuckets": True})
    got = {
        str(r["timestamp"]): (r["rows"], r["total"], r["avg_value"])
        for r in run(events, skip).collect()
    }
    assert got == {"2024-01-01 00:00:00": (2, 3.0, 1.5)}


def test_timeseries_all_granularity_one_row(events):
    spec = {
        "queryType": "timeseries",
        "granularity": "all",
        "aggregations": [{"type": "longSum", "name": "s", "fieldName": "user_id"}],
    }
    rows = run(events, spec).collect()
    assert len(rows) == 1 and rows[0]["s"] == 15


def test_timeseries_duration_granularity_origin(events):
    spec = {
        "queryType": "timeseries",
        "granularity": {"type": "duration", "duration": 86_400_000,
                        "origin": "2024-01-01T12:00:00Z"},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {str(r["timestamp"]): r["n"] for r in run(events, spec).collect()}
    # day buckets anchored at noon: [12-31 12:00, 01-01 12:00) has the 4
    # morning rows of Jan 1... wait: Jan 1 rows are 00:10-01:40 -> the
    # PREVIOUS noon bucket; Jan 2 rows 00:05-03:00 -> Jan 1 noon bucket
    assert got == {"2023-12-31 12:00:00": 4, "2024-01-01 12:00:00": 3}


def test_groupby_having_limitspec_extraction(events):
    spec = {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": [
            {"type": "extraction", "dimension": "event_type",
             "outputName": "ETYPE",
             "extractionFn": {"type": "upper"}},
        ],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "having": {"type": "greaterThan", "aggregation": "n", "value": 1},
        "limitSpec": {
            "type": "default", "limit": 2,
            "columns": [{"dimension": "total", "direction": "descending",
                         "dimensionOrder": {"type": "numeric"}}],
        },
    }
    rows = run(events, spec).collect()
    assert [(r["ETYPE"], r["n"], r["total"]) for r in rows] == [
        ("VIEW", 2, 8.0),
        ("CLICK", 3, 7.0),
    ]


def test_groupby_subtotals_spec(events):
    """subtotalsSpec == GROUPING SETS: every set carries the
    granularity bucket; dimensions outside a set are NULL."""
    spec = {
        "queryType": "groupBy",
        "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
        "subtotalsSpec": [["event_type"], []],
    }
    rows = run(events, spec).collect()
    got = {(str(r["timestamp"]), r["event_type"]): r["n"] for r in rows}
    # detail rows (set ["event_type"])
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-02 00:00:00", "view")] == 1
    # per-day subtotal rows (set []) — NULL dim, full-day counts; the
    # day-2 NULL event_type detail row and the day-2 subtotal are
    # separate rows with different counts
    day2 = sorted(
        r["n"] for r in rows
        if str(r["timestamp"]) == "2024-01-02 00:00:00"
        and r["event_type"] is None
    )
    assert day2 == [1, 3]
    assert got[("2024-01-01 00:00:00", None)] == 4


def test_groupby_null_dimension_grouped(events):
    spec = {
        "queryType": "groupBy",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {r["event_type"]: r["n"] for r in run(events, spec).collect()}
    assert got == {"click": 3, "view": 2, "purchase": 1, None: 1}


def test_topn_per_day_with_ties_and_inverted(events):
    spec = {
        "queryType": "topN",
        "granularity": "day",
        "dimension": "event_type",
        "metric": "total",
        "threshold": 1,
        "aggregations": [
            {"type": "doubleSum", "name": "total", "fieldName": "value"}
        ],
    }
    got = {
        str(r["timestamp"]): (r["event_type"], r["total"])
        for r in run(events, spec).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": ("purchase", 10.0),
        "2024-01-02 00:00:00": (None, 6.0),
    }
    inv = dict(spec, metric={"type": "inverted", "metric": "total"})
    got = {
        str(r["timestamp"]): (r["event_type"], r["total"])
        for r in run(events, inv).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": ("click", 3.0),
        "2024-01-02 00:00:00": ("click", 4.0),
    }


def test_topn_all_granularity_is_take_ordered(events):
    spec = {
        "queryType": "topN",
        "granularity": "all",
        "dimension": "event_type",
        "metric": "n",
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    df = run(events, spec)
    rows = df.collect()
    assert [(r["event_type"], r["n"]) for r in rows] == [("click", 3), ("view", 2)]
    # plan shape: global top-k must be TakeOrderedAndProject, not Window
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_filters_bound_in_like_regex_search_logic(events):
    def n(filt):
        spec = {"queryType": "timeseries", "granularity": "all",
                "filter": filt,
                "aggregations": [{"type": "count", "name": "n"}]}
        return run(events, spec).collect()[0]["n"]

    assert n({"type": "in", "dimension": "event_type",
              "values": ["click", None]}) == 4
    assert n({"type": "bound", "dimension": "value", "lower": "2",
              "upper": "5", "ordering": "numeric"}) == 4
    assert n({"type": "bound", "dimension": "value", "lower": "2",
              "upper": "5", "lowerStrict": True, "upperStrict": True,
              "ordering": "numeric"}) == 2
    assert n({"type": "bound", "dimension": "event_type",
              "lower": "click", "upper": "purchase"}) == 4
    assert n({"type": "like", "dimension": "props", "pattern": "a=%"}) == 3
    assert n({"type": "regex", "dimension": "props", "pattern": "=[0-9]$"}) == 5
    assert n({"type": "search", "dimension": "event_type",
              "query": {"type": "insensitive_contains", "value": "CLI"}}) == 3
    assert n({"type": "and", "fields": [
        {"type": "selector", "dimension": "event_type", "value": "click"},
        {"type": "bound", "dimension": "value", "lower": "2",
         "ordering": "numeric"}]}) == 2
    # SQL-compatible nulls: NOT(= 'click') does not match the null row
    assert n({"type": "not", "field":
              {"type": "selector", "dimension": "event_type",
               "value": "click"}}) == 3
    assert n({"type": "selector", "dimension": "event_type",
              "value": None}) == 1
    assert n({"type": "null", "column": "event_type"}) == 1
    assert n({"type": "equals", "column": "user_id",
              "matchValue": 2}) == 3
    assert n({"type": "range", "column": "value", "lower": 4,
              "matchValueType": "DOUBLE"}) == 4
    assert n({"type": "interval", "dimension": "__time", "intervals":
              ["2024-01-01T01:00:00Z/2024-01-02T00:00:00Z"]}) == 2


def test_filtered_aggregator_and_cardinality(events):
    spec = {
        "queryType": "timeseries",
        "granularity": "all",
        "aggregations": [
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "doubleSum", "name": "click_value",
                            "fieldName": "value"}},
            {"type": "filtered", "name": "click_rows",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "count", "name": "ignored"}},
            {"type": "cardinality", "name": "users",
             "fieldNames": ["user_id"]},
            {"type": "hyperUnique", "name": "types",
             "fieldName": "event_type"},
        ],
    }
    r = run(events, spec).collect()[0]
    assert (r["click_value"], r["click_rows"], r["users"], r["types"]) == (
        7.0, 3, 4, 3,
    )


def test_first_last_aggregators(events):
    spec = {
        "queryType": "groupBy",
        "dimensions": ["user_id"],
        "aggregations": [
            {"type": "doubleFirst", "name": "first_v", "fieldName": "value"},
            {"type": "stringLast", "name": "last_t", "fieldName": "event_type"},
        ],
    }
    got = {r["user_id"]: (r["first_v"], r["last_t"])
           for r in run(events, spec).collect()}
    assert got[1] == (1.0, "view")
    assert got[2] == (2.0, "view")


def test_scan_order_limit_offset(events):
    spec = {
        "queryType": "scan",
        "columns": ["__time", "value"],
        "order": "descending",
        "limit": 3,
        "offset": 1,
        "filter": {"type": "bound", "dimension": "value", "lower": "2",
                   "ordering": "numeric"},
    }
    rows = run(events, spec).collect()
    assert [r["value"] for r in rows] == [5.0, 4.0, 10.0]
    with pytest.raises(ValueError, match="time column"):
        run(events, {"queryType": "scan", "columns": ["value"],
                     "order": "ascending"})


def test_search_query_fragment_and_limit(events):
    spec = {
        "queryType": "search",
        "searchDimensions": ["event_type", "props"],
        "query": {"type": "fragment", "values": ["a=", "1"]},
    }
    got = {(r["dimension"], r["value"]): r["count"]
           for r in run(events, spec).collect()}
    assert got == {("props", "a=1"): 1}
    spec2 = {
        "queryType": "search",
        "searchDimensions": ["event_type"],
        "query": {"type": "contains", "value": "c", "caseSensitive": True},
        "limit": 1,
    }
    rows = run(events, spec2).collect()
    assert [(r["dimension"], r["value"], r["count"]) for r in rows] == [
        ("event_type", "click", 3)
    ]


def test_time_boundary_and_datasource_metadata(events):
    r = run(events, {"queryType": "timeBoundary"}).collect()[0]
    assert str(r["minTime"]) == "2024-01-01 00:10:00"
    assert str(r["maxTime"]) == "2024-01-02 03:00:00"
    r = run(events, {"queryType": "timeBoundary", "bound": "maxTime"}).collect()[0]
    assert str(r["maxTime"]) == "2024-01-02 03:00:00"
    r = run(events, {"queryType": "dataSourceMetadata"}).collect()[0]
    assert str(r["maxIngestedEventTime"]) == "2024-01-02 03:00:00"


def test_extraction_fns(events):
    def one(extraction, dim="event_type"):
        spec = {
            "queryType": "groupBy",
            "dimensions": [{"type": "extraction", "dimension": dim,
                            "outputName": "d", "extractionFn": extraction}],
            "aggregations": [{"type": "count", "name": "n"}],
        }
        return {r["d"]: r["n"] for r in run(events, spec).collect()}

    assert one({"type": "substring", "index": 0, "length": 2}) == {
        "cl": 3, "vi": 2, "pu": 1, None: 1}
    assert one({"type": "strlen"}) == {"5": 3, "4": 2, "8": 1, None: 1}
    got = one({"type": "regex", "expr": "([a-z])=", "index": 1,
               "replaceMissingValue": True,
               "replaceMissingValueWith": "none"}, dim="props")
    assert got == {"a": 3, "b": 1, "c": 1, "none": 2}
    assert one({"type": "lookup",
                "lookup": {"type": "map", "map": {"click": "CLICK!"}},
                "retainMissingValue": True}) == {
        "CLICK!": 3, "view": 2, "purchase": 1, None: 1}
    got = one({"type": "timeFormat", "format": "yyyy-MM-dd"}, dim="__time")
    assert got == {"2024-01-01": 4, "2024-01-02": 3}


def test_topn_dimension_metric_spec(events):
    """DimensionTopNMetricSpec ranks by the dimension VALUE ascending;
    inverted-wrapped descends — never by an aggregate."""
    spec = {
        "queryType": "topN",
        "granularity": "all",
        "dimension": "event_type",
        "metric": {"type": "dimension"},
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    rows = run(events, spec).collect()
    # lexicographic ascending, null smallest (Druid's comparator)
    assert [r["event_type"] for r in rows] == [None, "click"]
    inv = dict(spec, metric={"type": "inverted",
                             "metric": {"type": "dimension"}})
    rows = run(events, inv).collect()
    assert [r["event_type"] for r in rows] == ["view", "purchase"]


def test_filter_extraction_fn(events):
    """Legacy dimension filters apply their extractionFn BEFORE
    matching (Druid's contract) instead of silently ignoring it."""
    spec = {
        "queryType": "timeseries",
        "granularity": "all",
        "filter": {"type": "selector", "dimension": "event_type",
                   "value": "CLICK",
                   "extractionFn": {"type": "upper"}},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    assert run(events, spec).collect()[0]["n"] == 3
    spec["filter"] = {"type": "search", "dimension": "event_type",
                      "query": {"type": "contains", "value": "CLI",
                                "caseSensitive": True},
                      "extractionFn": {"type": "upper"}}
    assert run(events, spec).collect()[0]["n"] == 3


def test_filtered_aggregator_wrapper_name_only(events):
    """A filtered aggregator named on the wrapper whose inner
    aggregator is anonymous must not crash."""
    spec = {
        "queryType": "timeseries",
        "granularity": "all",
        "aggregations": [
            {"type": "filtered", "name": "clicks",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "count"}},
        ],
    }
    assert run(events, spec).collect()[0]["clicks"] == 3


def test_granularity_spelling_variants(events):
    """Druid accepts case-variant simple strings and the object forms
    of all/none; the intervals field also comes in object form."""
    spec = {
        "queryType": "timeseries",
        "granularity": "DAY",
        "intervals": {"type": "intervals",
                      "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"]},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {str(r["timestamp"]): r["n"] for r in run(events, spec).collect()}
    assert got == {"2024-01-01 00:00:00": 4, "2024-01-02 00:00:00": 3}
    spec["granularity"] = {"type": "all"}
    rows = run(events, spec).collect()
    assert len(rows) == 1 and rows[0]["n"] == 7


def test_zerofill_grid_matches_origin_anchored_month_buckets(spark):
    """The zero-fill grid must be the SAME clamped-calendar grid the
    data buckets to: origin Jan 31 makes origin+2mo = Mar 31, which a
    sequence stepping +1mo from the clamped Feb 29 would miss."""
    from druid_datafusion_bridge_spark.native_query import native_query

    df = spark.createDataFrame(
        [("2024-03-31 12:00:00", 1.0)], "ts string, v double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS __time", "v")
    spec = {
        "queryType": "timeseries",
        "granularity": {"type": "period", "period": "P1M",
                        "origin": "2024-01-31T00:00:00Z"},
        "intervals": ["2024-03-01T00:00:00Z/2024-05-01T00:00:00Z"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {str(r["timestamp"]): r["n"] for r in native_query(df, spec).collect()}
    # data row buckets to origin+2mo = Mar 31 (a sequence stepping +1mo
    # from the clamped Feb 29 would emit Mar 29 and drop this row);
    # Feb 29 = bucketStart(interval start) covers Mar 1-30 and
    # zero-fills, as does Apr's bucket (origin+3mo = Apr 30)
    assert got == {"2024-02-29 00:00:00": 0, "2024-03-31 00:00:00": 1,
                   "2024-04-30 00:00:00": 0}


@pytest.mark.parametrize(
    "period, times, interval, want",
    [
        # LA months start at 08:00Z: the grid must not fall back to
        # UTC month starts and drop both real rows
        ("P1M", ["2024-01-15 12:00:00", "2024-02-15 12:00:00"],
         "2024-01-01T08:00Z/2024-03-01T08:00Z",
         {"2024-01-01 08:00:00": 1, "2024-02-01 08:00:00": 1}),
        # LA local midnight moves from 08:00Z to 07:00Z on 2024-03-10
        ("P1D", ["2024-03-09 12:00:00", "2024-03-11 12:00:00"],
         "2024-03-09T08:00Z/2024-03-12T07:00Z",
         {"2024-03-09 08:00:00": 1, "2024-03-10 08:00:00": 0,
          "2024-03-11 07:00:00": 1}),
    ],
    ids=["month", "day_across_dst"],
)
def test_zerofill_grid_follows_the_period_time_zone(
    spark, period, times, interval, want
):
    """The zero-fill grid buckets in the granularity's timeZone, like
    the data: every row lands on a grid bucket, and the empty local
    day between the rows zero-fills."""
    df = spark.createDataFrame(
        [(t, 1) for t in times], "ts string, v long"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS __time", "v")
    spec = {
        "queryType": "timeseries",
        "granularity": {"type": "period", "period": period,
                        "timeZone": "America/Los_Angeles"},
        "intervals": [interval],
        "aggregations": [{"type": "longSum", "name": "n", "fieldName": "v"}],
    }
    got = {str(r["timestamp"]): r["n"] for r in native_query(df, spec).collect()}
    assert got == want


def test_groupby_default_limit_is_dimension_ordered(events):
    """limitSpec with a limit but no columns cuts dimension-ordered
    (Druid's DefaultLimitSpec), not partitioning-dependently."""
    spec = {
        "queryType": "groupBy",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
        "limitSpec": {"type": "default", "limit": 2},
    }
    rows = run(events, spec).collect()
    # nulls first, then lexicographic
    assert [r["event_type"] for r in rows] == [None, "click"]


def test_unknown_named_datasource_is_loud(events):
    with pytest.raises(ValueError, match="unknown datasource"):
        run(events, {"queryType": "timeBoundary", "dataSource": "nope"},
            tables={"events": events})
    # without a tables mapping, ONE name resolves to the supplied df;
    # two DISTINCT names cannot both be it — that would silently
    # double-count
    spec = {
        "queryType": "timeseries",
        "dataSource": {"type": "union", "dataSources": ["a", "b"]},
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
    }
    with pytest.raises(ValueError, match="tables mapping"):
        run(events, spec)
    one = dict(spec, dataSource={"type": "union", "dataSources": ["a", "a"]})
    assert run(events, one).collect()[0]["n"] == 14


def test_nested_join_datasource_prefixed_columns(events):
    """A join whose right side is itself a join carries already-dotted
    column names — the second prefixing must backtick them."""
    inline = {"type": "inline", "columnNames": ["etype", "category"],
              "rows": [["click", "engage"]]}
    inner = {"type": "join", "left": "events", "right": inline,
             "rightPrefix": "j0.", "condition": '"event_type" == "j0.etype"'}
    spec = {
        "queryType": "groupBy",
        "dataSource": {"type": "join", "left": "events", "right": inner,
                       "rightPrefix": "k.",
                       "condition": '"event_type" == "k.event_type"'},
        "dimensions": ["k.j0.category"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {r["k.j0.category"]: r["n"]
           for r in run(events, spec, tables={"events": events}).collect()}
    assert got == {"engage": 9}  # 3 click rows x 3 click rows


def test_empty_interval_filter_matches_nothing(events):
    spec = {
        "queryType": "timeseries",
        "granularity": "all",
        "filter": {"type": "interval", "dimension": "__time",
                   "intervals": {"type": "intervals", "intervals": []}},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    assert run(events, spec).collect()[0]["n"] == 0


def test_alphanumeric_topn_metric_is_loud(events):
    spec = {
        "queryType": "topN",
        "granularity": "all",
        "dimension": "event_type",
        "metric": {"type": "alphaNumeric"},
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    with pytest.raises(ValueError, match="topN metric"):
        run(events, spec)


def test_virtual_columns(events):
    """expression virtualColumns are usable as dimension, aggregator
    input, and filter target."""
    spec = {
        "queryType": "groupBy",
        "virtualColumns": [
            {"type": "expression", "name": "etype_up",
             "expression": "upper(event_type)"},
            {"type": "expression", "name": "value2",
             "expression": "value * 2"},
        ],
        "dimensions": ["etype_up"],
        "filter": {"type": "bound", "dimension": "value2", "lower": "4",
                   "ordering": "numeric"},
        "aggregations": [
            {"type": "doubleSum", "name": "v2", "fieldName": "value2"},
        ],
    }
    got = {r["etype_up"]: r["v2"] for r in run(events, spec).collect()}
    # rows with value*2 >= 4: click 2.0/4.0, view 3.0/5.0, purchase 10,
    # null-type 6.0
    assert got == {"CLICK": 12.0, "VIEW": 16.0, "PURCHASE": 20.0,
                   None: 12.0}
    # Druid-style double-quoted identifiers in the expression (the
    # form Druid's docs and console emit) parse as COLUMNS, not string
    # literals; single-quoted string literals stay literals
    druid_quoted = {
        "queryType": "timeseries",
        "granularity": "all",
        "virtualColumns": [
            {"type": "expression", "name": "tagged",
             "expression": "concat(\"event_type\", '-x')"},
        ],
        "filter": {"type": "selector", "dimension": "tagged",
                   "value": "click-x"},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    assert run(events, druid_quoted).collect()[0]["n"] == 3
    with pytest.raises(ValueError, match="virtualColumn"):
        run(events, {"queryType": "timeBoundary",
                     "virtualColumns": [{"type": "nested-field",
                                         "name": "x"}]})


def test_json_string_spec_and_unsupported_errors(events):
    import json as _json

    spec = _json.dumps({"queryType": "timeBoundary", "bound": "minTime"})
    assert str(run(events, spec).collect()[0]["minTime"]).startswith("2024-01-01")
    with pytest.raises(ValueError, match="queryType"):
        run(events, {"queryType": "movingAverage"})
    with pytest.raises(ValueError, match="filter type"):
        run(events, {"queryType": "timeBoundary",
                     "filter": {"type": "javascript"}})
    with pytest.raises(ValueError, match="aggregator type"):
        run(events, {"queryType": "timeseries",
                     "aggregations": [{"type": "javascript", "name": "x"}]})


def test_datasource_forms(events):
    """dataSource resolution: inline, join with prefixed right columns,
    query-as-subquery, union, and named tables."""
    # join: events x inline category lookup; outer query addresses the
    # right columns through the prefix, Druid's contract
    spec = {
        "queryType": "groupBy",
        "dataSource": {
            "type": "join",
            "left": "events",
            "right": {
                "type": "inline",
                "columnNames": ["etype", "category"],
                "rows": [["click", "engage"], ["view", "engage"],
                         ["purchase", "convert"]],
            },
            "rightPrefix": "l.",
            "condition": '"event_type" == "l.etype"',
        },
        "dimensions": ["l.category"],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
    }
    got = {
        r["l.category"]: (r["n"], r["total"])
        for r in run(events, spec, tables={"events": events}).collect()
    }
    assert got == {"engage": (5, 15.0), "convert": (1, 10.0)}

    # query datasource: aggregate over an inner groupBy's output
    spec = {
        "queryType": "timeseries",
        "dataSource": {"type": "query", "query": {
            "queryType": "groupBy",
            "dimensions": ["user_id"],
            "aggregations": [
                {"type": "doubleSum", "name": "user_total",
                 "fieldName": "value"},
            ],
        }},
        "granularity": "all",
        "aggregations": [
            {"type": "doubleMax", "name": "max_user_total",
             "fieldName": "user_total"},
        ],
    }
    assert run(events, spec).collect()[0]["max_user_total"] == 11.0

    # union datasource
    spec = {
        "queryType": "timeseries",
        "dataSource": {"type": "union", "dataSources": ["a", "b"]},
        "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
    }
    half = events.limit(3)
    assert run(
        None, spec, tables={"a": half, "b": events}
    ).collect()[0]["n"] == 10

    with pytest.raises(ValueError, match="dataSource type"):
        run(events, {"queryType": "timeBoundary",
                     "dataSource": {"type": "globalTable"}})
    # a lookup datasource without a registered lookup is loud
    with pytest.raises(ValueError, match="unknown lookup"):
        run(events, {"queryType": "timeBoundary",
                     "dataSource": {"type": "lookup", "lookup": "nope"}})
    with pytest.raises(ValueError, match="joinType"):
        run(events, {"queryType": "timeBoundary",
                     "dataSource": {"type": "join", "left": "events",
                                    "right": "events",
                                    "condition": '"x" == "j0.x"',
                                    "joinType": "FULL"}},
            tables={"events": events})


def test_filter_tree_fuzz_vs_kleene_evaluator(events):
    """Differential fuzz: 60 seeded random filter trees (depth <= 3,
    every leaf kind) evaluated in ONE Spark action against an
    independent Python three-valued-logic evaluator — rows are kept iff
    the tree evaluates to definite TRUE, exactly SQL/Druid
    SQL-compatible semantics."""
    import random

    rng = random.Random(20240815)
    STR_COLS = ["event_type", "props"]
    NUM_COLS = ["value", "user_id"]
    STR_VALS = ["click", "view", "purchase", "a=1", "x", None]
    REGEXES = ["^c", "i", "e.w", "=[0-9]$"]

    def gen(depth):
        if depth > 0 and rng.random() < 0.4:
            kind = rng.choice(["and", "or", "not"])
            if kind == "not":
                return {"type": "not", "field": gen(depth - 1)}
            return {
                "type": kind,
                "fields": [gen(depth - 1) for _ in range(rng.randint(2, 3))],
            }
        leaf = rng.choice(
            ["selector", "in", "bound_num", "bound_lex", "like", "regex",
             "search", "null", "true"]
        )
        if leaf == "selector":
            return {"type": "selector", "dimension": rng.choice(STR_COLS),
                    "value": rng.choice(STR_VALS)}
        if leaf == "in":
            return {"type": "in", "dimension": rng.choice(STR_COLS),
                    "values": rng.sample(STR_VALS, rng.randint(1, 3))}
        if leaf == "bound_num":
            lo, hi = sorted([rng.uniform(0, 8), rng.uniform(0, 8)])
            return {"type": "bound", "dimension": rng.choice(NUM_COLS),
                    "lower": str(round(lo, 1)), "upper": str(round(hi, 1)),
                    "lowerStrict": rng.random() < 0.5,
                    "upperStrict": rng.random() < 0.5,
                    "ordering": "numeric"}
        if leaf == "bound_lex":
            lo, hi = sorted([rng.choice("abcpvx"), rng.choice("abcpvx")])
            return {"type": "bound", "dimension": rng.choice(STR_COLS),
                    "lower": lo, "upper": hi, "ordering": "lexicographic"}
        if leaf == "like":
            return {"type": "like", "dimension": rng.choice(STR_COLS),
                    "pattern": rng.choice(["c%", "%w", "%=%", "_=_", "a%1"])}
        if leaf == "regex":
            return {"type": "regex", "dimension": rng.choice(STR_COLS),
                    "pattern": rng.choice(REGEXES)}
        if leaf == "search":
            return {"type": "search", "dimension": rng.choice(STR_COLS),
                    "query": {"type": "insensitive_contains",
                              "value": rng.choice(["C", "1", "w", "="])}}
        if leaf == "null":
            return {"type": "null", "column": rng.choice(STR_COLS)}
        return {"type": "true"}

    def ev(f, row):
        """Kleene three-valued evaluation -> True / False / None."""
        import re

        k = f["type"]
        if k == "true":
            return True
        if k == "null":
            return row[f["column"]] is None
        if k == "selector":
            x = row[f["dimension"]]
            if f["value"] is None:
                return x is None
            return None if x is None else x == f["value"]
        if k == "in":
            x = row[f["dimension"]]
            non_null = [v for v in f["values"] if v is not None]
            if not non_null:
                base = False  # compiles to lit(False), null-proof
            else:
                base = None if x is None else x in non_null
            if any(v is None for v in f["values"]):
                # base OR isNull(x)
                is_null = x is None
                if is_null:
                    return True
                return base
            return base
        if k == "bound":
            x = row[f["dimension"]]
            if x is None:
                return None
            if f.get("ordering") == "numeric":
                x = float(x)
                lo = float(f["lower"]) if f.get("lower") is not None else None
                hi = float(f["upper"]) if f.get("upper") is not None else None
            else:
                x = str(x)
                lo, hi = f.get("lower"), f.get("upper")
            ok = True
            if lo is not None:
                ok = ok and (x > lo if f.get("lowerStrict") else x >= lo)
            if hi is not None:
                ok = ok and (x < hi if f.get("upperStrict") else x <= hi)
            return ok
        if k == "like":
            x = row[f["dimension"]]
            if x is None:
                return None
            pat = "^" + "".join(
                ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
                for ch in f["pattern"]
            ) + "$"
            return re.match(pat, x) is not None
        if k == "regex":
            x = row[f["dimension"]]
            return None if x is None else re.search(f["pattern"], x) is not None
        if k == "search":
            x = row[f["dimension"]]
            if x is None:
                return None
            return f["query"]["value"].lower() in x.lower()
        if k == "and":
            vals = [ev(x, row) for x in f["fields"]]
            if any(v is False for v in vals):
                return False
            if any(v is None for v in vals):
                return None
            return True
        if k == "or":
            vals = [ev(x, row) for x in f["fields"]]
            if any(v is True for v in vals):
                return True
            if any(v is None for v in vals):
                return None
            return False
        if k == "not":
            v = ev(f["field"], row)
            return None if v is None else (not v)
        raise AssertionError(k)

    from druid_datafusion_bridge_spark.native_query import _filter_pred

    trees = [gen(3) for _ in range(60)]
    cols = ["event_type", "props", "value", "user_id"]
    sel = events.select(
        *cols,
        *[
            F.coalesce(_filter_pred(t, "__time").cast("boolean"), F.lit(False))
            .alias(f"f{i}")
            for i, t in enumerate(trees)
        ],
    )
    for r in sel.collect():
        row = {c: r[c] for c in cols}
        for i, t in enumerate(trees):
            expected = ev(t, row) is True
            assert r[f"f{i}"] == expected, (t, row, r[f"f{i}"], expected)


def test_native_query_over_druid_segment_root(spark, tmp_path):
    """End to end: ingest rows into REAL Druid segments, read them back
    through the druidsegment DataSource, and answer a native topN spec
    — the complete Druid-API-on-Spark path."""
    import pyarrow as pa

    from druid_datafusion_bridge_spark.sources import register_druid_datasource
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    write_segment(
        pa.table({
            "__time": pa.array(
                [1704067200000 + i * 3_600_000 for i in range(6)],
                pa.timestamp("ms"),
            ),
            "channel": pa.array(["en", "en", "de", "de", "de", "fr"]),
            "delta": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        }),
        str(tmp_path / "seg_000"),
    )
    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option(
        "path", str(tmp_path)
    ).load()
    spec = {
        "queryType": "topN",
        "granularity": "all",
        "dimension": "channel",
        "metric": "total",
        "threshold": 2,
        "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "delta"}
        ],
    }
    rows = native_query(df, spec).collect()
    assert [(r["channel"], r["total"]) for r in rows] == [("de", 12), ("fr", 6)]

    # the same spec through the CLI entry point (`cli native -s ...`)
    import json as _json

    from druid_datafusion_bridge_spark.cli import main as cli_main

    cli_main(["native", str(tmp_path), "-s", _json.dumps(spec)])
    cli_main(["native", str(tmp_path), "-s", _json.dumps(spec), "--explain"])
    with pytest.raises(SystemExit, match="invalid JSON"):
        cli_main(["native", str(tmp_path), "-s", "{not json"])
    with pytest.raises(SystemExit, match="queryType"):
        cli_main(["native", str(tmp_path), "-s", '{"queryType": "nope"}'])


def test_numeric_bound_on_unparsable_strings_ansi(events):
    """Druid treats a string that fails numeric parsing as null (row
    doesn't match a numeric bound). Under Spark's ANSI mode a plain
    cast would throw CAST_INVALID_INPUT on 'a=1' and kill the query —
    the filter must use try_cast. Same for numeric limitSpec ordering."""
    spark = events.sparkSession
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        # props holds 'a=1', 'b=2', ..., 'x', None — none parse as
        # numbers, so a numeric bound matches nothing (and must not
        # throw).
        spec = {"queryType": "timeseries", "granularity": "all",
                "filter": {"type": "bound", "dimension": "props",
                           "lower": "0", "ordering": "numeric"},
                "aggregations": [{"type": "count", "name": "n"}]}
        assert run(events, spec).collect()[0]["n"] == 0
        # range filter (typed form) takes the same path
        spec["filter"] = {"type": "range", "column": "props",
                          "matchValueType": "DOUBLE", "lower": 0}
        assert run(events, spec).collect()[0]["n"] == 0
        # numeric limitSpec ordering over an unparsable string dim:
        # all keys cast to null -> stable, no throw
        spec2 = {"queryType": "groupBy", "granularity": "all",
                 "dimensions": ["props"],
                 "aggregations": [{"type": "count", "name": "n"}],
                 "limitSpec": {"type": "default", "limit": 3,
                               "columns": [{"dimension": "props",
                                            "dimensionOrder": "numeric"}]}}
        assert len(run(events, spec2).collect()) == 3
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_period_granularity_timezone_and_origin(events):
    """Period granularity timeZone buckets on LOCAL chronology; an
    origin is an INSTANT (UTC unless offset given) whose grid anchors
    at its local time in that zone — not the UTC digits re-read as
    local wall-clock time (review regression)."""
    # LA days: 2024-01-01 00:10..01:40 local is 2023-12-31 16:10..17:40
    rows = run(events, {
        "queryType": "timeseries",
        "granularity": {"type": "period", "period": "P1D",
                        "timeZone": "America/Los_Angeles"},
        "aggregations": [{"type": "count", "name": "n"}],
        "context": {"skipEmptyBuckets": True},
    }).collect()
    got = {str(r["timestamp"]): r["n"] for r in rows}
    # all 7 rows are 00:05..03:00 UTC -> local previous day 16:05-19:00
    assert got == {"2023-12-31 08:00:00": 4, "2024-01-01 08:00:00": 3}

    # origin 1970-01-01T04:20:00Z = 1969-12-31 20:20 LA local; PT6H
    # local grid ...20:20, 02:20, 08:20, 14:20. 00:10Z = 16:10 local
    # (floor 14:20 local = 22:20Z prev day); 01:40Z = 17:40 local.
    rows = run(events, {
        "queryType": "timeseries",
        "granularity": {"type": "period", "period": "PT6H",
                        "origin": "1970-01-01T04:20:00Z",
                        "timeZone": "America/Los_Angeles"},
        "intervals": ["2024-01-01T00:00:00/2024-01-01T02:00:00"],
        "aggregations": [{"type": "count", "name": "n"}],
        "context": {"skipEmptyBuckets": True},
    }).collect()
    got = {str(r["timestamp"]): r["n"] for r in rows}
    assert got == {"2023-12-31 22:20:00": 4}


def test_unnest_datasource(events):
    """Druid's unnest datasource form: explode an array-valued
    expression, one row per element, optional unnestFilter; rows with
    NULL/empty arrays drop (Druid's contract == Spark explode)."""
    spec = {
        "queryType": "groupBy",
        "dataSource": {
            "type": "unnest",
            "base": "events",
            "virtualColumn": {
                "type": "expression", "name": "tok",
                "expression": 'split("props", \'=\')',
            },
            "unnestFilter": {"type": "in", "dimension": "tok",
                             "values": ["a", "b", "c"]},
        },
        "granularity": "all",
        "dimensions": ["tok"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {
        r["tok"]: r["n"]
        for r in run(None, spec, tables={"events": events}).collect()
    }
    # props: a=1, b=2, (null -> dropped), a=9, c=3, a=2, x
    assert got == {"a": 3, "b": 1, "c": 1}

    # no unnestFilter: every token surfaces; the NULL-props row drops
    bare = dict(spec)
    bare["dataSource"] = {
        k: v for k, v in spec["dataSource"].items() if k != "unnestFilter"
    }
    n_tokens = sum(
        r["n"] for r in run(None, bare, tables={"events": events}).collect()
    )
    assert n_tokens == 11  # 6 non-null props: 2+2+2+2+2 + 1 ('x') tokens

    # output-name collision and non-expression virtualColumn are loud
    with pytest.raises(ValueError, match="already exists"):
        run(None, {
            "queryType": "timeBoundary",
            "dataSource": {
                "type": "unnest", "base": "events",
                "virtualColumn": {"type": "expression", "name": "props",
                                  "expression": '"props"'},
            },
        }, tables={"events": events})
    with pytest.raises(ValueError, match="virtualColumn type"):
        run(None, {
            "queryType": "timeBoundary",
            "dataSource": {
                "type": "unnest", "base": "events",
                "virtualColumn": {"type": "mv-filtered", "name": "t"},
            },
        }, tables={"events": events})


def test_unnest_datasource_over_mvd_segment_root(spark, tmp_path):
    """unnest over a REAL segment root's multi-value dimension: the
    array column decoded by the druidsegment DataSource feeds the
    native unnest form directly (the Druid-26 array path end-to-end)."""
    import pyarrow as pa

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    write_segment(
        pa.table({
            "__time": pa.array(
                [1704067200000 + i * 3_600_000 for i in range(4)],
                pa.timestamp("ms"),
            ),
            "doc": pa.array(["d0", "d1", "d2", "d3"]),
            "tags": pa.array(
                [["x", "y"], ["y"], [], ["y", "z"]],
                pa.list_(pa.string()),
            ),
        }),
        str(tmp_path / "seg_000"),
    )
    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option(
        "path", str(tmp_path)
    ).load()
    spec = {
        "queryType": "groupBy",
        "dataSource": {
            "type": "unnest",
            "base": "docs",
            "virtualColumn": {"type": "expression", "name": "tag",
                              "expression": '"tags"'},
        },
        "granularity": "all",
        "dimensions": ["tag"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {
        r["tag"]: r["n"]
        for r in native_query(None, spec, tables={"docs": df}).collect()
    }
    assert got == {"x": 1, "y": 3, "z": 1}  # d2's empty array dropped


def test_lookup_datasource_join(events):
    """Druid's lookup datasource form: the named lookup surfaces as a
    (k, v) relation joinable through rightPrefix; a prepared (k, v)
    DataFrame is accepted as-is, any other shape is loud."""
    lut = {"click": "engage", "view": "engage", "purchase": "convert"}
    spec = {
        "queryType": "groupBy",
        "dataSource": {
            "type": "join",
            "left": "events",
            "right": {"type": "lookup", "lookup": "cat"},
            "rightPrefix": "l.",
            "condition": '"event_type" == "l.k"',
        },
        "granularity": "all",
        "dimensions": ["l.v"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {
        r["l.v"]: r["n"]
        for r in run(None, spec, tables={"events": events},
                     lookups={"cat": lut}).collect()
    }
    assert got == {"engage": 5, "convert": 1}

    # standalone lookup datasource scan
    scan = {
        "queryType": "scan", "dataSource": {"type": "lookup", "lookup": "cat"},
        "columns": ["k", "v"],
    }
    rows = run(None, scan, tables={"events": events},
               lookups={"cat": lut}).collect()
    assert {(r["k"], r["v"]) for r in rows} == set(lut.items())

    # a prepared DataFrame lookup must expose exactly (k, v)
    kv = events.sparkSession.createDataFrame(
        [("click", "engage")], ["k", "v"]
    )
    rows = run(None, scan, tables={"events": events},
               lookups={"cat": kv}).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("click", "engage")]
    bad = events.sparkSession.createDataFrame(
        [("click", "engage", 1)], ["k", "v", "extra"]
    )
    with pytest.raises(ValueError, match=r"\(k, v\)"):
        run(None, scan, tables={"events": events}, lookups={"cat": bad})


def test_timeseries_grand_total(events):
    """context.grandTotal: one extra LAST row (timestamp null) carrying
    the aggregations over the whole queried span, postAggs included —
    Druid's timeseries.md grand-totals contract."""
    spec = {
        "queryType": "timeseries",
        "granularity": "day",
        "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "postAggregations": [
            {"type": "arithmetic", "name": "avg", "fn": "/",
             "fields": [{"type": "fieldAccess", "fieldName": "total"},
                        {"type": "fieldAccess", "fieldName": "n"}]},
        ],
        "context": {"grandTotal": True},
    }
    rows = run(events, spec).collect()
    assert rows[-1]["timestamp"] is None  # grand total is LAST
    assert rows[-1]["n"] == 7 and rows[-1]["total"] == 31.0
    assert rows[-1]["avg"] == 31.0 / 7
    day_rows = rows[:-1]
    assert [r["timestamp"] is not None for r in day_rows] == [True, True]
    assert sum(r["n"] for r in day_rows) == 7
    # descending keeps the grand total last, buckets reversed
    rows_d = run(events, {**spec, "descending": True}).collect()
    assert rows_d[-1]["timestamp"] is None
    assert [r["timestamp"] for r in rows_d[:-1]] == sorted(
        (r["timestamp"] for r in day_rows), reverse=True
    )


def test_registered_lookup_extraction_fn(events):
    """registeredLookup extractionFn resolves against the managed
    lookups mapping (the pre-pass inlines it); unknown names and
    DataFrame-backed lookups are loud."""
    lut = {"click": "engage", "view": "engage", "purchase": "convert"}
    spec = {
        "queryType": "groupBy",
        "dimensions": [{
            "type": "extraction", "dimension": "event_type",
            "outputName": "cat",
            "extractionFn": {"type": "registeredLookup", "lookup": "cat",
                             "replaceMissingValueWith": "other"},
        }],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    got = {r["cat"]: r["n"]
           for r in run(events, spec, lookups={"cat": lut}).collect()}
    # 5 click/view -> engage, 1 purchase -> convert, 1 NULL etype -> other
    assert got == {"engage": 5, "convert": 1, "other": 1}

    with pytest.raises(ValueError, match="unknown registered lookup"):
        run(events, spec, lookups={"nope": {}})
    kv = events.sparkSession.createDataFrame([("a", "b")], ["k", "v"])
    with pytest.raises(ValueError, match="map lookup"):
        run(events, spec, lookups={"cat": kv})
    # without a lookups mapping the extractionFn type itself is loud
    with pytest.raises(ValueError, match="extractionFn"):
        run(events, spec)


def test_expression_column_comparison_array_filters(events):
    """Filter kinds added in r10: expression (boolean Druid expression
    with quoted identifiers), columnComparison (null-safe equality of
    two dimensions), arrayContainsElement (Druid 28 arrays)."""
    # expression filter
    spec = {
        "queryType": "timeseries", "granularity": "all",
        "filter": {"type": "expression",
                   "expression": '"value" > 3 && "user_id" == 2'},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    # Druid's && is not Spark SQL — use AND (both dialects accept AND)
    spec["filter"]["expression"] = '"value" > 3 AND "user_id" = 2'
    assert run(events, spec).collect()[0]["n"] == 2

    # columnComparison: rows where upper(event_type) == etype2
    cc = events.withColumn(
        "etype2", F.upper(F.col("event_type"))
    )
    spec = {
        "queryType": "timeseries", "granularity": "all",
        "filter": {"type": "columnComparison", "dimensions": [
            {"type": "extraction", "dimension": "event_type",
             "extractionFn": {"type": "upper"}},
            "etype2",
        ]},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    # null-safe: the NULL event_type row matches (NULL == NULL)
    assert run(cc, spec).collect()[0]["n"] == 7

    # arrayContainsElement over an array virtualColumn
    spec = {
        "queryType": "timeseries", "granularity": "all",
        "virtualColumns": [
            {"type": "expression", "name": "toks",
             "expression": "split(\"props\", '=')"},
        ],
        "filter": {"type": "arrayContainsElement", "column": "toks",
                   "elementMatchValueType": "STRING",
                   "elementMatchValue": "a"},
        "aggregations": [{"type": "count", "name": "n"}],
    }
    assert run(events, spec).collect()[0]["n"] == 3  # a=1, a=9, a=2


def test_post_agg_expression_greatest_any(events):
    """r10 post-aggregators (expression, double/longGreatest/Least,
    hyperUniqueCardinality) and the ANY aggregator family."""
    spec = {
        "queryType": "timeseries", "granularity": "all",
        "aggregations": [
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
            {"type": "count", "name": "n"},
            {"type": "hyperUnique", "name": "users",
             "fieldName": "user_id"},
            {"type": "stringAny", "name": "some_type",
             "fieldName": "event_type"},
            {"type": "longAny", "name": "some_user",
             "fieldName": "user_id"},
        ],
        "postAggregations": [
            {"type": "expression", "name": "per_row",
             "expression": '"total" / "n"'},
            {"type": "doubleGreatest", "name": "hi", "fields": [
                {"type": "fieldAccess", "fieldName": "total"},
                {"type": "constant", "value": 100.0}]},
            {"type": "longLeast", "name": "lo", "fields": [
                {"type": "fieldAccess", "fieldName": "n"},
                {"type": "constant", "value": 3}]},
            {"type": "hyperUniqueCardinality", "name": "users_d",
             "fieldName": "users"},
        ],
    }
    r = run(events, spec).collect()[0]
    assert r["per_row"] == 31.0 / 7
    assert r["hi"] == 100.0 and r["lo"] == 3
    assert r["users_d"] == 4.0
    assert r["some_type"] in {"click", "view", "purchase"}
    assert r["some_user"] in {1, 2, 3, 4}
    with pytest.raises(ValueError, match="postAggregation"):
        run(events, {
            "queryType": "timeseries", "granularity": "all",
            "aggregations": [{"type": "count", "name": "n"}],
            "postAggregations": [{"type": "javascript", "name": "x"}],
        })


def test_sketch_aggregators_and_consumers(events):
    """quantilesDoublesSketch + all four consumer post-aggs,
    HLLSketchBuild + rounded estimate, and fixedBucketsHistogram in
    both outlier modes — hand-computed on values [1,2,3,4,5,6,10]."""
    spec = {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": [],
        "aggregations": [
            {"type": "quantilesDoublesSketch", "name": "vs",
             "fieldName": "value", "k": 128},
            {"type": "HLLSketchBuild", "name": "hll",
             "fieldName": "user_id"},
            {"type": "fixedBucketsHistogram", "name": "clip_hist",
             "fieldName": "value", "lowerLimit": 0, "upperLimit": 8,
             "numBuckets": 4, "outlierHandlingMode": "clip"},
            {"type": "fixedBucketsHistogram", "name": "ign_hist",
             "fieldName": "value", "lowerLimit": 0, "upperLimit": 8,
             "numBuckets": 4, "outlierHandlingMode": "ignore"},
            {"type": "fixedBucketsHistogram", "name": "ovf_hist",
             "fieldName": "value", "lowerLimit": 2, "upperLimit": 6,
             "numBuckets": 2, "outlierHandlingMode": "overflow"},
        ],
        "postAggregations": [
            {"type": "quantilesDoublesSketchToQuantile", "name": "p50",
             "field": {"type": "fieldAccess", "fieldName": "vs"},
             "fraction": 0.5},
            {"type": "quantilesDoublesSketchToQuantiles", "name": "minmax",
             "field": {"type": "fieldAccess", "fieldName": "vs"},
             "fractions": [0.0, 1.0]},
            {"type": "quantilesDoublesSketchToHistogram", "name": "h",
             "field": {"type": "fieldAccess", "fieldName": "vs"},
             "splitPoints": [3, 6]},
            {"type": "quantilesDoublesSketchToRank", "name": "rank5",
             "field": {"type": "fieldAccess", "fieldName": "vs"},
             "value": 5},
            {"type": "quantilesDoublesSketchToCDF", "name": "cdf",
             "field": {"type": "fieldAccess", "fieldName": "vs"},
             "splitPoints": [3, 6]},
            {"type": "quantilesDoublesSketchToString", "name": "summ",
             "field": {"type": "fieldAccess", "fieldName": "vs"}},
            {"type": "HLLSketchEstimate", "name": "est",
             "field": {"type": "fieldAccess", "fieldName": "hll"},
             "round": True},
            {"type": "HLLSketchToString", "name": "hll_str",
             "field": {"type": "fieldAccess", "fieldName": "hll"}},
        ],
    }
    row = run(events, spec, time_col="__time").collect()[0]
    assert row["vs"] == 7
    assert row["hll"] == 4 and row["est"] == 4
    assert row["hll_str"] == "### ExactHLLSketch SUMMARY: n=4"
    assert row["p50"] == 4.0
    assert row["minmax"] == [1.0, 10.0]
    assert row["h"] == [2.0, 3.0, 2.0]
    assert abs(row["rank5"] - 4 / 7) < 1e-15
    # CDF at [3, 6]: strictly-below ranks then the closing 1.0
    assert row["cdf"] == pytest.approx([2 / 7, 5 / 7, 1.0], rel=1e-15)
    assert row["summ"] == (
        "### ExactQuantilesSketch SUMMARY: "
        "n=7, min=1.000000, max=10.000000"
    )
    assert row["clip_hist"] == [1, 2, 2, 2]  # 10 clips into the last
    assert row["ign_hist"] == [1, 2, 2, 1]   # 10 is dropped
    # overflow over [2, 6) in 2 width-2 buckets: 1 below (value 1),
    # 2 above (6, 10), none missing; [2,4) holds 2,3 and [4,6) holds 4,5
    ovf = row["ovf_hist"]
    assert (ovf["lower"], ovf["upper"], ovf["missing"]) == (1, 2, 0)
    assert ovf["buckets"] == [2, 2]


def test_sketch_aggregator_error_paths(events):
    base = {"queryType": "groupBy", "granularity": "all",
            "dimensions": []}
    # consumer nested inside arithmetic is loud
    with pytest.raises(ValueError, match="TOP-LEVEL"):
        run(events, {**base,
            "aggregations": [{"type": "quantilesDoublesSketch",
                              "name": "vs", "fieldName": "value"}],
            "postAggregations": [{
                "type": "arithmetic", "name": "x", "fn": "+",
                "fields": [
                    {"type": "quantilesDoublesSketchToQuantile",
                     "field": {"type": "fieldAccess", "fieldName": "vs"},
                     "fraction": 0.5},
                    {"type": "constant", "value": 1},
                ]}]}, time_col="__time")
    # consumer referencing a non-sketch aggregator is loud
    with pytest.raises(ValueError, match="not a"):
        run(events, {**base,
            "aggregations": [{"type": "count", "name": "n"}],
            "postAggregations": [{
                "type": "quantilesDoublesSketchToQuantile", "name": "q",
                "field": {"type": "fieldAccess", "fieldName": "n"},
                "fraction": 0.5}]}, time_col="__time")
    # an unknown outlier mode is loud
    with pytest.raises(ValueError, match="outlierHandlingMode"):
        run(events, {**base,
            "aggregations": [{"type": "fixedBucketsHistogram",
                              "name": "h", "fieldName": "value",
                              "lowerLimit": 0, "upperLimit": 8,
                              "numBuckets": 4,
                              "outlierHandlingMode": "bogus"}]},
            time_col="__time")


def test_sketch_consumer_fuzz_vs_numpy(spark):
    """Differential fuzz: 15 seeded random (fraction, splitPoints,
    rank value, bucket spec) draws over a fixed value set with nulls,
    each spec's exact-aggregate compilation checked against an
    independent numpy evaluation (linear-interpolation percentile —
    the same definition Spark's percentile() implements)."""
    import random

    import numpy as np

    rng = random.Random(20260816)
    vals = [round(rng.uniform(0, 100), 3) for _ in range(40)] + [None] * 4
    rng.shuffle(vals)
    df = spark.createDataFrame(
        [(v,) for v in vals], "value double"
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    arr = np.array([v for v in vals if v is not None])
    for _ in range(15):
        frac = round(rng.random(), 3)
        pts = sorted(round(rng.uniform(0, 100), 1) for _ in range(2))
        rv = round(rng.uniform(0, 100), 1)
        lo, hi = sorted(rng.sample(range(0, 101, 10), 2))
        nb = rng.randint(2, 6)
        mode = rng.choice(["clip", "ignore"])
        spec = {
            "queryType": "groupBy", "granularity": "all",
            "dimensions": [],
            "aggregations": [
                {"type": "quantilesDoublesSketch", "name": "vs",
                 "fieldName": "value"},
                {"type": "fixedBucketsHistogram", "name": "bh",
                 "fieldName": "value", "lowerLimit": lo, "upperLimit": hi,
                 "numBuckets": nb, "outlierHandlingMode": mode},
            ],
            "postAggregations": [
                {"type": "quantilesDoublesSketchToQuantile", "name": "q",
                 "field": {"type": "fieldAccess", "fieldName": "vs"},
                 "fraction": frac},
                {"type": "quantilesDoublesSketchToHistogram", "name": "h",
                 "field": {"type": "fieldAccess", "fieldName": "vs"},
                 "splitPoints": pts},
                {"type": "quantilesDoublesSketchToRank", "name": "r",
                 "field": {"type": "fieldAccess", "fieldName": "vs"},
                 "value": rv},
                {"type": "quantilesDoublesSketchToCDF", "name": "cdf",
                 "field": {"type": "fieldAccess", "fieldName": "vs"},
                 "splitPoints": pts},
                {"type": "quantilesDoublesSketchToString", "name": "s",
                 "field": {"type": "fieldAccess", "fieldName": "vs"}},
            ],
        }
        row = native_query(df, spec, time_col="__time").collect()[0]
        assert row["vs"] == len(arr)
        assert row["q"] == pytest.approx(
            float(np.percentile(arr, frac * 100)), rel=1e-12)
        assert row["h"] == [
            float((arr < pts[0]).sum()),
            float(((arr >= pts[0]) & (arr < pts[1])).sum()),
            float((arr >= pts[1]).sum()),
        ]
        assert row["r"] == pytest.approx(float((arr < rv).mean()), rel=1e-12)
        assert row["cdf"] == pytest.approx(
            [float((arr < p).mean()) for p in pts] + [1.0], rel=1e-12)
        assert row["s"] == (
            "### ExactQuantilesSketch SUMMARY: n=%d, min=%.6f, max=%.6f"
            % (len(arr), arr.min(), arr.max())
        )
        width = (hi - lo) / nb
        pos = np.floor((arr - lo) / width).astype(int)
        if mode == "clip":
            pos = np.clip(pos, 0, nb - 1)
            expect = [int((pos == b).sum()) for b in range(nb)]
        else:
            ok = (arr >= lo) & (arr < hi)
            expect = [int((pos[ok] == b).sum()) for b in range(nb)]
        assert row["bh"] == expect, (lo, hi, nb, mode)


def test_extraction_fn_tail(events):
    """cascade / stringFormat / bucket / time extractionFns
    (dimensionspecs.md) on the shared fixture."""
    def one(extraction, dim="event_type"):
        spec = {
            "queryType": "groupBy",
            "dimensions": [{"type": "extraction", "dimension": dim,
                            "outputName": "d", "extractionFn": extraction}],
            "aggregations": [{"type": "count", "name": "n"}],
        }
        return {r["d"]: r["n"] for r in run(events, spec).collect()}

    # cascade folds left-to-right: upper -> first 2 chars -> framed
    assert one({"type": "cascade", "extractionFns": [
        {"type": "upper"},
        {"type": "substring", "index": 0, "length": 2},
        {"type": "stringFormat", "format": "<%s>"},
    ]}) == {"<CL>": 3, "<VI>": 2, "<PU>": 1, "<null>": 1}
    # stringFormat nullHandling modes
    assert one({"type": "stringFormat", "format": "[%s]",
                "nullHandling": "emptyString"})["[]"] == 1
    got = one({"type": "stringFormat", "format": "[%s]",
               "nullHandling": "returnNull"})
    assert got[None] == 1 and got["[click]"] == 3
    # bucket: size 3 offset 1 over value 1,2,3,4,5,6,10 ->
    # starts 1 (1,2,3), 4 (4,5,6), 10 (10)
    assert one({"type": "bucket", "size": 3, "offset": 1},
               dim="value") == {"1.0": 3, "4.0": 3, "10.0": 1}
    # non-numeric input buckets to NULL, ANSI-proof
    assert one({"type": "bucket", "size": 2}, dim="props") == {None: 7}
    # time: parse one rendering, re-render another; unparsable keeps
    # the original string
    assert one({"type": "cascade", "extractionFns": [
        {"type": "timeFormat", "format": "dd/MM/yyyy"},
        {"type": "time", "timeFormat": "dd/MM/yyyy",
         "resultFormat": "yyyy-MM-dd"},
    ]}, dim="__time") == {"2024-01-01": 4, "2024-01-02": 3}
    assert one({"type": "time", "timeFormat": "dd/MM/yyyy",
                "resultFormat": "yyyy"}, dim="props") == {
        "a=1": 1, "b=2": 1, "a=9": 1, "c=3": 1, "a=2": 1, "x": 1,
        None: 1}
    with pytest.raises(ValueError, match="nullHandling"):
        one({"type": "stringFormat", "format": "%s",
             "nullHandling": "bogus"})


def test_grouping_aggregator(events):
    """The `grouping` aggregator (aggregations.md): per-grouping-set
    bitmask, MSB-first over the listed dimensions, 1 = not grouped —
    SQL GROUPING_ID semantics. Without subtotals the mask is constant;
    a listed name that is not a query dimension is a constant 1 bit."""
    spec = {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": ["event_type", "props"],
        "subtotalsSpec": [["event_type", "props"], ["event_type"], []],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "grouping", "name": "g",
             "groupings": ["event_type", "props"]},
        ],
    }
    rows = run(events, spec).collect()
    masks = {}
    for r in rows:
        key = (r["event_type"] is not None, r["props"] is not None)
        masks.setdefault(r["g"], set()).add(key)
    # set 1: both grouped -> 0; set 2: props not grouped -> 1;
    # set 3: neither -> 3
    assert set(masks) == {0, 1, 3}
    # set 1 (both grouped): the fully-populated key must appear; any
    # None in its keys is a GENUINE null dimension value (the fixture
    # has one), never a subtotal artifact — that is what the mask is
    # for
    assert (True, True) in masks[0]
    assert (False, False) in masks[3] and len(masks[3]) == 1
    assert all(not p for _, p in masks[1])
    # no subtotals: constant mask, unknown name = 1 bit
    flat = {
        "queryType": "groupBy", "granularity": "all",
        "dimensions": ["event_type"],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "grouping", "name": "g",
             "groupings": ["event_type", "nope"]},
        ],
    }
    got = {r["g"] for r in run(events, flat).collect()}
    assert got == {1}  # event_type grouped (0), 'nope' not (1)


def test_filtered_wrapper_full_inner_family(events):
    """The filtered aggregator wrapper accepts every inner family:
    first/last (ordering key masked, so min_by/max_by skip excluded
    rows), any, sketch distincts, and the quantiles stream length."""
    spec = {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": [],
        "aggregations": [
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "doubleFirst", "name": "first_v",
                            "fieldName": "value"}},
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "doubleLast", "name": "last_v",
                            "fieldName": "value"}},
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "view"},
             "aggregator": {"type": "HLLSketchBuild", "name": "views",
                            "fieldName": "user_id"}},
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "view"},
             "aggregator": {"type": "quantilesDoublesSketch",
                            "name": "nview", "fieldName": "value"}},
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "purchase"},
             "aggregator": {"type": "stringAny", "name": "any_p",
                            "fieldName": "props"}},
        ],
    }
    row = run(events, spec, time_col="__time").collect()[0]
    assert row["first_v"] == 1.0  # click at 00:10
    assert row["last_v"] == 4.0   # click at Jan 2 00:05
    assert row["views"] == 2      # users 1, 2 viewed
    assert row["nview"] == 2
    assert row["any_p"] == "a=9"


def test_filtered_dimension_specs(spark):
    """listFiltered / regexFiltered / prefixFiltered dimension specs
    prune multi-value dimension VALUES before grouping
    (dimensionspecs.md); whitelist and blacklist forms both work."""
    df = spark.createDataFrame(
        [
            (1, ["news", "sports", "x-a"]),
            (2, ["news", "x-b"]),
            (3, ["sports"]),
        ],
        "id long, tags array<string>",
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))

    def one(dimspec):
        spec = {
            "queryType": "groupBy", "granularity": "all",
            "dimensions": [dimspec],
            "aggregations": [{"type": "count", "name": "n"}],
        }
        return {
            tuple(r["t"]): r["n"] for r in run(df, spec).collect()
        }

    assert one({"type": "listFiltered",
                "delegate": {"dimension": "tags", "outputName": "t"},
                "values": ["news", "sports"]}) == {
        ("news", "sports"): 1, ("news",): 1, ("sports",): 1}
    assert one({"type": "listFiltered",
                "delegate": {"dimension": "tags", "outputName": "t"},
                "values": ["news"], "isWhitelist": False}) == {
        ("sports", "x-a"): 1, ("x-b",): 1, ("sports",): 1}
    assert one({"type": "regexFiltered",
                "delegate": {"dimension": "tags", "outputName": "t"},
                "pattern": "^x-.*"}) == {
        ("x-a",): 1, ("x-b",): 1, (): 1}
    assert one({"type": "prefixFiltered",
                "delegate": {"dimension": "tags", "outputName": "t"},
                "prefix": "x-"}) == {
        ("x-a",): 1, ("x-b",): 1, (): 1}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="extractionFn"):
        one({"type": "listFiltered",
             "delegate": {"dimension": "tags", "outputName": "t",
                          "extractionFn": {"type": "upper"}},
             "values": ["news"]})


def test_search_regex_queryspec(events):
    """RegexSearchQuerySpec: find() semantics over dimension values."""
    spec = {
        "queryType": "search",
        "searchDimensions": ["props"],
        "query": {"type": "regex", "pattern": "[a-c]=[0-9]"},
    }
    got = {r["value"] for r in run(events, spec, time_col="__time").collect()}
    assert got == {"a=1", "b=2", "a=9", "c=3", "a=2"}


def test_spatial_filter(spark):
    """Spatial filter bounds over 'x,y' coordinate dims: rectangular
    (inclusive both ends), radius (euclidean), polygon (ray-cast —
    checked against an independent matplotlib-free Python point-in-
    polygon), and unparsable coordinates never match."""
    pts = [(i, f"{x},{y}") for i, (x, y) in enumerate(
        (x, y) for x in range(0, 10) for y in range(0, 10)
    )] + [(100, "junk"), (101, "3,notanumber")]
    df = spark.createDataFrame(pts, "id long, loc string").withColumn(
        "__time", F.lit("2024-01-01").cast("timestamp")
    )

    def ids(bound):
        spec = {
            "queryType": "scan",
            "columns": ["id"],
            "filter": {"type": "spatial", "dimension": "loc",
                       "bound": bound},
        }
        return {r["id"] for r in run(df, spec).collect()}

    got = ids({"type": "rectangular", "minCoords": [2, 3],
               "maxCoords": [4, 5]})
    assert got == {i for i, (x, y) in enumerate(
        (x, y) for x in range(10) for y in range(10))
        if 2 <= x <= 4 and 3 <= y <= 5}
    got = ids({"type": "radius", "coords": [5, 5], "radius": 2})
    assert got == {i for i, (x, y) in enumerate(
        (x, y) for x in range(10) for y in range(10))
        if (x - 5) ** 2 + (y - 5) ** 2 <= 4}

    poly = {"type": "polygon", "abscissa": [1, 8, 8], "ordinate": [1, 1, 8]}

    def pip(x, y, xs, ys):
        inside = False
        for i in range(len(xs)):
            j = i - 1
            if ys[i] == ys[j]:
                continue
            if ((ys[i] > y) != (ys[j] > y)) and (
                x < (y - ys[i]) * (xs[j] - xs[i]) / (ys[j] - ys[i])
                + xs[i]
            ):
                inside = not inside
        return inside

    got = ids(poly)
    want = {i for i, (x, y) in enumerate(
        (x, y) for x in range(10) for y in range(10))
        if pip(x, y, [1, 8, 8], [1, 1, 8])}
    assert got == want and len(want) > 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="spatial bound"):
        ids({"type": "sphere"})


def test_nested_field_virtual_column(events):
    """nested-field virtualColumns: JSONPath extraction, expectedType
    coercion (unparsable -> NULL via try_cast), loud on a missing path
    or unknown type."""
    spec = {
        "queryType": "scan",
        "columns": ["user_id", "kv"],
        "virtualColumns": [
            {"type": "nested-field", "name": "kv",
             "columnName": "props", "path": "$.k",
             "expectedType": "LONG"},
        ],
    }
    # fixture props are 'a=1'-style (not JSON) -> every kv is NULL,
    # never an error
    rows = run(events, spec, time_col="__time").collect()
    assert len(rows) == 7 and all(r["kv"] is None for r in rows)
    import json as _json

    df = events.sparkSession.createDataFrame(
        [(1, _json.dumps({"k": 7, "s": "x"})), (2, "{bad json"),
         (3, _json.dumps({"s": "only"}))],
        "id long, props string",
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    got = {r["id"]: (r["kv"], r["sv"]) for r in run(df, {
        "queryType": "scan",
        "columns": ["id", "kv", "sv"],
        "virtualColumns": [
            # Druid's own spelling is outputName (console form)
            {"type": "nested-field", "outputName": "kv",
             "columnName": "props", "path": "$.k",
             "expectedType": "LONG"},
            {"type": "nested-field", "name": "sv",
             "columnName": "props", "path": "$.s"},
        ],
    }, time_col="__time").collect()}
    assert got == {1: (7, "x"), 2: (None, None), 3: (None, "only")}
    # lenient numeric read: 7.5 truncates to 7 under LONG (Druid's
    # coercion), booleans coerce 1/0, junk still NULLs
    df2 = events.sparkSession.createDataFrame(
        [(1, '{"k": 7.5}'), (2, '{"k": true}'), (3, '{"k": "x"}')],
        "id long, props string",
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    got = {r["id"]: r["kv"] for r in run(df2, {
        "queryType": "scan", "columns": ["id", "kv"],
        "virtualColumns": [
            {"type": "nested-field", "outputName": "kv",
             "columnName": "props", "path": "$.k",
             "expectedType": "LONG"}],
    }, time_col="__time").collect()}
    assert got == {1: 7, 2: 1, 3: None}
    # STRING reads do NOT rewrite boolean-looking text (ADVICE r11): a
    # JSON boolean true and the JSON string "true" both surface as
    # "true" (get_json_object renders them identically — the numeric
    # path still coerces both to 1, the documented residual ambiguity),
    # and the uppercase string "TRUE" — which a JSON boolean can never
    # be — passes through untouched.
    df3 = events.sparkSession.createDataFrame(
        [(1, '{"k": true}'), (2, '{"k": "true"}'), (3, '{"k": "TRUE"}'),
         (4, '{"k": false}')],
        "id long, props string",
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    got = {r["id"]: (r["ks"], r["kn"]) for r in run(df3, {
        "queryType": "scan", "columns": ["id", "ks", "kn"],
        "virtualColumns": [
            {"type": "nested-field", "outputName": "ks",
             "columnName": "props", "path": "$.k",
             "expectedType": "STRING"},
            {"type": "nested-field", "outputName": "kn",
             "columnName": "props", "path": "$.k",
             "expectedType": "LONG"}],
    }, time_col="__time").collect()}
    assert got == {1: ("true", 1), 2: ("true", 1), 3: ("TRUE", None),
                   4: ("false", 0)}
    # jq syntax / raw processing are loud, never silently NULL
    with pytest.raises(ValueError, match="useJqSyntax"):
        run(df, {"queryType": "scan", "columns": ["id"],
                 "virtualColumns": [{"type": "nested-field",
                                     "outputName": "x",
                                     "columnName": "props",
                                     "path": ".k",
                                     "useJqSyntax": True}]},
            time_col="__time")
    with pytest.raises(ValueError, match="path"):
        run(df, {"queryType": "scan", "columns": ["id"],
                 "virtualColumns": [{"type": "nested-field",
                                     "name": "x",
                                     "columnName": "props"}]},
            time_col="__time")
    with pytest.raises(ValueError, match="expectedType"):
        run(df, {"queryType": "scan", "columns": ["id"],
                 "virtualColumns": [{"type": "nested-field",
                                     "name": "x", "columnName": "props",
                                     "path": "$.k",
                                     "expectedType": "COMPLEX"}]},
            time_col="__time")


def test_window_operator_query(events):
    """windowOperatorQuery (Druid 27+ native window JSON):
    naivePartition/naiveSort state, then processors hand-checked on the
    7-row fixture — rowNumber, rank (plus asPercent), offset, first,
    ROWS framedAgg, whole-partition + cumulative aggregate."""
    spec = {
        "queryType": "windowOperatorQuery",
        "operators": [
            {"type": "naivePartition",
             "partitionColumns": ["event_type"]},
            {"type": "naiveSort", "columns": [
                {"column": "event_type", "direction": "ASC"},
                {"column": "value", "direction": "DESC"},
            ]},
            {"type": "window", "processors": [
                {"type": "rowNumber", "outputColumn": "rn"},
                {"type": "rank", "group": ["value"],
                 "outputColumn": "rk"},
                {"type": "rank", "group": ["value"], "asPercent": True,
                 "outputColumn": "prk"},
                {"type": "offset", "inputColumn": "value",
                 "outputColumn": "prev_v", "offset": -1},
                {"type": "first", "inputColumn": "value",
                 "outputColumn": "top_v"},
                {"type": "composing", "processors": [
                    {"type": "framedAgg",
                     "frame": {"peerType": "ROWS",
                               "lowerUnbounded": True,
                               "upperOffset": 0},
                     "aggregations": [
                         {"type": "doubleSum", "name": "run",
                          "fieldName": "value"}]},
                    {"type": "aggregate",
                     "aggregations": [
                         {"type": "count", "name": "n"}],
                     "cumulativeAggregations": [
                         {"type": "count", "name": "cum_n"}]},
                ]},
            ]},
        ],
    }
    rows = run(events, spec, time_col="__time").collect()
    assert len(rows) == 7
    got = {(r["event_type"], r["value"]): r for r in rows}
    c4, c2, c1 = got[("click", 4.0)], got[("click", 2.0)], \
        got[("click", 1.0)]
    assert (c4["rn"], c2["rn"], c1["rn"]) == (1, 2, 3)
    assert (c4["rk"], c2["rk"], c1["rk"]) == (1, 2, 3)
    assert (c4["prk"], c2["prk"], c1["prk"]) == (0.0, 0.5, 1.0)
    assert c4["prev_v"] is None and c2["prev_v"] == 4.0 \
        and c1["prev_v"] == 2.0
    assert c4["top_v"] == c1["top_v"] == 4.0
    assert (c4["run"], c2["run"], c1["run"]) == (4.0, 6.0, 7.0)
    assert c4["n"] == 3 and (c4["cum_n"], c1["cum_n"]) == (1, 3)
    # single-row partition and the NULL-dimension partition
    p = got[("purchase", 10.0)]
    assert (p["rn"], p["n"], p["run"], p["prev_v"]) == (1, 1, 10.0, None)
    z = got[(None, 6.0)]
    assert (z["rn"], z["n"]) == (1, 1)
    # output row order follows the naiveSort
    assert [r["value"] for r in rows if r["event_type"] == "click"] \
        == [4.0, 2.0, 1.0]


def test_window_operator_query_over_query_datasource(events):
    """The common real-world shape: the SQL planner wraps a groupBy in
    a query dataSource and windows over ITS output."""
    spec = {
        "queryType": "windowOperatorQuery",
        "dataSource": {"type": "query", "query": {
            "queryType": "groupBy",
            "granularity": "all",
            "dimensions": ["event_type"],
            "aggregations": [
                {"type": "doubleSum", "name": "total",
                 "fieldName": "value"}],
        }},
        "operators": [
            {"type": "naivePartition", "partitionColumns": []},
            {"type": "naiveSort", "columns": [
                {"column": "total", "direction": "DESC"}]},
            {"type": "window", "processors": [
                {"type": "rowNumber", "outputColumn": "rn"}]},
        ],
    }
    rows = run(events, spec, time_col="__time").collect()
    # 4 groups (click 7.0, view 8.0, purchase 10.0, NULL 6.0) ranked
    # by total desc
    got = {r["event_type"]: (r["total"], r["rn"]) for r in rows}
    assert got == {"purchase": (10.0, 1), "view": (8.0, 2),
                   "click": (7.0, 3), None: (6.0, 4)}


def test_window_operator_output_signature(events):
    """The planner-emitted outputSignature is honored: the result
    carries exactly the declared columns; an unknown name is loud."""
    base = {
        "queryType": "windowOperatorQuery",
        "operators": [
            {"type": "naivePartition",
             "partitionColumns": ["event_type"]},
            {"type": "naiveSort", "columns": [
                {"column": "event_type", "direction": "ASC"},
                {"column": "value", "direction": "DESC"}]},
            {"type": "window", "processors": [
                {"type": "rowNumber", "outputColumn": "rn"}]},
        ],
    }
    df = run(events, {**base, "outputSignature": [
        {"name": "event_type"}, {"name": "value"}, "rn"]},
        time_col="__time")
    assert df.columns == ["event_type", "value", "rn"]
    assert df.count() == 7
    with pytest.raises(ValueError, match="outputSignature"):
        run(events, {**base, "outputSignature": ["nope"]},
            time_col="__time")


def test_sketch_tostring_extreme_values(spark):
    """quantilesDoublesSketchToString on |value| >= 1e32: the
    decimal(38,6) rendering overflows — try_cast renders 'null'
    instead of crashing the query under ANSI mode (the _numeric_agg
    min/max posture)."""
    df = spark.createDataFrame(
        [(1e33,), (2.0,)], "value double"
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    row = native_query(df, {
        "queryType": "groupBy", "granularity": "all", "dimensions": [],
        "aggregations": [
            {"type": "quantilesDoublesSketch", "name": "vs",
             "fieldName": "value"}],
        "postAggregations": [
            {"type": "quantilesDoublesSketchToString", "name": "s",
             "field": {"type": "fieldAccess", "fieldName": "vs"}}],
    }, time_col="__time").collect()[0]
    assert row["s"] == (
        "### ExactQuantilesSketch SUMMARY: n=2, min=2.000000, max=null"
    )


def test_window_operator_query_error_paths(events):
    base = {"queryType": "windowOperatorQuery"}
    with pytest.raises(ValueError, match="leafOperators"):
        run(events, {**base, "leafOperators": [{"type": "scan"}],
                     "operators": []}, time_col="__time")
    with pytest.raises(ValueError, match="naiveSort"):
        run(events, {**base, "operators": [
            {"type": "naivePartition", "partitionColumns": ["event_type"]},
            {"type": "window", "processors": [
                {"type": "rowNumber", "outputColumn": "rn"}]},
        ]}, time_col="__time")
    with pytest.raises(ValueError, match="processor"):
        run(events, {**base, "operators": [
            {"type": "naivePartition", "partitionColumns": []},
            {"type": "naiveSort", "columns": [
                {"column": "value", "direction": "ASC"}]},
            {"type": "window", "processors": [
                {"type": "percentile", "outputColumn": "x"}]},
        ]}, time_col="__time")
    with pytest.raises(ValueError, match="RANGE"):
        run(events, {**base, "operators": [
            {"type": "naivePartition", "partitionColumns": []},
            {"type": "naiveSort", "columns": [
                {"column": "value", "direction": "ASC"}]},
            {"type": "window", "processors": [
                {"type": "framedAgg",
                 "frame": {"peerType": "RANGE", "lowerOffset": -5,
                           "upperOffset": 5},
                 "aggregations": [{"type": "count", "name": "c"}]}]},
        ]}, time_col="__time")
    with pytest.raises(ValueError, match="operator"):
        run(events, {**base, "operators": [{"type": "scan"}]},
            time_col="__time")


def test_window_operator_fuzz_vs_sql(spark):
    """Differential fuzz for the windowOperatorQuery mapping: 8 seeded
    random (partition, direction, offset) draws over a 200-row table
    with NULLs, the JSON-spec compilation checked against the
    equivalent hand-written SQL-text window query — any drift in frame
    bounds, direction handling, peer-group ordering, or cumulative
    semantics is a row mismatch."""
    import random

    rng = random.Random(20260817)
    rows = [
        (
            i,
            f"g{rng.randint(0, 3)}",
            rng.randint(0, 50),
            round(rng.uniform(0, 100), 3) if rng.random() > 0.1 else None,
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, grp string, k long, v double"
    ).withColumn("__time", F.lit("2024-01-01").cast("timestamp"))
    df.createOrReplaceTempView("fuzz_w")
    for _ in range(8):
        part = rng.choice([["grp"], [], ["grp"]])
        desc = rng.random() < 0.5
        off = rng.choice([-2, -1, 1, 2])
        spec = {
            "queryType": "windowOperatorQuery",
            "operators": [
                {"type": "naivePartition", "partitionColumns": part},
                {"type": "naiveSort", "columns": (
                    [{"column": "grp", "direction": "ASC"}] if part else []
                ) + [
                    {"column": "k",
                     "direction": "DESC" if desc else "ASC"},
                    {"column": "id", "direction": "ASC"},
                ]},
                {"type": "window", "processors": [
                    {"type": "rowNumber", "outputColumn": "rn"},
                    {"type": "rank", "group": ["k"],
                     "outputColumn": "rk"},
                    {"type": "offset", "inputColumn": "v",
                     "offset": off, "outputColumn": "ofs"},
                    {"type": "framedAgg",
                     "frame": {"peerType": "ROWS", "lowerOffset": -2,
                               "upperOffset": 1},
                     "aggregations": [
                         {"type": "longSum", "name": "ksum",
                          "fieldName": "k"}]},
                    {"type": "aggregate",
                     "aggregations": [
                         {"type": "count", "name": "cnt"}],
                     "cumulativeAggregations": [
                         {"type": "count", "name": "ccnt"}]},
                ]},
            ],
        }
        got = run(df, spec, time_col="__time").select(
            "id", "rn", "rk", "ofs", "ksum", "cnt", "ccnt"
        )
        pb = f"PARTITION BY {', '.join(part)}" if part else ""
        dirk = "DESC" if desc else "ASC"
        ob = f"ORDER BY {'grp ASC, ' if part else ''}k {dirk}, id ASC"
        fn = "LEAD" if off >= 0 else "LAG"
        sql = f"""
        SELECT id,
               ROW_NUMBER() OVER ({pb} {ob}) AS rn,
               RANK() OVER ({pb} ORDER BY k {dirk}) AS rk,
               {fn}(v, {abs(off)}) OVER ({pb} {ob}) AS ofs,
               SUM(k) OVER ({pb} {ob}
                 ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS ksum,
               COUNT(*) OVER ({pb} {ob}
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS cnt,
               COUNT(*) OVER ({pb} {ob}
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ccnt
        FROM fuzz_w"""
        expect = spark.sql(sql)
        g = sorted(tuple(r) for r in got.collect())
        x = sorted(tuple(r) for r in expect.collect())
        assert g == x, (part, desc, off)

"""Seeded operations for each workload, their oracle answers, and the
comparison of a broker response against an oracle answer.

An op is a plain dict:

- ``endpoint``: ``/druid/v2`` (native) or ``/druid/v2/sql``;
- ``body``: the JSON body the client posts — the only thing the engine sees;
- ``want``: the oracle's rows (computed with DuckDB over the source parquet);
- ``ordered``: whether row order is part of the answer;
- ``datasource``, ``interval`` (ISO start, end), ``columns`` and
  ``string_filters`` ([(column, values)]): what the traced run needs to
  replay the op layer by layer.

Rows are dicts; timestamps are compared as epoch milliseconds and floats
to a relative tolerance of 1e-9.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from datagen import SHIP_DAYS, SHIP_START

REL_TOL = 1e-9
NO_CACHE = {"useCache": False, "populateCache": False}
FLAGS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}
METRICS = ["l_extendedprice", "l_quantity", "l_discount"]
YEAR_INTERVAL = ("1995-01-01T00:00:00Z", "2001-12-01T00:00:00Z")
ALL_TIME = "1000-01-01T00:00:00Z/3000-01-01T00:00:00Z"


# --------------------------------------------------------------- compare


def ts_millis(v) -> int:
    """Epoch millis of an ISO string or datetime (naive means UTC)."""
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        v = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        v = dt.datetime(v.year, v.month, v.day)
    if v.tzinfo is None:
        v = v.replace(tzinfo=dt.timezone.utc)
    return int(v.timestamp() * 1000)


def _same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
        return a == b
    return a == b


def _norm_row(row: dict) -> dict:
    return {
        k: ts_millis(v) if k in ("timestamp", "__time", "bucket") and v is not None else v
        for k, v in row.items()
    }


def _sort_key(row: dict):
    return tuple(
        (k, "" if isinstance(v, float) else repr(v)) for k, v in sorted(row.items())
    )


def rows_match(got: list[dict], want: list[dict], ordered: bool) -> bool:
    got = [_norm_row(r) for r in got]
    want = [_norm_row(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got = sorted(got, key=_sort_key)
        want = sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if set(g) != set(w) or not all(_same(g[k], w[k]) for k in w):
            return False
    return True


def flatten(body: dict, resp) -> list[dict]:
    """Broker response -> flat rows (native envelopes unwrapped)."""
    qt = body.get("queryType")
    if qt is None:  # SQL, object result format
        return list(resp)
    if qt == "timeseries":
        return [{"timestamp": e["timestamp"], **e["result"]} for e in resp]
    if qt == "topN":
        return [
            {"timestamp": e["timestamp"], **r} for e in resp for r in e["result"]
        ]
    if qt == "groupBy":
        return [{"timestamp": e["timestamp"], **e["event"]} for e in resp]
    raise ValueError(f"no flattening for queryType {qt!r}")


# ------------------------------------------------------------ oracle side


def _duck_rows(con, sql: str) -> list[dict]:
    rel = con.sql(sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def _sql_pred(filters: list[dict]) -> str:
    out = []
    for f in filters:
        if f["type"] == "selector":
            out.append(f"{f['dimension']} = '{f['value']}'")
        elif f["type"] == "in":
            vals = ", ".join(f"'{v}'" for v in f["values"])
            out.append(f"{f['dimension']} IN ({vals})")
        else:  # numeric bound, both ends inclusive
            out.append(
                f"{f['dimension']} BETWEEN {float(f['lower'])} AND {float(f['upper'])}"
            )
    return "".join(f" AND {p}" for p in out)


def _native_filter(filters: list[dict]):
    if not filters:
        return None
    return filters[0] if len(filters) == 1 else {"type": "and", "fields": filters}


def _iso(day: np.datetime64) -> str:
    return f"{np.datetime_as_string(day, unit='D')}T00:00:00Z"


def time_pred(interval: tuple[str, str]) -> str:
    lo, hi = (s.replace("T", " ").replace("Z", "") for s in interval)
    return f"__time >= TIMESTAMP '{lo}' AND __time < TIMESTAMP '{hi}'"


def _days(interval: tuple[str, str]) -> list[int]:
    lo, hi = (ts_millis(s) for s in interval)
    return list(range(lo, hi, 86_400_000))


# ------------------------------------------------------- narrow_dashboard


# the query kinds of narrow_dashboard, one per run (a third of the seeds
# send SQL)
NARROW_KINDS = ("sql", "sql", "topN", "groupBy", "timeseries_day", "timeseries_all")


def narrow_op(rng: np.random.Generator, con, ds: str, kind: str) -> dict:
    """A dashboard query of one of NARROW_KINDS over a seeded 7/14/28-day
    window of ``ds``: 0-2 filters, at most four of the eleven columns
    (``__time`` included)."""
    days = int(rng.choice([7, 14, 28]))
    start = SHIP_START + int(rng.integers(0, SHIP_DAYS - days + 1))
    interval = (_iso(start), _iso(start + days))
    metric = METRICS[int(rng.integers(0, len(METRICS)))]
    dim = list(FLAGS)[int(rng.integers(0, 2))]
    filters: list[dict] = []
    for _ in range(int(rng.integers(0, 3))):
        form = int(rng.integers(0, 3))
        if form == 0:
            col = list(FLAGS)[int(rng.integers(0, 2))]
            filters.append({"type": "selector", "dimension": col,
                            "value": str(rng.choice(FLAGS[col]))})
        elif form == 1:
            filters.append({"type": "in", "dimension": "l_returnflag",
                            "values": sorted(rng.choice(FLAGS["l_returnflag"], 2,
                                                        replace=False).tolist())})
        else:
            lo = int(rng.integers(1, 30))
            filters.append({"type": "bound", "dimension": "l_quantity",
                            "lower": str(lo), "upper": str(lo + int(rng.integers(5, 20))),
                            "ordering": "numeric"})
    # at most 4 columns: __time + metric + dim + one filter column
    kept: list[dict] = []
    for f in filters:
        cols = {"__time", metric, dim} | {k["dimension"] for k in kept + [f]}
        if len(cols) <= 4 and all(k["dimension"] != f["dimension"] for k in kept):
            kept.append(f)
    filters = kept
    where = f"WHERE {time_pred(interval)}{_sql_pred(filters)}"
    base = {"dataSource": ds, "intervals": [f"{interval[0]}/{interval[1]}"],
            "context": dict(NO_CACHE)}
    flt = _native_filter(filters)
    if flt is not None:
        base["filter"] = flt
    aggs = [{"type": "count", "name": "rows"},
            {"type": "doubleSum", "name": "sum_m", "fieldName": metric}]
    src = f"lineitem_seg {where}"
    if kind.startswith("timeseries"):
        gran = kind.split("_")[1]
        body = {"queryType": "timeseries", "granularity": gran,
                "aggregations": aggs, **base}
        if gran == "all":
            want = _duck_rows(con, f"SELECT TIMESTAMP '{interval[0][:10]}' AS timestamp, "
                                   f"COUNT(*) AS rows, SUM({metric}) AS sum_m FROM {src}")
        else:
            got = {
                ts_millis(r["timestamp"]): r
                for r in _duck_rows(con, f"SELECT date_trunc('day', __time) AS timestamp, "
                                         f"COUNT(*) AS rows, SUM({metric}) AS sum_m "
                                         f"FROM {src} GROUP BY 1")
            }
            want = [got.get(d, {"timestamp": d, "rows": 0, "sum_m": 0.0})
                    for d in _days(interval)]
        ordered = False
        endpoint = "/druid/v2"
    elif kind == "topN":
        body = {"queryType": "topN", "granularity": "all", "dimension": dim,
                "metric": "sum_m", "threshold": 2, "aggregations": aggs, **base}
        want = _duck_rows(con, f"SELECT TIMESTAMP '{interval[0][:10]}' AS timestamp, "
                               f"{dim}, COUNT(*) AS rows, SUM({metric}) AS sum_m "
                               f"FROM {src} GROUP BY {dim} ORDER BY sum_m DESC LIMIT 2")
        ordered = True
        endpoint = "/druid/v2"
    elif kind == "groupBy":
        body = {"queryType": "groupBy", "granularity": "all", "dimensions": [dim],
                "aggregations": aggs, **base}
        want = _duck_rows(con, f"SELECT TIMESTAMP '{interval[0][:10]}' AS timestamp, "
                               f"{dim}, COUNT(*) AS rows, SUM({metric}) AS sum_m "
                               f"FROM {src} GROUP BY {dim}")
        ordered = False
        endpoint = "/druid/v2"
    else:
        sql = (f"SELECT {dim}, COUNT(*) AS n, SUM({metric}) AS s, MAX({metric}) AS mx "
               f"FROM {ds} {where} GROUP BY {dim} ORDER BY {dim}")
        body = {"query": sql, "context": dict(NO_CACHE)}
        want = _duck_rows(con, sql.replace(f"FROM {ds}", "FROM lineitem_seg"))
        ordered = True
        endpoint = "/druid/v2/sql"
    cols = sorted({"__time", metric, dim} | {f["dimension"] for f in filters})
    return {
        "kind": kind, "endpoint": endpoint, "body": body, "want": want,
        "ordered": ordered, "datasource": ds, "interval": interval,
        "columns": cols,
        "string_filters": [
            (f["dimension"], [f["value"]] if f["type"] == "selector" else f["values"])
            for f in filters if f["type"] != "bound"
        ],
    }


# -------------------------------------------------------- fullscan_rollup

_Q1 = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
    "SUM(l_extendedprice) AS sum_base_price, "
    "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
    "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
    "AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price, "
    "AVG(l_discount) AS avg_disc, COUNT(*) AS count_order "
    "FROM {src} WHERE {pred} GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)


# the groupBy kind runs at one of these, drawn from the seed
GROUPBY_GRANULARITIES = ("all", "year", "quarter")


def fullscan_op(variant: tuple[str, str | None], con, ds: str = "lineitem_year") -> dict:
    """A whole-interval rollup that reads every row of ``ds``: the
    TPC-H Q1 shape in SQL, a groupBy on the two flags at one
    granularity, or a month timeseries."""
    kind, gran = variant
    interval = YEAR_INTERVAL
    base = {"dataSource": ds, "intervals": [f"{interval[0]}/{interval[1]}"],
            "context": dict(NO_CACHE)}
    if kind == "q1_sql":
        sql = _Q1.format(src=ds, pred=time_pred(interval))
        body = {"query": sql, "context": dict(NO_CACHE)}
        want = _duck_rows(con, _Q1.format(src="lineitem_seg", pred=time_pred(interval)))
        endpoint, ordered = "/druid/v2/sql", True
        cols = ["__time", "l_discount", "l_extendedprice", "l_linestatus",
                "l_quantity", "l_returnflag", "l_tax"]
    elif kind == "groupBy":
        body = {"queryType": "groupBy", "granularity": gran,
                "dimensions": ["l_returnflag", "l_linestatus"],
                "aggregations": [
                    {"type": "count", "name": "rows"},
                    {"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"},
                    {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"},
                    {"type": "doubleMax", "name": "max_disc", "fieldName": "l_discount"},
                ], **base}
        ts = (f"TIMESTAMP '{interval[0][:10]}'" if gran == "all"
              else f"date_trunc('{gran}', __time)")
        want = _duck_rows(con, f"SELECT {ts} AS timestamp, l_returnflag, l_linestatus, "
                               "COUNT(*) AS rows, SUM(l_quantity) AS qty, "
                               "SUM(l_extendedprice) AS price, MAX(l_discount) AS max_disc "
                               f"FROM lineitem_seg WHERE {time_pred(interval)} "
                               "GROUP BY ALL")
        endpoint, ordered = "/druid/v2", False
        cols = ["__time", "l_discount", "l_extendedprice", "l_linestatus",
                "l_quantity", "l_returnflag"]
    else:
        body = {"queryType": "timeseries", "granularity": "month",
                "aggregations": [
                    {"type": "count", "name": "rows"},
                    {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"},
                    {"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"},
                ], **base}
        got = {
            ts_millis(r["timestamp"]): r
            for r in _duck_rows(con, "SELECT date_trunc('month', __time) AS timestamp, "
                                     "COUNT(*) AS rows, SUM(l_extendedprice) AS price, "
                                     "SUM(l_quantity) AS qty FROM lineitem_seg "
                                     f"WHERE {time_pred(interval)} GROUP BY 1")
        }
        months = [
            ts_millis(f"{y}-{m:02d}-01T00:00:00Z")
            for y in range(1995, 2002) for m in range(1, 13)
            if (y, m) < (2001, 12)
        ]
        want = [got.get(m, {"timestamp": m, "rows": 0, "price": 0.0, "qty": 0.0})
                for m in months]
        endpoint, ordered = "/druid/v2", False
        cols = ["__time", "l_extendedprice", "l_quantity"]
    return {
        "kind": f"{kind}/{gran}" if gran else kind, "endpoint": endpoint,
        "body": body, "want": want, "ordered": ordered, "datasource": ds,
        "interval": interval, "columns": cols, "string_filters": [],
    }

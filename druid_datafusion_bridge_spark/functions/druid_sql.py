"""Druid SQL function-compatibility layer.

The reference exposes a plain SQL prompt over a Druid segment
(reference src/main.rs:186-195) in DataFusion's dialect; a Druid user
arriving from Druid SQL expects Druid's function names — TIME_FLOOR,
TIME_SHIFT, SAFE_DIVIDE, the MV_* multi-value family, LOOKUP. This
module provides them twice over:

1. **Column helpers** (``time_floor(col, "PT15M")`` ...) for DataFrame
   pipelines — thin compositions of built-in ``pyspark.sql.functions``,
   so everything stays JVM-side inside whole-stage codegen.
2. **SQL registration** (:func:`register_druid_sql_functions`) — Spark 4
   SQL UDFs (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``), which
   Catalyst inlines into the plan at analysis time: zero call overhead,
   full pushdown/codegen, usable from raw SQL text. A Druid SQL query
   like ``SELECT TIME_FLOOR(__time, 'PT1H'), APPROX_COUNT_DISTINCT(x)``
   runs verbatim (APPROX_COUNT_DISTINCT and APPROX_QUANTILE are already
   Spark built-ins under the same, case-insensitive names).

Period strings are ISO-8601 durations as Druid uses them ('PT15M',
'P1D', 'P3M'). Month-or-coarser periods are calendar arithmetic;
sub-month periods are exact epoch-millisecond arithmetic. Scale: every
function here is a scalar expression — no shuffle, no Python, no state.

Granularities have one rule, kept here next to the period grammar:
:func:`granularity_period` resolves a Druid name or period,
:func:`granularity_spec` / :func:`granularity_bucket` resolve and apply
a whole granularity spec (native queries; None for ALL),
:func:`segment_bucket` is that bucket for stored rows (segment writes,
ingestion rollup; ALL stamped at the epoch), and :func:`floor_ms` is
the same grid in plain Python for segment metadata (the compaction
duty).

A third mechanism, the SQL-TEXT REWRITE (:func:`rewrite_datasketches_
sql`, applied on every broker SQL path), covers what a scalar SQL UDF
cannot express: DataSketches aggregates onto Spark's own DataSketches
builtins; arg-form normalization (REGEXP_EXTRACT full-match default,
STRING_AGG->listagg, JSON_VALUE RETURNING->CAST, TIME_FLOOR/TIME_CEIL
origin+timezone forms, HUMAN_READABLE_* 1-arg precision default);
aggregate names (LATEST/EARLIEST[_BY] -> max_by/min_by,
ARRAY_CONCAT_AGG); type-generic array name swaps (ARRAY_LENGTH/OFFSET/
ORDINAL/SLICE/TO_STRING/OVERLAP/CONCAT, STRING_TO_ARRAY,
STRING_FORMAT); and JSON_OBJECT's KEY/VALUE syntax. Names Spark ships
with identical semantics (DIV, REGEXP_LIKE, PARSE_JSON,
TRY_PARSE_JSON, ARRAY_APPEND/PREPEND/CONTAINS, ARRAY_AGG, ANY_VALUE,
NVL, GREATEST/LEAST) are deliberately not shadowed. The rewrite is
literal/comment-masked, paren-balanced, and idempotent by construction
(fuzz-pinned in tests/test_property_differential.py).
"""

from __future__ import annotations

import datetime as _dt
import re
from collections.abc import Mapping

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

_EPOCH = "1970-01-01 00:00:00"

_PERIOD_RE = re.compile(
    r"^P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<w>\d+)W)?(?:(?P<d>\d+)D)?"
    r"(?:T(?:(?P<h>\d+)H)?(?:(?P<mi>\d+)M)?(?:(?P<s>\d+)S)?)?$"
)


def parse_period(period: str) -> tuple[int, int]:
    """ISO-8601 duration -> (months, milliseconds). Exactly one of the
    two is non-zero (mixed calendar+clock periods are ambiguous for
    flooring, as in Druid)."""
    m = _PERIOD_RE.match(period)
    if not m or period in ("P", "PT"):
        raise ValueError(f"invalid ISO-8601 period: {period!r}")
    g = {k: int(v) if v else 0 for k, v in m.groupdict().items()}
    months = g["y"] * 12 + g["mo"]
    millis = (
        g["w"] * 7 * 86_400_000
        + g["d"] * 86_400_000
        + g["h"] * 3_600_000
        + g["mi"] * 60_000
        + g["s"] * 1_000
    )
    if months and millis:
        raise ValueError(f"mixed calendar/clock period unsupported: {period!r}")
    if not months and not millis:
        raise ValueError(f"zero-length period: {period!r}")
    return months, millis


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _origin_col(origin: Column | str) -> Column:
    """An origin argument as a TIMESTAMP Column (strings are literal
    timestamps, not column references)."""
    if isinstance(origin, str):
        return F.lit(origin).cast("timestamp")
    return origin.cast("timestamp")


#: Default anchor for week-based periods: the Monday preceding the
#: epoch. Druid (ISO chronology) floors P1W to MONDAY boundaries; the
#: raw epoch is a Thursday, which would bucket the same rows into
#: different "weeks" than Druid (and than date_trunc('week')).
_MONDAY_EPOCH = "1969-12-29 00:00:00"


def time_floor(
    col: Column | str,
    period: str,
    origin: str | Column | None = None,
    tz: str | None = None,
) -> Column:
    """Druid TIME_FLOOR: floor a timestamp to an ISO-period grain,
    optionally anchored at ``origin`` (default: the epoch for duration
    periods, the Monday before the epoch for week periods — ISO weeks,
    Druid's chronology).

    ``tz`` floors in that zone's local chronology (Druid's period
    granularity ``timeZone``): the instant converts to wall-clock time
    in ``tz``, floors on the local grid, and converts back — so a P1D
    bucket in America/Los_Angeles starts at local midnight (07:00/08:00
    UTC depending on DST). When both are given, ``origin`` is an
    INSTANT (Druid PeriodGranularity semantics) and shifts into the
    zone's wall clock the same way the data does — an origin of
    06:00Z with tz America/Chicago anchors the local grid at midnight
    local, matching Druid's interpretation of the origin in the query
    zone. Boundaries landing inside a DST fold take Spark's offset
    choice for the repeated hour — the same instant for every row, so
    grouping is always consistent.

    Inputs may be TIMESTAMP or TIMESTAMP_NTZ; epoch arithmetic casts to
    TIMESTAMP (unix_millis rejects NTZ), which is value-preserving under
    the engine's pinned UTC session timezone (session.py). ``origin``
    may be a literal string or a Column (the tz recursion hands the
    shifted origin down as one)."""
    if tz:
        wall = F.from_utc_timestamp(_col(col).cast("timestamp"), tz)
        org_w = None if origin is None else F.from_utc_timestamp(
            _origin_col(origin), tz
        )
        return F.to_utc_timestamp(time_floor(wall, period, org_w), tz)
    c = _col(col).cast("timestamp")
    months, millis = parse_period(period)
    if origin is None:
        # epoch-anchored calendar grains are plain truncations — keep
        # them on the cheap single-function date_trunc path (identical
        # results; the general origin-grid arithmetic below costs a
        # months_between + interval add + branch per row)
        trunc_unit = {1: "month", 3: "quarter", 12: "year"}.get(months)
        if trunc_unit:
            return F.date_trunc(trunc_unit, c)
        origin = _MONDAY_EPOCH if _is_week_period(period) else _EPOCH
    org = _origin_col(origin)
    if months:
        # origin-anchored month grid: boundary k = origin + k*months (one
        # calendar addition, preserving origin's day-of-month and
        # time-of-day — add_months would return a DATE and drop both).
        # months_between can report an integer k when c shares origin's
        # day-of-month but sits EARLIER in the day, so step back one
        # period if the candidate overshoots.
        n = (F.floor(F.months_between(c, org) / months) * months).cast("int")
        cand = org + F.make_interval(F.lit(0), n)
        return F.when(cand <= c, cand).otherwise(
            org + F.make_interval(F.lit(0), n - F.lit(months).cast("int"))
        )
    o = F.unix_millis(org)
    return F.timestamp_millis(
        o + F.floor((F.unix_millis(c) - o) / millis).cast("long") * millis
    )


def _is_week_period(period: str) -> bool:
    """True for pure week periods (P1W, P2W, ...)."""
    m = _PERIOD_RE.match(period)
    if not m:
        return False
    g = {k: int(v) if v else 0 for k, v in m.groupdict().items()}
    return g["w"] > 0 and not any(
        g[k] for k in ("y", "mo", "d", "h", "mi", "s")
    )


# Druid "simple" granularity names -> ISO periods (public Druid docs,
# granularities.md). The one table: segment, query, compaction and
# PARTITIONED BY granularities all resolve through granularity_period.
_SIMPLE_GRANULARITIES = {
    "second": "PT1S",
    "minute": "PT1M",
    "five_minute": "PT5M",
    "ten_minute": "PT10M",
    "fifteen_minute": "PT15M",
    "thirty_minute": "PT30M",
    "hour": "PT1H",
    "six_hour": "PT6H",
    "eight_hour": "PT8H",
    "day": "P1D",
    "week": "P1W",
    "month": "P1M",
    "quarter": "P3M",
    "year": "P1Y",
}


def granularity_period(g: str) -> str | None:
    """A granularity string -> its ISO-8601 period, or None for ALL.

    Accepts a Druid simple name (case-insensitive: ``"day"``,
    ``"ten_minute"``), an ISO period (``"PT2H"``) or ``ALL`` /
    ``ALL TIME``; anything else raises ValueError, so a bad segment
    granularity fails when the task is submitted, not in the writer."""
    name = " ".join(str(g).split()).lower()
    if name in ("all", "all time"):
        return None
    if name in _SIMPLE_GRANULARITIES:
        return _SIMPLE_GRANULARITIES[name]
    try:
        parse_period(str(g))
    except ValueError:
        raise ValueError(
            f"unsupported granularity {g!r}: use a Druid name "
            f"({', '.join(_SIMPLE_GRANULARITIES)}, all), an ISO-8601 "
            "period, or ALL TIME"
        ) from None
    return str(g)


def segment_max_rows(tuning: Mapping) -> int:
    """A ``tuningConfig`` -> the row cap per segment: Druid's
    ``partitionsSpec.maxRowsPerSegment`` (dynamic partitioning), the
    legacy top-level ``maxRowsPerSegment``, else Druid's 5,000,000."""
    return int(
        tuning.get("partitionsSpec", {}).get("maxRowsPerSegment")
        or tuning.get("maxRowsPerSegment")
        or 5_000_000
    )


def _utc_origin(origin: str | None) -> str | None:
    """A granularity origin -> a naive UTC instant string. Druid parses
    the origin as an INSTANT (UTC when no offset is given, explicit
    offsets honoured)."""
    if origin is None:
        return None
    inst = _dt.datetime.fromisoformat(origin.replace("Z", "+00:00"))
    if inst.tzinfo is None:
        inst = inst.replace(tzinfo=_dt.timezone.utc)
    inst = inst.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return inst.isoformat(sep=" ")


def granularity_spec(g) -> dict | None:
    """The one resolution of a Druid granularity spec: None for all,
    else Druid's object form — ``{"type": "none"}``, ``{"type":
    "period", "period", "origin", "timeZone"}`` or ``{"type":
    "duration", "duration", "origin"}``, origins as naive UTC instants.

    Strings are :func:`granularity_period` strings or ``"none"``
    (case-insensitive, Druid accepts ``"DAY"``); a resolved spec
    resolves to itself. Unsupported forms raise ValueError."""
    if g is None:
        return None
    if isinstance(g, str):
        if g.strip().lower() == "none":
            return {"type": "none"}
        period = granularity_period(g)
        if period is None:
            return None
        g = {"type": "period", "period": period}
    kind = g.get("type")
    if kind == "all":
        return None
    if kind == "none":
        return {"type": "none"}
    if kind == "period":
        return {
            "type": "period",
            "period": g["period"],
            "origin": _utc_origin(g.get("origin")),
            "timeZone": g.get("timeZone"),
        }
    if kind == "duration":
        return {
            "type": "duration",
            "duration": int(g["duration"]),
            "origin": _utc_origin(g.get("origin")),
        }
    raise ValueError(f"unsupported granularity type {kind!r}")


def granularity_bucket(col: Column | str, g) -> Column | None:
    """Bucket a timestamp column by any granularity spec
    :func:`granularity_spec` accepts; None for all. Periods floor
    through :func:`time_floor` (origin and timeZone honoured), durations
    on an epoch-millisecond grid from their origin, and none is the
    millisecond identity."""
    spec = granularity_spec(g)
    if spec is None:
        return None
    c = _col(col).cast("timestamp")
    if spec["type"] == "none":
        return c
    if spec["type"] == "period":
        # timeZone (granularities.md): bucket on that zone's LOCAL
        # chronology — LA days start at local midnight, not 00:00 UTC
        return time_floor(c, spec["period"], spec["origin"], spec["timeZone"])
    ms = spec["duration"]
    o = (
        F.unix_millis(_origin_col(spec["origin"]))
        if spec["origin"] is not None
        else F.lit(0).cast("long")
    )
    return F.timestamp_millis(
        o + F.floor((F.unix_millis(c) - o) / ms).cast("long") * ms
    )


def segment_bucket(col: Column | str, g) -> Column:
    """The time bucket a row is stored (or rolled up) under:
    :func:`granularity_bucket`, with ALL as one bucket stamped at the
    epoch (Druid's timestamp for an ALL bucket)."""
    bucket = granularity_bucket(col, g)
    return F.timestamp_millis(F.lit(0)) if bucket is None else bucket


def floor_ms(ms: int, period: str | None) -> int:
    """:func:`time_floor`'s default grid in plain Python, for the
    metadata plane (segment interval starts): epoch millis -> the start
    of its ``period`` bucket, 0 (the epoch, as :func:`segment_bucket`)
    for ALL (None). Clock periods are epoch-anchored, weeks
    Monday-anchored, months calendar months counted from 1970-01."""
    if period is None:
        return 0
    months, millis = parse_period(period)
    if millis:
        o = -3 * 86_400_000 if _is_week_period(period) else 0
        return o + (ms - o) // millis * millis
    d = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)
    k = ((d.year - 1970) * 12 + d.month - 1) // months * months
    start = _dt.datetime(1970 + k // 12, k % 12 + 1, 1)
    return (start - _dt.datetime(1970, 1, 1)) // _dt.timedelta(milliseconds=1)


def time_ceil(
    col: Column | str,
    period: str,
    origin: str | Column | None = None,
    tz: str | None = None,
) -> Column:
    """Druid TIME_CEIL: smallest period boundary >= the timestamp.
    ``origin``/``tz`` follow :func:`time_floor` (the origin is an
    instant and shifts into the zone's wall clock)."""
    if tz:
        wall = F.from_utc_timestamp(_col(col).cast("timestamp"), tz)
        org_w = None if origin is None else F.from_utc_timestamp(
            _origin_col(origin), tz
        )
        return F.to_utc_timestamp(time_ceil(wall, period, org_w), tz)
    c = _col(col).cast("timestamp")
    fl = time_floor(c, period, origin)
    return F.when(fl == c, c).otherwise(time_shift(fl, period, 1))


def time_shift(col: Column | str, period: str, step: int | Column) -> Column:
    """Druid TIME_SHIFT: move a timestamp by ``step`` periods (step may
    be negative). Calendar periods preserve time-of-day."""
    c = _col(col).cast("timestamp")
    months, millis = parse_period(period)
    s = F.lit(step) if isinstance(step, int) else step
    if months:
        zero = F.lit(0)
        return c + F.make_interval(zero, (s * months).cast("int"))
    return F.timestamp_millis(F.unix_millis(c) + s.cast("long") * millis)


#: Druid TIME_EXTRACT units -> Spark expression builders. DOW is ISO
#: (Monday=1..Sunday=7), matching Druid; Spark's dayofweek is Sunday=1,
#: so DOW uses weekday()+1 instead.
_EXTRACT_UNITS = {
    "EPOCH": F.unix_seconds,
    "MILLIS": F.unix_millis,
    "SECOND": F.second,
    "MINUTE": F.minute,
    "HOUR": F.hour,
    "DAY": F.dayofmonth,
    "DOW": lambda c: F.weekday(c) + F.lit(1),
    "DOY": F.dayofyear,
    "WEEK": F.weekofyear,
    "MONTH": F.month,
    "QUARTER": F.quarter,
    "YEAR": F.year,
}


def time_extract(col: Column | str, unit: str) -> Column:
    """Druid TIME_EXTRACT: pull one calendar field as a number."""
    try:
        fn = _EXTRACT_UNITS[unit.upper()]
    except KeyError:
        raise ValueError(
            f"unknown unit {unit!r}; one of {sorted(_EXTRACT_UNITS)}"
        ) from None
    return fn(_col(col)).cast("long")


def time_parse(col: Column | str, pattern: str | None = None) -> Column:
    """Druid TIME_PARSE: string -> timestamp (ISO-8601 by default).
    Malformed input yields NULL, as in Druid — under the session's
    ANSI default, plain to_timestamp would kill the whole query on the
    first bad row."""
    c = _col(col)
    return (
        F.try_to_timestamp(c, F.lit(pattern))
        if pattern
        else F.try_to_timestamp(c)
    )


def time_format(col: Column | str, pattern: str = "yyyy-MM-dd'T'HH:mm:ss") -> Column:
    """Druid TIME_FORMAT: timestamp -> string."""
    return F.date_format(_col(col), pattern)


def millis_to_timestamp(col: Column | str) -> Column:
    return F.timestamp_millis(_col(col).cast("long"))


def timestamp_to_millis(col: Column | str) -> Column:
    return F.unix_millis(_col(col).cast("timestamp"))


def latest(col: Column | str, time_col: Column | str) -> Column:
    """Druid LATEST(expr): the value from the row with the max __time.
    Ties on the time column are engine-undefined in Druid too — feed a
    unique (or composite) time expression for determinism."""
    return F.max_by(_col(col), _col(time_col))


def earliest(col: Column | str, time_col: Column | str) -> Column:
    """Druid EARLIEST(expr): the value from the row with the min __time."""
    return F.min_by(_col(col), _col(time_col))


def safe_divide(x: Column | str, y: Column | str) -> Column:
    """Druid SAFE_DIVIDE: NULL instead of error/inf on zero divisor."""
    xd, yd = _col(x), _col(y)
    return F.when(yd != 0, xd / yd)


def div(x: Column | str, y: Column | str) -> Column:
    """Druid DIV: integer division truncating toward zero — Spark's own
    integral `div` (exact on longs; a (x - x%y)/y double round-trip
    silently loses precision past 2^53)."""
    xl, yl = _col(x).cast("long"), _col(y).cast("long")
    return F.call_function("div", xl, yl).cast("long")


def textcat(x: Column | str, y: Column | str) -> Column:
    """Druid TEXTCAT: two-arg string concat (NULL if either is NULL)."""
    return F.concat(_col(x), _col(y))


def contains_string(col: Column | str, substr: str) -> Column:
    return _col(col).contains(substr)


def time_in_interval(col: Column | str, interval: str) -> Column:
    """Druid TIME_IN_INTERVAL: ISO slash interval, start inclusive /
    end exclusive."""
    start, end = interval.split("/", 1)
    c = _col(col)
    return (c >= F.to_timestamp(F.lit(start))) & (c < F.to_timestamp(F.lit(end)))


def regexp_like(col: Column | str, pattern: str) -> Column:
    """Druid REGEXP_LIKE: partial (find-anywhere) regex match."""
    return _col(col).rlike(pattern)


def decode_base64_utf8(col: Column | str) -> Column:
    return F.unbase64(_col(col)).cast("string")


def icontains_string(col: Column | str, substr: str) -> Column:
    return F.lower(_col(col)).contains(substr.lower())


def lookup(col: Column | str, mapping: Mapping[str, str],
           default: str | None = None) -> Column:
    """Druid LOOKUP: map a key column through a small dictionary.

    The mapping becomes a map literal in the plan (broadcast with the
    task binary — right for lookup-table sizes; use a broadcast join
    for big dimension tables)."""
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    # try_element_at: NULL (not an ANSI error) for keys outside the map.
    got = F.try_element_at(F.create_map(*pairs), _col(col))
    return F.coalesce(got, F.lit(default)) if default is not None else got


# ---- multi-value (MV_*) family over ArrayType columns ----------------

def mv_length(col: Column | str) -> Column:
    c = _col(col)
    return F.when(c.isNotNull(), F.size(c))


def mv_contains(col: Column | str, value) -> Column:
    return F.array_contains(_col(col), value)


def mv_overlap(col: Column | str, other: Column) -> Column:
    return F.arrays_overlap(_col(col), other)


def mv_offset(col: Column | str, i: int) -> Column:
    """0-based element access (Druid MV_OFFSET): NULL when the index is
    negative or past the end — ANSI element_at would throw on both, and
    element_at(arr, 0) is an error in Spark even outside ANSI."""
    if i < 0:
        return F.lit(None)
    return F.try_element_at(_col(col), F.lit(i + 1))


def mv_ordinal(col: Column | str, i: int) -> Column:
    """1-based element access (Druid MV_ORDINAL): NULL when the index
    is < 1 or past the end (same rationale as mv_offset)."""
    if i < 1:
        return F.lit(None)
    return F.try_element_at(_col(col), F.lit(i))


def mv_filter_only(col: Column | str, allow: list) -> Column:
    """Keep only allow-listed elements (duplicates preserved — unlike
    array_intersect, which dedups)."""
    allowed = F.array(*[F.lit(v) for v in allow])
    return F.filter(_col(col), lambda e: F.array_contains(allowed, e))


def mv_filter_none(col: Column | str, deny: list) -> Column:
    denied = F.array(*[F.lit(v) for v in deny])
    return F.filter(_col(col), lambda e: ~F.array_contains(denied, e))


def mv_to_string(col: Column | str, sep: str = ",") -> Column:
    return F.array_join(_col(col), sep)


def string_to_mv(col: Column | str, sep: str = ",") -> Column:
    return F.split(_col(col), re.escape(sep))


# ---- SQL-text registration ------------------------------------------

#: (name, arg signature, return type, body) for every SQL UDF. Bodies
#: are pure Spark SQL expressions, so Catalyst inlines them (no UDF
#: call boundary, codegen intact). TIME_* SQL forms support Druid's
#: standard granularity periods (any PT<n>S/M/H plus P1D/P1W/P1M/P3M/
#: P1Y); the Python helpers above support arbitrary ISO periods.
_PERIOD_MS = (
    "CAST(regexp_extract(period, '^PT([0-9]+)[SMH]$', 1) AS BIGINT) * "
    "CASE substring(period, -1, 1) WHEN 'S' THEN 1000 "
    "WHEN 'M' THEN 60000 ELSE 3600000 END"
)

def _human_readable_body(base: int, units: list[str]) -> str:
    """CASE ladder for Druid's HUMAN_READABLE_* trio (sql-scalar.md):
    value scaled by the largest unit it reaches, rendered at the given
    precision (Druid validates 0-3; out-of-range raises here too)."""
    fmt = "concat('%.', CAST(p AS STRING), 'f')"
    arms = []
    for i, u in enumerate(units):
        suffix = f", ' {u}'" if u else ""
        scaled = f"v / power({base}, {i})" if i else "v"
        cond = (
            f"WHEN abs(v) < power({base}, {i + 1}) "
            if i + 1 < len(units)
            else "ELSE "
        )
        arms.append(
            f"{cond}{'THEN ' if i + 1 < len(units) else ''}"
            f"concat(format_string({fmt}, CAST({scaled} AS DOUBLE))"
            f"{suffix})"
        )
    ladder = " ".join(arms)
    return (
        "CASE WHEN p < 0 OR p > 3 THEN CAST(raise_error("
        "'HUMAN_READABLE precision must be in [0, 3]') AS STRING) "
        f"WHEN v IS NULL THEN NULL ELSE CASE {ladder} END END"
    )


_SQL_FUNCTIONS: list[tuple[str, str, str, str]] = [
    # DS_QUANTILES_SKETCH's render marker: only its consumer functions
    # (DS_GET_QUANTILE(S)/DS_HISTOGRAM/DS_RANK/DS_CDF) may unwrap it;
    # an unconsumed sketch evaluating this is a loud error, never a
    # silently-wrong value
    ("DDBS_QSK", "x DOUBLE", "DOUBLE",
     "CAST(raise_error('DS_QUANTILES_SKETCH is only consumable by "
     "DS_GET_QUANTILE(S)/DS_HISTOGRAM/DS_RANK/DS_CDF in the same "
     "SELECT') AS DOUBLE)"),
    ("DDBS_PERIOD_MS", "period STRING", "BIGINT",
     f"CASE WHEN period = 'P1D' THEN 86400000 WHEN period = 'P1W' THEN 604800000 "
     f"WHEN period RLIKE '^PT[0-9]+[SMH]$' THEN {_PERIOD_MS} "
     # no silent NULL arm: an unsupported period would otherwise
     # collapse a whole GROUP BY into one NULL bucket with no error
     f"ELSE CAST(raise_error(concat('unsupported period for SQL TIME_* "
     f"functions: ', period)) AS BIGINT) END"),
    ("TIME_FLOOR", "ts TIMESTAMP, period STRING", "TIMESTAMP",
     "CASE WHEN period = 'P1M' THEN date_trunc('MONTH', ts) "
     "WHEN period = 'P3M' THEN date_trunc('QUARTER', ts) "
     "WHEN period = 'P1Y' THEN date_trunc('YEAR', ts) "
     # ISO weeks (Monday), Druid's chronology — the epoch-anchored
     # DDBS_PERIOD_MS grid would yield Thursday-aligned "weeks"
     "WHEN period = 'P1W' THEN date_trunc('WEEK', ts) "
     "ELSE timestamp_millis(CAST(floor(unix_millis(ts) / DDBS_PERIOD_MS(period)) "
     "AS BIGINT) * DDBS_PERIOD_MS(period)) END"),
    ("TIME_SHIFT", "ts TIMESTAMP, period STRING, step INT", "TIMESTAMP",
     "CASE WHEN period = 'P1M' THEN ts + make_interval(0, step) "
     "WHEN period = 'P3M' THEN ts + make_interval(0, 3 * step) "
     "WHEN period = 'P1Y' THEN ts + make_interval(step) "
     "ELSE timestamp_millis(unix_millis(ts) + step * DDBS_PERIOD_MS(period)) END"),
    ("TIME_CEIL", "ts TIMESTAMP, period STRING", "TIMESTAMP",
     "CASE WHEN TIME_FLOOR(ts, period) = ts THEN ts "
     "ELSE TIME_SHIFT(TIME_FLOOR(ts, period), period, 1) END"),
    ("TIME_EXTRACT", "ts TIMESTAMP, unit STRING", "BIGINT",
     "CASE upper(unit) WHEN 'EPOCH' THEN unix_seconds(ts) "
     "WHEN 'MILLIS' THEN unix_millis(ts) "
     "WHEN 'SECOND' THEN second(ts) WHEN 'MINUTE' THEN minute(ts) "
     "WHEN 'HOUR' THEN hour(ts) WHEN 'DAY' THEN day(ts) "
     "WHEN 'DOW' THEN weekday(ts) + 1 WHEN 'DOY' THEN dayofyear(ts) "
     "WHEN 'WEEK' THEN weekofyear(ts) WHEN 'MONTH' THEN month(ts) "
     "WHEN 'QUARTER' THEN quarter(ts) WHEN 'YEAR' THEN year(ts) END"),
    ("TIME_PARSE", "s STRING", "TIMESTAMP", "try_to_timestamp(s)"),
    ("TIME_FORMAT", "ts TIMESTAMP, fmt STRING", "STRING", "date_format(ts, fmt)"),
    ("MILLIS_TO_TIMESTAMP", "m BIGINT", "TIMESTAMP", "timestamp_millis(m)"),
    ("TIMESTAMP_TO_MILLIS", "ts TIMESTAMP", "BIGINT", "unix_millis(ts)"),
    ("SAFE_DIVIDE", "x DOUBLE, y DOUBLE", "DOUBLE",
     "CASE WHEN y = 0 THEN NULL ELSE x / y END"),
    ("TEXTCAT", "x STRING, y STRING", "STRING", "concat(x, y)"),
    ("CONTAINS_STRING", "s STRING, sub STRING", "BOOLEAN", "instr(s, sub) > 0"),
    ("ICONTAINS_STRING", "s STRING, sub STRING", "BOOLEAN",
     "instr(lower(s), lower(sub)) > 0"),
    ("STRPOS", "s STRING, sub STRING", "INT", "instr(s, sub)"),
    # Druid's LENGTH alias (sql-scalar.md); LENGTH/CHAR_LENGTH are
    # Spark builtins already
    ("STRLEN", "s STRING", "INT", "length(s)"),
    # Druid TIME_IN_INTERVAL: ISO-8601 slash interval, start inclusive,
    # end exclusive.
    ("TIME_IN_INTERVAL", "ts TIMESTAMP, iv STRING", "BOOLEAN",
     "ts >= to_timestamp(split_part(iv, '/', 1)) "
     "AND ts < to_timestamp(split_part(iv, '/', 2))"),
    ("DECODE_BASE64_UTF8", "s STRING", "STRING", "CAST(unbase64(s) AS STRING)"),
    # Druid's IPv4 trio (sql-scalar.md): dotted-quad <-> integer and
    # CIDR subnet membership — pure integer arithmetic registered as
    # SQL UDFs (Spark ships no IP functions). Invalid inputs answer
    # NULL (Druid's SQL-compatible posture), never an error.
    ("IPV4_PARSE", "s STRING", "BIGINT",
     "CASE WHEN s RLIKE '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' "
     "AND CAST(split_part(s, '.', 1) AS INT) <= 255 "
     "AND CAST(split_part(s, '.', 2) AS INT) <= 255 "
     "AND CAST(split_part(s, '.', 3) AS INT) <= 255 "
     "AND CAST(split_part(s, '.', 4) AS INT) <= 255 "
     "THEN CAST(split_part(s, '.', 1) AS BIGINT) * 16777216 "
     "+ CAST(split_part(s, '.', 2) AS BIGINT) * 65536 "
     "+ CAST(split_part(s, '.', 3) AS BIGINT) * 256 "
     "+ CAST(split_part(s, '.', 4) AS BIGINT) END"),
    ("IPV4_STRINGIFY", "n BIGINT", "STRING",
     "CASE WHEN n >= 0 AND n <= 4294967295 THEN concat("
     "CAST(n div 16777216 AS STRING), '.', "
     "CAST((n div 65536) % 256 AS STRING), '.', "
     "CAST((n div 256) % 256 AS STRING), '.', "
     "CAST(n % 256 AS STRING)) END"),
    ("IPV4_MATCH", "addr STRING, subnet STRING", "BOOLEAN",
     "CASE WHEN subnet RLIKE "
     "'^([0-9]{1,3}\\\\.){3}[0-9]{1,3}/([0-9]|[12][0-9]|3[0-2])$' "
     "THEN shiftright(IPV4_PARSE(addr), "
     "32 - CAST(split_part(subnet, '/', 2) AS INT)) "
     "= shiftright(IPV4_PARSE(split_part(subnet, '/', 1)), "
     "32 - CAST(split_part(subnet, '/', 2) AS INT)) END"),
    # MV_* over ARRAY<STRING> (Druid MVDs are string-typed): SQL-text
    # twins of the Column helpers above, same null/index semantics
    ("MV_LENGTH", "a ARRAY<STRING>", "INT",
     "CASE WHEN a IS NOT NULL THEN size(a) END"),
    ("MV_CONTAINS", "a ARRAY<STRING>, v STRING", "BOOLEAN",
     "array_contains(a, v)"),
    ("MV_OVERLAP", "a ARRAY<STRING>, b ARRAY<STRING>", "BOOLEAN",
     "arrays_overlap(a, b)"),
    ("MV_OFFSET", "a ARRAY<STRING>, i INT", "STRING",
     "CASE WHEN i >= 0 THEN try_element_at(a, i + 1) END"),
    ("MV_ORDINAL", "a ARRAY<STRING>, i INT", "STRING",
     "CASE WHEN i >= 1 THEN try_element_at(a, i) END"),
    ("MV_FILTER_ONLY", "a ARRAY<STRING>, allow ARRAY<STRING>",
     "ARRAY<STRING>", "filter(a, e -> array_contains(allow, e))"),
    ("MV_FILTER_NONE", "a ARRAY<STRING>, deny ARRAY<STRING>",
     "ARRAY<STRING>", "filter(a, e -> NOT array_contains(deny, e))"),
    ("MV_TO_STRING", "a ARRAY<STRING>, sep STRING", "STRING",
     "array_join(a, sep)"),
    # literal (non-regex) separator, like Druid: \Q...\E-quote it
    ("STRING_TO_MV", "s STRING, sep STRING", "ARRAY<STRING>",
     r"split(s, concat('\\Q', sep, '\\E'))"),
    # r10: the remaining MV mutators/locators (sql-multivalue-string-
    # functions.md). NULL array in -> NULL out (Spark concat's and
    # Druid's SQL-compatible behavior agree); the locators are
    # 0-based OFFSET_OF / 1-based ORDINAL_OF with NULL on no match
    ("MV_APPEND", "a ARRAY<STRING>, e STRING", "ARRAY<STRING>",
     "concat(a, array(e))"),
    ("MV_PREPEND", "e STRING, a ARRAY<STRING>", "ARRAY<STRING>",
     "concat(array(e), a)"),
    ("MV_CONCAT", "a ARRAY<STRING>, b ARRAY<STRING>", "ARRAY<STRING>",
     "concat(a, b)"),
    # 0-indexed [start, end) with ARRAY_SLICE's guard semantics: bad
    # start answers NULL, end past the array clamps (strings pad as
    # NULL elements in ARRAY_SLICE; MV_SLICE clamps — Druid's MV form
    # operates on the dimension's value list)
    ("MV_SLICE", "a ARRAY<STRING>, s INT, e INT", "ARRAY<STRING>",
     "CASE WHEN s >= 0 AND e >= s AND s <= size(a) "
     "THEN slice(a, s + 1, least(e, size(a)) - s) END"),
    ("MV_OFFSET_OF", "a ARRAY<STRING>, e STRING", "INT",
     "CASE WHEN array_position(a, e) > 0 "
     "THEN CAST(array_position(a, e) - 1 AS INT) END"),
    ("MV_ORDINAL_OF", "a ARRAY<STRING>, e STRING", "INT",
     "CASE WHEN array_position(a, e) > 0 "
     "THEN CAST(array_position(a, e) AS INT) END"),
    # Druid 24+ nested-column JSON family (nested-columns.md) on
    # Spark's VARIANT/json builtins. Deliberate documented subset:
    # JSON_VALUE is the 2-arg form here (the RETURNING clause is
    # peeled into a CAST by the SQL-text rewrite below); JSON_PATHS
    # walks two object levels (arrays and deeper nests report their
    # object path, not per-leaf [i] paths); path keys containing
    # dots need Druid's bracket quoting, which Spark's JSONPath
    # shares. JSON_VALUE returns scalars ONLY (an object/array path
    # answers NULL, like Druid) — the guard serializes the variant
    # and rejects '{'/'['-leading JSON, which cannot false-positive
    # on a string value because to_json quotes strings (leading '"').
    ("JSON_VALUE", "j STRING, p STRING", "STRING",
     "CASE WHEN left(to_json(try_variant_get(try_parse_json(j), p)), 1)"
     " IN ('{', '[') THEN NULL"
     " ELSE try_variant_get(try_parse_json(j), p, 'string') END"),
    ("JSON_QUERY", "j STRING, p STRING", "STRING",
     "to_json(try_variant_get(try_parse_json(j), p))"),
    # PARSE_JSON / TRY_PARSE_JSON are omitted: Spark ships builtins of
    # those exact names with Druid's semantics (strict parse errors /
    # NULL on malformed, both producing the COMPLEX<json> analog
    # VARIANT) and refuses to shadow a builtin with a SQL UDF.
    # accepts any input like Druid (Spark coerces scalars to VARIANT)
    ("TO_JSON_STRING", "v VARIANT", "STRING", "to_json(v)"),
    ("JSON_KEYS", "j STRING, p STRING", "ARRAY<STRING>",
     "json_object_keys(get_json_object(j, p))"),
    ("JSON_PATHS", "j STRING", "ARRAY<STRING>",
     "CASE WHEN get_json_object(j, '$') IS NULL THEN NULL "
     "WHEN json_object_keys(j) IS NULL THEN array('$') "
     "ELSE flatten(transform(json_object_keys(j), k -> "
     "CASE WHEN json_object_keys(get_json_object(j, concat('$.', k)))"
     " IS NOT NULL"
     " THEN transform("
     "json_object_keys(get_json_object(j, concat('$.', k))),"
     " k2 -> concat('$.', k, '.', k2))"
     " ELSE array(concat('$.', k)) END)) END"),
    # Druid's HUMAN_READABLE_* formatting trio (sql-scalar.md): 1024-
    # based IEC byte units, 1000-based SI byte units, and bare SI
    # magnitude suffixes. 2-arg forms; the SQL-text rewrite normalizes
    # Druid's 1-arg spelling to precision 2.
    ("HUMAN_READABLE_BINARY_BYTE_FORMAT", "v DOUBLE, p INT", "STRING",
     _human_readable_body(
         1024, ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
     )),
    ("HUMAN_READABLE_DECIMAL_BYTE_FORMAT", "v DOUBLE, p INT", "STRING",
     _human_readable_body(
         1000, ["B", "KB", "MB", "GB", "TB", "PB", "EB"]
     )),
    ("HUMAN_READABLE_DECIMAL_FORMAT", "v DOUBLE, p INT", "STRING",
     _human_readable_body(1000, ["", "K", "M", "G", "T", "P", "E"])),
    # Druid's BITWISE_* function names over 64-bit longs (math-expr
    # docs); Spark has the operators/builtins, Druid SQL the names
    ("BITWISE_AND", "x BIGINT, y BIGINT", "BIGINT", "x & y"),
    ("BITWISE_OR", "x BIGINT, y BIGINT", "BIGINT", "x | y"),
    ("BITWISE_XOR", "x BIGINT, y BIGINT", "BIGINT", "x ^ y"),
    ("BITWISE_COMPLEMENT", "x BIGINT", "BIGINT", "~x"),
    ("BITWISE_SHIFT_LEFT", "x BIGINT, y BIGINT", "BIGINT",
     "shiftleft(x, CAST(y AS INT))"),
    ("BITWISE_SHIFT_RIGHT", "x BIGINT, y BIGINT", "BIGINT",
     "shiftright(x, CAST(y AS INT))"),
    # r12 audit tail (sql-array-functions.md / sql-multivalue-string-
    # functions.md / sql-scalar.md):
    # ARRAY_QUANTILE (Druid 31): linear-interpolation quantile of the
    # array's numeric elements — nulls dropped, empty-after-filter or
    # out-of-range rank answers NULL (SQL-compatible posture; Druid
    # errors on a bad rank — documented divergence toward NULL). The
    # sorted array binds once via the transform-lambda trick so the
    # sort runs once per row, not per reference.
    ("ARRAY_QUANTILE", "a ARRAY<DOUBLE>, r DOUBLE", "DOUBLE",
     "element_at(transform(array(array_sort(filter(a, x -> "
     "x IS NOT NULL))), s -> CASE WHEN size(s) = 0 OR r < 0 OR r > 1 "
     "THEN CAST(NULL AS DOUBLE) ELSE "
     "try_element_at(s, CAST(floor(r * (size(s) - 1)) AS INT) + 1) "
     "+ (r * (size(s) - 1) - floor(r * (size(s) - 1))) "
     "* (try_element_at(s, CAST(ceil(r * (size(s) - 1)) AS INT) + 1) "
     "- try_element_at(s, CAST(floor(r * (size(s) - 1)) AS INT) + 1)) "
     "END), 1)"),
    # MV_TO_ARRAY / ARRAY_TO_MV: Druid converts between the MVD VARCHAR
    # dimension and ARRAY types. This engine's MVD representation IS
    # ARRAY<STRING> (sources/segment.py), so MV_TO_ARRAY is identity
    # and ARRAY_TO_MV is the element-wise string cast (numeric arrays
    # coerce implicitly at the call site). Registered so Druid SQL
    # text using either name runs unchanged.
    ("MV_TO_ARRAY", "a ARRAY<STRING>", "ARRAY<STRING>", "a"),
    # identity body: the element-wise string cast happens in the
    # SIGNATURE coercion (array<int> -> array<string> at the call
    # site), so a per-element transform would re-cast STRING to STRING
    ("ARRAY_TO_MV", "a ARRAY<STRING>", "ARRAY<STRING>", "a"),
    # DECODE_BASE64_COMPLEX (sql-scalar.md): decodes a base64 blob into
    # a COMPLEX sketch type. The serialized DataSketches wire formats
    # have no portable representation here (this engine's sketches are
    # exact structs) — LOUD by contract, never a silently-wrong value.
    ("DECODE_BASE64_COMPLEX", "t STRING, s STRING", "STRING",
     "CAST(raise_error(concat('DECODE_BASE64_COMPLEX is unsupported: '"
     ", 'complex type ', t, ' blobs have no portable representation "
     "in this engine (its sketches are exact structs); re-aggregate "
     "from the raw column instead')) AS STRING)"),
    # DIV and REGEXP_LIKE are omitted: Spark ships built-ins with
    # Druid's exact semantics (truncating integer division; partial
    # regex match) and refuses to shadow them with SQL UDFs.
    # REGEXP_EXTRACT and STRING_AGG are handled by the SQL-text
    # rewrite below (arg-default/name differences a scalar UDF cannot
    # express for an aggregate or without shadowing a builtin).
]


# -- DataSketches SQL names ------------------------------------------------
#
# Real Druid SQL ships the DataSketches module's function names
# (druid datasketches-hll.md / datasketches-quantiles.md):
# APPROX_COUNT_DISTINCT_DS_HLL, APPROX_QUANTILE_DS, DS_HLL,
# HLL_SKETCH_ESTIMATE, HLL_SKETCH_UNION. These are AGGREGATES, which a
# scalar `CREATE FUNCTION ... RETURN` cannot express — so they map via
# SQL-TEXT rewrite onto Spark's own Apache DataSketches HLL builtins
# (hll_sketch_agg / hll_sketch_estimate / hll_union — the same sketch
# library real Druid uses) and percentile_approx. The rewrite is
# quote- and paren-aware (function names inside string literals are
# untouched; nested calls rewrite inside-out). Documented divergences:
# the optional tgtHllType argument is accepted and ignored (Spark's
# builtin picks its own HLL storage), and APPROX_QUANTILE_DS's optional
# k is dropped in favor of percentile_approx's default accuracy
# (both are monotone accuracy knobs; the default is the more accurate).

def _ds_split_args(args: str) -> list[str]:
    """Split an argument list at TOP-LEVEL commas (literals, comments,
    and nested parens respected via the shared code mask)."""
    mask = _sql_code_mask(args)
    out, depth, start = [], 0, 0
    for i, c in enumerate(args):
        if not mask[i]:
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(args[start:i].strip())
            start = i + 1
    tail = args[start:].strip()
    if tail or out:
        out.append(tail)
    return out


# Theta-sketch SQL rendering: a sketch is a named_struct('theta' DOUBLE,
# 'hashes' ARRAY<BIGINT>) — the k smallest distinct 60-bit md5 hashes,
# every one strictly below theta (the kmv shape operators/sketches.py
# uses for cx_theta_set_ops, here as pure SQL text so the whole algebra
# stays inside whole-stage codegen). Below saturation theta is the full
# hash space and every estimate is EXACT; saturated, the standard KMV
# estimator |hashes| * HASH_SPACE / theta applies. Set ops keep
# min(theta_a, theta_b) and filter to hashes below it — a valid theta
# sketch (Druid additionally re-caps a union to nominal k; keeping the
# extra retained hashes only IMPROVES accuracy, documented divergence).
_THETA_DEFAULT_K = 16384
_THETA_HS = "CAST(1152921504606846976 AS DOUBLE)"  # 2^60, the hash space


def _theta_hash60(expr: str) -> str:
    """60-bit md5 hash as SQL text (operators/dedup.py md5_hash60)."""
    return (
        f"CAST(conv(substring(md5(CAST({expr} AS STRING)), 1, 15), "
        "16, 10) AS BIGINT)"
    )


def _theta_build(expr: str, k: int) -> str:
    hs = f"slice(array_sort(collect_set({_theta_hash60(expr)})), 1, {k})"
    return (
        f"element_at(transform(array({hs}), hs -> named_struct("
        f"'theta', CASE WHEN size(hs) >= {k} "
        f"THEN CAST(element_at(hs, {k}) AS DOUBLE) ELSE {_THETA_HS} END, "
        f"'hashes', CASE WHEN size(hs) >= {k} "
        f"THEN slice(hs, 1, {k - 1}) ELSE hs END)), 1)"
    )


def _theta_pair(op: str, sa: str, sb: str) -> str:
    fn = {"union": "array_union", "intersect": "array_intersect",
          "not": "array_except"}[op]
    merged = f"array_sort({fn}(p.a.hashes, p.b.hashes))"
    return (
        f"element_at(transform(array(named_struct('a', {sa}, 'b', {sb})), "
        f"p -> named_struct('theta', least(p.a.theta, p.b.theta), "
        f"'hashes', filter({merged}, "
        f"x -> CAST(x AS DOUBLE) < least(p.a.theta, p.b.theta)))), 1)"
    )


def _theta_estimate(s: str) -> str:
    return (
        f"(CAST(size(({s}).hashes) AS DOUBLE) * {_THETA_HS} "
        f"/ ({s}).theta)"
    )


def _theta_k_arg(arg: str | None, name: str) -> int:
    if arg is None:
        return _THETA_DEFAULT_K
    t = arg.strip()
    if not t.isdigit():
        raise ValueError(
            f"{name} size must be an integer literal, got {t!r}"
        )
    return int(t)


def _ds_render(name: str, args: list[str]) -> str:
    a = ", ".join
    if name == "APPROX_COUNT_DISTINCT_DS_HLL":
        # (expr[, lgK[, tgtHllType]]) -> estimate(agg); Druid returns
        # BIGINT. tgtHllType (a string literal) is ignored.
        return (
            "CAST(hll_sketch_estimate("
            f"hll_sketch_agg({a(args[:2])})) AS BIGINT)"
        )
    if name == "APPROX_COUNT_DISTINCT_DS_THETA":
        # (expr[, size]) — Druid's Theta-sketch distinct count, through
        # the kmv theta machinery (exact below size, KMV estimator
        # above it); Druid returns BIGINT
        k = _theta_k_arg(args[1] if len(args) > 1 else None, name)
        return (
            f"CAST(round({_theta_estimate(_theta_build(args[0], k))}) "
            "AS BIGINT)"
        )
    if name == "DS_THETA":
        # (expr[, size]) -> a theta sketch struct (see _theta_build)
        k = _theta_k_arg(args[1] if len(args) > 1 else None, name)
        return _theta_build(args[0], k)
    if name == "THETA_SKETCH_ESTIMATE":
        # (sketch) -> DOUBLE (Druid's return type)
        return _theta_estimate(args[0])
    if name in ("THETA_SKETCH_UNION", "THETA_SKETCH_INTERSECT",
                "THETA_SKETCH_NOT"):
        # ([size, ]s0, s1, ...) — a leading integer-literal size is
        # accepted and dropped (the result keeps min(theta) instead of
        # re-capping to nominal k: strictly more retained hashes,
        # strictly tighter estimates). NOT is A-minus-B and left-folds
        # the same way Druid's does.
        sks = args[1:] if args and args[0].strip().isdigit() else args
        if len(sks) < 2:
            raise ValueError(f"{name} takes at least two sketches")
        op = name.rsplit("_", 1)[1].lower()
        out = sks[0]
        for s in sks[1:]:
            out = _theta_pair(op, out, s)
        return out
    if name in ("APPROX_QUANTILE_DS", "APPROX_QUANTILE"):
        # (expr, prob[, k]) -> percentile_approx at default accuracy;
        # Druid returns DOUBLE
        return f"CAST(percentile_approx({a(args[:2])}) AS DOUBLE)"
    if name == "TDIGEST_GENERATE_SKETCH":
        # tdigestsketch-quantiles.md: same consumable-marker shape as
        # DS_QUANTILES_SKETCH (the compression arg is an accuracy knob
        # with no Spark twin and is dropped)
        return f"DDBS_QSK({args[0]})"
    if name == "TDIGEST_QUANTILE":
        m = re.fullmatch(r"(?s)\s*DDBS_QSK\((.*)\)\s*", args[0])
        if not m:
            raise ValueError(
                "TDIGEST_QUANTILE must wrap TDIGEST_GENERATE_SKETCH"
                "(expr) directly (sketch columns only exist via "
                "COMPLEX ingestion)"
            )
        return (
            f"CAST(percentile_approx({m.group(1)}, {args[1]}) AS DOUBLE)"
        )
    if name == "DS_QUANTILES_SKETCH":
        # (expr[, k]) — renders a MARKER the consuming function unwraps
        # (datasketches-quantiles.md). Sketch objects flow as columns
        # only via COMPLEX ingestion (out of scope); in SQL Druid users
        # write the directly-nested form, which is what this serves.
        # Evaluating the marker itself is a loud registered error.
        return f"DDBS_QSK({args[0]})"
    if name in ("DS_GET_QUANTILE", "DS_GET_QUANTILES", "DS_HISTOGRAM",
                "DS_RANK", "DS_CDF"):
        # consumers of a directly-nested DS_QUANTILES_SKETCH; every one
        # renders EXACT aggregates (the same strict-accuracy upgrade as
        # the exact cardinality/theta paths) except GET_QUANTILE(S),
        # which ride Spark's own quantile sketch (percentile_approx)
        m = re.fullmatch(r"(?s)\s*DDBS_QSK\((.*)\)\s*", args[0])
        if not m:
            raise ValueError(
                f"{name} must wrap DS_QUANTILES_SKETCH(expr) directly "
                "(sketch columns only exist via COMPLEX ingestion)"
            )
        x = m.group(1)
        if name == "DS_GET_QUANTILE":
            return f"CAST(percentile_approx({x}, {args[1]}) AS DOUBLE)"
        if name == "DS_GET_QUANTILES":
            probs = a(args[1:])
            return (
                f"CAST(percentile_approx({x}, array({probs})) "
                "AS ARRAY<DOUBLE>)"
            )
        cnt = f"count({x})"
        if name == "DS_RANK":
            # normalized rank: fraction of the mass strictly below v
            return (
                f"(CAST(count_if(({x}) < ({args[1]})) AS DOUBLE) "
                f"/ {cnt})"
            )
        splits = [s.strip() for s in args[1:]]
        if not splits:
            raise ValueError(f"{name} takes at least one split point")
        buckets = []
        for i, s in enumerate(splits):
            lo = None if i == 0 else splits[i - 1]
            cond = f"({x}) < ({s})" if lo is None else (
                f"({x}) >= ({lo}) AND ({x}) < ({s})"
            )
            buckets.append(f"count_if({cond})")
        buckets.append(f"count_if(({x}) >= ({splits[-1]}))")
        if name == "DS_HISTOGRAM":
            counts = ", ".join(
                f"CAST({b} AS DOUBLE)" for b in buckets
            )
            return f"array({counts})"
        fracs = ", ".join(
            f"(CAST({b} AS DOUBLE) / {cnt})" for b in buckets
        )
        return f"array({fracs})"
    if name == "BLOOM_FILTER":
        # Druid's bloom-filter extension aggregator (sql-aggregations
        # .md): BLOOM_FILTER(expr, numEntries) -> a filter value. Lands
        # on the operators/bloom.py machinery as pure SQL text: 3
        # md5-derived bit positions per key over m 60-bit words, the
        # struct ('m' total_bits, 'words' ARRAY<BIGINT>). Sized at 10
        # bits/entry (fpp ~1.7% at depth 3, comparable to Druid's 0.05
        # default). NULL keys contribute no bits (divergence: Druid's
        # BloomKFilter tracks null separately; TEST(NULL, f) is false
        # here). Fold cost is bounded by array_distinct: <= total_bits
        # iterations regardless of build cardinality; the broadcast
        # operator form (operators/bloom.py) is the heavy-build path.
        if len(args) != 2:
            raise ValueError(
                f"BLOOM_FILTER takes 2 arguments, got {len(args)}"
            )
        n = args[1].strip()
        if not n.isdigit():
            raise ValueError(
                f"BLOOM_FILTER numEntries must be an integer literal, "
                f"got {n!r}"
            )
        m_words = max(1, -(-int(n) * 10 // 60))  # ceil(n*10 / 60)
        total_bits = m_words * 60
        x = args[0]

        def bpos(j: int) -> str:
            return (
                f"(CAST(conv(substring(md5(concat('{j}:', "
                f"CAST(({x}) AS STRING))), 1, 15), 16, 10) AS BIGINT) "
                f"% {total_bits})"
            )

        positions = (
            f"CASE WHEN ({x}) IS NULL THEN array() "
            f"ELSE array({bpos(0)}, {bpos(1)}, {bpos(2)}) END"
        )
        zeros = f"transform(sequence(1, {m_words}), z -> CAST(0 AS BIGINT))"
        return (
            f"named_struct('m', {total_bits}, 'words', "
            f"aggregate(array_distinct(flatten(collect_list({positions}))), "
            f"{zeros}, (acc, p) -> transform(acc, (w, i) -> "
            f"IF(i = CAST(p div 60 AS INT), "
            f"w | shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT)), w))))"
        )
    if name == "BLOOM_FILTER_TEST":
        # (expr, filter) -> BOOLEAN: true iff all 3 bit positions are
        # set (may-contain; no false negatives by construction). The
        # filter argument is a BLOOM_FILTER expression — typically a
        # scalar subquery, which Spark forbids inside higher-order
        # functions, so NO transform wrapper here: the argument text
        # repeats instead (deterministic expressions; Catalyst's
        # ReuseSubquery evaluates identical scalar subqueries once).
        if len(args) != 2:
            raise ValueError(
                f"BLOOM_FILTER_TEST takes 2 arguments, got {len(args)}"
            )
        x, flt = args[0], args[1]
        # the filter text expands six times (two per probe), so it
        # MUST be deterministic — a random-valued filter would answer
        # inconsistent bit tests. Part of the raised-error contract
        # (ADVICE r11), not just a comment: reject the known
        # non-deterministic generators by name.
        nondet = re.search(
            r"(?i)\b(rand|randn|random|uuid|shuffle|"
            r"monotonically_increasing_id)\s*\(",
            flt,
        )
        if nondet:
            raise ValueError(
                "BLOOM_FILTER_TEST filter argument must be "
                f"deterministic (its text expands into six bit "
                f"probes); {nondet.group(1)}(...) is not — build the "
                "filter in a scalar subquery/CTE instead"
            )

        def thash(j: int) -> str:
            return (
                f"(CAST(conv(substring(md5(concat('{j}:', "
                f"CAST(({x}) AS STRING))), 1, 15), 16, 10) AS BIGINT) "
                f"% ({flt}).m)"
            )

        def tbit(j: int) -> str:
            h = thash(j)
            return (
                f"(element_at(({flt}).words, CAST({h} div 60 AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT), CAST({h} % 60 AS INT)))"
                " != 0"
            )

        return (
            f"(({x}) IS NOT NULL AND {tbit(0)} AND {tbit(1)} "
            f"AND {tbit(2)})"
        )
    if name == "IPV6_MATCH":
        # (addr, subnet-literal) -> BOOLEAN (sql-scalar.md, the v6
        # partner of the IPV4_* trio). The subnet must be a string
        # literal (Druid's requirement too): it parses HERE with
        # stdlib ipaddress into 16-bit group constants, so the SQL
        # side only has to expand the runtime address — '::'
        # decompression, hex groups, 16-bit int compare per prefix
        # group plus one shifted compare for a mid-group prefix. No
        # 64/128-bit arithmetic anywhere (group ints <= 65535), so
        # engines can't disagree on overflow. NULL address -> NULL;
        # anything unparsable (wrong group count, bad hex, multiple
        # '::', embedded IPv4 dotted tail) -> FALSE, loud nothing.
        import ipaddress

        if len(args) != 2:
            raise ValueError(
                f"IPV6_MATCH takes 2 arguments, got {len(args)}"
            )
        m = re.fullmatch(r"\s*'([^']*)'\s*", args[1])
        if not m:
            raise ValueError(
                "IPV6_MATCH subnet must be a string literal"
            )
        try:
            net = ipaddress.IPv6Network(m.group(1), strict=False)
        except ValueError as exc:
            raise ValueError(f"invalid IPv6 subnet: {exc}") from exc
        packed = net.network_address.packed
        grp = [
            (packed[i] << 8) | packed[i + 1] for i in range(0, 16, 2)
        ]
        nfull, rem = net.prefixlen // 16, net.prefixlen % 16
        gi = (
            lambda i: f"CAST(conv(element_at(g, {i + 1}), 16, 10) AS INT)"
        )
        checks = [f"{gi(i)} = {grp[i]}" for i in range(nfull)]
        if rem:
            checks.append(
                f"({gi(nfull)} div {1 << (16 - rem)}) = "
                f"{grp[nfull] >> (16 - rem)}"
            )
        match = " AND ".join(checks) if checks else "true"
        lft = "filter(split(element_at(split(s, '::'), 1), ':'), x -> x != '')"
        rgt = "filter(split(element_at(split(s, '::'), 2), ':'), x -> x != '')"
        pad = (
            f"CASE WHEN 8 - size({lft}) - size({rgt}) <= 0 THEN "
            f"CAST(array() AS ARRAY<STRING>) ELSE "
            f"transform(sequence(1, 8 - size({lft}) - size({rgt})), "
            f"i -> '0') END"
        )
        expand = (
            f"CASE WHEN instr(s, '::') > 0 "
            f"THEN concat({lft}, {pad}, {rgt}) ELSE split(s, ':') END"
        )
        # raw-form validation BEFORE expansion: a compressed address
        # must match hex-groups '::' hex-groups with at most 7 explicit
        # groups ('::' covers >= 1, RFC 4291 — the rule stdlib
        # ipaddress enforces on the subnet side); a full address is
        # exactly 8 colon-separated groups. This rejects ':::1' and
        # '1:2:3:4:5:6:7::8', which the filter/pad expansion alone
        # would silently normalize into 8 valid groups.
        hexg = "[0-9A-Fa-f]{1,4}"
        comp_re = f"^({hexg}(:{hexg})*)?::({hexg}(:{hexg})*)?$"
        full_re = f"^{hexg}(:{hexg}){{7}}$"
        to_groups = (
            f"transform(array({args[0]}), s -> CASE "
            f"WHEN s IS NULL THEN NULL "
            f"WHEN instr(s, '.') > 0 THEN array('bad') "
            f"WHEN instr(s, '::') > 0 AND (NOT s rlike '{comp_re}' "
            f"OR size({lft}) + size({rgt}) > 7) THEN array('bad') "
            f"WHEN instr(s, '::') = 0 AND NOT s rlike '{full_re}' "
            f"THEN array('bad') ELSE {expand} END)"
        )
        return (
            f"element_at(transform({to_groups}, g -> CASE "
            f"WHEN g IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN size(g) != 8 OR NOT forall(g, "
            f"x -> x rlike '^[0-9A-Fa-f]{{1,4}}$') THEN false "
            f"ELSE {match} END), 1)"
        )
    if name == "DS_HLL":
        return f"hll_sketch_agg({a(args[:2])})"
    if name == "HLL_SKETCH_ESTIMATE":
        # (expr[, round]) in Druid; Spark's estimate is already
        # integral, so the optional round flag is satisfied either way
        return f"CAST(hll_sketch_estimate({args[0]}) AS DOUBLE)"
    if name == "HLL_SKETCH_UNION":
        # ([lgK, ]expr0, expr1, ...) in Druid. Spark's hll_union is
        # BINARY (two sketches [+ a boolean]), so: drop a leading
        # integer-literal lgK (the union inherits the inputs' config)
        # and left-fold 3+ sketches into nested two-way unions.
        sks = args[1:] if args and args[0].strip().isdigit() else args
        out = sks[0]
        for s in sks[1:]:
            out = f"hll_union({out}, {s})"
        return out
    if name == "REGEXP_EXTRACT":
        # Druid's 2-arg form returns the WHOLE match (group 0); Spark's
        # builtin defaults to group 1 — and ERRORS outright on a
        # groupless pattern — so the Druid default is made explicit.
        # Druid also returns NULL on no match where Spark returns '',
        # hence the nullif wrapper (known edge: a pattern that MATCHES
        # the empty string also nulls out — indistinguishable from
        # no-match once Spark has collapsed both to ''). The 3-arg
        # form keeps its group index: both engines number capture
        # groups identically with 0 = full match. (Divergence note: a
        # caller writing Spark-style regexp_extract(s, p) through a
        # Druid endpoint gets Druid's full-match default — these are
        # Druid surfaces, so Druid semantics win.) A 4th argument is
        # invalid in Druid and rejected rather than silently dropped.
        if len(args) not in (2, 3):
            raise ValueError(
                f"REGEXP_EXTRACT takes 2 or 3 arguments, got {len(args)}"
            )
        grp = args[2] if len(args) == 3 else "0"
        return f"nullif(regexp_extract({args[0]}, {args[1]}, {grp}), '')"
    if name in ("TIME_FLOOR", "TIME_CEIL"):
        # the scalar UDFs serve the 2-arg forms; the rewrite adds
        # Druid's origin/timezone arguments (sql-scalar.md):
        # TIME_FLOOR(ts, period[, origin[, timezone]]). A string-
        # literal period parses Python-side: calendar periods render an
        # origin-anchored MONTH grid (months_between arithmetic, the
        # Column helper's math), durations an epoch-arithmetic grid.
        # A non-literal period keeps the DDBS_PERIOD_MS duration path
        # (calendar periods stay loud there — the grain cannot be
        # known at rewrite time). timezone floors in that zone's
        # wall-clock chronology via from/to_utc_timestamp; the origin
        # is an INSTANT (Druid PeriodGranularity semantics), so it
        # shifts into the zone's wall clock the same way the data does.
        if len(args) <= 2:
            return f"{name}({a(args)})"
        if len(args) > 4:
            raise ValueError(f"{name} takes 2 to 4 arguments")
        ts0, period = args[0], args[1]
        tz = args[3] if len(args) == 4 else None
        org = args[2]
        null_org = org.strip().upper() == "NULL"
        months = 0
        lit_m = re.fullmatch(r"\s*'([^']+)'\s*", period)
        if lit_m:
            # validate eagerly and pick the grid shape; an invalid
            # literal period fails at REWRITE time, not mid-query
            months, p_millis = parse_period(lit_m.group(1))
            p_ms = str(p_millis)
        else:
            p_ms = f"DDBS_PERIOD_MS({period})"
        tsw = f"from_utc_timestamp({ts0}, {tz})" if tz else ts0
        if null_org:
            fw = f"TIME_FLOOR({tsw}, {period})"
        else:
            o = f"CAST({org} AS TIMESTAMP)"
            if tz:
                o = f"from_utc_timestamp({o}, {tz})"
            if months:
                # origin-anchored calendar grid: boundary k = origin +
                # k*months (preserves origin's day-of-month and
                # time-of-day); months_between can overshoot when the
                # row shares origin's day-of-month but sits earlier in
                # the day, hence the step-back CASE
                n = (
                    f"CAST(floor(months_between({tsw}, {o}) / {months}) "
                    f"AS INT) * {months}"
                )
                cand = f"{o} + make_interval(0, {n})"
                fw = (
                    f"CASE WHEN {cand} <= {tsw} THEN {cand} "
                    f"ELSE {o} + make_interval(0, ({n}) - {months}) END"
                )
            else:
                fw = (
                    f"timestamp_millis(unix_millis({o}) + CAST(floor("
                    f"(unix_millis({tsw}) - unix_millis({o})) / {p_ms}) "
                    f"AS BIGINT) * {p_ms})"
                )
        fl = f"to_utc_timestamp({fw}, {tz})" if tz else fw
        if name == "TIME_FLOOR":
            return fl
        if months:
            nxt_w = f"({fw}) + make_interval(0, {months})"
        elif null_org and not lit_m:
            # grain unknown at render time (non-literal period):
            # TIME_SHIFT dispatches calendar vs duration at runtime
            nxt_w = f"TIME_SHIFT({fw}, {period}, 1)"
        else:
            nxt_w = f"timestamp_millis(unix_millis({fw}) + {p_ms})"
        nxt = f"to_utc_timestamp({nxt_w}, {tz})" if tz else nxt_w
        return f"CASE WHEN {fl} = {ts0} THEN {ts0} ELSE {nxt} END"
    if name in ("TRUNCATE", "TRUNC"):
        # Druid's numeric truncate-toward-zero (sql-scalar.md):
        # TRUNCATE(x[, digits]); TRUNC is its alias. (Lowercase trunc
        # stays Spark's date truncation — see the skip list.)
        if len(args) not in (1, 2):
            raise ValueError(f"{name} takes 1 or 2 arguments")
        x = args[0]
        d = args[1] if len(args) == 2 else "0"
        fac = f"power(10, ({d}))"
        return (
            f"CASE WHEN ({x}) >= 0 THEN floor(({x}) * {fac}) / {fac} "
            f"ELSE ceil(({x}) * {fac}) / {fac} END"
        )
    if name == "PARSE_LONG":
        # PARSE_LONG(s[, radix]) -> BIGINT or NULL on unparsable input
        # (SQL-compatible mode). Radix-10 is a plain TRY_CAST; other
        # radixes ride conv() (which reads negative values as their
        # unsigned two's-complement form — documented divergence for
        # negative non-decimal inputs, which Druid itself rejects).
        if len(args) == 1 or args[-1].strip() == "10":
            return f"TRY_CAST({args[0]} AS BIGINT)"
        if len(args) != 2:
            raise ValueError("PARSE_LONG takes 1 or 2 arguments")
        return (
            f"TRY_CAST(conv({args[0]}, {args[1]}, 10) AS BIGINT)"
        )
    if name.startswith("HUMAN_READABLE_"):
        # arity normalization only: the scalar UDFs are 2-arg
        # (value, precision); Druid's 1-arg form defaults precision 2
        if len(args) == 1:
            return f"{name}({args[0]}, 2)"
        return f"{name}({a(args[:2])})"
    if name in ("LATEST", "EARLIEST", "LATEST_BY", "EARLIEST_BY"):
        # Druid's time-ordered value aggregates (sql-aggregations.md)
        # as SQL text: LATEST(expr[, maxBytes]) reads the row with the
        # max __time (the implicit Druid time column — a table without
        # one errors loudly); LATEST_BY(expr, ts[, maxBytes]) names the
        # ordering column. maxBytes is a storage knob with no Spark
        # twin and is dropped. Spark's max_by/min_by are the exact
        # semantics (ties engine-undefined in both).
        fn2 = "max_by" if name.startswith("LATEST") else "min_by"
        if name.endswith("_BY"):
            if len(args) < 2:
                raise ValueError(f"{name} takes (expr, timeColumn)")
            return f"{fn2}({args[0]}, {args[1]})"
        return f"{fn2}({args[0]}, __time)"
    if name == "ARRAY_CONCAT_AGG":
        # (expr[, maxBytes]) — concatenate arrays across rows; order
        # undefined in Druid too
        return f"flatten(collect_list({args[0]}))"
    if name == "STRING_FORMAT":
        return f"format_string({a(args)})"
    if name == "SCALAR_IN_ARRAY":
        # Druid 30 (sql-array-functions.md): SCALAR_IN_ARRAY(expr, arr)
        # — argument-swapped array_contains, rewritten (not a scalar
        # UDF) so it stays type-generic. NULL expr or NULL array answer
        # NULL in both engines.
        if len(args) != 2:
            raise ValueError(
                f"SCALAR_IN_ARRAY takes 2 arguments, got {len(args)}"
            )
        return f"array_contains({args[1]}, {args[0]})"
    if name == "ARRAY_LENGTH":
        return f"size({args[0]})"
    if name == "ARRAY_OVERLAP":
        return f"arrays_overlap({a(args[:2])})"
    if name == "ARRAY_CONCAT":
        return f"concat({a(args)})"
    if name == "ARRAY_TO_STRING":
        return f"array_join({a(args[:2])})"
    if name == "STRING_TO_ARRAY":
        # Druid's delimiter IS a regex (sql-array-functions.md), and so
        # is Spark split's — a literal-separator caller wants
        # STRING_TO_MV (\\Q-quoted) instead
        return f"split({a(args[:2])})"
    if name == "ARRAY_OFFSET":
        # 0-indexed; negative/overflow answer NULL (never Spark's
        # from-the-end negative indexing)
        return (
            f"CASE WHEN ({args[1]}) >= 0 "
            f"THEN try_element_at({args[0]}, ({args[1]}) + 1) END"
        )
    if name == "ARRAY_ORDINAL":
        return (
            f"CASE WHEN ({args[1]}) >= 1 "
            f"THEN try_element_at({args[0]}, {args[1]}) END"
        )
    if name == "ARRAY_SLICE":
        # Druid: 0-indexed [start, end); a bad START (negative, past
        # the array, or > end) answers NULL, while an end PAST the
        # array pads the result with nulls (Arrays.copyOfRange
        # semantics). Spark's slice is 1-indexed with a length
        # argument and ERRORS on a negative start/length, so the
        # start guard must wrap it; the null pad is built type-
        # generically via try_element_at past the end (NULL of the
        # element type).
        arr, s = args[0], args[1]
        if len(args) == 3:
            e = args[2]
            return (
                f"CASE WHEN ({s}) >= 0 AND ({e}) >= ({s}) "
                f"AND ({s}) <= size({arr}) THEN concat("
                f"slice({arr}, ({s}) + 1, "
                f"least(({e}), size({arr})) - ({s})), "
                f"CASE WHEN ({e}) > size({arr}) "
                f"THEN transform(sequence(1, ({e}) - size({arr})), "
                f"x -> try_element_at({arr}, size({arr}) + 1)) "
                f"ELSE slice({arr}, 1, 0) END) END"
            )
        return (
            f"CASE WHEN ({s}) >= 0 AND ({s}) <= size({arr}) "
            f"THEN slice({arr}, ({s}) + 1, "
            f"greatest(size({arr}) - ({s}), 0)) END"
        )
    if name == "JSON_OBJECT":
        # Druid/Calcite KEY k VALUE v pairs (nested-columns.md); plain
        # k, v pairs are accepted too. All-literal keys render as
        # to_json(named_struct(...)) — value types preserved in the
        # JSON (numbers stay numbers); an expression key falls back to
        # to_json(map(...)), whose values coerce to one common type
        # (documented subset — Druid allows mixed types there).
        kvs: list[str] = []
        for a0 in args:
            pm = re.match(r"(?is)^KEY\s+(.+?)\s+VALUE\s+(.+)$", a0.strip())
            if pm:
                kvs.extend([pm.group(1).strip(), pm.group(2).strip()])
            else:
                kvs.append(a0.strip())
        if len(kvs) % 2:
            raise ValueError("JSON_OBJECT takes KEY/VALUE pairs")
        if not kvs:
            return "to_json(map())"
        keys_literal = all(
            re.fullmatch(r"'(?:[^']|'')*'", k) for k in kvs[0::2]
        )
        fn = "named_struct" if keys_literal else "map"
        return f"to_json({fn}({a(kvs)}))"
    if name == "JSON_VALUE":
        # the scalar UDF serves the 2-arg form; the SQL-standard
        # RETURNING clause (nested-columns.md) peels into a CAST.
        # Re-emitting the plain form verbatim keeps the pass
        # idempotent (the scan resumes after rendered text).
        if len(args) == 2:
            rm = re.match(
                r"(?is)^(.+?)\s+RETURNING\s+([A-Z][A-Z0-9_<>,() ]*)$",
                args[1].strip(),
            )
            if rm:
                typ = rm.group(2).strip().upper()
                typ = {"VARCHAR": "STRING", "CHAR": "STRING"}.get(typ, typ)
                return (
                    f"CAST(JSON_VALUE({args[0]}, {rm.group(1).strip()})"
                    f" AS {typ})"
                )
        return f"JSON_VALUE({a(args)})"
    if name == "STRING_AGG":
        # Druid STRING_AGG(expr, separator[, maxSize]) -> Spark 4's
        # listagg (same null-skipping, same nondeterministic order
        # absent WITHIN GROUP). Druid casts any input type to string;
        # Spark's listagg rejects non-STRING input, so the cast is
        # explicit (DISTINCT prefixes hoist above it). The optional
        # byte-cap maxSize is a resource knob with no Spark twin and
        # is dropped; more than 3 arguments is invalid in Druid and
        # rejected.
        if len(args) not in (2, 3):
            raise ValueError(
                f"STRING_AGG takes 2 or 3 arguments, got {len(args)}"
            )
        expr, dist = args[0], ""
        m = re.match(r"(?is)^DISTINCT\s+", expr)
        if m:
            dist, expr = "DISTINCT ", expr[m.end():]
        return f"listagg({dist}CAST({expr} AS STRING), {args[1]})"
    raise AssertionError(name)


# DataSketches aggregates plus the two Druid names whose Spark twin
# needs ARG-FORM normalization rather than a scalar UDF: REGEXP_EXTRACT
# (Druid defaults to the full match, Spark to group 1) and STRING_AGG
# (Spark spells it listagg). Scalar names with identical semantics
# register as SQL functions instead (_SQL_FUNCTIONS).
_DS_NAMES = (
    "APPROX_COUNT_DISTINCT_DS_HLL", "APPROX_COUNT_DISTINCT_DS_THETA",
    "APPROX_QUANTILE_DS",
    "APPROX_QUANTILE", "HLL_SKETCH_ESTIMATE", "HLL_SKETCH_UNION",
    "DS_HLL", "REGEXP_EXTRACT", "STRING_AGG",
    # theta set algebra (r10): ESTIMATE/UNION/INTERSECT/NOT render the
    # kmv struct machinery; DS_THETA listed after the longer names
    "THETA_SKETCH_ESTIMATE", "THETA_SKETCH_UNION",
    "THETA_SKETCH_INTERSECT", "THETA_SKETCH_NOT", "DS_THETA",
    # quantiles family (r10): the _SKETCH marker + its consumers;
    # GET_QUANTILES before GET_QUANTILE so the alternation takes the
    # longest name
    "DS_QUANTILES_SKETCH", "DS_GET_QUANTILES", "DS_GET_QUANTILE",
    "DS_HISTOGRAM", "DS_RANK", "DS_CDF",
    # numeric truncate + radix parse (r10); TRUNCATE before TRUNC for
    # longest-name alternation
    "TRUNCATE", "TRUNC", "PARSE_LONG",
    # t-digest pair (r10): marker + consumer, like the DS quantiles
    "TDIGEST_GENERATE_SKETCH", "TDIGEST_QUANTILE",
    # bloom-filter extension pair (r11): TEST before the prefix name
    "BLOOM_FILTER_TEST", "BLOOM_FILTER",
    # IPv6 partner of the IPV4_* trio (r11); subnet parses at rewrite
    # time, so this is a rewrite name, not a scalar UDF
    "IPV6_MATCH",
    "JSON_OBJECT", "JSON_VALUE",
    # time-ordered value aggregates + array/name-swap family (r9):
    # _BY and _AGG spellings listed before their prefixes so the
    # alternation matches the longest name
    "LATEST_BY", "EARLIEST_BY", "LATEST", "EARLIEST",
    # r12 audit: type-generic argument-swap onto array_contains
    "SCALAR_IN_ARRAY",
    "ARRAY_CONCAT_AGG", "ARRAY_CONCAT", "ARRAY_LENGTH", "ARRAY_OVERLAP",
    "ARRAY_TO_STRING", "STRING_TO_ARRAY", "ARRAY_OFFSET", "ARRAY_ORDINAL",
    "ARRAY_SLICE", "STRING_FORMAT",
    # origin/timezone argument forms + 1-arg arity normalization
    "TIME_FLOOR", "TIME_CEIL",
    "HUMAN_READABLE_BINARY_BYTE_FORMAT",
    "HUMAN_READABLE_DECIMAL_BYTE_FORMAT",
    "HUMAN_READABLE_DECIMAL_FORMAT",
)
_DS_CALL_RE = re.compile(
    r"\b(" + "|".join(_DS_NAMES) + r")\s*\(", re.IGNORECASE
)


def _sql_code_mask(sql: str) -> list[bool]:
    """``mask[i]`` is True where ``sql[i]`` is CODE — not inside a
    string literal (``''``- and backslash-escape aware; Spark's default
    parser honors backslash escapes), a double-quoted identifier, a
    ``--`` line comment, or a ``/* */`` block comment. Naive
    quote-parity counting breaks on an apostrophe inside a comment
    (``/* don't */``), which would silently skip every later rewrite."""
    n = len(sql)
    mask = [True] * n
    i = 0
    while i < n:
        c = sql[i]
        if c in ("'", '"'):
            q = c
            mask[i] = False
            i += 1
            while i < n:
                mask[i] = False
                if sql[i] == "\\" and i + 1 < n:
                    mask[i + 1] = False
                    i += 2
                    continue
                if sql[i] == q:
                    if q == "'" and i + 1 < n and sql[i + 1] == "'":
                        mask[i + 1] = False
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j == -1 else j
            for k in range(i, j):
                mask[k] = False
            i = j
            continue
        if c == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            for k in range(i, j):
                mask[k] = False
            i = j
            continue
        i += 1
    return mask


_UNNEST_RE = re.compile(r"(?i)\bUNNEST\s*\(")
_UNNEST_ALIAS_RE = re.compile(
    r"(?is)^\s*AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*\)"
)
_UNNEST_ON_TRUE_RE = re.compile(r"(?is)^\s*ON\s+TRUE\b")


def rewrite_unnest_sql(sql: str) -> str:
    """Rewrite Druid SQL's UNNEST table function (sql.md, Druid 26+) to
    Spark's LATERAL VIEW explode:

      FROM t, UNNEST(expr) AS u(c)           -> LATERAL VIEW explode
      FROM t CROSS JOIN UNNEST(expr) AS u(c) -> LATERAL VIEW explode
      FROM t LEFT JOIN UNNEST(expr) AS u(c) ON TRUE
                                             -> LATERAL VIEW OUTER ...

    (LEFT JOIN ... ON TRUE is Druid's keep-rows-with-empty-arrays form
    — exactly LATERAL VIEW OUTER's null-element semantics.) The
    preceding comma / CROSS JOIN / LEFT JOIN is consumed; Druid-quoted
    identifiers inside the unnested expression swap to backticks. Code
    mask keeps literals/comments untouched; the rendered text never
    re-matches (idempotent)."""
    while True:
        mask = _sql_code_mask(sql)
        m = next(
            (c for c in _UNNEST_RE.finditer(sql) if mask[c.start()]), None
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            raise ValueError("unbalanced parens in UNNEST(...)")
        expr = re.sub(r'"([^"]+)"', r"`\1`", sql[m.end():i - 1])
        am = _UNNEST_ALIAS_RE.match(sql[i:])
        if not am:
            raise ValueError(
                "UNNEST(...) needs AS alias(column) (Druid sql.md)"
            )
        alias, col = am.group(1), am.group(2)
        end = i + am.end()
        # what joins the unnest to its left input?
        head = sql[:m.start()]
        outer = False
        hm = re.search(r"(?is)(,|\bCROSS\s+JOIN|\bLEFT\s+JOIN)\s*$", head)
        if hm is None:
            raise ValueError(
                "UNNEST(...) must follow ',', CROSS JOIN, or "
                "LEFT JOIN ... ON TRUE (Druid sql.md)"
            )
        if hm.group(1).strip().upper().startswith("LEFT"):
            om = _UNNEST_ON_TRUE_RE.match(sql[end:])
            if not om:
                raise ValueError(
                    "LEFT JOIN UNNEST(...) requires ON TRUE"
                )
            end += om.end()
            outer = True
        lv = "LATERAL VIEW OUTER" if outer else "LATERAL VIEW"
        sql = (
            head[:hm.start()]
            + f" {lv} explode({expr}) {alias} AS {col} "
            + sql[end:]
        )


def rewrite_datasketches_sql(sql: str) -> str:
    """Rewrite Druid DataSketches SQL calls onto Spark builtins —
    single left-to-right pass; replacements are final (arguments are
    rewritten recursively BEFORE rendering, and the scan resumes after
    the rendered text so the lowercase Spark names it emits are never
    re-matched). Matches and parens inside string literals, quoted
    identifiers, and comments are ignored via a code mask."""
    mask = _sql_code_mask(sql)
    out: list[str] = []
    pos = 0
    while True:
        m = None
        for cand in _DS_CALL_RE.finditer(sql, pos):
            # exact-lowercase spellings that ALSO exist as Spark
            # builtins are left alone — they already mean the Spark
            # function (lowercase regexp_extract keeps Spark's
            # group-1 default, lowercase string_agg keeps Spark's
            # listagg-alias forms incl. 1-arg and WITHIN GROUP, by
            # the same rule), and skipping them makes the rewrite
            # IDEMPOTENT (rendered output — CASTs, nullif wrappers —
            # never re-matches; fuzz-pinned)
            if cand.group(1) in ("hll_sketch_estimate",
                                 "regexp_extract", "string_agg",
                                 "trunc"):
                # lowercase trunc stays Spark's DATE truncation — only
                # the Druid spellings mean numeric truncate-toward-zero
                continue
            if mask[cand.start()]:
                m = cand
                break
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        # balanced-paren scan for the closing paren (code chars only)
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:  # unbalanced: leave for Spark's parser to error on
            out.append(sql[pos:])
            return "".join(out)
        inner = rewrite_datasketches_sql(sql[m.end():i - 1])
        out.append(sql[pos:m.start()])
        out.append(_ds_render(m.group(1).upper(), _ds_split_args(inner)))
        pos = i


def register_druid_sql_functions(spark: SparkSession) -> None:
    """Register the Druid SQL surface as temporary SQL functions.

    Idempotent (CREATE OR REPLACE). After this, Druid SQL text runs via
    ``spark.sql`` directly — the analog of the reference registering its
    table and handing SQL to the engine (src/main.rs:189-191)."""
    for name, args, ret, body in _SQL_FUNCTIONS:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )


def _sql_str(s: str) -> str:
    """A Spark SQL string literal: backslashes doubled BEFORE quotes
    are escaped (the default parser processes backslash escapes, so an
    unescaped backslash would corrupt the key — 'C:\\tmp' becoming a
    TAB — or swallow the closing quote)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def register_sql_lookups(
    spark: SparkSession, lookups: Mapping[str, Mapping[str, str]]
) -> None:
    """Register Druid SQL's ``LOOKUP(expr, 'name')`` over a set of named
    dictionaries.

    Each mapping becomes a map literal inside ONE name-dispatching SQL
    function, so Catalyst constant-folds the dispatch when the name is a
    literal (the only form Druid allows) and the plan stays
    codegen-friendly — the SQL-text twin of :func:`lookup`, sized for
    Druid lookup tables (heap-resident dictionaries, not dimension
    tables). Unmapped keys return NULL, matching Druid; an unknown
    lookup name raises, matching Druid's "Unknown lookup" error.
    """
    arms = []
    for name, mapping in lookups.items():
        pairs = ", ".join(
            f"{_sql_str(k)}, {_sql_str(v)}" for k, v in mapping.items()
        )
        arms.append(
            f"WHEN {_sql_str(name)} THEN try_element_at(map({pairs}), k)"
        )
    unknown = (
        "CAST(raise_error(concat('unknown lookup: ', name)) AS STRING)"
    )
    # zero lookups: a bare CASE with no WHEN arm is unparsable — the
    # function then raises on ANY name, which is the right semantics
    body = (
        f"CASE name {' '.join(arms)} ELSE {unknown} END"
        if arms
        else unknown
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION LOOKUP"
        f"(k STRING, name STRING) RETURNS STRING RETURN {body}"
    )

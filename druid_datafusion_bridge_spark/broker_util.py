"""Broker-shim shared utilities: SQL-text helpers, the Druid wire
renderers (envelopes/type names), the ``max_rows`` gate, the
sys.segments frame builder, the result cache, segment-state digests,
native dataSource tree walkers, and the query-lifecycle exceptions —
pure functions and state holders the coordinator/overlord/HTTP handler
modules share without importing the server class."""

from __future__ import annotations

import json
import re
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession

try:
    from pyspark.errors import AnalysisException

    _ANALYSIS_ERRORS: tuple = (AnalysisException,)
except ImportError:  # pragma: no cover - very old pyspark
    _ANALYSIS_ERRORS = ()


_EXPLAIN_RE = re.compile(r"\s*EXPLAIN\s+PLAN\s+FOR\s+", re.I)


def _word_in_sql(name: str, sql: str) -> bool:
    """Best-effort table-reference detection for EXPLAIN's RESOURCES:
    a word match outside string literals. Aliases shadowing a table
    name can still false-positive — acceptable for an advisory field."""
    outside = _SQL_LITERAL_RE.sub(" ", sql)
    return re.search(rf"\b{re.escape(name)}\b", outside, re.I) is not None


def _druid_types(dt) -> tuple[str, str]:
    """Spark DataType -> (Druid column type, SQL type) for the
    typesHeader/sqlTypesHeader rows (sql-data-types.md)."""
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "LONG", "BIGINT"
    if s == "boolean":
        return "LONG", "BOOLEAN"
    if s == "float":
        return "FLOAT", "FLOAT"
    if s == "double" or s.startswith("decimal"):
        return "DOUBLE", "DOUBLE"
    if s.startswith("timestamp"):
        return "LONG", "TIMESTAMP"
    if s == "date":
        return "STRING", "DATE"
    if s == "string":
        return "STRING", "VARCHAR"
    if s.startswith("array"):
        return "ARRAY", "ARRAY"
    return "COMPLEX", "OTHER"


def sys_segments_frame(
    spark: SparkSession,
    segment_roots: dict[str, str],
    unused: dict[str, frozenset[str]] | None = None,
) -> DataFrame:
    """Druid's ``sys.segments`` metadata table over segment roots.

    Built from each root's timeline (``segment_timeline`` — one
    manifest read per root on the warm path, no segment decode; sizes
    are the manifest's). Served columns are the subset of Druid's
    sys.segments (sql-metadata-tables.md) this architecture has
    truthful values for: all segments here are published and
    historical. ``unused`` maps datasource -> segment-dir basenames
    dropped by retention rules or markUnused: those stay published
    (kill is the permanent delete) but report ``is_available = 0``,
    like real Druid's unserved segments; overshadowing is worked out
    among the used segments, as for every other listing surface.
    """
    import os

    from .cli import _format_millis as iso
    from .sources.datasource import (
        OVERSHADOWED,
        SERVED,
        segment_timeline,
        segment_version_tag,
    )

    rows = []
    for ds, root in segment_roots.items():
        dropped = (unused or {}).get(ds) or frozenset()
        for s in segment_timeline(root, dropped):
            m = s.meta
            start, end = iso(m["start"]), iso(m["end"])
            base_name = os.path.basename(s.dir)
            available = 1 if s.state == SERVED else 0
            rows.append((
                f"{ds}_{start}_{end}_{base_name}",
                ds, start, end, m["size"], int(m["rows"]), 1,
                available,
                0, 1 if s.state == OVERSHADOWED else 0,
                # console-parity columns (sql-metadata-tables.md),
                # truthful for this single-historical engine: version
                # is the writer-name's version tag (dir basename for
                # untagged batch segments), sharding is dynamic
                # partition 0, and an available segment is served by
                # exactly the one historical
                segment_version_tag(base_name), 0, available, 1,
            ))
    return spark.createDataFrame(
        rows,
        "segment_id string, datasource string, start string, "
        "end string, size bigint, num_rows bigint, "
        "is_published int, is_available int, is_realtime int, "
        "is_overshadowed int, version string, partition_num int, "
        "num_replicas int, replication_factor int",
    )


# sys.* / INFORMATION_SCHEMA.* are qualified names Spark's temp
# views cannot carry; the SQL text is rewritten to registered flat
# views (documented shim)
_SYS_TABLE_RE = re.compile(
    r"\bsys\.(segments|tasks|datasources|supervisors"
    r"|server_segments|servers)\b",
    re.I,
)
_INFO_SCHEMA_RE = re.compile(
    r"\bINFORMATION_SCHEMA\.(TABLES|COLUMNS|SCHEMATA)\b", re.I
)
# single-quoted SQL string literals ('' = escaped quote) — system-table
# rewriting must not touch text inside them
_SQL_LITERAL_RE = re.compile(r"'(?:[^']|'')*'")

# Druid SQL-based ingestion statements (sql-ingestion.md), served by
# POST /druid/v2/sql/task: INSERT appends, REPLACE OVERWRITE ALL swaps
_INGEST_SQL_RE = re.compile(
    # select is GREEDY so the PARTITIONED BY clause binds to the LAST
    # occurrence (a string literal containing the phrase can't truncate
    # the SELECT); WITH-CTE ingestion (the form Druid's docs lead with)
    # is accepted alongside plain SELECT; ALL TIME is two words
    r"^\s*(?P<verb>INSERT|REPLACE)\s+INTO\s+\"?(?P<ds>[\w.\-]+)\"?\s+"
    r"(?P<overwrite>OVERWRITE\s+ALL\s+)?"
    r"(?P<select>(?:WITH|SELECT)\b.*)\s+"
    r"PARTITIONED\s+BY\s+(?P<grain>ALL\s+TIME|\w+|'[^']+')"
    r"(?:\s+CLUSTERED\s+BY\s+(?P<cluster>[^;]+?))?\s*;?\s*$",
    re.I | re.S,
)
# MSQ's external-input table function (sql-ingestion.md):
# TABLE(EXTERN('<inputSource json>', '<inputFormat json>',
# '<signature json>')) — rewritten to a registered temp view
_EXTERN_RE = re.compile(
    r"TABLE\s*\(\s*EXTERN\s*\(\s*"
    r"'(?P<src>(?:[^']|'')*)'\s*,\s*"
    r"'(?P<fmt>(?:[^']|'')*)'\s*,\s*"
    r"'(?P<sig>(?:[^']|'')*)'\s*\)\s*\)",
    re.I | re.S,
)

def _sub_outside_literals(sql: str, fn) -> str:
    """Apply ``fn(chunk) -> chunk`` to the parts of ``sql`` that are
    NOT inside single-quoted string literals."""
    out, pos = [], 0
    for m in _SQL_LITERAL_RE.finditer(sql):
        out.append(fn(sql[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(fn(sql[pos:]))
    return "".join(out)


def _bind_params(body: dict) -> list | None:
    """Druid SQL API ``parameters``: positional ?-placeholders carried
    as typed {"type", "value"} objects (or bare values) — unwrapped to
    the positional list Spark's parameterized SQL binds. The one
    unwrap for every broker SQL surface (sync, task, statements);
    Avatica's TypedValue lists arrive in a different wire shape and
    unwrap through avatica._typed_values."""
    params = body.get("parameters")
    if not params:
        return None
    return [p.get("value") if isinstance(p, dict) else p for p in params]


def _strip_sql_head(sql: str) -> str:
    """Drop leading whitespace, -- line comments, and /* */ block
    comments — enough to classify a statement's verb the way Calcite
    does (a commented or parenthesized SELECT is still a SELECT)."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            i += 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j + 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            break
    return sql[i:]


def _rewrite_system_tables(sql: str) -> str:
    """Druid-SQL-text front door: maps sys./INFORMATION_SCHEMA names
    onto the engine's views, the UNNEST table function onto LATERAL
    VIEW explode, AND the DataSketches SQL function names onto Spark's
    DataSketches builtins (every broker SQL path runs through here, so
    JDBC, async statements, and MSQ all get all three)."""
    from .functions.druid_sql import (
        rewrite_datasketches_sql,
        rewrite_unnest_sql,
    )

    def rw(chunk: str) -> str:
        chunk = _SYS_TABLE_RE.sub(
            lambda m: f"sys_{m.group(1).lower()}", chunk
        )
        return _INFO_SCHEMA_RE.sub(
            lambda m: f"information_schema_{m.group(1).lower()}", chunk
        )

    # unnest first: STRING_TO_ARRAY etc. inside the moved expression
    # still get the DataSketches-name pass afterward
    return rewrite_datasketches_sql(
        rewrite_unnest_sql(_sub_outside_literals(sql, rw))
    )


def _json_safe(v: Any) -> Any:
    """Recursive JSON coercion for collected Spark values: datetimes ->
    ISO strings (date/time have no sep argument), Decimals -> floats,
    bytes -> base64, arrays/maps/structs element-wise; anything else
    falls back to str() so a response can never die inside json.dumps
    after the handler's error envelope has been bypassed."""
    import base64
    import datetime
    import decimal

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep="T")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, tuple) and hasattr(v, "asDict"):  # nested Row
        return {k: _json_safe(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    return str(v)


def _collect_capped(df: DataFrame, limit: int) -> list:
    """The broker's one ``max_rows`` gate: collect ``df``'s rows, or
    raise when there are more than ``limit`` (Druid's resource-limit
    posture: all rows or an error, never a silently partial response
    — the broker is a serving endpoint, not an export path). Collects
    limit+1, so at most one extra row crosses the driver boundary.
    Every query surface collects through here."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise _ResourceLimitExceeded(
            f"result exceeds maxRows limit of {limit}; add a LIMIT or "
            f"raise the broker's max_rows"
        )
    return rows


def _native_envelope(spec: dict, rows: list[dict]) -> list[dict]:
    """Wrap flat result rows in Druid's per-queryType native response
    envelope (querying/timeseriesquery.md et al.): timeseries/groupBy
    rows carry {timestamp, result|event}, topN groups rows per time
    bucket, scan returns column-listed event batches, search/
    timeBoundary/dataSourceMetadata return single {timestamp, result}
    entries, segmentMetadata a merged column analysis. Rows arrive
    _json_safe'd (timestamps already ISO strings). For granularity
    'all' (no timestamp column) the bucket timestamp is the queried
    interval's start when intervals were given, else null."""
    qt = spec.get("queryType")
    ivs = spec.get("intervals")
    default_ts = (
        str(ivs[0]).split("/")[0] if isinstance(ivs, list) and ivs else None
    )

    def ts_of(r: dict) -> Any:
        return r.pop("timestamp", default_ts)

    if qt == "timeseries":
        return [{"timestamp": ts_of(r), "result": r} for r in rows]
    if qt == "topN":
        out: list[dict] = []
        buckets: dict[Any, dict] = {}
        for r in rows:
            ts = ts_of(r)
            if ts not in buckets:
                buckets[ts] = {"timestamp": ts, "result": []}
                out.append(buckets[ts])
            buckets[ts]["result"].append(r)
        return out
    if qt == "groupBy":
        return [
            {"version": "v1", "timestamp": ts_of(r), "event": r}
            for r in rows
        ]
    if qt == "scan":
        if not rows:
            return []
        cols = spec.get("columns") or list(rows[0])
        events: Any = (
            [[r.get(c) for c in cols] for r in rows]
            if spec.get("resultFormat") == "compactedList"
            else rows
        )
        return [{"segmentId": None, "columns": cols, "events": events}]
    if qt == "search":
        return [{"timestamp": default_ts, "result": rows}]
    if qt in ("timeBoundary", "dataSourceMetadata"):
        if not rows:
            return []
        r = rows[0]
        ts = (
            r.get("minTime") or r.get("maxTime")
            or r.get("maxIngestedEventTime")
        )
        return [{"timestamp": ts, "result": r}]
    if qt == "segmentMetadata":
        if not rows:
            return []
        return [{
            "id": "merged",
            "numRows": rows[0].get("num_rows"),
            "columns": {
                r["column"]: {k: v for k, v in r.items() if k != "column"}
                for r in rows
            },
        }]
    return rows


class _ResultCache:
    """Whole-query result cache (Druid's broker result-level cache,
    using-caching.md): entries key on the query plus a DIGEST OF THE
    DATASOURCE'S SEGMENT STATE, so ingestion/compaction/handoff
    invalidate implicitly — the next lookup's digest differs and
    misses. LRU-bounded; thread-safe under the caller's lock."""

    def __init__(self, max_entries: int = 64):
        from collections import OrderedDict

        self.max_entries = max_entries
        self._d: "OrderedDict[tuple, Any]" = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key: tuple) -> Any | None:
        v = self._d.get(key)
        if v is None:
            self.misses += 1
            return None
        self._d.move_to_end(key)
        self.hits += 1
        return v

    def put(self, key: tuple, value: Any) -> None:
        self._d[key] = value
        self._d.move_to_end(key)
        while len(self._d) > self.max_entries:
            self._d.popitem(last=False)


def _segment_state_digest(root: str) -> str | None:
    """Identity of a segment root's current state: a digest of every
    segment's name and ``segment_identity`` — O(#segments) stats with
    zero segment opens. Any rewrite, handoff, or compaction swap
    changes it; None when a segment cannot be stat'ed."""
    import hashlib
    import os

    from .sources.datasource import find_segment_dirs, segment_identity

    try:
        idents = {
            os.path.basename(d): segment_identity(d)
            for d in find_segment_dirs(root)
        }
    except OSError:
        return None
    if None in idents.values():
        return None
    parts = sorted(f"{n}:{s}:{m}" for n, (s, m) in idents.items())
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _native_datasource_names(ds: Any) -> list[str] | None:
    """Every concrete table name a native dataSource tree references,
    or None if a form that cannot be resolved to names appears."""
    if isinstance(ds, str):
        return [ds]
    if isinstance(ds, dict):
        t = ds.get("type")
        if t == "table":
            return [ds["name"]] if isinstance(ds.get("name"), str) else None
        if t == "union":
            out: list[str] = []
            for child in ds.get("dataSources") or []:
                names = _native_datasource_names(child)
                if names is None:
                    return None
                out.extend(names)
            return out
        if t == "join":
            left = _native_datasource_names(ds.get("left"))
            right = _native_datasource_names(ds.get("right"))
            if left is None or right is None:
                return None
            return left + right
        if t == "query":
            inner = ds.get("query") or {}
            return _native_datasource_names(inner.get("dataSource"))
        if t == "unnest":
            return _native_datasource_names(ds.get("base"))
        if t == "lookup":
            return []  # lookups are broker state, not segment state
    return None


def _native_registered_lookup_names(node: Any) -> list[str]:
    """Every registeredLookup extractionFn name anywhere in a native
    query body — they join the result-cache key alongside the lookup
    DATASOURCE references (_native_lookup_names walks only the
    dataSource tree; an extractionFn can sit in dimensions, filters, or
    topN specs)."""
    out: list[str] = []
    if isinstance(node, dict):
        if node.get("type") == "registeredLookup" and isinstance(
            node.get("lookup"), str
        ):
            out.append(node["lookup"])
        for v in node.values():
            out.extend(_native_registered_lookup_names(v))
    elif isinstance(node, list):
        for v in node:
            out.extend(_native_registered_lookup_names(v))
    return out


def _native_lookup_names(ds: Any) -> list[str]:
    """Every lookup name a native dataSource tree references — their
    versions ride in the result-cache key so a lookup update
    invalidates cached joins against it (segment digests can't see
    broker lookup state move)."""
    if not isinstance(ds, dict):
        return []
    t = ds.get("type")
    if t == "lookup":
        name = ds.get("lookup") or ds.get("name")
        return [name] if isinstance(name, str) else []
    if t == "union":
        return [
            n for c in ds.get("dataSources") or []
            for n in _native_lookup_names(c)
        ]
    if t == "join":
        return (
            _native_lookup_names(ds.get("left"))
            + _native_lookup_names(ds.get("right"))
        )
    if t == "query":
        return _native_lookup_names((ds.get("query") or {}).get("dataSource"))
    if t == "unnest":
        return _native_lookup_names(ds.get("base"))
    return []


# SQL whose result can change without the data changing must never be
# served from cache (conservative token scan outside string literals)
_VOLATILE_SQL_RE = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|now|unix_timestamp|"
    r"monotonically_increasing_id|current_timestamp|current_date|"
    r"current_timezone|localtimestamp)\b",
    re.I,
)


class _QueryTimeout(Exception):
    """A query exceeded its context.timeout (HTTP 504, Druid's shape)."""


class _QueryCancelled(Exception):
    """A query was cancelled through DELETE /druid/v2/sql/{sqlQueryId}
    (Druid's QueryInterruptedException "Query cancelled" shape)."""


class _CapacityExceeded(Exception):
    """A query lane is at capacity (HTTP 429, Druid's
    QueryCapacityExceededException shape — query laning docs)."""


class _ResourceLimitExceeded(Exception):
    """A result exceeded the broker's max_rows (HTTP 400, Druid's
    Resource-limit-exceeded error shape)."""

"""A Druid-broker-compatible HTTP shim over the engine (stdlib only).

Druid clients talk to a broker over two endpoints (public Druid docs,
api-reference.md): ``POST /druid/v2`` with a native query JSON body and
``POST /druid/v2/sql`` with ``{"query": "..."}``. This module serves
both from a SparkSession, so existing client code — curl scripts,
dashboards, language SDKs pointed at a broker URL — runs against this
engine without modification:

- native bodies route through :func:`native_query` (the spec's
  ``dataSource`` resolves against the registered table map);
- SQL bodies run through ``spark.sql`` with the Druid dialect functions
  registered (TIME_FLOOR, LOOKUP, ...), over the same table names;
- native responses carry Druid's per-queryType result envelope
  (timeseries/groupBy ``{timestamp, result|event}`` entries, topN
  per-bucket result lists, scan event batches — see
  :func:`_native_envelope`); ``/druid/v2/sql`` serves every documented
  resultFormat — object (default), array, objectLines, arrayLines,
  csv — plus ``header`` and positional ``parameters``;
- errors return Druid's error envelope
  ``{"error", "errorMessage"}`` with HTTP 400/500, so client error
  handling keeps working; a result exceeding ``max_rows`` errors with
  Druid's Resource-limit shape instead of silently truncating;
- SQL can introspect ``sys.segments`` / ``sys.tasks`` /
  ``sys.datasources`` / ``sys.supervisors`` / ``sys.servers`` /
  ``sys.server_segments`` and
  ``INFORMATION_SCHEMA.TABLES/.COLUMNS`` (qualified names rewritten
  onto registered views); ``GET /druid/coordinator/v1/servers``
  (plain/``?simple``/``?full``) lists the segment-serving inventory;
- ``GET /status/health`` answers ``true`` (Druid's liveness probe);
  ``GET /druid/v2/datasources[/{name}]`` lists names / the
  dimensions-metrics split; ``GET /druid/v2/candidates`` lists the
  segments a query over given intervals would touch, with candidate
  server locations (segment-aware routing metadata);
- ``POST /druid/indexer/v1/task`` + ``GET
  /druid/indexer/v1/task/{id}/status`` run the overlord workflow:
  ingestion task in, segments to deep storage, datasource
  auto-registered for querying (a ``compact`` task registers its
  DESTINATION datasource — ``dstDataSource`` or
  ``<dataSource>_compacted``);
- ``kill`` tasks delete a datasource's segments wholly contained in an
  interval (an emptied datasource deregisters);
  ``GET /druid/coordinator/v1/datasources[/{ds}[/intervals]]`` serves
  the coordinator's segment metadata from the planning manifest;
- ``POST /druid/v2/sql/task`` runs Druid's SQL-based (MSQ) ingestion
  statements — ``INSERT INTO ds SELECT ... PARTITIONED BY <grain>
  [CLUSTERED BY cols]`` appends version-tagged segments, ``REPLACE
  INTO ds OVERWRITE ALL ...`` swaps the datasource, and
  ``TABLE(EXTERN(...))`` reads external files exactly as MSQ's
  external-input form — synchronously on Spark, recorded in sys.tasks;
- the coordinator lookup-config family
  (``/druid/coordinator/v1/lookups/config[...]``) lists, fetches,
  creates/updates (versioned envelope or bare map), and deletes map
  lookups — the SQL ``LOOKUP()`` dispatcher re-registers immediately;
- query laning (query-scheduler lanes): ``context.lane`` claims a slot
  in a bounded lane; a full lane rejects with HTTP 429 instead of
  queueing, protecting interactive traffic from batch floods;
- auto-compaction (automatic-compaction.md): per-datasource configs on
  ``/druid/coordinator/v1/config/compaction``; a coordinator-style duty
  cycle rewrites fragmented datasources (more segments than
  target-granularity buckets — streaming handoff's natural debris) at
  the target granularity and swaps them in;
- async SQL: ``POST /druid/v2/sql/statements`` runs a query
  asynchronously under a cancellable job group (the MSQ statements
  surface) — GET reports state/schema/result pages, ``/results``
  returns the rows, DELETE cancels;
- JDBC: ``POST /druid/v2/sql/avatica`` speaks the Avatica JSON RPC
  (openConnection / createStatement / prepareAndExecute / prepare +
  execute with TypedValue parameters / fetch paging / close), the
  protocol Druid's JDBC driver uses — see ``avatica.py``;
- retention rules (rule-configuration.md): per-datasource chains and
  the cluster ``_default`` chain on ``/druid/coordinator/v1/rules``
  decide which segments are SERVED (first match wins; drop* rules
  exclude segments from scans and flip ``sys.segments.is_available``
  to 0 without deleting them — ``kill`` remains the permanent
  delete); manual ``markUnused``/``markUsed`` (by interval or
  segmentIds) composes on top — rule semantics in ``retention.py``;
- a whole-query result cache (using-caching.md; context
  ``useCache``/``populateCache``) serves repeated queries over
  segment-root datasources without touching Spark — keys carry a
  digest of the root's segment state, so ingestion, compaction, and
  handoff invalidate implicitly; the same digest re-registers a root
  whose segments moved under it (externally published segments are
  visible on the next request, like a real broker's view sync).

Every query surface (native, ``/druid/v2/sql``, Avatica, async
statements, MSQ SELECT tasks) takes one path: ``_serve`` (serve-fresh
check, then the result cache), ``_run_sql`` (the one SQL executor) and
``broker_util._collect_capped`` (the one ``max_rows`` gate). Per-query
concerns such as request logging or segment pruning belong there.

Deliberately a THIN shim: one process, synchronous handlers (Spark
queries already parallelize internally; the ThreadingHTTPServer keeps
slow queries from blocking health probes). It is the integration
surface, not a resource manager — run it next to the driver the way
Druid runs a broker next to historicals.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import ThreadingHTTPServer
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .native_query import native_query

__all__ = ["DruidBrokerShim"]

from .broker_coordinator import CoordinatorAPIMixin
from .broker_http import make_handler
from .broker_overlord import OverlordAPIMixin
from .broker_util import (
    _CapacityExceeded,
    _EXPLAIN_RE,
    _INFO_SCHEMA_RE,
    _QueryCancelled,
    _QueryTimeout,
    _ResultCache,
    _SQL_LITERAL_RE,
    _SYS_TABLE_RE,
    _VOLATILE_SQL_RE,
    _bind_params,
    _collect_capped,
    _druid_types,
    _json_safe,
    _native_datasource_names,
    _native_envelope,
    _native_lookup_names,
    _native_registered_lookup_names,
    _rewrite_system_tables,
    _segment_state_digest,
    _word_in_sql,
    sys_segments_frame,
)


class DruidBrokerShim(CoordinatorAPIMixin, OverlordAPIMixin):
    """Serve /druid/v2 + /druid/v2/sql for a table map.

    >>> shim = DruidBrokerShim(spark, {"events": events_df})
    >>> port = shim.start()          # 0 -> ephemeral port
    >>> ... POST http://localhost:{port}/druid/v2 ...
    >>> shim.stop()
    """
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        time_col: str = "__time",
        max_rows: int = 100_000,
        lookups: dict[str, dict[str, str]] | None = None,
        segment_roots: dict[str, str] | None = None,
        deep_storage: str | None = None,
        result_cache_entries: int = 64,
        lanes: dict[str, int] | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables)
        self.time_col = time_col
        self.max_rows = max_rows
        self.deep_storage = deep_storage
        self._result_cache = _ResultCache(result_cache_entries)
        self._segment_roots = dict(segment_roots or {})
        # digest of the segment state each root's registration serves;
        # a moved digest re-registers before serving (_ensure_fresh_roots)
        self._root_digests: dict[str, str] = {
            n: d
            for n, r in self._segment_roots.items()
            if (d := _segment_state_digest(r)) is not None
        }
        self._tasks: dict[str, dict] = {}
        # sync SQL cancellation (sql-api.md): context.sqlQueryId ->
        # live Spark job group; DELETE /druid/v2/sql/{id} cancels it
        self._sql_cancel: dict[str, str] = {}
        self._sql_cancelled: set[str] = set()
        # async SQL statements (POST /druid/v2/sql/statements)
        self._sql_statements: dict[str, dict] = {}
        # MSQ SELECT task results: task_id -> (signature, rows), served
        # by GET /druid/indexer/v1/task/{id}/reports (bounded: rows
        # pass the max_rows gate before they are retained)
        self._task_reports: dict[str, tuple] = {}
        # submitted task bodies, for GET /druid/indexer/v1/task/{id}
        # (the console's payload view)
        self._task_payloads: dict[str, dict] = {}
        # terminal-status retention bound (_record_task docstring)
        self._max_tasks = 1024
        self._supervisors: dict[str, Any] = {}
        # supervisor spec-revision audit: id -> [{spec, version}, ...]
        # in submit order (survives supervisor replacement — history is
        # the point of keeping it OUTSIDE the supervisor object)
        self._supervisor_history: dict[str, list[dict]] = {}
        self._task_seq = 0
        self._lock = threading.Lock()
        # serializes supervisor replace sequences (terminate prev +
        # start next); self._lock stays for fast map/view updates
        self._submit_lock = threading.Lock()
        # query laning (Druid's query-scheduler lanes): context.lane
        # picks a lane; a full lane rejects with HTTP 429 instead of
        # queueing, protecting interactive traffic from batch floods
        self._lanes: dict[str, threading.BoundedSemaphore] = {
            name: threading.BoundedSemaphore(int(cap))
            for name, cap in (lanes or {}).items()
        }
        # auto-compaction (coordinator duty): per-datasource configs
        # submitted over /druid/coordinator/v1/config/compaction; a
        # daemon duty thread (started on first config) heals
        # fragmentation the way Druid's coordinator compaction duty does
        self._compaction_configs: dict[str, dict] = {}
        # coordinator dynamic config overrides (POST /coordinator/v1/
        # config merges over the documented defaults; in-memory — the
        # knobs steer components a single-process engine doesn't run,
        # so the surface exists for console/ops-client parity)
        self._dynamic_config_overrides: dict = {}
        self._compaction_period_s = 30.0
        self._compaction_stop = threading.Event()
        self._compaction_thread: threading.Thread | None = None
        # retention rules (rule-configuration.md, retention.py): per-
        # datasource chains + the cluster default chain under the
        # "_default" key of the rules API; manual markUnused/markUsed
        # overrides compose on top (manual-unused wins over rules).
        # _retention_epoch bumps on every rules/mark change and folds
        # into result-cache keys — a rule flip changes what a query
        # answers WITHOUT moving any segment-state digest, so the
        # digest alone must never validate a cached result.
        from .retention import DEFAULT_RULES

        self._rules: dict[str, list[dict]] = {}
        # audit log served by GET /druid/coordinator/v1/rules/history
        self._rules_history: list[dict] = []
        self._default_rules: list[dict] = list(DEFAULT_RULES)
        self._manual_unused: dict[str, frozenset[str]] = {}
        # unused set each root's CURRENT registration excludes (what
        # sys.segments reports); maintained by _register_datasource_root
        self._unused: dict[str, frozenset[str]] = {}
        self._retention_epoch = 0
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # JDBC surface: Avatica JSON RPC at /druid/v2/sql/avatica
        from .avatica import AvaticaEndpoint

        self._avatica = AvaticaEndpoint(self._serve_sql)

        from .functions import (
            register_druid_sql_functions,
            register_sql_lookups,
        )

        register_druid_sql_functions(spark)
        self._lookups: dict[str, dict[str, str]] = {
            n: dict(m) for n, m in (lookups or {}).items()
        }
        self._lookup_versions: dict[str, str] = {
            n: "0" for n in self._lookups
        }
        # names explicitly DELETEd through the coordinator API — the
        # persisted tombstones that keep a delete durable across a
        # restart whose constructor still passes the lookup (overlay
        # alone cannot distinguish never-persisted from deleted)
        self._lookup_tombstones: set[str] = set()
        if lookups:
            register_sql_lookups(spark, lookups)
        # always registered (empty without roots/tasks): a client's
        # SELECT * FROM sys.segments/tasks/datasources answers zero
        # rows like a real broker, never an unknown-view error
        import datetime

        self._start_time = datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat()
        self._refresh_sys_segments()
        self._refresh_sys_tasks()
        self._refresh_sys_datasources()
        self._refresh_sys_supervisors()
        _inv = self._server_inventory()
        self._refresh_sys_servers(_inv)
        self._refresh_sys_server_segments(_inv)
        self._register_information_schema()
        # real Druid keeps rules and lookup configs in the metadata
        # store, so a restarted coordinator still enforces them; this
        # broker persists both under deep storage (same atomic-replace
        # discipline as the planning manifest), reloads here, and
        # re-registers any root / SQL dispatcher the loaded state
        # affects so the first query already serves it
        self._load_persisted_rules()
        self._load_persisted_lookups()

    def _refresh_sys_segments(self) -> None:
        sys_segments_frame(
            self.spark, self._segment_roots, self._unused
        ).createOrReplaceTempView("sys_segments")

    def _refresh_sys_tasks(self) -> None:
        """``sys.tasks`` (sql-metadata-tables.md): the documented
        columns this synchronous overlord has truthful values for.
        Completed tasks have runner_status NONE, like real Druid."""
        rows = [
            (
                t["id"], t["id"], t.get("type", "index_parallel"),
                t["dataSource"], t.get("createdTime"), t["status"],
                "NONE", t["duration"], t["errorMsg"],
            )
            for t in self._tasks.values()
        ]
        self.spark.createDataFrame(
            rows,
            "task_id string, group_id string, type string, "
            "datasource string, created_time string, status string, "
            "runner_status string, duration bigint, error_msg string",
        ).createOrReplaceTempView("sys_tasks")

    def _refresh_sys_supervisors(self) -> None:
        """``sys.supervisors`` (sql-metadata-tables.md): one row per
        submitted supervisor — the documented columns this controller
        has truthful values for (spec_id/datasource/state/healthy plus
        the spec payload as JSON)."""
        import json as _json

        rows = []
        for sup in self._supervisors.values():
            st = sup.status()
            rows.append((
                sup.id, sup.data_source,
                st["state"],
                "RUNNING" if sup.state == "RUNNING" else sup.state,
                1 if st["healthy"] else 0,
                str(sup.spec.get("type") or "local"),
                str(st["stream"] or ""),
                1 if sup.state == "SUSPENDED" else 0,
                _json.dumps(sup.spec, sort_keys=True),
            ))
        self.spark.createDataFrame(
            rows,
            "supervisor_id string, datasource string, state string, "
            "detailed_state string, healthy int, type string, "
            "source string, suspended int, spec string",
        ).createOrReplaceTempView("sys_supervisors")

    def _refresh_sys_datasources(self) -> None:
        """``sys.datasources`` (sql-metadata-tables.md): one row per
        queryable datasource — the registered table map."""
        self.spark.createDataFrame(
            [(n,) for n in sorted(self.tables)], "datasource string"
        ).createOrReplaceTempView("sys_datasources")

    def _historical_name(self) -> str:
        """The single-process engine's one segment-serving server, named
        host:port like Druid's inventory (conventional historical
        default port; all services here share one process)."""
        return "localhost:8083"

    def _server_inventory(self) -> tuple[list[tuple], list[tuple]]:
        """(sys.servers rows, sys.server_segments rows) — the
        coordinator server inventory (sql-metadata-tables.md sys tables;
        coordinator-api.md /servers), synthesized truthfully for this
        single-process engine: one row per SERVICE this process runs
        (broker, coordinator, overlord, historical — each answers its
        documented API surface here), with the historical serving every
        visible-timeline segment. curr_size sums served segment bytes
        (the planning manifest's sizes, as in sys.segments); max_size
        reports the
        deep-storage filesystem's capacity when known (the physical
        ceiling), else 0. The coordinator/overlord rows lead
        (is_leader=1) by construction — there is exactly one of each."""
        segs = self._metadata_segments()
        curr = sum(s["size"] for s in segs)
        max_size = 0
        probe = self.deep_storage or next(
            iter(self._segment_roots.values()), None
        )
        if probe is not None:
            import shutil

            try:
                max_size = shutil.disk_usage(probe).total
            except OSError:
                pass
        broker_port = (
            self._server.server_address[1] if self._server else 8082
        )
        st = self._start_time
        hist = self._historical_name()
        servers = [
            (f"localhost:{broker_port}", "localhost", broker_port, -1,
             "broker", None, 0, 0, None, st),
            ("localhost:8081", "localhost", 8081, -1,
             "coordinator", None, 0, 0, 1, st),
            ("localhost:8090", "localhost", 8090, -1,
             "overlord", None, 0, 0, 1, st),
            (hist, "localhost", 8083, -1,
             "historical", "_default_tier", curr, max_size, None, st),
        ]
        served = [(hist, s["identifier"]) for s in segs]
        return servers, served

    def _refresh_sys_servers(
        self, inventory: tuple[list, list] | None = None
    ) -> None:
        servers, _ = inventory or self._server_inventory()
        self.spark.createDataFrame(
            servers,
            "server string, host string, plaintext_port int, "
            "tls_port int, server_type string, tier string, "
            "curr_size bigint, max_size bigint, is_leader int, "
            "start_time string",
        ).createOrReplaceTempView("sys_servers")

    def _refresh_sys_server_segments(
        self, inventory: tuple[list, list] | None = None
    ) -> None:
        """``sys.server_segments``: one (server, segment_id) row per
        served segment — joins sys.servers to sys.segments, the shape
        the Druid console's segment-distribution views query."""
        _, served = inventory or self._server_inventory()
        self.spark.createDataFrame(
            served, "server string, segment_id string"
        ).createOrReplaceTempView("sys_server_segments")

    def _register_information_schema(self) -> None:
        """INFORMATION_SCHEMA.TABLES / .COLUMNS (sql-metadata-tables.md)
        — what JDBC drivers and BI tools issue first against a broker.
        Built from the registered table map's schemas; Druid's schema
        name for datasources is 'druid'."""
        tab_rows = [("druid", "druid", n, "TABLE")
                    for n in sorted(self.tables)]
        col_rows = []
        for n in sorted(self.tables):
            for i, f in enumerate(self.tables[n].schema.fields, start=1):
                col_rows.append((
                    "druid", n, f.name, i, _druid_types(f.dataType)[1],
                    "YES" if f.nullable else "NO",
                ))
        self.spark.createDataFrame(
            tab_rows,
            "TABLE_CATALOG string, TABLE_SCHEMA string, "
            "TABLE_NAME string, TABLE_TYPE string",
        ).createOrReplaceTempView("information_schema_tables")
        self.spark.createDataFrame(
            col_rows,
            "TABLE_SCHEMA string, TABLE_NAME string, COLUMN_NAME string, "
            "ORDINAL_POSITION int, DATA_TYPE string, IS_NULLABLE string",
        ).createOrReplaceTempView("information_schema_columns")
        # SCHEMATA: the three schemas every Druid broker exposes
        # (sql-metadata-tables.md) — JDBC drivers enumerate these
        # before touching TABLES
        self.spark.createDataFrame(
            [("druid", s, "") for s in
             ("druid", "sys", "INFORMATION_SCHEMA", "lookup")],
            "CATALOG_NAME string, SCHEMA_NAME string, "
            "SCHEMA_OWNER string",
        ).createOrReplaceTempView("information_schema_schemata")
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    def _ensure_fresh_roots(
        self, names: list[str] | None
    ) -> dict[str, str]:
        """Serve-fresh check for root-backed datasources (a loaded
        druidsegment DataFrame freezes its segment list, but a real
        broker sees segments the moment they publish): compute each
        referenced root's state digest, re-register any whose digest
        moved since registration, and return {name: digest}. ``names``
        None (unresolvable reference set) checks every root. One
        O(#segments) stat walk per root per request — the same
        metadata walk planning itself performs, far below query cost."""
        if names is None:
            names = list(self._segment_roots)
        out: dict[str, str] = {}
        for n in dict.fromkeys(names):  # stable de-dup
            root = self._segment_roots.get(n)
            if root is None:
                continue
            d = _segment_state_digest(root)
            if d is None:
                continue
            if self._root_digests.get(n) != d:
                self._register_datasource_root(n, digest=d)
            out[n] = d
        return out

    def _serve(self, names: list[str] | None, compute,
               ctx: dict | None = None, key: tuple | None = None):
        """The one serve wrapper every query surface runs through:
        the serve-fresh check for the referenced datasources (``names``
        None = every root), then ``compute()`` behind Druid's broker
        result cache (using-caching.md; context ``useCache`` /
        ``populateCache``, default true). ``key`` is the caller's
        cache-key material; Avatica, async statements and SELECT tasks
        pass none. A result is cached only when every referenced
        datasource is a segment root: plain registered DataFrames have
        no invalidation signal, while a root's state digest in the key
        makes ingest/compaction invalidate implicitly."""
        fresh = self._ensure_fresh_roots(names)
        ctx = ctx or {}
        use = bool(ctx.get("useCache", True))
        populate = bool(ctx.get("populateCache", True))
        uniq = list(dict.fromkeys(names or ()))
        if not (
            key and uniq and (use or populate)
            and self._result_cache.max_entries
            and all(n in fresh for n in uniq)
        ):
            return compute()
        # the retention epoch rides in the key: a rule/markUnused flip
        # changes served rows without moving any root digest
        key += (
            tuple((n, fresh[n]) for n in uniq), self._retention_epoch
        )
        if use:
            with self._lock:
                cached = self._result_cache.get(key)
            if cached is not None:
                return cached
        out = compute()
        if populate:
            with self._lock:
                self._result_cache.put(key, out)
        return out

    def _handle_native(self, body: dict) -> list[dict]:
        ctx = body.get("context") or {}
        # lookup datasources AND registeredLookup extractionFns are
        # broker state: their versions join the key so a config POST
        # invalidates implicitly
        lk = _native_lookup_names(
            body.get("dataSource")
        ) + _native_registered_lookup_names(body)
        # execution-only context keys stay OUT of the key; result-
        # shaping ones (skipEmptyBuckets, grandTotal, ...) stay IN —
        # two semantically different queries must never share an entry
        ctx_key = {
            k: v
            for k, v in ctx.items()
            if k not in (
                "useCache", "populateCache", "timeout", "priority",
                "queryId",
            )
        }
        key = (
            "native",
            json.dumps(
                {
                    **{k: v for k, v in body.items() if k != "context"},
                    "context": ctx_key,
                },
                sort_keys=True,
            ),
            tuple(
                (f"__lookup__:{n}", self._lookup_versions.get(n, "0"))
                for n in sorted(set(lk))
            ),
        )

        def compute() -> list[dict]:
            df = native_query(
                None, body, time_col=self.time_col, tables=self.tables,
                lookups=self._lookups,
            )
            return _native_envelope(body, [
                {
                    k: _json_safe(v)
                    for k, v in row.asDict(recursive=True).items()
                }
                for row in _collect_capped(df, self.max_rows)
            ])

        return self._serve(
            _native_datasource_names(body.get("dataSource")), compute,
            ctx, key,
        )

    def _handle_sql(self, body: dict) -> tuple[bytes, str]:
        """POST /druid/v2/sql: :meth:`_run_sql` encoded by
        :meth:`_render_sql`, served through :meth:`_serve`. Cacheable
        iff the query references no sys./INFORMATION_SCHEMA view, isn't
        EXPLAIN, and contains no volatile function token."""
        sql_text = body.get("query", "")
        if re.match(r"\s*(INSERT|REPLACE)\s+INTO\b", sql_text, re.I):
            # same split as real Druid: the interactive SQL endpoint
            # rejects ingestion statements and points at the task API
            raise ValueError(
                "INSERT/REPLACE statements must be submitted to "
                "POST /druid/v2/sql/task"
            )
        fmt = body.get("resultFormat", "object")
        if fmt not in (
            "object", "array", "objectLines", "arrayLines", "csv"
        ):
            raise ValueError(f"unsupported resultFormat {fmt!r}")
        stripped = _SQL_LITERAL_RE.sub(" ", sql_text)
        key = None
        if not (
            _EXPLAIN_RE.match(sql_text)
            or _VOLATILE_SQL_RE.search(stripped)
            or _SYS_TABLE_RE.search(stripped)
            or _INFO_SCHEMA_RE.search(stripped)
        ):
            key = (
                "sql",
                sql_text,
                fmt,
                bool(body.get("header", False)),
                bool(body.get("typesHeader", False)),
                bool(body.get("sqlTypesHeader", False)),
                json.dumps(body.get("parameters"), sort_keys=True),
            )
        return self._serve(
            self._sql_datasources(sql_text),
            lambda: self._render_sql(
                body, *self._run_sql(body["query"], _bind_params(body))
            ),
            body.get("context"),
            key,
        )

    def _serve_sql(self, sql: str, args: list | None) -> tuple:
        """(fields, rows) of a SQL query served uncached — the Avatica,
        async-statement and SELECT-task surfaces."""
        return self._serve(
            self._sql_datasources(sql), lambda: self._run_sql(sql, args)
        )

    def _sql_datasources(self, sql: str) -> list[str] | None:
        """The registered datasources a SQL text names; None (every
        root) when it reads a sys.* view, which must also see
        externally-published segments."""
        if _SYS_TABLE_RE.search(_SQL_LITERAL_RE.sub(" ", sql)):
            return None
        return [t for t in self.tables if _word_in_sql(t, sql)]

    def _run_sql(self, sql: str, args: list | None) -> tuple:
        """The one SQL executor: returns (schema fields, rows) for every
        SQL surface. Re-registers the metadata views the text reads
        (which also rebuilds sys.supervisors at read time, so SQL agrees
        with the /status endpoint), rewrites Druid's qualified names and
        functions, and collects through the max_rows gate. ``EXPLAIN
        PLAN FOR <query>`` answers Druid's plan-introspection row
        (PLAN/RESOURCES/ATTRIBUTES) with the engine's physical plan."""
        from pyspark.sql.types import StringType, StructField

        self._reclaim_meta_views(_SQL_LITERAL_RE.sub(" ", sql))
        sql = _rewrite_system_tables(sql)
        m = _EXPLAIN_RE.match(sql)
        df = self.spark.sql(sql[m.end():] if m else sql, args=args)
        if m is None:
            return df.schema.fields, _collect_capped(df, self.max_rows)
        from .plans import formatted_plan

        return (
            [StructField(c, StringType())
             for c in ("PLAN", "RESOURCES", "ATTRIBUTES")],
            [(
                formatted_plan(df),
                json.dumps([
                    {"name": t, "type": "DATASOURCE"}
                    for t in sorted(self.tables) if _word_in_sql(t, sql)
                ]),
                json.dumps({"statementType": "SELECT"}),
            )],
        )

    def _reclaim_meta_views(self, stripped_sql: str) -> None:
        """The sys_* / information_schema_* temp views are
        session-global, so with several shims on ONE SparkSession the
        last registrar wins — a metadata query through this shim could
        read another shim's catalog. Re-register THIS shim's views
        before any query that references them (tiny createDataFrame
        calls; no segment IO)."""
        if _INFO_SCHEMA_RE.search(stripped_sql):
            with self._lock:
                self._register_information_schema()
        # rebuild only the views the SQL references: sys.segments
        # costs a per-root manifest read, and a query
        # over sys.tasks must not pay it
        referenced = {
            m.lower() for m in _SYS_TABLE_RE.findall(stripped_sql)
        }
        if referenced:
            with self._lock:
                if "segments" in referenced:
                    self._refresh_sys_segments()
                if "tasks" in referenced:
                    self._refresh_sys_tasks()
                if "datasources" in referenced:
                    self._refresh_sys_datasources()
                if "supervisors" in referenced:
                    self._refresh_sys_supervisors()
            # OUTSIDE the lock: the server inventory reads the served
            # timeline through _metadata_segments, which takes the lock
            # itself (re-acquiring would deadlock — threading.Lock is
            # not reentrant). Computed ONCE even when the SQL joins
            # both views (the canonical console query does).
            if referenced & {"servers", "server_segments"}:
                inventory = self._server_inventory()
                if "servers" in referenced:
                    self._refresh_sys_servers(inventory)
                if "server_segments" in referenced:
                    self._refresh_sys_server_segments(inventory)

    def _lane_slot(self, body):
        """Context manager claiming a slot in the query's lane (from
        context.lane). No lane -> no limit; an unknown lane is a client
        error; a FULL lane rejects immediately (Druid lanes shed load,
        they don't queue)."""
        import contextlib

        @contextlib.contextmanager
        def slot():
            lane = None
            if isinstance(body, dict):
                lane = (body.get("context") or {}).get("lane")
            if lane is None:
                yield
                return
            sem = self._lanes.get(lane)
            if sem is None:
                raise ValueError(f"unknown query lane {lane!r}")
            if not sem.acquire(blocking=False):
                raise _CapacityExceeded(
                    f"too many concurrent queries for lane '{lane}'"
                )
            try:
                yield
            finally:
                sem.release()

        return slot()

    def _render_sql(
        self, body: dict, fields: list, collected: list
    ) -> tuple[bytes, str]:
        """Encode a SQL result as (payload bytes, content type).

        Serves every documented resultFormat of Druid's SQL API
        (api-reference.md): object (default), array, objectLines,
        arrayLines, csv — plus ``header: true``, which prepends the
        column-name row in the format's own shape, and
        ``typesHeader``/``sqlTypesHeader`` type rows. Line formats end
        with a blank line (Druid's completion marker) and csv quotes
        per RFC 4180 with NULL as the empty field.
        """
        fmt = body.get("resultFormat", "object")
        # positional materialization: duplicate output column names
        # (SELECT a AS x, b AS x) must survive into the array-shaped
        # formats; only JSON objects inherently collapse them
        cols = [f.name for f in fields]
        vals = [[_json_safe(v) for v in row] for row in collected]
        types = [_druid_types(f.dataType) for f in fields]
        rows = [dict(zip(cols, r)) for r in vals]
        header = bool(body.get("header", False))
        want_t = header and bool(body.get("typesHeader", False))
        want_s = header and bool(body.get("sqlTypesHeader", False))

        if fmt in ("object", "objectLines"):
            # object-shaped header: one row mapping name -> null, or to
            # a {type, sqlType} object when type headers are requested
            head_obj: dict[str, Any] = {}
            for c, (dt, st) in zip(cols, types):
                v: Any = None
                if want_t or want_s:
                    v = {}
                    if want_t:
                        v["type"] = dt
                    if want_s:
                        v["sqlType"] = st
                head_obj[c] = v
            out: list[Any] = ([head_obj] if header else []) + rows
        else:
            head_rows: list[list[Any]] = [cols] if header else []
            if want_t:
                head_rows.append([t for t, _ in types])
            if want_s:
                head_rows.append([s for _, s in types])
            out = head_rows + vals

        if fmt in ("object", "array"):
            return json.dumps(out).encode(), "application/json"
        if fmt == "csv":
            import csv
            import io

            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\r\n")
            for row in out:
                w.writerow([
                    "" if v is None
                    # Druid csv: lowercase booleans, JSON-encoded
                    # arrays/objects (bool checked first — it IS an int)
                    else ("true" if v else "false")
                    if isinstance(v, bool)
                    else json.dumps(v) if isinstance(v, (list, dict))
                    else v
                    for v in row
                ])
            buf.write("\r\n")
            return buf.getvalue().encode(), "text/csv"
        # objectLines / arrayLines: NDJSON + trailing blank line
        lines = "".join(json.dumps(r) + "\n" for r in out) + "\n"
        return lines.encode(), "text/plain"

    def cancel_sql_query(self, sql_query_id: str) -> bool:
        """DELETE /druid/v2/sql/{sqlQueryId} (sql-api.md): cancel the
        RUNNING query that was submitted with this context.sqlQueryId.
        Cancels the query's Spark job group; unknown/finished ids are
        404 like real Druid. Returns whether a live query was found."""
        with self._lock:
            gid = self._sql_cancel.get(sql_query_id)
            if gid is None:
                return False
            self._sql_cancelled.add(sql_query_id)
        sc = self.spark.sparkContext
        sc.cancelJobGroup(gid)

        # cancelJobGroup only kills jobs ALREADY running in the group;
        # a cancel landing between the query's registration and its
        # first Spark job (or between two jobs of one query) would be
        # lost. Re-cancel on a short cadence until the handler thread
        # deregisters the id — DELETE still returns immediately, like
        # real Druid.
        def _sticky() -> None:
            import time as _time

            for _ in range(600):  # bounded: 60 s of coverage
                with self._lock:
                    if self._sql_cancel.get(sql_query_id) != gid:
                        return
                try:
                    sc.cancelJobGroup(gid)
                except Exception:  # pragma: no cover - sc shut down
                    return
                _time.sleep(0.1)

        threading.Thread(target=_sticky, daemon=True).start()
        return True

    def _run_with_timeout(self, fn, timeout_ms, sql_query_id=None):
        """Run ``fn`` under a cancellable Spark job group, cancelled
        after ``timeout_ms`` (Druid's ``context.timeout``). Each HTTP
        request runs in its own handler thread and job groups are
        thread-local, so concurrent queries cancel independently —
        the serving posture a broker needs: one runaway query must not
        be able to hold the endpoint.

        Bounds Spark JOB time: driver-side planning and JSON
        serialization are not cancellable and run to completion. A
        genuine failure racing the timer within its firing window is
        reported as a timeout; the original exception stays chained
        for diagnosis."""
        if not timeout_ms and sql_query_id is None:
            return fn()
        sc = self.spark.sparkContext
        with self._lock:
            self._task_seq += 1
            gid = f"ddbs-broker-q{self._task_seq}"
            if sql_query_id is not None:
                self._sql_cancel[sql_query_id] = gid
                self._sql_cancelled.discard(sql_query_id)
        sc.setJobGroup(gid, "broker query", interruptOnCancel=True)
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            sc.cancelJobGroup(gid)

        timer = None
        if timeout_ms:
            timer = threading.Timer(int(timeout_ms) / 1000.0, cancel)
            timer.start()
        try:
            return fn()
        except Exception as e:
            if fired.is_set():
                raise _QueryTimeout(
                    f"Query timed out after {timeout_ms} ms"
                ) from e
            with self._lock:
                was_cancelled = sql_query_id in self._sql_cancelled
            if was_cancelled:
                raise _QueryCancelled(
                    f"Query cancelled: {sql_query_id}"
                ) from e
            raise
        finally:
            if sql_query_id is not None:
                with self._lock:
                    self._sql_cancel.pop(sql_query_id, None)
                    self._sql_cancelled.discard(sql_query_id)
            if timer is not None:
                timer.cancel()
            try:
                sc._jsc.clearJobGroup()
            except Exception:  # pragma: no cover - JVM API drift
                pass

    def _register_datasource_root(
        self, ds: str, digest: str | None = None
    ) -> None:
        """(Re)register a segment root for querying: table map, temp
        view, sys views, INFORMATION_SCHEMA — under the lock, by atomic
        dict rebind (concurrent readers see old or new map, never one
        mid-mutation). The handoff-then-serve moment for the overlord
        task path and streaming supervisors, and the refresh point when
        a root's segment state moves under an already-registered
        datasource (_ensure_fresh_roots). The recorded digest pins WHICH
        state this registration serves."""
        import os

        from .sources import register_druid_datasource

        root = self._segment_roots.get(ds) or os.path.join(
            self.deep_storage, ds
        )
        register_druid_datasource(self.spark)
        # retention: drop-rule / markUnused segments are excluded in
        # the relation's OPTIONS (relation identity), so every query
        # path — SQL, native, sys-free scans — serves the same set
        unused = self._retention_unused(ds, root)
        reader = (
            self.spark.read.format("druidsegment").option("path", root)
        )
        if unused:
            reader = reader.option(
                "exclude_segments", json.dumps(sorted(unused))
            )
        df = reader.load()
        if digest is None:
            digest = _segment_state_digest(root)
        with self._lock:
            tables = dict(self.tables)
            tables[ds] = df
            self.tables = tables
            roots = dict(self._segment_roots)
            roots[ds] = root
            self._segment_roots = roots
            digests = dict(self._root_digests)
            if digest is not None:
                digests[ds] = digest
            self._root_digests = digests
            unused_map = dict(self._unused)
            if unused:
                unused_map[ds] = unused
            else:
                unused_map.pop(ds, None)
            self._unused = unused_map
            df.createOrReplaceTempView(ds)
            self._refresh_sys_segments()
            self._refresh_sys_datasources()
            self._register_information_schema()

    def _query_candidates(
        self, ds: str, intervals: list[str] | None
    ) -> list[dict] | None:
        """GET /druid/v2/candidates?datasource=ds[&intervals=a/b,...]
        (api-reference.md query-server section): the segments a query
        over these intervals would touch, with their candidate
        servers — what Druid's router uses for segment-aware routing.
        Served from the root's timeline (no decodes): only SERVED
        segments are candidates, so retention-unused and overshadowed
        ones never are. This single-process engine reports one
        historical location."""
        import os

        from .cli import _format_millis as iso
        from .retention import interval_ms
        from .sources.datasource import SERVED, segment_timeline

        # parse intervals FIRST: a malformed interval is the only
        # client error here and surfaces as 400 from the handler
        windows = [interval_ms(i) for i in (intervals or [])]
        root = self._segment_roots.get(ds)
        if root is None:
            # a datasource registered as a plain DataFrame is
            # queryable but has no segments to route to — an empty
            # candidate list, not a 404 (reserve 404 for unknown names)
            return [] if ds in self.tables else None
        with self._lock:
            dropped = self._unused.get(ds) or frozenset()
        try:
            timeline = segment_timeline(root, dropped)
        except ValueError:
            # root emptied (e.g. all segments killed) — nothing to
            # serve, which is an empty candidate list, not an error
            return []
        out = []
        for s in timeline:
            m = s.meta
            if s.state != SERVED or (windows and not any(
                m["start"] < hi and m["end"] > lo for lo, hi in windows
            )):
                continue
            out.append({
                "interval": f"{iso(m['start'])}/{iso(m['end'])}",
                "version": os.path.basename(s.dir),
                "partitionNumber": 0,
                "size": m["size"],
                "locations": [{
                    "name": "historical:local",
                    "host": "localhost",
                    "type": "historical",
                    "priority": 0,
                }],
            })
        out.sort(key=lambda c: c["interval"])
        return out

    def start(self, port: int = 0, host: str = "127.0.0.1") -> int:
        """Start serving on ``host:port`` (0 picks a free port);
        returns the bound port."""
        if self._server is not None:
            raise RuntimeError("broker already started")
        self._server = ThreadingHTTPServer(
            (host, port), make_handler(self)
        )
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[1]

    def stop(self) -> None:
        self._compaction_stop.set()
        with self._lock:
            sups = list(self._supervisors.values())
        for sup in sups:
            sup.terminate()
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
            self._thread = None

"""HTTP request handler for the broker shim: ``make_handler(shim)``
builds the request handler class that routes the whole Druid service
surface (broker /druid/v2 + SQL, Avatica, coordinator, overlord,
status endpoints) onto the shim's methods, applies query laning and
``context.timeout``/cancellation, and maps the query-lifecycle
exceptions onto Druid's HTTP error envelopes."""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler

from .broker_util import (
    _CapacityExceeded,
    _QueryCancelled,
    _QueryTimeout,
    _ResourceLimitExceeded,
    _ANALYSIS_ERRORS,
)


def make_handler(shim) -> type:  # noqa: N805 - handler factory
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, payload) -> None:
            self._send_raw(code, json.dumps(payload).encode(),
                           "application/json")

        def _send_raw(self, code: int, data: bytes,
                      ctype: str,
                      headers: dict | None = None) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            # route on the path alone: documented query params
            # (?simple, ?discover=true, ...) select detail levels
            # this shim serves uniformly, and must never 404
            path = self.path.split("?", 1)[0]
            if path == "/status/health":
                self._send(200, True)
            elif path == "/status":
                # the console's very first call (api-reference.md
                # common section): process identity + memory, a
                # truthful subset (no extension modules here; the
                # version states what this engine is). usedMemory
                # is the CURRENT RSS (proc statm; this container
                # is Linux), maxMemory the peak — distinct values,
                # so used/max headroom math stays meaningful.
                import os as _os
                import resource

                peak_kb = resource.getrusage(
                    resource.RUSAGE_SELF
                ).ru_maxrss  # KB on Linux
                used = peak_kb * 1024
                try:
                    with open("/proc/self/statm") as f:
                        used = int(f.read().split()[1]) * (
                            _os.sysconf("SC_PAGE_SIZE")
                        )
                except (OSError, ValueError, IndexError):
                    pass
                self._send(200, {
                    "version": "ddbs-spark",
                    "modules": [],
                    "memory": {
                        "maxMemory": peak_kb * 1024,
                        "usedMemory": used,
                    },
                })
            elif path == "/status/properties":
                # the Druid console's first probe after health;
                # truthful subset of runtime properties
                self._send(200, {
                    "druid.host": "localhost",
                    "druid.service": "druid/broker",
                    "druid.server.maxRows": str(shim.max_rows),
                })
            elif path == "/druid/coordinator/v1/loadstatus":
                # every datasource this single-process engine
                # serves is fully loaded by construction; the
                # console polls this for its load progress bars
                self._send(200, {
                    ds: 100.0 for ds in sorted(shim.tables)
                })
            elif path == "/druid/indexer/v1/tasks" or path in (
                "/druid/indexer/v1/runningTasks",
                "/druid/indexer/v1/completeTasks",
                "/druid/indexer/v1/pendingTasks",
                "/druid/indexer/v1/waitingTasks",
            ):
                from urllib.parse import parse_qs, urlparse

                q = parse_qs(urlparse(self.path).query)
                alias = path.rsplit("/", 1)[1]
                state = {
                    "runningTasks": "running",
                    "completeTasks": "complete",
                    "pendingTasks": "pending",
                    "waitingTasks": "waiting",
                }.get(alias, (q.get("state") or [None])[0])
                raw_max = (q.get("max") or [None])[0]
                try:
                    rows = shim._task_list(
                        state=state,
                        datasource=(q.get("datasource") or [None])[0],
                        task_type=(q.get("type") or [None])[0],
                        max_n=int(raw_max) if raw_max else None,
                    )
                except ValueError as e:
                    self._send(400, {"error": "Bad request",
                                     "errorMessage": str(e)})
                    return
                self._send(200, rows)
            elif path == "/druid/v2/candidates":
                from urllib.parse import parse_qs, urlparse

                q = parse_qs(urlparse(self.path).query)
                ds = (q.get("datasource") or [None])[0]
                raw = ",".join(q.get("intervals") or [])
                ivals = [i for i in raw.split(",") if i]
                try:
                    cands = (
                        shim._query_candidates(ds, ivals or None)
                        if ds else None
                    )
                except ValueError as e:  # malformed interval
                    self._send(400, {"error": "Bad request",
                                     "errorMessage": str(e)})
                    return
                if cands is not None:
                    self._send(200, cands)
                else:
                    self._send(404, {"error": "Unknown datasource",
                                     "errorMessage": str(ds)})
            elif path == "/druid/v2/datasources":
                self._send(200, sorted(shim.tables))
            elif path.startswith("/druid/v2/datasources/"):
                rest = path.split("/druid/v2/datasources/", 1)[1]
                name, _, sub = rest.partition("/")
                if name not in shim.tables:
                    self._send(404, {"error": "Unknown datasource",
                                     "errorMessage": name})
                elif sub in ("dimensions", "metrics"):
                    # legacy per-list endpoints real clients and
                    # the console still call
                    self._send(
                        200, shim._datasource_detail(name)[sub]
                    )
                elif sub:
                    self._send(404, {"error": "Unknown resource",
                                     "errorMessage": sub})
                else:
                    self._send(200, shim._datasource_detail(name))
            elif path == "/druid/coordinator/v1/config/compaction":
                with shim._lock:
                    self._send(200, {
                        "compactionConfigs": sorted(
                            shim._compaction_configs.values(),
                            key=lambda c: c["dataSource"],
                        )})
            elif path == "/druid/coordinator/v1/config":
                self._send(200, shim._get_dynamic_config())
            elif path == "/druid/coordinator/v1/rules":
                self._send(200, shim._get_rules())
            elif path == "/druid/coordinator/v1/rules/history":
                with shim._lock:
                    self._send(200, list(shim._rules_history))
            elif path.startswith(
                "/druid/coordinator/v1/rules/"
            ) and path.endswith("/history"):
                ds = path.rsplit("/", 2)[1]
                with shim._lock:
                    self._send(200, [
                        h for h in shim._rules_history
                        if h["key"] == ds
                    ])
            elif path.startswith("/druid/coordinator/v1/rules/"):
                ds = path.rsplit("/", 1)[1]
                _, _, qs = self.path.partition("?")
                self._send(200, shim._get_rules(ds, full="full" in qs))
            elif path == "/druid/coordinator/v1/lookups/config":
                self._send(200, ["__default"])
            elif path == (
                "/druid/coordinator/v1/lookups/config/__default"
            ):
                with shim._lock:
                    self._send(200, sorted(shim._lookups))
            elif path.startswith(
                "/druid/coordinator/v1/lookups/config/__default/"
            ):
                name = path.rsplit("/", 1)[1]
                spec = shim._lookup_spec(name)
                if spec is not None:
                    self._send(200, spec)
                else:
                    self._send(404, {"error": "Unknown lookup",
                                     "errorMessage": name})
            elif path == "/druid/coordinator/v1/metadata/segments":
                from urllib.parse import parse_qs, urlparse

                # keep_blank_values: the flag is usually passed
                # bare (?includeOvershadowedStatus); checking the
                # parsed dict (not a substring of the raw query)
                # keeps an unrelated parameter VALUE containing
                # the text from flipping the listing mode
                q = parse_qs(urlparse(self.path).query,
                             keep_blank_values=True)
                self._send(200, shim._metadata_segments(
                    datasources=q.get("datasources"),
                    include_overshadowed=(
                        "includeOvershadowedStatus" in q
                    ),
                ))
            elif path == "/druid/coordinator/v1/servers":
                from urllib.parse import parse_qs, urlparse

                q = parse_qs(urlparse(self.path).query,
                             keep_blank_values=True)
                servers, served = shim._server_inventory()
                if "simple" in q or "full" in q:
                    # the coordinator inventory lists SEGMENT-
                    # SERVING servers (coordinator-api.md) — the
                    # one historical here; ?full adds its served
                    # segment ids
                    rows = [
                        {
                            "host": s[0], "tier": s[5],
                            "type": s[4], "priority": 0,
                            "currSize": s[6], "maxSize": s[7],
                        }
                        for s in servers if s[4] == "historical"
                    ]
                    if "full" in q:
                        for row in rows:
                            row["segments"] = sorted(
                                sid for srv, sid in served
                                if srv == row["host"]
                            )
                    self._send(200, rows)
                else:
                    self._send(200, [
                        s[0] for s in servers
                        if s[4] == "historical"
                    ])
            elif path == "/druid/coordinator/v1/datasources":
                self._send(200, sorted(shim._segment_roots))
            elif path.startswith(
                "/druid/coordinator/v1/datasources/"
            ):
                from urllib.parse import parse_qs, urlparse

                rest = path.split(
                    "/druid/coordinator/v1/datasources/", 1
                )[1]
                name, _, sub = rest.partition("/")
                q = parse_qs(urlparse(self.path).query,
                             keep_blank_values=True)
                out = shim._coordinator_datasource(
                    name, sub, full="full" in q
                )
                if out is not None:
                    self._send(200, out)
                else:
                    self._send(404, {"error": "Unknown datasource",
                                     "errorMessage": name})
            elif path == "/druid/indexer/v1/supervisor":
                with shim._lock:
                    self._send(200, sorted(shim._supervisors))
            elif path.startswith(
                "/druid/indexer/v1/supervisor/"
            ) and path.endswith(("/status", "/stats", "/history")):
                rest = path.split(
                    "/druid/indexer/v1/supervisor/", 1
                )[1]
                sup_id, _, sub = rest.rpartition("/")
                if sub == "history":
                    # history outlives the supervisor object (a
                    # resubmit replaces it) — answered from the
                    # broker's audit list
                    with shim._lock:
                        hist = shim._supervisor_history.get(sup_id)
                    if hist is not None:
                        self._send(200, hist)
                    else:
                        self._send(404, {
                            "error": "Unknown supervisor",
                            "errorMessage": sup_id})
                    return
                st = shim._supervisor_action(sup_id, sub)
                if st is not None:
                    self._send(200, st)
                else:
                    self._send(404, {"error": "Unknown supervisor",
                                     "errorMessage": sup_id})
            elif path.startswith("/druid/v2/sql/statements/"):
                rest = path.split("/druid/v2/sql/statements/", 1)[1]
                sid, _, sub = rest.partition("/")
                try:
                    if sub == "results":
                        from urllib.parse import parse_qs, urlparse

                        q = parse_qs(urlparse(self.path).query)
                        page = int((q.get("page") or ["0"])[0])
                        out = shim._statement_results(sid, page)
                    elif sub == "":
                        out = shim._statement_status(sid)
                    else:
                        out = None
                except ValueError as e:
                    self._send(400, {"error": "Bad request",
                                     "errorMessage": str(e)})
                    return
                if out is not None:
                    self._send(200, out)
                else:
                    self._send(404, {"error": "Unknown statement",
                                     "errorMessage": sid})
            elif path.startswith("/druid/indexer/v1/task/") and \
                    path.endswith("/status"):
                task_id = path.split("/druid/indexer/v1/task/",
                                          1)[1][:-len("/status")]
                st = shim._task_status(task_id)
                if st is not None:
                    self._send(200, st)
                else:
                    self._send(404, {"error": "Unknown task",
                                     "errorMessage": task_id})
            elif path.startswith("/druid/indexer/v1/task/") and \
                    path.endswith("/reports"):
                task_id = path.split("/druid/indexer/v1/task/",
                                          1)[1][:-len("/reports")]
                rep = shim._task_report(task_id)
                if rep is not None:
                    self._send(200, rep)
                else:
                    self._send(404, {"error": "Unknown task",
                                     "errorMessage": task_id})
            elif path.startswith("/druid/indexer/v1/task/") and \
                    "/" not in path.split(
                        "/druid/indexer/v1/task/", 1)[1]:
                task_id = path.split("/druid/indexer/v1/task/",
                                          1)[1]
                pl = shim._task_payload(task_id)
                if pl is not None:
                    self._send(200, pl)
                else:
                    self._send(404, {"error": "Unknown task",
                                     "errorMessage": task_id})
            else:
                self._send(404, {"error": "Unknown path",
                                 "errorMessage": self.path})

        def do_DELETE(self):
            path = self.path.split("?", 1)[0]
            if path.startswith("/druid/v2/sql/") and not (
                path.startswith("/druid/v2/sql/statements/")
            ):
                # cancel a RUNNING sync query by its sqlQueryId
                qid = path.split("/druid/v2/sql/", 1)[1]
                if shim.cancel_sql_query(qid):
                    self._send(202, {"queryId": qid})
                else:
                    self._send(404, {"error": "Unknown query",
                                     "errorMessage": qid})
            elif path.startswith("/druid/v2/sql/statements/"):
                sid = path.rsplit("/", 1)[1]
                if shim._statement_delete(sid):
                    self._send(202, {"queryId": sid})
                else:
                    self._send(404, {"error": "Unknown statement",
                                     "errorMessage": sid})
            elif path.startswith(
                "/druid/coordinator/v1/config/compaction/"
            ):
                ds = path.rsplit("/", 1)[1]
                if shim._delete_compaction_config(ds):
                    self._send(200, {"status": "accepted"})
                else:
                    self._send(404, {"error": "Unknown datasource",
                                     "errorMessage": ds})
            elif path.startswith(
                "/druid/coordinator/v1/lookups/config/__default/"
            ):
                name = path.rsplit("/", 1)[1]
                if shim._lookup_delete(name):
                    self._send(202, {"status": "accepted"})
                else:
                    self._send(404, {"error": "Unknown lookup",
                                     "errorMessage": name})
            else:
                self._send(404, {"error": "Unknown URI",
                                 "errorMessage": self.path})

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
            except ValueError as e:
                self._send(400, {"error": "Invalid JSON",
                                 "errorMessage": str(e)})
                return
            timeout_ms = (body.get("context") or {}).get("timeout") \
                if isinstance(body, dict) else None
            try:
                if self.path == "/druid/v2/sql":
                    qid = (body.get("context") or {}).get(
                        "sqlQueryId"
                    ) if isinstance(body, dict) else None
                    with shim._lane_slot(body):
                        data, ctype = shim._run_with_timeout(
                            lambda: shim._handle_sql(body),
                            timeout_ms,
                            sql_query_id=qid,
                        )
                    # Druid stamps the (possibly client-chosen)
                    # query id on the response for correlation
                    self._send_raw(
                        200, data, ctype,
                        headers={"X-Druid-SQL-Query-Id": qid}
                        if qid else None,
                    )
                    return
                elif self.path == "/druid/v2/sql/task":
                    self._send(200, shim._handle_sql_ingest(body))
                    return
                elif self.path == "/druid/v2/sql/statements":
                    self._send(202, shim._statement_submit(body))
                    return
                elif self.path == "/druid/v2/sql/avatica":
                    try:
                        self._send(200, shim._avatica.handle(body))
                    except Exception as e:
                        # Avatica transports failures in-band: an
                        # ErrorResponse body with HTTP 500
                        # (json_reference.html)
                        self._send(500, {
                            "response": "error",
                            "exceptions": [],
                            "errorMessage": str(e)[:2000],
                            "errorCode": -1,
                            "sqlState": "00000",
                            "rpcMetadata": {
                                "response": "rpcMetadata",
                                "serverAddress": "local",
                            },
                        })
                    return
                elif self.path.split("?", 1)[0] == (
                    "/druid/coordinator/v1/config/compaction"
                ):
                    self._send(
                        200, shim._set_compaction_config(body)
                    )
                    return
                elif self.path.split("?", 1)[0] == (
                    "/druid/coordinator/v1/config"
                ):
                    self._send(200, shim._set_dynamic_config(body))
                    return
                elif self.path.startswith(
                    "/druid/coordinator/v1/lookups/config/__default/"
                ):
                    name = self.path.rsplit("/", 1)[1]
                    self._send(202, shim._lookup_update(name, body))
                    return
                elif self.path.startswith(
                    "/druid/coordinator/v1/rules/"
                ):
                    ds = self.path.split("?", 1)[0].rsplit("/", 1)[1]
                    shim._set_rules(ds, body)
                    self._send(200, {"status": "accepted"})
                    return
                elif self.path.startswith(
                    "/druid/coordinator/v1/datasources/"
                ) and self.path.split("?", 1)[0].endswith(
                    ("/markUnused", "/markUsed")
                ):
                    p = self.path.split("?", 1)[0]
                    rest = p.split(
                        "/druid/coordinator/v1/datasources/", 1
                    )[1]
                    ds, _, action = rest.partition("/")
                    n_changed = shim._mark_segments(
                        ds, body, used=(action == "markUsed")
                    )
                    self._send(
                        200, {"numChangedSegments": n_changed}
                    )
                    return
                elif self.path == "/druid/indexer/v1/task":
                    self._send(200, shim._handle_task(body))
                    return
                elif self.path == "/druid/indexer/v1/supervisor":
                    self._send(200,
                               shim._handle_supervisor_submit(body))
                    return
                elif self.path.startswith(
                    "/druid/indexer/v1/supervisor/"
                ):
                    rest = self.path.split(
                        "/druid/indexer/v1/supervisor/", 1
                    )[1]
                    sup_id, _, action = rest.rpartition("/")
                    out = (
                        shim._supervisor_action(sup_id, action)
                        if sup_id and action in (
                            "terminate", "suspend", "resume",
                            "reset",
                        ) else None
                    )
                    if out is not None:
                        self._send(200, out)
                    else:
                        self._send(404, {
                            "error": "Unknown supervisor",
                            "errorMessage": rest})
                    return
                elif self.path in ("/druid/v2", "/druid/v2/"):
                    with shim._lane_slot(body):
                        rows = shim._run_with_timeout(
                            lambda: shim._handle_native(body),
                            timeout_ms,
                        )
                else:
                    self._send(404, {"error": "Unknown path",
                                     "errorMessage": self.path})
                    return
            except _QueryTimeout as e:
                # Druid's timeout envelope, HTTP 504
                self._send(504, {"error": "Query timed out",
                                 "errorMessage": str(e)})
                return
            except _QueryCancelled as e:
                # Druid's QueryInterruptedException shape for a
                # client-initiated cancel, HTTP 500
                self._send(500, {"error": "Query cancelled",
                                 "errorMessage": str(e)})
                return
            except _CapacityExceeded as e:
                # Druid's query-laning rejection, HTTP 429
                self._send(429, {"error": "Query capacity exceeded",
                                 "errorMessage": str(e)})
                return
            except _ResourceLimitExceeded as e:
                # Druid's ResourceLimitExceeded envelope, HTTP 400:
                # a capped result errors, never silently truncates
                self._send(400, {"error": "Resource limit exceeded",
                                 "errorMessage": str(e)})
                return
            except (ValueError, KeyError) as e:
                # bad spec: Druid's error envelope, HTTP 400
                self._send(400, {"error": "Query not supported",
                                 "errorMessage": str(e)})
                return
            except _ANALYSIS_ERRORS as e:
                # unknown column / unparsable SQL: still the
                # CLIENT's query at fault -> 400, like Druid
                self._send(400, {"error": "Query not supported",
                                 "errorMessage": str(e)[:2000]})
                return
            except Exception as e:  # execution failure -> 500
                self._send(500, {"error": "Unknown exception",
                                 "errorMessage": str(e)[:2000]})
                return
            self._send(200, rows)

    return Handler

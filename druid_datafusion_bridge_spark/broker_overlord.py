"""Overlord-API mixin for the broker shim: task submission and
lifecycle (index_parallel/kill/compact), the MSQ-style sql/task and
sql/statements endpoints, EXTERN resolution, and streaming supervisor
submission. Every method runs on the DruidBrokerShim instance; SELECT
tasks and statements run their SQL through the broker's one query path
(``_serve_sql``)."""

from __future__ import annotations

import json
import re
import threading

from .broker_util import (
    _EXTERN_RE,
    _INGEST_SQL_RE,
    _bind_params,
    _druid_types,
    _json_safe,
    _rewrite_system_tables,
    _strip_sql_head,
    _word_in_sql,
)
from .functions.druid_sql import granularity_period
from .retention import interval_ms


class OverlordAPIMixin:
    """Overlord-plane methods of :class:`DruidBrokerShim`."""

    def _handle_sql_ingest(self, body: dict) -> dict:
        """POST /druid/v2/sql/task — Druid's SQL-based (MSQ) ingestion
        (sql-ingestion.md): ``INSERT INTO ds SELECT ... PARTITIONED BY
        <grain>`` appends version-tagged segments; ``REPLACE INTO ds
        OVERWRITE ALL SELECT ... PARTITIONED BY <grain>`` swaps the
        datasource's contents. ``CLUSTERED BY cols`` orders rows inside
        each segment (after __time, Druid's layout). Runs synchronously
        on Spark — the returned task is already terminal, and it shows
        up in sys.tasks and /druid/indexer/v1/task/{id}/status like any
        overlord task. The SELECT must produce a __time column."""
        import datetime
        import os
        import shutil
        import time

        sql_text = body.get("query", "")
        # classify on the comment-stripped head (Calcite accepts
        # leading comments and parenthesized SELECTs on this endpoint)
        stripped = _strip_sql_head(sql_text)
        m = _INGEST_SQL_RE.match(stripped)
        if m is None:
            head = stripped[:7].upper()
            if head.startswith(("SELECT", "WITH", "(")):
                # the MSQ task engine also runs SELECT queries
                # (sql-ingestion.md): rows land in the
                # query_controller task's report, not in segments —
                # and need no deep storage, so dispatch before the
                # ingestion-enabled check
                return self._run_select_task(sql_text, body)
            raise ValueError(
                "sql/task accepts INSERT INTO <ds> SELECT ... "
                "PARTITIONED BY <grain> [CLUSTERED BY cols], "
                "REPLACE INTO <ds> OVERWRITE ALL SELECT ..., or a "
                "SELECT query (results via the task reports endpoint)"
            )
        if self.deep_storage is None:
            raise ValueError(
                "SQL ingestion disabled: broker started without "
                "deep_storage"
            )
        verb = m.group("verb").upper()
        ds = m.group("ds")
        overwrite = m.group("overwrite") is not None
        if verb == "REPLACE" and not overwrite:
            raise ValueError("REPLACE requires OVERWRITE ALL")
        if verb == "INSERT" and overwrite:
            raise ValueError("INSERT cannot OVERWRITE; use REPLACE")
        # resolved BEFORE any storage is touched: a bogus 'PFOO' is a
        # clean 400, not a failure deep in the writer. ALL [TIME] is
        # one segment bucket for all time (period None).
        period = granularity_period(m.group("grain").strip("'\"").upper())
        cluster = [
            c.strip().strip('"')
            for c in (m.group("cluster") or "").split(",")
            if c.strip()
        ]
        args = _bind_params(body)
        df = self.spark.sql(
            _rewrite_system_tables(self._resolve_extern(m.group("select"))),
            args=args,
        )
        if "__time" not in df.columns:
            raise ValueError(
                "INSERT/REPLACE queries must provide a __time column"
            )
        missing = [c for c in cluster if c not in df.columns]
        if missing:
            raise ValueError(f"CLUSTERED BY columns not in SELECT: {missing}")
        from .sources.ingest import write_druid_segments

        with self._lock:
            self._task_seq += 1
            task_seq = self._task_seq  # version tag: race-free snapshot
            task_id = f"query_controller_{ds}_{task_seq}"
        created = datetime.datetime.now(datetime.timezone.utc).isoformat()
        root = os.path.join(self.deep_storage, ds)
        t0 = time.monotonic()
        try:
            if verb == "REPLACE":
                # atomic swap: write the NEW segments to a staging dir
                # while the old root keeps serving (a self-referential
                # REPLACE ... SELECT FROM ds reads it during the write),
                # then swap. A failed write leaves the old data intact.
                staging = f"{root}.staging.{task_seq}"
                shutil.rmtree(staging, ignore_errors=True)
                try:
                    write_druid_segments(
                        df, staging, granularity=period,
                        sort_by=cluster or None,
                    ).collect()
                    shutil.rmtree(root, ignore_errors=True)
                    os.rename(staging, root)
                finally:
                    shutil.rmtree(staging, ignore_errors=True)
            else:
                write_druid_segments(
                    df,
                    root,
                    granularity=period,
                    sort_by=cluster or None,
                    # INSERT appends: version-tag by task so repeated
                    # inserts into one interval never collide
                    version=f"t{task_seq}",
                ).collect()
            self._register_datasource_root(ds)
            status = {
                "id": task_id, "status": "SUCCESS", "dataSource": ds,
                "type": "query_controller", "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "errorMsg": None,
            }
        except Exception as e:
            status = {
                "id": task_id, "status": "FAILED", "dataSource": ds,
                "type": "query_controller", "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "errorMsg": str(e)[:2000],
            }
        self._record_task(
            status, {"type": "query_controller", "sqlQuery": sql_text}
        )
        if status["status"] == "FAILED":
            raise ValueError(status["errorMsg"])
        return {"taskId": task_id, "state": "SUCCESS"}

    def _resolve_extern(self, sql: str) -> str:
        """Rewrite every ``TABLE(EXTERN('<inputSource>', '<inputFormat>',
        '<signature>'))`` call (MSQ's external-input form,
        sql-ingestion.md) into a registered temp view reading that
        input through the ingestion reader, with the signature's columns
        cast to their declared types (absent columns surface as typed
        NULLs, matching MSQ)."""
        import hashlib

        from pyspark.sql import functions as F

        from .ingestion_spec import _read_input

        types = {"string": "string", "long": "long", "double": "double",
                 "float": "float", "bigint": "long"}

        def replace(m: re.Match) -> str:
            src = json.loads(m.group("src").replace("''", "'"))
            fmt = json.loads(m.group("fmt").replace("''", "'"))
            sig = json.loads(m.group("sig").replace("''", "'"))
            df = _read_input(
                self.spark, {"inputSource": src, "inputFormat": fmt}
            )
            cols = []
            for c in sig:
                name = c["name"]
                t = types.get(str(c.get("type", "string")).lower(),
                              "string")
                cols.append(
                    (df[name] if name in df.columns
                     else F.lit(None)).cast(t).alias(name)
                )
            view = "ddbs_extern_" + hashlib.md5(
                m.group(0).encode()
            ).hexdigest()[:12]
            df.select(*cols).createOrReplaceTempView(view)
            return view

        return _EXTERN_RE.sub(replace, sql)

    def _record_task(
        self, status: dict, payload: dict | None = None
    ) -> None:
        """Store a terminal task status (atomic map rebind) — the one
        bookkeeping path for batch, kill, and SQL ingestion tasks.
        ``payload`` retains the submitted body for
        GET /druid/indexer/v1/task/{id}.

        Bounded like _task_reports/_task_payloads: SELECT on
        /druid/v2/sql/task makes task recording a PER-QUERY path, so an
        unbounded status map would grow a long-lived broker's driver
        memory without limit (real Druid expires terminal statuses
        via druid.indexer.storage.recentlyFinishedThreshold — same
        idea, count-bounded here). The sys.tasks VIEW is NOT rebuilt
        here: every SQL entry point refreshes it lazily on reference
        (_reclaim_meta_views), so recording stays O(1) instead of
        paying a createDataFrame over all retained tasks per query."""
        with self._lock:
            tasks = dict(self._tasks)
            tasks[status["id"]] = status
            while len(tasks) > self._max_tasks:  # newest-first retention
                tasks.pop(next(iter(tasks)))
            self._tasks = tasks
            if payload is not None:
                payloads = dict(self._task_payloads)
                payloads[status["id"]] = payload
                # same bounded-retention hygiene as _task_reports
                # (payloads are small; the bound is generous)
                while len(payloads) > 512:
                    payloads.pop(next(iter(payloads)))
                self._task_payloads = payloads

    def _run_select_task(self, sql: str, body: dict) -> dict:
        """SELECT on POST /druid/v2/sql/task (sql-ingestion.md: the MSQ
        task engine runs SELECT queries too — including over
        ``TABLE(EXTERN(...))`` — landing rows in the query_controller
        task's report instead of segments). Synchronous like this
        overlord's other tasks; the result set passes the max_rows
        gate before being retained, then serves from
        ``GET /druid/indexer/v1/task/{id}/reports``."""
        import datetime
        import time

        args = _bind_params(body)
        with self._lock:
            self._task_seq += 1
            task_id = f"query_controller_select_{self._task_seq}"
        created = datetime.datetime.now(datetime.timezone.utc).isoformat()
        # sys.tasks wants a datasource; a SELECT task's natural one is
        # the first registered table the query READS — identifiers
        # following FROM/JOIN, in appearance order, so a column that
        # happens to share another table's name can't steal the
        # attribution. Word-match is the fallback (subqueries through
        # odd quoting), blank for pure-EXTERN.
        from .functions.druid_sql import _sql_code_mask

        mask = _sql_code_mask(sql)
        scrubbed = "".join(
            c if mask[i] else " " for i, c in enumerate(sql)
        )
        read = [
            t for _, t in re.findall(
                r'\b(?:FROM|JOIN)\s+("?)([A-Za-z_][A-Za-z0-9_]*)\1',
                scrubbed, re.IGNORECASE,
            )
        ]
        ds = next(
            (t for t in read if t in self.tables),
            next(
                (t for t in sorted(self.tables)
                 if _word_in_sql(t, sql)), "",
            ),
        )
        t0 = time.monotonic()
        try:
            fields, rows = self._serve_sql(
                self._resolve_extern(sql), args
            )
            status = {
                "id": task_id, "status": "SUCCESS", "dataSource": ds,
                "type": "query_controller", "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "errorMsg": None,
            }
            sig = [
                {
                    "name": f.name,
                    "type": _druid_types(f.dataType)[0],
                }
                for f in fields
            ]
            data = [[_json_safe(v) for v in r] for r in rows]
            with self._lock:
                reports = dict(self._task_reports)
                reports[task_id] = (sig, data)
                # bounded retention: unlike statements (which have a
                # DELETE), task reports have no eviction API, so a
                # long-lived broker serving periodic SELECT tasks
                # would grow until OOM — keep the newest 64 result
                # sets (each already bounded by max_rows); evicted
                # tasks keep status/payload, only rows age out
                while len(reports) > 64:
                    reports.pop(next(iter(reports)))
                self._task_reports = reports
        except Exception as e:
            status = {
                "id": task_id, "status": "FAILED", "dataSource": ds,
                "type": "query_controller", "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "errorMsg": str(e)[:2000],
            }
        self._record_task(
            status, {"type": "query_controller", "sqlQuery": sql}
        )
        if status["status"] == "FAILED":
            raise ValueError(status["errorMsg"])
        return {"taskId": task_id, "state": "SUCCESS"}

    def _task_report(self, task_id: str) -> dict | None:
        """GET /druid/indexer/v1/task/{id}/reports — the MSQ
        ``multiStageQuery`` report envelope (api-reference.md tasks;
        msq-concepts.md report shape): a status payload for every
        recorded task, plus ``results`` (signature + row arrays) for
        SELECT tasks whose rows this broker retained."""
        with self._lock:
            st = self._tasks.get(task_id)
            rep = self._task_reports.get(task_id)
        if st is None:
            return None
        payload: dict = {
            "status": {
                "status": st["status"],
                "startTime": st.get("createdTime"),
                "durationMs": st.get("duration"),
            }
        }
        if st.get("errorMsg"):
            payload["status"]["errorReport"] = {
                "taskId": task_id,
                "error": {
                    "errorCode": "UnknownError",
                    "errorMessage": st["errorMsg"],
                },
            }
        if rep is not None:
            sig, rows = rep
            payload["results"] = {"signature": sig, "results": rows}
        return {
            "multiStageQuery": {
                "type": "multiStageQuery",
                "taskId": task_id,
                "payload": payload,
            }
        }

    def _statement_submit(self, body: dict) -> dict:
        """POST /druid/v2/sql/statements: run the SQL asynchronously
        and return immediately with a queryId + state — Druid's async
        (MSQ task) query surface. The statement executes on a daemon
        thread under its own Spark job group so DELETE can cancel it
        without touching other queries; results are retained on the
        broker (bounded by max_rows) until the process ends, which is
        the durable-results subset this single-process engine can
        honor."""
        import datetime as _dtm

        sql = body.get("query")
        if not sql:
            raise ValueError("statements submission requires 'query'")
        with self._lock:
            self._task_seq += 1
            sid = f"query-{self._task_seq}"
            gid = f"ddbs-stmt-{sid}"
            st = {
                "queryId": sid,
                "state": "RUNNING",
                "createdAt": _dtm.datetime.now(
                    _dtm.timezone.utc
                ).isoformat(),
                "sql": sql,
                "gid": gid,
            }
            stmts = dict(getattr(self, "_sql_statements", {}))
            stmts[sid] = st
            self._sql_statements = stmts

        args = _bind_params(body)

        def run() -> None:
            import time as _time

            t0 = _time.perf_counter()
            sc = self.spark.sparkContext
            sc.setJobGroup(gid, f"sql statement {sid}",
                           interruptOnCancel=True)
            try:
                # SELECT over external data is an MSQ-engine feature
                # and the statements API is its documented home
                # (sql-ingestion.md: EXTERN in SELECT runs on sql/task
                # or sql/statements, never interactive /druid/v2/sql)
                # — resolve TABLE(EXTERN(...)) here like sql/task does
                fields, rows = self._serve_sql(
                    self._resolve_extern(sql), args
                )
                with self._lock:
                    if st["state"] == "RUNNING":
                        st["state"] = "SUCCESS"
                        st["fields"] = fields
                        st["rows"] = [
                            [_json_safe(v) for v in r] for r in rows
                        ]
                        st["durationMs"] = int(
                            (_time.perf_counter() - t0) * 1000
                        )
            except Exception as e:
                with self._lock:
                    if st["state"] == "RUNNING":
                        st["state"] = "FAILED"
                        st["errorMessage"] = str(e)[:2000]
            finally:
                try:
                    sc._jsc.clearJobGroup()
                except Exception:
                    pass

        threading.Thread(target=run, daemon=True,
                         name=f"stmt-{sid}").start()
        return {"queryId": sid, "state": "RUNNING",
                "createdAt": st["createdAt"]}

    def _statement_status(self, sid: str) -> dict | None:
        """GET /druid/v2/sql/statements/{id}: the documented
        SqlStatementResult subset (queryId/state/createdAt/durationMs,
        per-column schema, a one-page result descriptor on SUCCESS,
        errorDetails on FAILED)."""
        with self._lock:
            st = getattr(self, "_sql_statements", {}).get(sid)
            if st is None:
                return None
            out = {
                "queryId": st["queryId"],
                "state": st["state"],
                "createdAt": st["createdAt"],
            }
            if st["state"] == "SUCCESS":
                out["durationMs"] = st.get("durationMs", 0)
                out["schema"] = [
                    {
                        "name": f.name,
                        "type": _druid_types(f.dataType)[1],
                        "nativeType": _druid_types(f.dataType)[0],
                    }
                    for f in st.get("fields", [])
                ]
                n = len(st.get("rows", []))
                out["result"] = {
                    "numTotalRows": n,
                    "pages": [{"id": 0, "numRows": n}],
                }
            if st["state"] == "FAILED":
                out["errorDetails"] = {
                    "error": "druidException",
                    "errorMessage": st.get("errorMessage", ""),
                }
            return out

    def _statement_results(self, sid: str, page: int = 0):
        """GET /druid/v2/sql/statements/{id}/results[?page=] — rows as
        a JSON array of objects (the default resultFormat). Results
        exist only for SUCCESS; asking earlier or for a page that
        doesn't exist is the client's error."""
        with self._lock:
            st = getattr(self, "_sql_statements", {}).get(sid)
            if st is None:
                return None
            if st["state"] != "SUCCESS":
                raise ValueError(
                    f"statement {sid} is {st['state']}; results exist "
                    "only for SUCCESS"
                )
            if page != 0:
                raise ValueError(f"no page {page}; result has one page")
            cols = [f.name for f in st.get("fields", [])]
            return [dict(zip(cols, r)) for r in st.get("rows", [])]

    def _statement_delete(self, sid: str) -> bool:
        """DELETE /druid/v2/sql/statements/{id}: cancel a RUNNING
        statement's job group (finished ones just acknowledge)."""
        with self._lock:
            st = getattr(self, "_sql_statements", {}).get(sid)
            if st is None:
                return False
            if st["state"] == "RUNNING":
                st["state"] = "CANCELED"
                gid = st["gid"]
            else:
                gid = None
        if gid is not None:
            try:
                self.spark.sparkContext.cancelJobGroup(gid)
            except Exception:
                pass
        return True

    def _handle_task(self, body: dict) -> dict:
        """POST /druid/indexer/v1/task — the overlord's task-submission
        endpoint (api-reference.md). index_parallel and compact task
        JSON executes synchronously on Spark (segments land under
        ``deep_storage/<dataSource>``); on success the datasource
        (re)registers for querying and sys.segments refreshes, so the
        Druid workflow — submit task, poll status, query — works
        end-to-end against one process. Druid returns the id before
        running; a synchronous shim returns it after, and the status
        endpoint reports the terminal state either way."""
        if self.deep_storage is None:
            raise ValueError(
                "task submission disabled: broker started without "
                "deep_storage"
            )
        from .ingestion_spec import ingest

        inner = body.get("spec", body)
        ds = (
            (inner.get("dataSchema") or {}).get("dataSource")
            or body.get("dataSource")
        )
        if not ds:
            raise ValueError("task has no dataSource")
        if body.get("type") == "kill":
            # parsed at submit: a reversed or slash-less interval is a
            # 400, not a failed task (or a kill of nothing)
            kill_lo, kill_hi = interval_ms(body["interval"])
        with self._lock:
            self._task_seq += 1
            task_id = f"{body.get('type', 'index_parallel')}_{ds}_{self._task_seq}"
        import datetime
        import time

        created = datetime.datetime.now(datetime.timezone.utc).isoformat()
        # a compact task WRITES to dstDataSource (default
        # <dataSource>_compacted) — that destination, not the untouched
        # source root, is what must register for querying
        reg_ds = (
            body.get("dstDataSource", f"{ds}_compacted")
            if body.get("type") == "compact" else ds
        )
        t0 = time.monotonic()
        try:
            if body.get("type") == "kill":
                n = self._kill_task(ds, kill_lo, kill_hi)
                self._record_task({
                    "id": task_id, "status": "SUCCESS", "dataSource": ds,
                    "type": "kill", "createdTime": created,
                    "duration": int((time.monotonic() - t0) * 1000),
                    "errorMsg": None, "numSegmentsKilled": n,
                }, payload=body)
                return {"task": task_id}
            manifest = ingest(self.spark, body, self.deep_storage).collect()
            self._register_datasource_root(reg_ds)
            status = {
                "id": task_id, "status": "SUCCESS", "dataSource": reg_ds,
                "type": body.get("type", "index_parallel"),
                "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "segments": len(manifest), "errorMsg": None,
            }
        except Exception as e:
            status = {
                "id": task_id, "status": "FAILED", "dataSource": ds,
                "type": body.get("type", "index_parallel"),
                "createdTime": created,
                "duration": int((time.monotonic() - t0) * 1000),
                "segments": 0, "errorMsg": str(e)[:2000],
            }
        self._record_task(status, payload=body)
        return {"task": task_id}

    def _handle_supervisor_submit(self, body: dict) -> dict:
        """POST /druid/indexer/v1/supervisor (supervisor-api.md): start
        (or replace, Druid's resubmit semantics) a streaming ingestion
        supervisor; every segment handoff auto-registers the datasource
        for querying. Returns ``{"id": ...}`` like the real overlord."""
        if self.deep_storage is None:
            raise ValueError(
                "supervisor submission disabled: broker started "
                "without deep_storage"
            )
        from .streaming.supervisor import StreamingSupervisor

        sup = StreamingSupervisor(
            self.spark, body, self.deep_storage,
            on_handoff=self._register_datasource_root,
        )
        # the whole replace sequence is serialized: two concurrent
        # resubmits of one id would otherwise both terminate the same
        # prev and start two streams sharing a checkpoint dir (one of
        # them leaking untracked)
        with self._submit_lock:
            with self._lock:
                prev = self._supervisors.get(sup.id)
            if prev is not None:
                prev.terminate()
            sup.start()
            import datetime as _dt

            with self._lock:
                sups = dict(self._supervisors)
                sups[sup.id] = sup
                self._supervisors = sups
                hist = list(self._supervisor_history.get(sup.id, []))
                hist.append({
                    "spec": body,
                    "version": _dt.datetime.now(
                        _dt.timezone.utc
                    ).isoformat(),
                })
                self._supervisor_history[sup.id] = hist
                self._refresh_sys_supervisors()
        return {"id": sup.id}

    def _supervisor_action(self, sup_id: str, action: str) -> dict | None:
        with self._lock:
            sup = self._supervisors.get(sup_id)
        if sup is None:
            return None
        if action == "status":
            import datetime

            return {
                "id": sup_id,
                "generationTime": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(),
                "payload": sup.status(),
            }
        if action == "stats":
            return sup.stats()
        if action == "terminate":
            sup.terminate()
        elif action == "suspend":
            sup.suspend()
        elif action == "resume":
            sup.resume()
        elif action == "reset":
            sup.reset()
        else:
            return None
        with self._lock:
            self._refresh_sys_supervisors()
        return {"id": sup_id}

    def _task_status(self, task_id: str) -> dict | None:
        with self._lock:
            st = self._tasks.get(task_id)
        return {"task": task_id, "status": st} if st else None

    def _task_payload(self, task_id: str) -> dict | None:
        """GET /druid/indexer/v1/task/{id} (api-reference.md tasks):
        the submitted task body, under Druid's {task, payload}
        envelope — the console's payload tab. Tasks recorded before
        payload retention (or synthesized internally) fall back to a
        minimal body built from the status row."""
        with self._lock:
            st = self._tasks.get(task_id)
            pl = self._task_payloads.get(task_id)
        if st is None:
            return None
        if pl is None:
            pl = {"id": task_id, "type": st.get("type"),
                  "dataSource": st.get("dataSource")}
        else:
            # the broker-assigned id wins over any client-supplied
            # "id" in the submitted body — payload.id must agree with
            # the envelope and the status/reports endpoints
            pl = {**pl, "id": task_id}
        return {"task": task_id, "payload": pl}

    def _task_list(
        self,
        state: str | None = None,
        datasource: str | None = None,
        task_type: str | None = None,
        max_n: int | None = None,
    ) -> list[dict] | None:
        """GET /druid/indexer/v1/tasks[?state=&datasource=&type=&max=]
        plus the /runningTasks /completeTasks /pendingTasks
        /waitingTasks aliases (api-reference.md tasks section; the
        Druid console's task view polls these). Tasks on this
        synchronous overlord are terminal the moment they are
        recorded, so running/pending/waiting are truthfully empty and
        ``complete`` equals the full list. Rows use Druid's TaskStatusPlus
        shape; newest first; ``max`` bounds complete-task listings like
        real Druid's."""
        if state not in (None, "complete", "running", "pending",
                         "waiting"):
            raise ValueError(f"unknown task state {state!r}")
        if state in ("running", "pending", "waiting"):
            return []
        with self._lock:
            tasks = list(self._tasks.values())
        out = [
            {
                "id": t["id"],
                "groupId": t["id"],
                "type": t.get("type", "index_parallel"),
                "createdTime": t.get("createdTime"),
                "queueInsertionTime": t.get("createdTime"),
                "statusCode": t["status"],
                "status": t["status"],
                "runnerStatusCode": "NONE",
                "duration": t.get("duration"),
                "location": {"host": None, "port": -1, "tlsPort": -1},
                "dataSource": t.get("dataSource", ""),
                "errorMsg": t.get("errorMsg"),
            }
            for t in tasks
            if (datasource is None or t.get("dataSource") == datasource)
            and (task_type is None or t.get("type") == task_type)
        ]
        out.sort(key=lambda r: (r["createdTime"] or "", r["id"]),
                 reverse=True)
        # Druid convention: a negative max means unlimited
        if max_n is not None and max_n >= 0:
            out = out[:max_n]
        return out


"""Coordinator-API mixin for the broker shim: retention rules and the
retention/auto-compaction duty loop, lookup-config management, segment
metadata (mark used/unused, kill, drill-downs), and the coordinator
datasource views. Every method runs on the DruidBrokerShim instance
and reads its segment roots, rules and lookup state."""

from __future__ import annotations

import json
import threading

from .functions.druid_sql import floor_ms, granularity_period
from .native_query import native_query


# Druid's coordinator dynamic-config defaults (coordinator-dynamic-
# config docs) — the document the console GETs on load
_DYNAMIC_CONFIG_DEFAULTS = {
    "millisToWaitBeforeDeleting": 900000,
    "maxSegmentsToMove": 100,
    "replicantLifetime": 15,
    "replicationThrottleLimit": 500,
    "balancerComputeThreads": 1,
    "killDataSourceWhitelist": [],
    "killPendingSegmentsSkipList": [],
    "maxSegmentsInNodeLoadingQueue": 500,
    "decommissioningNodes": [],
    "pauseCoordination": False,
    "replicateAfterLoadTimeout": False,
    "smartSegmentLoading": True,
}


class CoordinatorAPIMixin:
    """Coordinator-plane methods of :class:`DruidBrokerShim`."""

    def _get_dynamic_config(self) -> dict:
        """GET /druid/coordinator/v1/config: defaults overlaid with any
        POSTed overrides (the console's first coordinator call)."""
        with self._lock:
            return {**_DYNAMIC_CONFIG_DEFAULTS,
                    **self._dynamic_config_overrides}

    def _set_dynamic_config(self, body: dict) -> dict:
        """POST /druid/coordinator/v1/config: merge-update, like real
        Druid (unknown keys are accepted and echoed — Druid tolerates
        forward-compat fields)."""
        if not isinstance(body, dict):
            raise ValueError("dynamic config body must be an object")
        with self._lock:
            self._dynamic_config_overrides.update(body)
            return {**_DYNAMIC_CONFIG_DEFAULTS,
                    **self._dynamic_config_overrides}

    def _rules_path(self) -> str | None:
        import os

        if self.deep_storage is None:
            return None
        return os.path.join(self.deep_storage, "_coordinator",
                            "rules.json")

    def _load_persisted_rules(self) -> None:
        from .retention import DEFAULT_RULES

        path = self._rules_path()
        if path is None:
            return
        try:
            with open(path, encoding="utf-8") as f:
                state = json.load(f)
        except (OSError, ValueError):
            return
        with self._lock:
            self._rules = {
                ds: list(c) for ds, c in (state.get("rules") or {}).items()
            }
            self._default_rules = list(
                state.get("default") or self._default_rules
            )
            self._manual_unused = {
                ds: frozenset(v)
                for ds, v in (state.get("manualUnused") or {}).items()
            }
            self._rules_history = list(state.get("history") or ())
        nondefault = self._default_rules != list(DEFAULT_RULES)
        for ds in list(self._segment_roots):
            if nondefault or self._rules.get(ds) \
                    or self._manual_unused.get(ds):
                self._register_datasource_root(ds)
        # period rules drift with wall-clock: a restarted coordinator
        # must resume re-evaluating them, not just apply the load-time
        # "now" once
        if any(
            "Period" in r.get("type", "")
            for chain in list(self._rules.values()) + [self._default_rules]
            for r in chain
        ):
            self._ensure_duty_thread()

    def _lookups_path(self) -> str | None:
        import os

        if self.deep_storage is None:
            return None
        return os.path.join(self.deep_storage, "_coordinator",
                            "lookups.json")

    def _load_persisted_lookups(self) -> None:
        """Persisted lookup configs OVERLAY constructor-passed ones
        per name (persisted entries are the NEWER coordinator state
        and win on collision), but a constructor lookup absent from
        the persisted file survives — a broker restarted with a newly
        added constructor lookup must not silently lose it. The SQL
        ``LOOKUP()`` dispatcher re-registers so the first query sees
        the merged map."""
        path = self._lookups_path()
        if path is None:
            return
        try:
            with open(path, encoding="utf-8") as f:
                state = json.load(f)
        except (OSError, ValueError):
            return
        from .functions import register_sql_lookups

        with self._lock:
            self._lookups.update({
                n: {str(k): str(v) for k, v in m.items()}
                for n, m in (state.get("lookups") or {}).items()
            })
            self._lookup_versions.update({
                str(n): str(v)
                for n, v in (state.get("versions") or {}).items()
            })
            # tombstones beat the constructor: an explicitly DELETEd
            # lookup stays deleted across a restart (re-POSTing it
            # clears the tombstone)
            self._lookup_tombstones |= {
                str(n) for n in (state.get("deleted") or [])
            }
            for n in self._lookup_tombstones:
                self._lookups.pop(n, None)
                self._lookup_versions.pop(n, None)
        register_sql_lookups(self.spark, self._lookups)

    def _persist_lookups(self) -> None:
        import os

        path = self._lookups_path()
        if path is None:
            return
        with self._lock:
            state = {
                "lookups": {n: dict(m) for n, m in self._lookups.items()},
                "versions": dict(self._lookup_versions),
                "deleted": sorted(self._lookup_tombstones),
            }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # pid+thread-unique tmp: two HTTP handler threads persisting
        # concurrently must not truncate each other's half-written tmp
        # (each writes its own snapshot; os.replace keeps the last one
        # whole)
        tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def _persist_rules(self) -> None:
        """Write the retention state atomically (call OUTSIDE the
        lock; reads its own consistent snapshot under it)."""
        import os

        path = self._rules_path()
        if path is None:
            return
        with self._lock:
            state = {
                "rules": {ds: list(c) for ds, c in self._rules.items()},
                "default": list(self._default_rules),
                "manualUnused": {
                    ds: sorted(v)
                    for ds, v in self._manual_unused.items()
                },
                "history": list(self._rules_history),
            }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def _set_compaction_config(self, body: dict) -> dict:
        """POST /druid/coordinator/v1/config/compaction
        (automatic-compaction.md): store a per-datasource config and
        make sure the duty thread is running. Supported fields:
        ``dataSource`` (required), ``segmentGranularity`` (target
        bucket, default day)."""
        ds = body.get("dataSource")
        if not ds:
            raise ValueError("compaction config needs a dataSource")
        gran = body.get("granularitySpec", {}).get(
            "segmentGranularity"
        ) or body.get("segmentGranularity", "day")
        # validated here: a bad granularity is a 400 now, not a
        # compaction that fails on every duty cycle
        granularity_period(gran)
        with self._lock:
            cfgs = dict(self._compaction_configs)
            cfgs[ds] = {"dataSource": ds, "segmentGranularity": gran}
            self._compaction_configs = cfgs
        self._ensure_duty_thread()
        return {"status": "accepted"}

    def _ensure_duty_thread(self) -> None:
        """Start the coordinator duty thread once: each cycle runs
        auto-compaction AND retention re-evaluation (period rules
        anchor at wall-clock, so what a chain drops MOVES as time
        passes — the real coordinator re-applies rules every run)."""
        if self._compaction_thread is not None:
            return

        def duty() -> None:
            while not self._compaction_stop.wait(
                self._compaction_period_s
            ):
                try:
                    self.run_auto_compaction()
                except Exception:
                    pass  # next cycle retries; queries unaffected
                try:
                    self.run_retention_duty()
                except Exception:
                    pass

        self._compaction_thread = threading.Thread(
            target=duty, daemon=True, name="coordinator-duty"
        )
        self._compaction_thread.start()

    def run_retention_duty(self) -> dict[str, int]:
        """One retention pass (tests call this directly): re-evaluate
        rules for every datasource whose effective chain contains a
        PERIOD rule — interval/forever rules can't drift with time, so
        roots governed only by those are skipped — and re-register any
        root whose unused set moved. Returns {datasource: n_unused}
        for the datasources that changed."""
        with self._lock:
            period_default = any(
                "Period" in r.get("type", "") for r in self._default_rules
            )
            names = [
                ds for ds in self._segment_roots
                if period_default
                or any(
                    "Period" in r.get("type", "")
                    for r in self._rules.get(ds, ())
                )
            ]
        out: dict[str, int] = {}
        for ds in names:
            root = self._segment_roots.get(ds)
            if root is None:
                continue
            unused = self._retention_unused(ds, root)
            with self._lock:
                if self._unused.get(ds, frozenset()) == unused:
                    continue
            self._register_datasource_root(ds)
            with self._lock:  # after registration — see _set_rules
                self._retention_epoch += 1
            out[ds] = len(unused)
        return out

    def _delete_compaction_config(self, ds: str) -> bool:
        with self._lock:
            if ds not in self._compaction_configs:
                return False
            cfgs = dict(self._compaction_configs)
            del cfgs[ds]
            self._compaction_configs = cfgs
        return True

    def run_auto_compaction(self) -> dict[str, int]:
        """One duty cycle (tests call this directly for determinism):
        for each configured datasource whose root holds MORE segments
        than target-granularity buckets (streaming handoff's natural
        fragmentation), rewrite the whole root at the target granularity
        through the engine's distributed compaction, swap it in, and
        re-register. Returns {datasource: segments_after} for the
        datasources it compacted."""
        import os
        import shutil

        from .sources.datasource import find_segment_dirs, load_plan_meta
        from .sources.ingest import compact_segments

        with self._lock:
            cfgs = dict(self._compaction_configs)
        out: dict[str, int] = {}
        for ds, cfg in cfgs.items():
            root = self._segment_roots.get(ds)
            if root is None:
                continue
            # validated at POST, so this cannot raise
            period = granularity_period(cfg["segmentGranularity"])
            try:
                dirs = find_segment_dirs(root)
            except Exception:
                continue
            metas = load_plan_meta(root, dirs)
            # bucket each segment by its interval start at the target
            # granularity, on the writer's grid — pure metadata, no
            # decodes
            buckets = {floor_ms(m["start"], period) for m in metas.values()}
            if len(dirs) <= len(buckets):
                continue  # one segment per bucket: healthy
            staging = f"{root}.compacting.{os.getpid()}"
            shutil.rmtree(staging, ignore_errors=True)
            try:
                compact_segments(
                    self.spark, root, staging, granularity=period
                ).collect()
                shutil.rmtree(root, ignore_errors=True)
                os.rename(staging, root)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            self._register_datasource_root(ds)
            out[ds] = len(find_segment_dirs(root))
        return out

    def _lookup_spec(self, name: str) -> dict | None:
        with self._lock:
            m = self._lookups.get(name)
            if m is None:
                return None
            return {
                "version": self._lookup_versions.get(name, "0"),
                "lookupExtractorFactory": {"type": "map", "map": dict(m)},
            }

    def _lookup_update(self, name: str, body: dict) -> dict:
        """POST /druid/coordinator/v1/lookups/config/__default/{name}
        (lookups-api.md): create or replace a map lookup and re-register
        the SQL LOOKUP() dispatcher so the next query sees it. Accepts
        Druid's versioned envelope or a bare map."""
        from .functions import register_sql_lookups

        if "lookupExtractorFactory" in body:
            fac = body["lookupExtractorFactory"]
            if fac.get("type") != "map":
                raise ValueError(
                    f"unsupported lookup type {fac.get('type')!r} "
                    "(only 'map' lookups exist in-process)"
                )
            mapping = fac.get("map") or {}
            version = str(body.get("version", ""))
        else:
            mapping, version = body, ""
        if not isinstance(mapping, dict):
            raise ValueError("lookup map must be a JSON object")
        with self._lock:
            lookups = dict(self._lookups)
            lookups[name] = {str(k): str(v) for k, v in mapping.items()}
            self._lookups = lookups
            if not version:
                # auto-version: numeric predecessors increment; any
                # client-set string (e.g. "v2") restarts at "1" instead
                # of crashing int()
                try:
                    version = str(
                        int(self._lookup_versions.get(name, "0")) + 1
                    )
                except ValueError:
                    version = "1"
            versions = dict(self._lookup_versions)
            versions[name] = version
            self._lookup_versions = versions
            # re-creating a deleted lookup clears its tombstone
            self._lookup_tombstones = self._lookup_tombstones - {name}
            snapshot = self._lookups
        # the Spark UDF re-registration is a JVM round-trip — run it
        # OUTSIDE the fast map/view lock so concurrent queries don't
        # stall behind it (last registration wins either way)
        register_sql_lookups(self.spark, snapshot)
        self._persist_lookups()
        return {"status": "accepted"}

    def _lookup_delete(self, name: str) -> bool:
        from .functions import register_sql_lookups

        with self._lock:
            if name not in self._lookups:
                return False
            lookups = dict(self._lookups)
            del lookups[name]
            self._lookups = lookups
            versions = dict(self._lookup_versions)
            versions.pop(name, None)
            self._lookup_versions = versions
            self._lookup_tombstones = self._lookup_tombstones | {name}
            snapshot = self._lookups
        register_sql_lookups(self.spark, snapshot)  # outside the lock
        self._persist_lookups()
        return True

    def _coordinator_datasource(
        self, name: str, sub: str, full: bool = False
    ):
        """GET /druid/coordinator/v1/datasources/{ds}
        [/intervals | /segments[?full] | /segments/{id}] — the
        coordinator's datasource metadata (api-reference.md subset with
        truthful values here): segment count/size/min-max time for the
        bare form, the sorted "start/end" interval list for /intervals,
        used-segment ids (or ?full metadata objects, or one segment's
        object by id) for /segments — the console's datasource
        drill-down calls. Every form reads the root's timeline, so the
        count, size and intervals describe exactly the used segments
        /segments lists (Druid's legacy metadata API reports used
        segments throughout); no segment decodes."""
        root = self._segment_roots.get(name)
        if root is None:
            return None
        if sub == "segments" or sub.startswith("segments/"):
            segs = self._metadata_segments([name])
            if sub.startswith("segments/"):
                seg_id = sub.split("segments/", 1)[1]
                for s in segs:
                    if s["identifier"] == seg_id:
                        return s
                return None
            if full:
                return segs
            return [s["identifier"] for s in segs]
        from .cli import _format_millis as iso
        from .sources.datasource import SERVED, segment_timeline

        with self._lock:
            dropped = self._unused.get(name) or frozenset()
        used = [
            s.meta for s in segment_timeline(root, dropped)
            if s.state == SERVED
        ]
        if sub.startswith("intervals"):
            return sorted(
                {f"{iso(m['start'])}/{iso(m['end'])}" for m in used},
                reverse=True,
            )
        starts = [m["start"] for m in used]
        ends = [m["end"] for m in used]
        return {
            "name": name,
            "properties": {
                "segments": {
                    "count": len(used),
                    "size": sum(m["size"] for m in used),
                    "minTime": iso(min(starts)) if starts else None,
                    "maxTime": iso(max(ends)) if ends else None,
                }
            },
        }

    def _kill_task(self, ds: str, lo: int, hi: int) -> int:
        """``{"type": "kill"}`` task (api-reference.md): permanently
        delete the datasource's segments WHOLLY CONTAINED in the
        ``[lo, hi)`` epoch-millis interval (Druid's containment rule —
        partially overlapping segments survive). Deletes from deep
        storage, then re-registers (or deregisters an emptied datasource) so
        sys.segments, the table map, and the result cache all move in
        the same step. Returns the number of segments killed."""
        import shutil

        from .sources.datasource import find_segment_dirs, segment_timeline

        root = self._segment_roots.get(ds)
        if root is None:
            raise ValueError(f"unknown datasource {ds!r}")

        killed = [
            s.dir for s in segment_timeline(root)
            if lo <= s.meta["start"] and s.meta["end"] <= hi
        ]
        for d in killed:
            shutil.rmtree(d, ignore_errors=True)
        # the planning manifest self-heals (load_plan_meta reconciles
        # removed entries), so it is NOT unlinked — deleting it would
        # force an O(N) segment re-open on the next planning pass
        try:
            remaining = find_segment_dirs(root)
        except ValueError:  # an emptied root raises, not []
            remaining = []
        if remaining:
            self._register_datasource_root(ds)
        else:
            with self._lock:
                tables = dict(self.tables)
                tables.pop(ds, None)
                self.tables = tables
                roots = dict(self._segment_roots)
                roots.pop(ds, None)
                self._segment_roots = roots
                digests = dict(self._root_digests)
                digests.pop(ds, None)
                self._root_digests = digests
                self.spark.catalog.dropTempView(ds)
                unused_map = dict(self._unused)
                unused_map.pop(ds, None)
                self._unused = unused_map
                self._manual_unused.pop(ds, None)
                self._refresh_sys_segments()
                self._refresh_sys_datasources()
                self._register_information_schema()
        return len(killed)

    def _retention_unused(self, ds: str, root: str) -> frozenset[str]:
        """Segment-dir basenames the current rule chains + manual marks
        drop for this datasource. Metadata-plane only (one manifest
        read); the no-rules/default-loadForever fast path skips even
        that, so datasources that never touch retention pay nothing."""
        import time

        from .retention import DEFAULT_RULES, unused_segments
        from .sources.datasource import find_segment_dirs, load_plan_meta

        with self._lock:
            rules = list(self._rules.get(ds) or ())
            default = list(self._default_rules)
            manual = self._manual_unused.get(ds) or frozenset()
        if not rules and not manual and default == list(DEFAULT_RULES):
            return frozenset()
        try:
            dirs = find_segment_dirs(root)
        except ValueError:  # empty root: nothing to drop
            return frozenset(manual)
        metas = load_plan_meta(root, dirs)
        now_ms = int(time.time() * 1000)
        dropped = unused_segments(rules, default, metas, now_ms)
        return frozenset(dropped) | manual

    def _get_rules(self, ds: str | None = None, full: bool = False):
        """GET /druid/coordinator/v1/rules[/{ds}[?full]] — the full
        rules map, or one datasource's chain (?full appends the
        cluster default chain, as the real coordinator does)."""
        with self._lock:
            if ds is None:
                out = {n: list(c) for n, c in self._rules.items()}
                out["_default"] = list(self._default_rules)
                return out
            if ds == "_default":
                return list(self._default_rules)
            chain = list(self._rules.get(ds) or ())
            if full:
                chain += list(self._default_rules)
            return chain

    def _set_rules(self, ds: str, rules: list[dict]) -> None:
        """POST /druid/coordinator/v1/rules/{ds} — validate, install,
        and apply immediately: affected roots re-register with the new
        exclusion set (real Druid converges on the next coordinator
        run; this synchronous coordinator applies in-line so the next
        query already serves the new rule state)."""
        import datetime as _dtm

        from .retention import validate_rules

        validate_rules(rules)
        audit = {
            "key": ds,
            "type": "rules",
            "auditInfo": {"author": "", "comment": ""},
            "payload": json.dumps(rules, sort_keys=True),
            "auditTime": _dtm.datetime.now(
                _dtm.timezone.utc
            ).isoformat(),
        }
        with self._lock:
            if ds == "_default":
                self._default_rules = list(rules)
                affected = list(self._segment_roots)
            else:
                rmap = dict(self._rules)
                if rules:
                    rmap[ds] = list(rules)
                else:
                    rmap.pop(ds, None)
                self._rules = rmap
                affected = [ds] if ds in self._segment_roots else []
            self._rules_history = self._rules_history + [audit]
            has_period = any(
                "Period" in r.get("type", "") for r in rules
            )
        for name in affected:
            self._register_datasource_root(name)
        # epoch bumps AFTER registration: a query racing the window
        # between rule install and the re-registered relation executes
        # against the OLD relation — caching that result under the old
        # epoch is correct; caching it under the new epoch would serve
        # pre-flip rows forever
        with self._lock:
            self._retention_epoch += 1
        self._persist_rules()
        if has_period:
            # period rules drift with wall-clock — the duty cycle must
            # re-evaluate them even with no compaction config submitted
            self._ensure_duty_thread()

    def _mark_segments(self, ds: str, body: dict, used: bool) -> int:
        """POST /druid/coordinator/v1/datasources/{ds}/markUnused (or
        markUsed) — manual segment lifecycle (api-reference.md): body
        carries ``{"interval": "start/end"}`` (containment rule, like
        kill) or ``{"segmentIds": [...]}`` (segment-dir basenames).
        markUsed clears manual marks; it cannot resurrect a segment a
        drop RULE excludes (rules re-apply on registration), exactly
        like real Druid. Returns the number of marks changed."""
        import os

        from .retention import interval_ms
        from .sources.datasource import segment_timeline

        root = self._segment_roots.get(ds)
        if root is None:
            raise ValueError(f"unknown datasource {ds!r}")
        if "interval" in body:
            lo, hi = interval_ms(body["interval"])
            targets = {
                os.path.basename(s.dir)
                for s in segment_timeline(root)
                if lo <= s.meta["start"] and s.meta["end"] <= hi
            }
        elif "segmentIds" in body:
            targets = {str(s) for s in body["segmentIds"]}
        else:
            raise ValueError(
                "markUnused/markUsed requires 'interval' or 'segmentIds'"
            )
        with self._lock:
            manual = dict(self._manual_unused)
            cur = set(manual.get(ds) or ())
            before = len(cur)
            cur = (cur | targets) if not used else (cur - targets)
            changed = abs(len(cur) - before)
            if cur:
                manual[ds] = frozenset(cur)
            else:
                manual.pop(ds, None)
            self._manual_unused = manual
        self._register_datasource_root(ds)
        with self._lock:  # after registration — see _set_rules
            self._retention_epoch += 1
        self._persist_rules()
        return changed

    def _metadata_segments(
        self,
        datasources: list[str] | None = None,
        include_overshadowed: bool = False,
    ) -> list[dict]:
        """GET /druid/coordinator/v1/metadata/segments
        [?datasources=ds...][&includeOvershadowedStatus] — every USED
        segment as a metadata object (legacy-metadata-api.md), the
        tooling-facing twin of sys.segments. Served from planning
        manifests, no decodes. Truthful subset of Druid's
        SegmentMetadata: identifier, dataSource, interval, size,
        numRows, binaryVersion; ``includeOvershadowedStatus`` includes
        overshadowed segments and adds the ``overshadowed`` flag.
        Deliberate divergence: the plain listing serves the VISIBLE
        TIMELINE, i.e. real Druid's steady state after its coordinator
        duty marks overshadowed segments unused — in real Druid an
        overshadowed segment transiently stays 'used' (and listed)
        until that duty cycle runs; this engine applies overshadowing
        inline, so the transient window does not exist (clients that
        need overshadowed rows pass includeOvershadowedStatus).
        markUnused/retention-dropped segments are not used and never
        appear."""
        import os

        from .cli import _format_millis as iso
        from .sources.datasource import OVERSHADOWED, SERVED, segment_timeline

        with self._lock:
            roots = dict(self._segment_roots)
            unused = dict(self._unused)
        out: list[dict] = []
        for ds in sorted(roots):
            if datasources and ds not in datasources:
                continue
            try:
                timeline = segment_timeline(
                    roots[ds], unused.get(ds) or frozenset()
                )
            except ValueError:
                continue  # emptied root: nothing used
            for s in timeline:
                listed = s.state == SERVED or (
                    include_overshadowed and s.state == OVERSHADOWED
                )
                if not listed:
                    continue
                m = s.meta
                start, end = iso(m["start"]), iso(m["end"])
                row = {
                    "identifier": (
                        f"{ds}_{start}_{end}_{os.path.basename(s.dir)}"
                    ),
                    "dataSource": ds,
                    "interval": f"{start}/{end}",
                    "size": m["size"],
                    "numRows": int(m["rows"]),
                    "binaryVersion": 9,
                }
                if include_overshadowed:
                    row["overshadowed"] = s.state == OVERSHADOWED
                out.append(row)
        return out

    def _datasource_detail(self, name: str) -> dict:
        """GET /druid/v2/datasources/{name}: Druid's dimensions/metrics
        split, classified from the schema the way Druid's segment
        metadata does — string-ish columns are dimensions, numeric
        columns metrics, the time column neither."""
        dims, mets = [], []
        for f in self.tables[name].schema.fields:
            if f.name == self.time_col:
                continue
            s = f.dataType.simpleString()
            if s in ("string", "date") or s.startswith("array"):
                dims.append(f.name)
            else:
                mets.append(f.name)
        return {"dimensions": dims, "metrics": mets}


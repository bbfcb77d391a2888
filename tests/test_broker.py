"""Druid-broker HTTP shim (broker.py): the two client endpoints a Druid
deployment exposes — POST /druid/v2 (native JSON) and /druid/v2/sql —
answered by this engine over plain urllib, plus the health and
datasource-listing probes and Druid's error envelope."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.broker import DruidBrokerShim


@pytest.fixture(scope="module")
def shim(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "en", 5), ("2024-01-01 00:20:00", "en", 7),
         ("2024-01-01 02:00:00", "de", 11)],
        "ts string, channel string, delta long",
    ).select(F.col("ts").cast("timestamp").alias("__time"), "channel", "delta")
    s = DruidBrokerShim(spark, {"wikipedia": df},
                        lookups={"lang": {"en": "English", "de": "German"}})
    port = s.start()
    yield f"http://127.0.0.1:{port}"
    s.stop()


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_native_endpoint(shim):
    rows = _post(shim + "/druid/v2", {
        "queryType": "topN",
        "dataSource": "wikipedia",
        "granularity": "all",
        "dimension": "channel",
        "metric": "total",
        "threshold": 1,
        "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "delta"},
        ],
    })
    # Druid's native topN envelope: per-bucket {timestamp, result}
    assert rows == [
        {"timestamp": None, "result": [{"channel": "en", "total": 12}]}
    ]


def test_native_envelopes_per_query_type(shim):
    """POST /druid/v2 answers Druid's per-queryType result envelope
    (timeseries {timestamp,result}, groupBy v1 {timestamp,event}, scan
    column-listed event batches, timeBoundary single entry) — what real
    native-API clients parse."""
    ts = _post(shim + "/druid/v2", {
        "queryType": "timeseries", "dataSource": "wikipedia",
        "granularity": "hour",
        "intervals": ["2024-01-01T00:00:00/2024-01-01T03:00:00"],
        "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "delta"}],
    })
    assert [e["result"]["total"] for e in ts] == [12, 0, 11]
    assert all(set(e) == {"timestamp", "result"} for e in ts)
    gb = _post(shim + "/druid/v2", {
        "queryType": "groupBy", "dataSource": "wikipedia",
        "granularity": "all", "dimensions": ["channel"],
        "intervals": ["2024-01-01T00:00:00/2024-01-02T00:00:00"],
        "aggregations": [{"type": "count", "name": "n"}],
    })
    assert sorted(e["event"]["channel"] for e in gb) == ["de", "en"]
    assert all(
        e["version"] == "v1"
        and e["timestamp"] == "2024-01-01T00:00:00" for e in gb
    )
    sc = _post(shim + "/druid/v2", {
        "queryType": "scan", "dataSource": "wikipedia",
        "columns": ["channel", "delta"], "limit": 2,
        "resultFormat": "compactedList",
    })
    assert len(sc) == 1 and sc[0]["columns"] == ["channel", "delta"]
    assert all(len(ev) == 2 for ev in sc[0]["events"])
    tb = _post(shim + "/druid/v2", {
        "queryType": "timeBoundary", "dataSource": "wikipedia"})
    assert tb[0]["result"]["minTime"] == "2024-01-01T00:10:00"
    assert tb[0]["timestamp"] == tb[0]["result"]["minTime"]


def test_sys_tasks_and_datasources(shim):
    """sys.tasks / sys.datasources (sql-metadata-tables.md) answer over
    /druid/v2/sql: datasources lists the table map; tasks is empty on a
    broker that never ran one (zero rows, not an unknown-view error)."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT datasource FROM sys.datasources"})
    assert rows == [{"datasource": "wikipedia"}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT task_id, status FROM sys.tasks"})
    assert rows == []


def test_sql_endpoint_with_druid_dialect(shim):
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT TIME_FLOOR(__time, 'PT1H') AS h, "
                 "SUM(delta) AS total FROM wikipedia GROUP BY 1 ORDER BY 1",
    })
    assert [(r["h"], r["total"]) for r in rows] == [
        ("2024-01-01T00:00:00", 12), ("2024-01-01T02:00:00", 11),
    ]


def test_sql_parameters(shim):
    """Druid SQL API positional ?-parameters bind through Spark's
    parameterized SQL."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT SUM(delta) AS total FROM wikipedia "
                 "WHERE channel = ?",
        "parameters": [{"type": "VARCHAR", "value": "en"}],
    })
    assert rows == [{"total": 12}]


def _post_raw(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.read().decode(), r.headers.get("Content-Type")


def test_sql_result_formats(shim):
    """The SQL endpoint serves Druid's five documented resultFormats
    with the right content types, header rows, and the blank-line
    completion marker on line formats."""
    q = {"query": "SELECT channel, SUM(delta) AS total FROM wikipedia "
                  "GROUP BY 1 ORDER BY 1"}

    body, ctype = _post_raw(shim + "/druid/v2/sql",
                            {**q, "resultFormat": "array", "header": True})
    assert ctype == "application/json"
    assert json.loads(body) == [["channel", "total"], ["de", 11], ["en", 12]]

    body, ctype = _post_raw(shim + "/druid/v2/sql",
                            {**q, "resultFormat": "objectLines"})
    assert ctype == "text/plain"
    assert body.endswith("\n\n")
    lines = [json.loads(x) for x in body.split("\n") if x]
    assert lines == [{"channel": "de", "total": 11},
                     {"channel": "en", "total": 12}]

    body, ctype = _post_raw(shim + "/druid/v2/sql",
                            {**q, "resultFormat": "arrayLines",
                             "header": True})
    assert [json.loads(x) for x in body.split("\n") if x] == [
        ["channel", "total"], ["de", 11], ["en", 12]]

    body, ctype = _post_raw(shim + "/druid/v2/sql",
                            {**q, "resultFormat": "csv", "header": True})
    assert ctype == "text/csv"
    assert body == "channel,total\r\nde,11\r\nen,12\r\n\r\n"

    # header on the default object format: a column-name row of nulls
    body, ctype = _post_raw(shim + "/druid/v2/sql",
                            {**q, "resultFormat": "object", "header": True})
    assert json.loads(body)[0] == {"channel": None, "total": None}

    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(shim + "/druid/v2/sql", {**q, "resultFormat": "protobuf"})
    assert ei.value.code == 400


def test_sql_lookup_and_mv_text(shim):
    """LOOKUP('name') dictionaries and the MV_* family run as raw SQL
    text through the endpoint — a Druid user's query verbatim."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT LOOKUP(channel, 'lang') AS lang, "
                 "MV_LENGTH(STRING_TO_MV('a,b,c', ',')) AS n, "
                 "SUM(delta) AS total FROM wikipedia "
                 "GROUP BY 1 ORDER BY 1",
    })
    assert rows == [{"lang": "English", "n": 3, "total": 12},
                    {"lang": "German", "n": 3, "total": 11}]


def test_sql_type_headers(shim):
    """typesHeader/sqlTypesHeader add Druid-type and SQL-type rows in
    the format's own shape (array: extra rows; object: a {type,
    sqlType} object per column)."""
    q = {"query": "SELECT channel, SUM(delta) AS total, __time "
                  "FROM wikipedia GROUP BY 1, 3 ORDER BY 3, 1 LIMIT 1"}
    body, _ = _post_raw(shim + "/druid/v2/sql",
                        {**q, "resultFormat": "array", "header": True,
                         "typesHeader": True, "sqlTypesHeader": True})
    head = json.loads(body)[:3]
    assert head == [
        ["channel", "total", "__time"],
        ["STRING", "LONG", "LONG"],
        ["VARCHAR", "BIGINT", "TIMESTAMP"],
    ]

    body, _ = _post_raw(shim + "/druid/v2/sql",
                        {**q, "header": True, "typesHeader": True})
    assert json.loads(body)[0]["total"] == {"type": "LONG"}


def test_sql_explain_plan_for(shim):
    """Druid's EXPLAIN PLAN FOR introspection: one row with PLAN /
    RESOURCES / ATTRIBUTES; PLAN carries the engine's physical plan,
    RESOURCES the referenced datasources."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "EXPLAIN PLAN FOR SELECT channel, SUM(delta) AS t "
                 "FROM wikipedia GROUP BY 1",
    })
    assert len(rows) == 1
    assert "HashAggregate" in rows[0]["PLAN"]
    assert json.loads(rows[0]["RESOURCES"]) == [
        {"name": "wikipedia", "type": "DATASOURCE"}]
    assert json.loads(rows[0]["ATTRIBUTES"])["statementType"] == "SELECT"


def test_health_and_datasources(shim):
    with urllib.request.urlopen(shim + "/status/health") as r:
        assert json.loads(r.read()) is True
    # the bare /status identity probe (the console's first call)
    with urllib.request.urlopen(shim + "/status") as r:
        st = json.loads(r.read())
    assert st["version"] and st["modules"] == []
    assert st["memory"]["maxMemory"] > 0
    with urllib.request.urlopen(shim + "/druid/v2/datasources") as r:
        assert json.loads(r.read()) == ["wikipedia"]
    with urllib.request.urlopen(
        shim + "/druid/v2/datasources/wikipedia"
    ) as r:
        assert json.loads(r.read()) == {
            "dimensions": ["channel"], "metrics": ["delta"]}
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(shim + "/druid/v2/datasources/nope")
    assert ei.value.code == 404
    # legacy per-list endpoints + the console's startup probes
    with urllib.request.urlopen(
        shim + "/druid/v2/datasources/wikipedia/dimensions"
    ) as r:
        assert json.loads(r.read()) == ["channel"]
    with urllib.request.urlopen(
        shim + "/druid/v2/datasources/wikipedia/metrics"
    ) as r:
        assert json.loads(r.read()) == ["delta"]
    with urllib.request.urlopen(shim + "/status/properties") as r:
        props = json.loads(r.read())
    assert props["druid.service"] == "druid/broker"
    with urllib.request.urlopen(
        shim + "/druid/coordinator/v1/loadstatus"
    ) as r:
        assert json.loads(r.read()) == {"wikipedia": 100.0}


def test_temporal_and_nested_values_serialize(shim):
    """DATE casts and array<timestamp> results serialize instead of
    dying inside json.dumps after the error envelope."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT CAST(__time AS DATE) AS d, "
                 "collect_list(__time) AS times FROM wikipedia "
                 "GROUP BY 1 ORDER BY 1",
    })
    assert rows[0]["d"] == "2024-01-01"
    assert all(t.startswith("2024-01-01T") for t in rows[0]["times"])


def test_analysis_errors_are_client_errors(shim):
    """Unknown columns are the CLIENT's fault: 400 with Druid's
    envelope, not a 500."""
    for path, payload in [
        ("/druid/v2/sql", {"query": "SELECT no_such_col FROM wikipedia"}),
        ("/druid/v2", {"queryType": "timeseries", "dataSource": "wikipedia",
                       "granularity": "all",
                       "aggregations": [{"type": "longSum", "name": "x",
                                         "fieldName": "no_such_col"}]}),
    ]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(shim + path, payload)
        assert ei.value.code == 400
        assert "no_such_col" in json.loads(ei.value.read())["errorMessage"]


def test_information_schema(shim):
    """INFORMATION_SCHEMA.TABLES / .COLUMNS — the first queries a JDBC
    driver or BI tool issues — answer from the registered table map."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT TABLE_NAME, TABLE_TYPE FROM "
                 "INFORMATION_SCHEMA.TABLES",
    })
    assert rows == [{"TABLE_NAME": "wikipedia", "TABLE_TYPE": "TABLE"}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT COLUMN_NAME, DATA_TYPE, ORDINAL_POSITION "
                 "FROM INFORMATION_SCHEMA.COLUMNS "
                 "WHERE TABLE_NAME = 'wikipedia' ORDER BY 3",
    })
    assert rows == [
        {"COLUMN_NAME": "__time", "DATA_TYPE": "TIMESTAMP",
         "ORDINAL_POSITION": 1},
        {"COLUMN_NAME": "channel", "DATA_TYPE": "VARCHAR",
         "ORDINAL_POSITION": 2},
        {"COLUMN_NAME": "delta", "DATA_TYPE": "BIGINT",
         "ORDINAL_POSITION": 3},
    ]
    # SCHEMATA: schema enumeration, the step drivers take before TABLES
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT SCHEMA_NAME FROM INFORMATION_SCHEMA.SCHEMATA "
                 "ORDER BY SCHEMA_NAME",
    })
    assert [r["SCHEMA_NAME"] for r in rows] == [
        "INFORMATION_SCHEMA", "druid", "lookup", "sys"]


def test_sys_segments_table(spark, tmp_path):
    """Druid's sys.segments metadata table: built from the planning
    manifest over a segment root, queried through the SQL endpoint with
    Druid's own qualified name."""
    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)
    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", 5), ("2024-01-01 02:20:00", 7)],
        "ts string, v long",
    ).select(F.col("ts").cast("timestamp").alias("__time"), "v")
    root = str(tmp_path / "segs")
    write_druid_segments(ev, root, granularity="PT1H").collect()

    back = spark.read.format("druidsegment").option("path", root).load()
    s = DruidBrokerShim(spark, {"ev": back}, segment_roots={"ev": root})
    port = s.start()
    try:
        rows = _post(f"http://127.0.0.1:{port}" + "/druid/v2/sql", {
            "query": "SELECT datasource, start, num_rows, is_realtime "
                     "FROM sys.segments ORDER BY start",
        })
    finally:
        s.stop()
    # start is the segment's true data interval (what metadata.drd
    # stores), not the granularity bucket floor
    assert rows == [
        {"datasource": "ev", "start": "2024-01-01T00:10:00.000Z",
         "num_rows": 1, "is_realtime": 0},
        {"datasource": "ev", "start": "2024-01-01T02:20:00.000Z",
         "num_rows": 1, "is_realtime": 0},
    ]


def test_overlord_task_submission(spark, tmp_path):
    """The overlord workflow end-to-end against one process: POST an
    index_parallel task to /druid/indexer/v1/task, poll the status
    endpoint, then query the freshly ingested datasource over SQL and
    see it in sys.segments."""
    src = tmp_path / "input"
    src.mkdir()
    with open(src / "w.json", "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:10:00Z",
                            "channel": "en", "delta": 5}) + "\n")
        f.write(json.dumps({"time": "2024-01-01T00:20:00Z",
                            "channel": "en", "delta": 7}) + "\n")
    task = {
        "type": "index_parallel",
        "spec": {
            "dataSchema": {
                "dataSource": "wiki2",
                "timestampSpec": {"column": "time", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["channel"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "delta_sum",
                     "fieldName": "delta"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "hour",
                                    "rollup": True},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": str(src),
                                "filter": "*.json"},
                "inputFormat": {"type": "json"},
            },
        },
    }
    s = DruidBrokerShim(spark, {},
                        deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        out = _post(base + "/druid/indexer/v1/task", task)
        task_id = out["task"]
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{task_id}/status"
        ) as r:
            st = json.loads(r.read())["status"]
        assert st["status"] == "SUCCESS", st
        assert st["dataSource"] == "wiki2" and st["segments"] == 1
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT channel, SUM(delta_sum) AS total "
                     "FROM wiki2 GROUP BY 1"})
        assert rows == [{"channel": "en", "total": 12}]
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT datasource, num_rows FROM sys.segments"})
        assert segs == [{"datasource": "wiki2", "num_rows": 1}]
        with urllib.request.urlopen(base + "/druid/v2/datasources") as r:
            assert json.loads(r.read()) == ["wiki2"]
        # compact task: the DESTINATION datasource (not the untouched
        # source root) registers for querying and shows up in
        # sys.datasources / sys.tasks
        out = _post(base + "/druid/indexer/v1/task",
                    {"type": "compact", "dataSource": "wiki2",
                     "granularitySpec": {"segmentGranularity": "day"}})
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{out['task']}/status"
        ) as r:
            st = json.loads(r.read())["status"]
        assert st["status"] == "SUCCESS", st
        assert st["dataSource"] == "wiki2_compacted"
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(delta_sum) AS total FROM wiki2_compacted"})
        assert rows == [{"total": 12}]
        dss = _post(base + "/druid/v2/sql", {
            "query": "SELECT datasource FROM sys.datasources ORDER BY 1"})
        assert dss == [{"datasource": "wiki2"},
                       {"datasource": "wiki2_compacted"}]
        tasks = _post(base + "/druid/v2/sql", {
            "query": "SELECT type, datasource, status FROM sys.tasks "
                     "ORDER BY type"})
        assert tasks == [
            {"type": "compact", "datasource": "wiki2_compacted",
             "status": "SUCCESS"},
            {"type": "index_parallel", "datasource": "wiki2",
             "status": "SUCCESS"},
        ]
    finally:
        s.stop()


def test_task_submission_disabled_without_deep_storage(shim):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(shim + "/druid/indexer/v1/task",
              {"type": "index_parallel",
               "spec": {"dataSchema": {"dataSource": "x"}}})
    assert ei.value.code == 400
    assert "deep_storage" in json.loads(ei.value.read())["errorMessage"]


def test_review_fixes(shim):
    """Regression pins for review findings: duplicate output columns
    survive array formats, csv booleans are lowercase, system-table
    names inside string literals are not rewritten, and sys.segments
    answers empty (not unknown-view) without segment roots."""
    body, _ = _post_raw(shim + "/druid/v2/sql", {
        "query": "SELECT channel AS x, delta AS x FROM wikipedia "
                 "WHERE delta = 11",
        "resultFormat": "array", "header": True})
    assert json.loads(body) == [["x", "x"], ["de", 11]]

    body, _ = _post_raw(shim + "/druid/v2/sql", {
        "query": "SELECT delta > 6 AS big FROM wikipedia ORDER BY delta",
        "resultFormat": "csv"})
    assert body == "false\r\ntrue\r\ntrue\r\n\r\n"

    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT 'sys.segments' AS src, COUNT(*) AS n "
                 "FROM wikipedia GROUP BY 1"})
    assert rows == [{"src": "sys.segments", "n": 3}]

    # answers (possibly empty), never an unknown-view error; the
    # roots-less shim contributes no rows (other tests' shims share
    # the session and may have registered rows for their datasources)
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT COUNT(*) AS n FROM sys.segments "
                 "WHERE datasource = 'wikipedia'"})
    assert rows == [{"n": 0}]


def test_sql_lookup_escaping(spark):
    """Lookup keys/values with backslashes and quotes round-trip
    through the generated SQL literal."""
    from druid_datafusion_bridge_spark.functions import (
        register_sql_lookups,
    )

    register_sql_lookups(spark, {
        "weird": {"C:\\tmp": "back\\slash", "o'brien": "quo'te"},
    })
    got = spark.sql(
        r"SELECT LOOKUP('C:\\tmp', 'weird') AS a, "
        r"LOOKUP('o\'brien', 'weird') AS b"
    ).collect()[0]
    assert (got["a"], got["b"]) == ("back\\slash", "quo'te")
    register_sql_lookups(spark, {})  # zero lookups must still parse
    with pytest.raises(Exception, match="unknown lookup"):
        spark.sql("SELECT LOOKUP('x', 'nope')").collect()


def test_context_timeout_cancels_query(shim):
    """context.timeout cancels the Spark job group and answers Druid's
    504 timeout envelope; the session stays healthy for the next
    query."""
    import time

    t0 = time.monotonic()
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(shim + "/druid/v2/sql", {
            # interruptible 20 s of work without data: reflect sleeps
            # per row across tasks
            "query": "SELECT reflect('java.lang.Thread', 'sleep', "
                     "20000L) AS x FROM range(4)",
            "context": {"timeout": 400},
        })
    assert ei.value.code == 504
    assert json.loads(ei.value.read())["error"] == "Query timed out"
    assert time.monotonic() - t0 < 15  # cancelled, not ran to the end
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT SUM(delta) AS total FROM wikipedia",
        "context": {"timeout": 60000},
    })
    assert rows == [{"total": 23}]


def test_error_envelope(shim):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(shim + "/druid/v2", {"queryType": "movingAverage",
                                   "dataSource": "wikipedia"})
    assert ei.value.code == 400
    body = json.loads(ei.value.read())
    assert body["error"] == "Query not supported"
    assert "movingAverage" in body["errorMessage"]

    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(shim + "/druid/v2/unknown", {})
    assert ei.value.code == 404


def test_result_over_max_rows_errors_not_truncates(spark):
    """A result exceeding max_rows must raise Druid's Resource-limit
    error (HTTP 400), never return a silently partial response."""
    import time

    df = spark.range(10).select(
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("__time"),
        F.col("id"),
    )
    s = DruidBrokerShim(spark, {"t10": df}, max_rows=5)
    port = s.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql", {"query": "SELECT id FROM t10"})
        assert ei.value.code == 400
        err = json.loads(ei.value.read())
        assert err["error"] == "Resource limit exceeded"
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2", {
                "queryType": "scan", "dataSource": "t10"})
        assert ei.value.code == 400
        # under the cap still answers completely
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT id FROM t10 WHERE id < 5"})
        assert len(rows) == 5
        # Avatica and async statements pass the same gate
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql/avatica", {
                "request": "prepareAndExecute", "connectionId": "c",
                "statementId": 1, "sql": "SELECT id FROM t10"})
        assert "maxRows limit of 5" in json.loads(
            ei.value.read())["errorMessage"]
        sid = _post(base + "/druid/v2/sql/statements", {
            "query": "SELECT id FROM t10"})["queryId"]
        for _ in range(120):
            st = _get(base + f"/druid/v2/sql/statements/{sid}")
            if st["state"] != "RUNNING":
                break
            time.sleep(0.25)
        assert st["state"] == "FAILED"
        assert "maxRows limit of 5" in st["errorDetails"]["errorMessage"]
    finally:
        s.stop()


def test_one_freshness_walk_per_root_per_request(spark, tmp_path,
                                                  monkeypatch):
    """Native and SQL queries each stat a referenced segment root's
    state exactly once per request (perfbench's broker.freshness span
    wraps this module global, so a doubled walk would show there)."""
    from druid_datafusion_bridge_spark import broker
    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    root = str(tmp_path / "segs")
    write_druid_segments(spark.createDataFrame(
        [("2024-01-01 00:10:00", 5)], "ts string, v long",
    ).select(F.col("ts").cast("timestamp").alias("__time"), "v"),
        root, granularity="PT1H").collect()
    register_druid_datasource(spark)
    back = spark.read.format("druidsegment").option("path", root).load()
    s = DruidBrokerShim(spark, {"ev": back}, segment_roots={"ev": root})
    calls: list[str] = []
    real = broker._segment_state_digest

    def spy(r):
        calls.append(r)
        return real(r)

    monkeypatch.setattr(broker, "_segment_state_digest", spy)
    base = f"http://127.0.0.1:{s.start()}"
    ctx = {"useCache": False}
    try:
        assert _post(base + "/druid/v2", {
            "queryType": "timeseries", "dataSource": "ev",
            "granularity": "all", "context": ctx,
            "aggregations": [{"type": "longSum", "name": "t",
                              "fieldName": "v"}],
        })[0]["result"] == {"t": 5}
        assert calls == [root]
        assert _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS t FROM ev", "context": ctx,
        }) == [{"t": 5}]
        assert calls == [root, root]
    finally:
        s.stop()


def test_streaming_supervisor_roundtrip(spark, tmp_path):
    """Druid's streaming ingestion family end-to-end: POST an
    index_kafka-shaped supervisor spec (local drop-dir standing in for
    the topic), watch segments hand off and the datasource register,
    query it over SQL, drop MORE data and see it arrive, then
    suspend/resume/terminate through the documented endpoints."""
    drop = tmp_path / "drop"
    drop.mkdir()
    with open(drop / "one.json", "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:10:00Z",
                            "channel": "en", "delta": 5}) + "\n")
    spec = {
        "type": "kafka",
        "spec": {
            "dataSchema": {
                "dataSource": "wikistream",
                "timestampSpec": {"column": "time", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["channel"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "delta_sum",
                     "fieldName": "delta"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "hour",
                                    "rollup": True},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": str(drop),
                                "filter": "*.json"},
                "inputFormat": {"type": "json"},
            },
        },
    }
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        out = _post(base + "/druid/indexer/v1/supervisor", spec)
        assert out == {"id": "wikistream"}
        with urllib.request.urlopen(
            base + "/druid/indexer/v1/supervisor"
        ) as r:
            assert json.loads(r.read()) == ["wikistream"]
        sup = s._supervisors["wikistream"]
        sup.process_available()  # deterministic: drain what's there now
        with urllib.request.urlopen(
            base + "/druid/indexer/v1/supervisor/wikistream/status"
        ) as r:
            st = json.loads(r.read())
        assert st["id"] == "wikistream"
        assert st["payload"]["state"] == "RUNNING"
        assert st["payload"]["segmentsPublished"] >= 1
        assert st["payload"]["recentErrors"] == []
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT channel, SUM(delta_sum) AS total "
                     "FROM wikistream GROUP BY 1"})
        assert rows == [{"channel": "en", "total": 5}]
        # native query answers from the handed-off segments too
        nat = _post(base + "/druid/v2", {
            "queryType": "timeseries", "dataSource": "wikistream",
            "granularity": "all",
            "aggregations": [{"type": "longSum", "name": "total",
                              "fieldName": "delta_sum"}]})
        assert nat[0]["result"]["total"] == 5
        # more data arrives in the drop dir -> next trigger ingests it
        with open(drop / "two.json", "w") as f:
            f.write(json.dumps({"time": "2024-01-01T02:00:00Z",
                                "channel": "de", "delta": 11}) + "\n")
        sup.process_available()
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(delta_sum) AS total FROM wikistream"})
        assert rows == [{"total": 16}]
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.segments "
                     "WHERE datasource = 'wikistream'"})
        assert segs[0]["n"] >= 1
        svs = _post(base + "/druid/v2/sql", {
            "query": "SELECT supervisor_id, datasource, state, healthy "
                     "FROM sys.supervisors"})
        assert svs == [{"supervisor_id": "wikistream",
                        "datasource": "wikistream",
                        "state": "RUNNING", "healthy": 1}]
        # suspend stops the stream; resume continues from the
        # checkpoint; terminate is final
        for action, state in (("suspend", "SUSPENDED"),
                              ("resume", "RUNNING"),
                              ("terminate", "TERMINATED")):
            assert _post(
                base + f"/druid/indexer/v1/supervisor/wikistream/{action}",
                {}) == {"id": "wikistream"}
            with urllib.request.urlopen(
                base + "/druid/indexer/v1/supervisor/wikistream/status"
            ) as r:
                assert json.loads(r.read())["payload"]["state"] == state
            svs = _post(base + "/druid/v2/sql", {
                "query": "SELECT state FROM sys.supervisors"})
            assert svs == [{"state": state}]  # sys view tracks actions
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/indexer/v1/supervisor/nope/terminate", {})
        assert ei.value.code == 404
    finally:
        s.stop()


def test_sql_datasketches_names(shim):
    """Druid's DataSketches SQL function names (datasketches-hll.md)
    work through the broker's SQL text path: the rewrite maps them
    onto Spark's own Apache DataSketches builtins."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT APPROX_COUNT_DISTINCT_DS_HLL(channel, 12) "
                 "AS n, APPROX_QUANTILE_DS(delta, 0.5) AS med "
                 "FROM wikipedia"})
    assert rows == [{"n": 2, "med": 7.0}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT HLL_SKETCH_ESTIMATE(DS_HLL(channel)) AS n "
                 "FROM wikipedia"})
    assert rows == [{"n": 2.0}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT APPROX_COUNT_DISTINCT_DS_THETA(channel, 4096)"
                 " AS n FROM wikipedia"})
    assert rows == [{"n": 2}]
    # a literal containing a DS name must NOT be rewritten
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT 'DS_HLL(x)' AS s FROM wikipedia LIMIT 1"})
    assert rows == [{"s": "DS_HLL(x)"}]
    # review regressions: Druid's documented optional arguments —
    # HLL_SKETCH_ESTIMATE(expr, round), HLL_SKETCH_UNION with a
    # leading lgK and 3+ sketches — and an apostrophe in a comment
    # must not disable the rewrite for the rest of the query
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT HLL_SKETCH_ESTIMATE(DS_HLL(channel), true) "
                 "AS n FROM wikipedia"})
    assert rows == [{"n": 2.0}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT HLL_SKETCH_ESTIMATE(HLL_SKETCH_UNION(12, "
                 "DS_HLL(channel), DS_HLL(channel), DS_HLL(channel)))"
                 " AS n FROM wikipedia"})
    assert rows == [{"n": 2.0}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT /* don't */ "
                 "APPROX_COUNT_DISTINCT_DS_HLL(channel) AS n "
                 "FROM wikipedia"})
    assert rows == [{"n": 2}]


def test_supervisor_stats_and_history(spark, tmp_path):
    """GET .../supervisor/{id}/stats and /history (supervisor-api.md):
    stats serves Druid's taskGroup -> task -> {movingAverages, totals}
    row counters, which must ADVANCE across two drained batches;
    history is the spec-revision audit list, appended per submit and
    surviving supervisor replacement. Also: sys.supervisors carries
    the documented type/source/suspended columns."""
    drop = tmp_path / "drop"
    drop.mkdir()
    with open(drop / "one.json", "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:10:00Z",
                            "channel": "en", "delta": 5}) + "\n")
        f.write(json.dumps({"time": "2024-01-01T00:20:00Z",
                            "channel": "de", "delta": 7}) + "\n")
    spec = {
        "type": "kafka",
        "spec": {
            "dataSchema": {
                "dataSource": "statstream",
                "timestampSpec": {"column": "time", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["channel"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "delta_sum",
                     "fieldName": "delta"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "hour",
                                    "rollup": False},
            },
            "ioConfig": {
                "inputSource": {"type": "local", "baseDir": str(drop),
                                "filter": "*.json"},
                "inputFormat": {"type": "json"},
            },
        },
    }
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    url = base + "/druid/indexer/v1/supervisor"

    def _get(u):
        with urllib.request.urlopen(u) as r:
            return json.loads(r.read())

    try:
        _post(url, spec)
        s._supervisors["statstream"].process_available()
        stats = _get(url + "/statstream/stats")
        task = stats["0"]["index_statstream_0"]
        n1 = task["totals"]["buildSegments"]["processed"]
        assert n1 == 2
        assert task["totals"]["buildSegments"]["unparseable"] == 0
        assert task["movingAverages"]["buildSegments"]["5m"][
            "processed"] > 0
        # second batch -> counters ADVANCE
        with open(drop / "two.json", "w") as f:
            f.write(json.dumps({"time": "2024-01-02T00:10:00Z",
                                "channel": "fr", "delta": 11}) + "\n")
        s._supervisors["statstream"].process_available()
        stats = _get(url + "/statstream/stats")
        task = stats["0"]["index_statstream_0"]
        assert task["totals"]["buildSegments"]["processed"] == n1 + 1
        assert task["batchesProcessed"] >= 2
        # history: one revision per submit, survives replacement
        hist = _get(url + "/statstream/history")
        assert len(hist) == 1 and hist[0]["spec"] == spec
        assert hist[0]["version"]
        _post(url, spec)  # resubmit = replace -> second revision
        hist = _get(url + "/statstream/history")
        assert len(hist) == 2
        # sys.supervisors documented columns
        svs = _post(base + "/druid/v2/sql", {
            "query": "SELECT type, source, suspended "
                     "FROM sys.supervisors"})
        assert svs == [{"type": "kafka", "source": str(drop),
                        "suspended": 0}]
        _post(url + "/statstream/suspend", {})
        svs = _post(base + "/druid/v2/sql", {
            "query": "SELECT suspended FROM sys.supervisors"})
        assert svs == [{"suspended": 1}]
        # unknown supervisor -> 404 on both endpoints
        for sub in ("stats", "history"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _get(url + f"/nope/{sub}")
            assert ei.value.code == 404
    finally:
        s.stop()


def test_version_overshadowing_across_planning_paths(spark, tmp_path):
    """Druid's used-segment timeline invariant: when a new VERSION of
    an interval publishes beside the old (streaming replay, interval
    re-publish), every broker-visible planning path serves exactly ONE
    version — SQL and native scans return only the new rows (never the
    union), /druid/v2/candidates lists one segment per interval,
    sys.segments reports the old version is_available=0 /
    is_overshadowed=1, and the retention duty doesn't resurrect it."""
    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)

    def publish(root, version, delta):
        ev = spark.createDataFrame(
            [("2024-01-01 00:10:00", delta),
             ("2024-01-01 00:20:00", delta)],
            "ts string, v long",
        ).select(F.col("ts").cast("timestamp").alias("__time"), "v")
        write_druid_segments(
            ev, root, granularity="P1D", version=version
        ).collect()

    root = str(tmp_path / "segs")
    publish(root, "b0", 5)
    back = spark.read.format("druidsegment").option("path", root).load()
    s = DruidBrokerShim(spark, {"osd": back}, segment_roots={"osd": root})
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    nocache = {"useCache": False, "populateCache": False}
    sql = {"query": "SELECT SUM(v) AS total, COUNT(*) AS n FROM osd",
           "context": nocache}
    try:
        assert _post(base + "/druid/v2/sql", sql) == [
            {"total": 10, "n": 2}]
        # second version of the SAME interval publishes beside the old
        publish(root, "b1", 9)
        import os
        assert len(os.listdir(root)) >= 3  # both versions + manifest
        # SQL scan: only the new version's rows (18, not 10+18)
        assert _post(base + "/druid/v2/sql", sql) == [
            {"total": 18, "n": 2}]
        # native scan agrees
        nat = _post(base + "/druid/v2", {
            "queryType": "timeseries", "dataSource": "osd",
            "granularity": "all", "context": nocache,
            "aggregations": [{"type": "longSum", "name": "total",
                              "fieldName": "v"}]})
        assert nat[0]["result"]["total"] == 18
        # candidates: one segment for the interval, the b1 version
        with urllib.request.urlopen(
            base + "/druid/v2/candidates?datasource=osd"
        ) as r:
            cands = json.loads(r.read())
        assert len(cands) == 1
        assert cands[0]["version"].endswith("_b1")
        # sys.segments: old version published-but-unavailable,
        # flagged overshadowed
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT is_available, is_overshadowed "
                     "FROM sys.segments WHERE datasource = 'osd' "
                     "ORDER BY is_overshadowed",
            "context": nocache})
        assert segs == [
            {"is_available": 1, "is_overshadowed": 0},
            {"is_available": 0, "is_overshadowed": 1}]
        # coordinator metadata listing agrees: the plain form serves
        # only the visible timeline; includeOvershadowedStatus shows
        # both versions with the flag
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/metadata/segments"
        ) as r:
            md = json.loads(r.read())
        assert len(md) == 1 and md[0]["identifier"].endswith("_b1")
        assert md[0]["dataSource"] == "osd" and md[0]["numRows"] == 2
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/metadata/segments"
                   "?includeOvershadowedStatus"
        ) as r:
            md = json.loads(r.read())
        assert sorted(m["overshadowed"] for m in md) == [False, True]
        # retention duty over a loadForever chain must not resurrect
        # the overshadowed version
        _post(base + "/druid/coordinator/v1/rules/osd",
              [{"type": "loadForever"}])
        s.run_retention_duty()
        assert _post(base + "/druid/v2/sql", sql) == [
            {"total": 18, "n": 2}]
        # review regression: marking the NEWEST version unused removes
        # it from the timeline, so the OLD version becomes visible
        # again — and queries, candidates, and sys.segments must all
        # agree on that (overshadow is computed among USED segments)
        import os as _os
        b1 = next(d for d in _os.listdir(root) if d.endswith("_b1"))
        _post(base + "/druid/coordinator/v1/datasources/osd/markUnused",
              {"segmentIds": [b1]})
        assert _post(base + "/druid/v2/sql", sql) == [
            {"total": 10, "n": 2}]
        with urllib.request.urlopen(
            base + "/druid/v2/candidates?datasource=osd"
        ) as r:
            cands = json.loads(r.read())
        assert len(cands) == 1 and cands[0]["version"].endswith("_b0")
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT is_available, is_overshadowed "
                     "FROM sys.segments WHERE datasource = 'osd' "
                     "ORDER BY is_available",
            "context": nocache})
        assert segs == [
            {"is_available": 0, "is_overshadowed": 0},  # unused b1
            {"is_available": 1, "is_overshadowed": 0},  # serving b0
        ]
        # metadata listing: unused b1 is not a used segment and never
        # appears, even with includeOvershadowedStatus
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/metadata/segments"
                   "?includeOvershadowedStatus&datasources=osd"
        ) as r:
            md = json.loads(r.read())
        assert [m["identifier"].endswith("_b0") for m in md] == [True]
    finally:
        s.stop()


def test_result_cache_hits_and_invalidates(spark, tmp_path):
    """Broker result-level cache (using-caching.md): identical SQL and
    native queries over a segment-root datasource serve from cache;
    useCache=false bypasses; a segment-state change (new handoff into
    the root) invalidates implicitly and the next run returns the FRESH
    result; queries over plain registered DataFrames (no invalidation
    signal) are never cached."""
    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)

    def ev(*pairs):
        return spark.createDataFrame(
            list(pairs), "ts string, v long"
        ).select(F.col("ts").cast("timestamp").alias("__time"), "v")

    root = str(tmp_path / "segs")
    write_druid_segments(
        ev(("2024-01-01 00:10:00", 5), ("2024-01-01 02:20:00", 7)),
        root, granularity="PT1H",
    ).collect()
    back = spark.read.format("druidsegment").option("path", root).load()
    plain = spark.createDataFrame([(1,)], "x long")
    s = DruidBrokerShim(
        spark, {"ev": back, "plain": plain}, segment_roots={"ev": root}
    )
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    sql = {"query": "SELECT SUM(v) AS total FROM ev"}
    nat = {"queryType": "timeseries", "dataSource": "ev",
           "granularity": "all",
           "aggregations": [{"type": "longSum", "name": "total",
                             "fieldName": "v"}]}
    try:
        cache = s._result_cache
        assert _post(base + "/druid/v2/sql", sql) == [{"total": 12}]
        assert (cache.hits, cache.misses) == (0, 1)
        assert _post(base + "/druid/v2/sql", sql) == [{"total": 12}]
        assert (cache.hits, cache.misses) == (1, 1)
        # native path caches independently under its envelope
        assert _post(base + "/druid/v2", nat)[0]["result"]["total"] == 12
        assert _post(base + "/druid/v2", nat)[0]["result"]["total"] == 12
        assert (cache.hits, cache.misses) == (2, 2)
        # context opt-out: neither served from nor populating
        hits, misses = cache.hits, cache.misses
        bypass = dict(sql, context={"useCache": False,
                                    "populateCache": False})
        assert _post(base + "/druid/v2/sql", bypass) == [{"total": 12}]
        assert (cache.hits, cache.misses) == (hits, misses)
        # plain DataFrame tables have no segment-state signal: no cache
        assert _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM plain"}) == [{"n": 1}]
        assert _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM plain"}) == [{"n": 1}]
        assert (cache.hits, cache.misses) == (hits, misses)
        # new segment lands in the root -> digest changes -> fresh rows
        write_druid_segments(
            ev(("2024-01-01 05:30:00", 100)), root, granularity="PT1H"
        ).collect()
        assert _post(base + "/druid/v2/sql", sql) == [{"total": 112}]
        assert _post(base + "/druid/v2", nat)[0]["result"]["total"] == 112
    finally:
        s.stop()


def test_result_cache_keys_on_result_shaping_context(spark, tmp_path):
    """Two native queries identical except for a RESULT-SHAPING context
    flag (skipEmptyBuckets) must not share a cache entry; execution-only
    flags (timeout, priority) must not fragment the cache."""
    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)
    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", 5), ("2024-01-01 02:20:00", 7)],
        "ts string, v long",
    ).select(F.col("ts").cast("timestamp").alias("__time"), "v")
    root = str(tmp_path / "segs")
    write_druid_segments(ev, root, granularity="PT1H").collect()
    back = spark.read.format("druidsegment").option("path", root).load()
    s = DruidBrokerShim(spark, {"ev": back}, segment_roots={"ev": root})
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    nat = {"queryType": "timeseries", "dataSource": "ev",
           "granularity": "hour",
           "intervals": ["2024-01-01T00:00:00/2024-01-01T03:00:00"],
           "aggregations": [{"type": "longSum", "name": "total",
                             "fieldName": "v"}]}
    try:
        full = _post(base + "/druid/v2", nat)
        assert len(full) == 3  # zero-filled hour grid
        skip = _post(base + "/druid/v2", dict(
            nat, context={"skipEmptyBuckets": True}))
        assert len(skip) == 2  # data buckets only, NOT the cached grid
        assert (s._result_cache.hits, s._result_cache.misses) == (0, 2)
        # execution-only context keys reuse the same entry
        again = _post(base + "/druid/v2", dict(
            nat, context={"timeout": 60000, "priority": 10}))
        assert again == full
        assert s._result_cache.hits == 1
    finally:
        s.stop()


def test_sql_task_insert_replace_ingestion(spark, tmp_path):
    """Druid SQL-based (MSQ) ingestion through POST /druid/v2/sql/task:
    INSERT INTO ... PARTITIONED BY DAY creates a queryable datasource,
    a second INSERT appends (version-tagged segments), REPLACE
    OVERWRITE ALL swaps the contents, CLUSTERED BY orders rows inside
    segments, the tasks land in sys.tasks, and the interactive SQL
    endpoint rejects ingestion statements like real Druid."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        out = _post(base + "/druid/v2/sql/task", {
            "query": """
              INSERT INTO sales
              SELECT TIMESTAMP '2024-01-01 01:00:00' AS __time,
                     'red' AS color, 5 AS qty
              UNION ALL
              SELECT TIMESTAMP '2024-01-02 01:00:00', 'blue', 7
              PARTITIONED BY DAY CLUSTERED BY color
            """})
        assert out["state"] == "SUCCESS"
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(qty) AS total FROM sales"})
        assert rows == [{"total": 12}]
        # second INSERT appends into an already-covered interval
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO sales SELECT "
                     "TIMESTAMP '2024-01-01 02:00:00' AS __time, "
                     "'red' AS color, 3 AS qty PARTITIONED BY DAY"})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(qty) AS total FROM sales"})
        assert rows == [{"total": 15}]
        # REPLACE OVERWRITE ALL swaps the datasource contents
        _post(base + "/druid/v2/sql/task", {
            "query": "REPLACE INTO sales OVERWRITE ALL SELECT "
                     "TIMESTAMP '2024-02-01 00:30:00' AS __time, "
                     "'green' AS color, 100 AS qty PARTITIONED BY MONTH"})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT color, SUM(qty) AS total FROM sales "
                     "GROUP BY 1"})
        assert rows == [{"color": "green", "total": 100}]
        tasks = _post(base + "/druid/v2/sql", {
            "query": "SELECT type, status FROM sys.tasks"})
        assert {(t["type"], t["status"]) for t in tasks} == {
            ("query_controller", "SUCCESS")}
        assert len(tasks) == 3
        # ingestion statements are rejected on the interactive endpoint
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql", {
                "query": "INSERT INTO sales SELECT 1"})
        assert ei.value.code == 400
        assert "sql/task" in ei.value.read().decode()
        # REPLACE without OVERWRITE ALL is rejected
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql/task", {
                "query": "REPLACE INTO sales SELECT "
                         "TIMESTAMP '2024-01-01' AS __time, 1 AS x "
                         "PARTITIONED BY DAY"})
        assert ei.value.code == 400
    finally:
        s.stop()


def _segment_ids(base, ds):
    return sorted(r["segment_id"] for r in _post(base + "/druid/v2/sql", {
        "query": "SELECT segment_id FROM sys.segments "
                 f"WHERE datasource = '{ds}'",
        "context": {"useCache": False}}))


def test_kill_task_and_coordinator_endpoints(spark, tmp_path):
    """Segment lifecycle completion: the coordinator datasource
    endpoints report segment metadata from the planning manifest, and a
    kill task permanently deletes the segments WHOLLY CONTAINED in its
    interval (partial overlaps survive), and a malformed interval is a
    400; killing the rest deregisters the emptied datasource
    everywhere."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO life SELECT * FROM VALUES "
                     "(TIMESTAMP '2024-01-01 01:00:00', 1), "
                     "(TIMESTAMP '2024-01-02 01:00:00', 2), "
                     "(TIMESTAMP '2024-01-03 01:00:00', 3) "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources"
        ) as r:
            assert json.loads(r.read()) == ["life"]
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources/life"
        ) as r:
            meta = json.loads(r.read())
        assert meta["name"] == "life"
        assert meta["properties"]["segments"]["count"] == 3
        assert meta["properties"]["segments"]["size"] > 0
        assert meta["properties"]["segments"]["minTime"].startswith(
            "2024-01-01T01:00:00")
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources/life/intervals"
        ) as r:
            assert len(json.loads(r.read())) == 3
        # kill day 2 only: the interval contains exactly that segment
        out = _post(base + "/druid/indexer/v1/task", {
            "type": "kill", "dataSource": "life",
            "interval": "2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"})
        tid = out["task"]
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{tid}/status"
        ) as r:
            st = json.loads(r.read())["status"]
        assert st["status"] == "SUCCESS" and st["numSegmentsKilled"] == 1
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS total FROM life"})
        assert rows == [{"total": 4}]  # 1 + 3 survive
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.segments "
                     "WHERE datasource = 'life'"})
        assert segs == [{"n": 2}]
        # a partially-overlapping interval kills nothing
        out = _post(base + "/druid/indexer/v1/task", {
            "type": "kill", "dataSource": "life",
            "interval": "2024-01-01T12:00:00Z/2024-01-02T00:00:00Z"})
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{out['task']}/status"
        ) as r:
            assert json.loads(
                r.read())["status"]["numSegmentsKilled"] == 0
        # the interval is parsed at submit: a reversed or slash-less
        # one is a 400 and kills nothing
        for bad in ("2025-01-01T00:00:00Z/2024-01-01T00:00:00Z",
                    "2024-01-01T00:00:00Z"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(base + "/druid/indexer/v1/task", {
                    "type": "kill", "dataSource": "life", "interval": bad})
            assert ei.value.code == 400, bad
        assert len(_segment_ids(base, "life")) == 2
        # killing everything deregisters the datasource
        _post(base + "/druid/indexer/v1/task", {
            "type": "kill", "dataSource": "life",
            "interval": "2024-01-01T00:00:00Z/2025-01-01T00:00:00Z"})
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources"
        ) as r:
            assert json.loads(r.read()) == []
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT datasource FROM sys.datasources"})
        assert rows == []
    finally:
        s.stop()


def test_kill_task_fails_without_deregistering_on_listing_error(
    spark, tmp_path, monkeypatch
):
    """A kill whose post-delete listing of the root fails with anything
    but the no-segments ValueError reports FAILED and leaves the
    datasource registered: only an emptied root deregisters."""
    from druid_datafusion_bridge_spark.sources import datasource

    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO keep SELECT * FROM VALUES "
                     "(TIMESTAMP '2024-01-01 01:00:00', 1), "
                     "(TIMESTAMP '2024-01-02 01:00:00', 2) "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        real = datasource.find_segment_dirs

        def denied(path):
            dirs = real(path)
            if len(dirs) < 2:  # the kill already deleted day 2
                raise PermissionError(13, "Permission denied", path)
            return dirs

        with monkeypatch.context() as m:
            m.setattr(datasource, "find_segment_dirs", denied)
            out = _post(base + "/druid/indexer/v1/task", {
                "type": "kill", "dataSource": "keep",
                "interval": "2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"})
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{out['task']}/status"
        ) as r:
            st = json.loads(r.read())["status"]
        assert st["status"] == "FAILED"
        assert "Permission denied" in st["errorMsg"]
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources"
        ) as r:
            assert json.loads(r.read()) == ["keep"]
    finally:
        s.stop()


def test_lookup_management_api(spark):
    """The coordinator lookup-config family (lookups-api.md): list
    tiers and names, fetch a spec, POST a new/updated map lookup (the
    SQL LOOKUP() dispatcher re-registers immediately), DELETE one."""
    df = spark.createDataFrame([("en", 1)], "channel string, delta long")
    s = DruidBrokerShim(spark, {"wiki2": df},
                        lookups={"lang": {"en": "English"}})
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    cfg = base + "/druid/coordinator/v1/lookups/config"
    try:
        with urllib.request.urlopen(cfg) as r:
            assert json.loads(r.read()) == ["__default"]
        with urllib.request.urlopen(cfg + "/__default") as r:
            assert json.loads(r.read()) == ["lang"]
        with urllib.request.urlopen(cfg + "/__default/lang") as r:
            spec = json.loads(r.read())
        assert spec["lookupExtractorFactory"]["map"] == {"en": "English"}
        # update through Druid's versioned envelope -> queries see it
        _post(cfg + "/__default/lang", {
            "version": "v2",
            "lookupExtractorFactory": {
                "type": "map", "map": {"en": "ENGLISH", "de": "GERMAN"}}})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT LOOKUP(channel, 'lang') AS lang FROM wiki2"})
        assert rows == [{"lang": "ENGLISH"}]
        # create a brand-new lookup from a bare map
        _post(cfg + "/__default/region", {"en": "amer"})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT LOOKUP(channel, 'region') AS r FROM wiki2"})
        assert rows == [{"r": "amer"}]
        # delete -> unknown-lookup error from SQL, 404 on re-delete
        req = urllib.request.Request(cfg + "/__default/region",
                                     method="DELETE")
        with urllib.request.urlopen(req) as r:
            assert r.status == 202
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql", {
                "query": "SELECT LOOKUP(channel, 'region') FROM wiki2"})
        assert ei.value.code in (400, 500)
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                urllib.request.Request(cfg + "/__default/region",
                                       method="DELETE"))
        assert ei.value.code == 404
    finally:
        s.stop()


def test_query_laning_sheds_load(spark):
    """Query laning (Druid's query-scheduler lanes): context.lane
    claims a slot in a bounded lane; a FULL lane rejects with HTTP 429
    (Druid's QueryCapacityExceeded posture — shed, don't queue);
    unlaned queries are unlimited; unknown lanes are a client error."""
    import threading

    df = spark.createDataFrame([(1,)], "v long")
    s = DruidBrokerShim(spark, {"t": df}, lanes={"batch": 1})
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        # a healthy laned query works and releases its slot
        q = {"query": "SELECT SUM(v) AS n FROM t",
             "context": {"lane": "batch", "useCache": False,
                         "populateCache": False}}
        assert _post(base + "/druid/v2/sql", q) == [{"n": 1}]
        assert _post(base + "/druid/v2/sql", q) == [{"n": 1}]
        # hold the lane's only slot, then a concurrent laned query 429s
        assert s._lanes["batch"].acquire(blocking=False)
        try:
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(base + "/druid/v2/sql", q)
            assert ei.value.code == 429
            assert json.loads(ei.value.read())["error"] == (
                "Query capacity exceeded")
            # unlaned queries still run
            assert _post(base + "/druid/v2/sql", {
                "query": "SELECT COUNT(*) AS n FROM t"}) == [{"n": 1}]
        finally:
            s._lanes["batch"].release()
        # slot released by the 429 path and by completions: works again
        assert _post(base + "/druid/v2/sql", q) == [{"n": 1}]
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql", dict(
                q, context={"lane": "nope"}))
        assert ei.value.code == 400
    finally:
        s.stop()


def test_sql_task_replace_is_atomic_and_parses_druid_forms(spark, tmp_path):
    """Review regressions for SQL ingestion: (1) REPLACE writes to a
    staging dir and swaps, so a self-referential reindex (REPLACE ...
    SELECT FROM the same datasource) works and a FAILED replace leaves
    the old data intact; (2) WITH-CTE ingestion and the two-word
    PARTITIONED BY ALL TIME parse; (3) a bogus period is a clean 400
    BEFORE any storage is touched; (4) lookup auto-versioning survives
    a client-set non-numeric version (covered here for endpoint
    adjacency)."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO m SELECT "
                     "TIMESTAMP '2024-01-01 01:00:00' AS __time, 5 AS v "
                     "PARTITIONED BY DAY"})
        # WITH-CTE REPLACE reading from the datasource it replaces
        _post(base + "/druid/v2/sql/task", {
            "query": "REPLACE INTO m OVERWRITE ALL "
                     "WITH doubled AS (SELECT __time, v * 2 AS v FROM m) "
                     "SELECT __time, v FROM doubled "
                     "PARTITIONED BY ALL TIME"})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS total FROM m"})
        assert rows == [{"total": 10}]
        # failed REPLACE (CLUSTERED BY column absent) leaves data intact
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql/task", {
                "query": "REPLACE INTO m OVERWRITE ALL SELECT "
                         "TIMESTAMP '2024-01-01' AS __time, 1 AS v "
                         "PARTITIONED BY DAY CLUSTERED BY nope"})
        assert ei.value.code == 400
        # bogus period: clean 400, storage untouched
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql/task", {
                "query": "REPLACE INTO m OVERWRITE ALL SELECT "
                         "TIMESTAMP '2024-01-01' AS __time, 1 AS v "
                         "PARTITIONED BY PFOO"})
        assert ei.value.code == 400
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS total FROM m",
            "context": {"useCache": False}})
        assert rows == [{"total": 10}]  # the old contents survived
        # lookup versioning: envelope version then bare-map update
        cfg = base + "/druid/coordinator/v1/lookups/config/__default"
        _post(cfg + "/l1", {"version": "v2", "lookupExtractorFactory": {
            "type": "map", "map": {"a": "1"}}})
        _post(cfg + "/l1", {"a": "2"})  # must not crash on int('v2')
        with urllib.request.urlopen(cfg + "/l1") as r:
            spec = json.loads(r.read())
        assert spec["lookupExtractorFactory"]["map"] == {"a": "2"}
    finally:
        s.stop()


def test_auto_compaction_duty_heals_fragmentation(spark, tmp_path):
    """Coordinator auto-compaction (automatic-compaction.md): streaming
    handoff leaves many small segments per interval; submitting a
    compaction config makes the duty cycle rewrite fragmented
    datasources at the target granularity — same rows, fewer segments —
    while a healthy datasource is left alone."""
    drop = tmp_path / "drop"
    drop.mkdir()
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        # three INSERTs into the same day -> 3 version-tagged segments
        for i, v in enumerate((5, 7, 9)):
            _post(base + "/druid/v2/sql/task", {
                "query": f"INSERT INTO frag SELECT "
                         f"TIMESTAMP '2024-01-01 0{i}:00:00' AS __time, "
                         f"{v} AS v PARTITIONED BY DAY"})
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.segments "
                     "WHERE datasource = 'frag'"})
        assert segs == [{"n": 3}]
        out = _post(base + "/druid/coordinator/v1/config/compaction", {
            "dataSource": "frag", "segmentGranularity": "day"})
        assert out == {"status": "accepted"}
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/config/compaction"
        ) as r:
            cfgs = json.loads(r.read())["compactionConfigs"]
        assert [c["dataSource"] for c in cfgs] == ["frag"]
        compacted = s.run_auto_compaction()  # deterministic duty cycle
        assert compacted == {"frag": 1}
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.segments "
                     "WHERE datasource = 'frag'"})
        assert segs == [{"n": 1}]
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS total FROM frag",
            "context": {"useCache": False}})
        assert rows == [{"total": 21}]  # nothing lost in the rewrite
        # a healthy (1 segment per bucket) datasource is left alone
        assert s.run_auto_compaction() == {}
        # delete the config; the duty has nothing to do
        req = urllib.request.Request(
            base + "/druid/coordinator/v1/config/compaction/frag",
            method="DELETE")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        assert s.run_auto_compaction() == {}
    finally:
        s.stop()


def test_auto_compaction_buckets_on_the_writer_grid(spark, tmp_path):
    """The compaction duty's health check buckets segment starts on the
    same grid the writer uses: a week config folds the 7 daily segments
    of one ISO week (Monday..Sunday) into one; a root compacted at PT15M
    is healthy on the next cycle (nothing rewritten, same segment ids);
    an unknown granularity is refused with a 400 at config time."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    s._compaction_period_s = 3600.0  # the test runs every duty cycle
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        days = ", ".join(
            f"(TIMESTAMP '2024-01-0{d} 12:00:00', {d})" for d in range(1, 8)
        )
        _post(base + "/druid/v2/sql/task", {
            "query": f"INSERT INTO wk SELECT * FROM VALUES {days} "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        assert len(_segment_ids(base, "wk")) == 7
        _post(base + "/druid/coordinator/v1/config/compaction", {
            "dataSource": "wk", "segmentGranularity": "week"})
        assert s.run_auto_compaction() == {"wk": 1}
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT SUM(v) AS total FROM wk",
            "context": {"useCache": False}})
        assert rows == [{"total": 28}]
        assert s.run_auto_compaction() == {}

        # two INSERTs leave two segments in the same quarter hours
        for m in (5, 7):
            _post(base + "/druid/v2/sql/task", {
                "query": "INSERT INTO q SELECT * FROM VALUES "
                         f"(TIMESTAMP '2024-01-01 00:0{m}:00', 1), "
                         f"(TIMESTAMP '2024-01-01 00:2{m}:00', 2) "
                         "AS t(__time, v) PARTITIONED BY DAY"})
        _post(base + "/druid/coordinator/v1/config/compaction", {
            "dataSource": "q",
            "granularitySpec": {"segmentGranularity": "PT15M"}})
        assert s.run_auto_compaction() == {"q": 2}
        ids = _segment_ids(base, "q")
        assert len(ids) == 2
        assert s.run_auto_compaction() == {}
        assert _segment_ids(base, "q") == ids

        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/coordinator/v1/config/compaction", {
                "dataSource": "q", "segmentGranularity": "fortnight"})
        assert ei.value.code == 400
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/config/compaction"
        ) as r:
            cfgs = json.loads(r.read())["compactionConfigs"]
        assert cfgs == [
            {"dataSource": "q", "segmentGranularity": "PT15M"},
            {"dataSource": "wk", "segmentGranularity": "week"},
        ]
    finally:
        s.stop()


def test_sql_partitioned_by_lands_on_time_floor_grid(spark, tmp_path):
    """PARTITIONED BY takes any granularity a query takes — an ISO
    period literal or a Druid name such as QUARTER — and writes one
    segment per TIME_FLOOR bucket of the inserted rows."""
    import os

    from druid_datafusion_bridge_spark.functions import time_floor
    from druid_datafusion_bridge_spark.sources.datasource import (
        find_segment_dirs,
    )

    deep = tmp_path / "deep"
    s = DruidBrokerShim(spark, {}, deep_storage=str(deep))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    cases = [
        ("'PT2H'", "PT2H", ["2024-01-01 00:30:00", "2024-01-01 01:59:00",
                            "2024-01-01 02:00:00", "2024-01-01 05:10:00"]),
        ("QUARTER", "P3M", ["2024-01-15 00:00:00", "2024-03-31 23:00:00",
                            "2024-04-01 00:00:00", "2024-11-30 08:00:00"]),
    ]
    try:
        for i, (grain, period, times) in enumerate(cases):
            values = ", ".join(
                f"(TIMESTAMP '{t}', {k})" for k, t in enumerate(times)
            )
            _post(base + "/druid/v2/sql/task", {
                "query": f"INSERT INTO p{i} SELECT * FROM VALUES {values} "
                         f"AS t(__time, v) PARTITIONED BY {grain}"})
            expected = sorted(
                r[0] for r in spark.createDataFrame(
                    [(t,) for t in times], "s string"
                ).select(F.unix_millis(time_floor(
                    F.col("s").cast("timestamp"), period))).distinct().collect()
            )
            got = sorted(
                int(os.path.basename(d).split("_")[1])
                for d in find_segment_dirs(str(deep / f"p{i}"))
            )
            assert got == expected and len(got) == 3, grain
    finally:
        s.stop()


def test_sql_task_extern_input(spark, tmp_path):
    """MSQ's external-input form: INSERT ... SELECT ... FROM
    TABLE(EXTERN('<inputSource>', '<inputFormat>', '<signature>'))
    reads raw files, applies the declared signature (absent columns as
    typed NULLs), and lands queryable segments."""
    drop = tmp_path / "ext"
    drop.mkdir()
    with open(drop / "a.json", "w") as f:
        f.write(json.dumps({"t": "2024-03-01T00:10:00Z",
                            "page": "x", "delta": 4}) + "\n")
        f.write(json.dumps({"t": "2024-03-02T05:00:00Z",
                            "page": "y", "delta": 6}) + "\n")
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    src = json.dumps({"type": "local", "baseDir": str(drop),
                      "filter": "*.json"})
    fmt = json.dumps({"type": "json"})
    sig = json.dumps([{"name": "t", "type": "string"},
                      {"name": "page", "type": "string"},
                      {"name": "delta", "type": "long"},
                      {"name": "missing", "type": "double"}])
    try:
        out = _post(base + "/druid/v2/sql/task", {
            "query": f"""
              INSERT INTO ext
              SELECT CAST(t AS TIMESTAMP) AS __time, page, delta, missing
              FROM TABLE(EXTERN('{src}', '{fmt}', '{sig}'))
              PARTITIONED BY DAY
            """})
        assert out["state"] == "SUCCESS"
        # the signature's absent column arrives as NULL and stores as
        # 0.0 per the segment writer's Druid-v9 legacy null semantics
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT page, SUM(delta) AS total, "
                     "SUM(missing) AS m "
                     "FROM ext GROUP BY 1 ORDER BY 1"})
        assert rows == [{"page": "x", "total": 4, "m": 0.0},
                        {"page": "y", "total": 6, "m": 0.0}]
        segs = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.segments "
                     "WHERE datasource = 'ext'"})
        assert segs == [{"n": 2}]
    finally:
        s.stop()


def test_sql_task_select_and_reports(shim):
    """SELECT on POST /druid/v2/sql/task (sql-ingestion.md: the MSQ
    task engine runs SELECT queries, rows land in the task report) +
    GET /druid/indexer/v1/task/{id}/reports serving the documented
    multiStageQuery envelope with signature + row arrays."""
    out = _post(shim + "/druid/v2/sql/task", {
        "query": "SELECT channel, SUM(delta) AS total FROM wikipedia "
                 "WHERE channel = ? GROUP BY 1",
        "parameters": [{"type": "VARCHAR", "value": "en"}]})
    tid = out["taskId"]
    assert out["state"] == "SUCCESS"
    st = _get(shim + f"/druid/indexer/v1/task/{tid}/status")
    assert st["status"]["status"] == "SUCCESS"
    assert st["status"]["type"] == "query_controller"
    rep = _get(shim + f"/druid/indexer/v1/task/{tid}/reports")
    body = rep["multiStageQuery"]
    assert body["type"] == "multiStageQuery" and body["taskId"] == tid
    pay = body["payload"]
    assert pay["status"]["status"] == "SUCCESS"
    assert pay["results"]["signature"] == [
        {"name": "channel", "type": "STRING"},
        {"name": "total", "type": "LONG"}]
    assert pay["results"]["results"] == [["en", 12]]
    # the SELECT task shows up in sys.tasks with its read datasource
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT type, datasource, status FROM sys.tasks "
                 f"WHERE task_id = '{tid}'"})
    assert rows == [{"type": "query_controller",
                     "datasource": "wikipedia", "status": "SUCCESS"}]
    # unknown task -> 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(shim + "/druid/indexer/v1/task/nope/reports")
    assert ei.value.code == 404
    # leading comments don't defeat the SELECT-vs-ingest dispatch
    # (Calcite accepts them; review regression)
    out2 = _post(shim + "/druid/v2/sql/task", {
        "query": "-- nightly report\nSELECT COUNT(*) AS n "
                 "FROM wikipedia"})
    rep2 = _get(shim + "/druid/indexer/v1/task/"
                       f"{out2['taskId']}/reports")
    n_rows = rep2["multiStageQuery"]["payload"]["results"]["results"]
    assert n_rows == [[10]] or n_rows[0][0] > 0


def test_overlord_task_listing_and_payload(shim):
    """GET /druid/indexer/v1/tasks (+ running/complete/pending/waiting
    aliases, state/datasource/type/max filters) and the task payload
    view GET /druid/indexer/v1/task/{id} — the endpoints the Druid
    console's task tab polls. This synchronous overlord truthfully
    reports running/pending/waiting as empty."""
    out = _post(shim + "/druid/v2/sql/task", {
        "query": "SELECT COUNT(*) AS n FROM wikipedia"})
    tid = out["taskId"]
    rows = _get(shim + "/druid/indexer/v1/tasks")
    me = next(r for r in rows if r["id"] == tid)
    assert me["statusCode"] == "SUCCESS"
    assert me["runnerStatusCode"] == "NONE"
    assert me["type"] == "query_controller"
    assert me["dataSource"] == "wikipedia"
    # filters compose; aliases answer; max bounds newest-first
    assert any(
        r["id"] == tid for r in _get(
            shim + "/druid/indexer/v1/tasks"
                   "?datasource=wikipedia&type=query_controller")
    )
    assert _get(shim + "/druid/indexer/v1/runningTasks") == []
    assert _get(shim + "/druid/indexer/v1/pendingTasks") == []
    assert _get(shim + "/druid/indexer/v1/waitingTasks") == []
    comp = _get(shim + "/druid/indexer/v1/completeTasks?max=1")
    assert len(comp) == 1 and comp[0]["id"] == tid
    pl = _get(shim + f"/druid/indexer/v1/task/{tid}")
    assert pl["task"] == tid
    assert pl["payload"]["type"] == "query_controller"
    assert pl["payload"]["sqlQuery"].startswith("SELECT COUNT(*)")
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(shim + "/druid/indexer/v1/task/nope")
    assert ei.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(shim + "/druid/indexer/v1/tasks?state=bogus")
    assert ei.value.code == 400


def test_avatica_jdbc_lifecycle(shim):
    """POST /druid/v2/sql/avatica: the full Avatica JSON RPC lifecycle
    a JDBC client drives — open, createStatement, prepareAndExecute
    (typed signature + first frame), fetch paging, prepared-statement
    parameters, close. Timestamps travel as epoch millis with rep
    JAVA_SQL_TIMESTAMP (what the JDBC driver decodes)."""
    url = shim + "/druid/v2/sql/avatica"
    cid = "test-conn-1"
    assert _post(url, {"request": "openConnection",
                       "connectionId": cid})["response"] == "openConnection"
    st = _post(url, {"request": "createStatement", "connectionId": cid})
    sid = st["statementId"]
    out = _post(url, {
        "request": "prepareAndExecute", "connectionId": cid,
        "statementId": sid,
        "sql": "SELECT channel, delta, __time FROM wikipedia "
               "ORDER BY delta",
        "maxRowsInFirstFrame": 2,
    })
    assert out["response"] == "executeResults"
    rs = out["results"][0]
    sig = rs["signature"]
    assert [c["columnName"] for c in sig["columns"]] == [
        "channel", "delta", "__time"]
    assert [c["type"]["name"] for c in sig["columns"]] == [
        "VARCHAR", "BIGINT", "TIMESTAMP"]
    assert sig["columns"][2]["type"]["rep"] == "JAVA_SQL_TIMESTAMP"
    f0 = rs["firstFrame"]
    assert f0["offset"] == 0 and not f0["done"] and len(f0["rows"]) == 2
    assert f0["rows"][0][:2] == ["en", 5]
    # ts wire value = epoch millis of 2024-01-01T00:10:00Z
    assert f0["rows"][0][2] == 1704067800000
    nxt = _post(url, {"request": "fetch", "connectionId": cid,
                      "statementId": sid, "offset": 2,
                      "fetchMaxRowCount": 10})
    assert nxt["frame"]["done"] and len(nxt["frame"]["rows"]) == 1
    assert nxt["frame"]["rows"][0][1] == 11
    # prepared statement with a positional parameter
    prep = _post(url, {"request": "prepare", "connectionId": cid,
                       "sql": "SELECT COUNT(*) AS n FROM wikipedia "
                              "WHERE channel = ?"})
    handle = prep["statement"]
    ex = _post(url, {"request": "execute", "statementHandle": handle,
                     "parameterValues": [
                         {"type": "STRING", "value": "en"}]})
    assert ex["results"][0]["firstFrame"]["rows"] == [[2]]
    assert _post(url, {"request": "closeStatement", "connectionId": cid,
                       "statementId": sid})["response"] == "closeStatement"
    # fetch on a closed statement answers missingStatement, not HTTP 500
    miss = _post(url, {"request": "fetch", "connectionId": cid,
                       "statementId": sid, "offset": 0})
    assert miss["missingStatement"] is True
    assert _post(url, {"request": "closeConnection",
                       "connectionId": cid})["response"] == "closeConnection"


def test_avatica_explain_plan_for(shim):
    """EXPLAIN PLAN FOR over JDBC answers the same one-row PLAN /
    RESOURCES / ATTRIBUTES result as /druid/v2/sql."""
    out = _post(shim + "/druid/v2/sql/avatica", {
        "request": "prepareAndExecute", "connectionId": "c",
        "statementId": 1,
        "sql": "EXPLAIN PLAN FOR SELECT channel, SUM(delta) AS t "
               "FROM wikipedia GROUP BY 1",
    })
    rs = out["results"][0]
    assert [c["columnName"] for c in rs["signature"]["columns"]] == [
        "PLAN", "RESOURCES", "ATTRIBUTES"]
    [(plan, resources, attributes)] = rs["firstFrame"]["rows"]
    assert "HashAggregate" in plan
    assert json.loads(resources) == [
        {"name": "wikipedia", "type": "DATASOURCE"}]
    assert json.loads(attributes)["statementType"] == "SELECT"


def test_avatica_error_shape(shim):
    """A failing query answers Avatica's in-band ErrorResponse with
    HTTP 500 — what the JDBC driver surfaces as SQLException."""
    req = urllib.request.Request(
        shim + "/druid/v2/sql/avatica",
        data=json.dumps({
            "request": "prepareAndExecute", "connectionId": "c",
            "statementId": 1, "sql": "SELECT * FROM no_such_table",
        }).encode(),
        headers={"Content-Type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 500
    body = json.loads(ei.value.read())
    assert body["response"] == "error"
    assert "no_such_table" in body["errorMessage"]


def test_avatica_database_metadata(shim):
    """JDBC DatabaseMetaData requests (catalogs/schemas/tables/columns)
    answer ResultSetResponses with the documented JDBC column names —
    what BI tools call through getTables()/getColumns() right after
    connecting."""
    url = shim + "/druid/v2/sql/avatica"
    cats = _post(url, {"request": "catalogs", "connectionId": "m"})
    assert cats["firstFrame"]["rows"] == [["druid"]]
    tabs = _post(url, {"request": "tables", "connectionId": "m"})
    names = [c["columnName"] for c in tabs["signature"]["columns"]]
    assert names == ["TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME",
                     "TABLE_TYPE"]
    assert ["druid", "druid", "wikipedia", "TABLE"] in \
        tabs["firstFrame"]["rows"]
    cols = _post(url, {"request": "columns", "connectionId": "m",
                       "tableNamePattern": "wikipedia"})
    got = {r[3]: (r[4], r[5]) for r in cols["firstFrame"]["rows"]}
    assert got["__time"] == ("TIMESTAMP", 1)
    assert got["delta"][0] == "BIGINT"
    # pattern filters
    none = _post(url, {"request": "tables", "connectionId": "m",
                       "tableNamePattern": "zz%"})
    assert none["firstFrame"]["rows"] == []


def _get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def test_sync_sql_query_id_and_cancel(shim):
    """sql-api.md: a sync query submitted with context.sqlQueryId
    carries X-Druid-SQL-Query-Id on the response, and a RUNNING one is
    cancellable via DELETE /druid/v2/sql/{id} — the client kill switch
    JDBC/console use. Unknown/finished ids are 404."""
    import threading
    import time

    # header correlation on a fast query
    req = urllib.request.Request(
        shim + "/druid/v2/sql",
        data=json.dumps({
            "query": "SELECT COUNT(*) AS n FROM wikipedia",
            "context": {"sqlQueryId": "fast-1", "useCache": False,
                        "populateCache": False},
        }).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers["X-Druid-SQL-Query-Id"] == "fast-1"
        assert json.loads(r.read()) == [{"n": 3}]
    # a finished id is no longer cancellable
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(urllib.request.Request(
            shim + "/druid/v2/sql/fast-1", method="DELETE"))
    assert ei.value.code == 404
    # cancel a genuinely RUNNING query: a cross-join big enough to
    # outlive the cancel round-trip
    errs: list = []

    def run_slow():
        try:
            _post(shim + "/druid/v2/sql", {
                "query": "SELECT COUNT(*) AS n FROM wikipedia a, "
                         "wikipedia b, wikipedia c "
                         "CROSS JOIN (SELECT * FROM "
                         "  (SELECT explode(sequence(1, 3000000)) i)"
                         ") big WHERE a.delta + big.i > 0",
                "context": {"sqlQueryId": "slow-1", "useCache": False,
                            "populateCache": False},
            })
            errs.append(None)  # completed: cancel lost the race
        except urllib.error.HTTPError as e:
            errs.append((e.code, json.loads(e.read())))

    t = threading.Thread(target=run_slow)
    t.start()
    cancelled = False
    for _ in range(200):  # wait for the query to register as live
        try:
            with urllib.request.urlopen(urllib.request.Request(
                shim + "/druid/v2/sql/slow-1", method="DELETE"
            )) as r:
                assert r.status == 202
            cancelled = True
            break
        except urllib.error.HTTPError:
            time.sleep(0.05)
    t.join(120)
    assert cancelled
    assert errs and errs[0] is not None, "query finished before cancel"
    code, body = errs[0]
    assert code == 500 and body["error"] == "Query cancelled"


def test_sql_statements_async_lifecycle(shim):
    """POST /druid/v2/sql/statements (sql-api.md "SQL statements", the
    async MSQ query surface): submit returns a queryId immediately;
    GET reports state, schema, and a result descriptor on SUCCESS; the
    results endpoint pages the rows; DELETE cancels/acknowledges; an
    unknown id is a 404 and a bad SQL fails with errorDetails."""
    import time

    sub = _post(shim + "/druid/v2/sql/statements", {
        "query": "SELECT channel, SUM(delta) AS total FROM wikipedia "
                 "WHERE channel = ? GROUP BY 1",
        "parameters": [{"type": "VARCHAR", "value": "en"}],
    })
    sid = sub["queryId"]
    assert sub["state"] == "RUNNING"
    for _ in range(120):
        st = _get(shim + f"/druid/v2/sql/statements/{sid}")
        if st["state"] != "RUNNING":
            break
        time.sleep(0.25)
    assert st["state"] == "SUCCESS"
    assert [c["name"] for c in st["schema"]] == ["channel", "total"]
    assert st["result"] == {"numTotalRows": 1,
                            "pages": [{"id": 0, "numRows": 1}]}
    rows = _get(shim + f"/druid/v2/sql/statements/{sid}/results")
    assert rows == [{"channel": "en", "total": 12}]
    # explicit page 0 works; a missing page is the client's error
    assert _get(shim + f"/druid/v2/sql/statements/{sid}/results?page=0"
                ) == rows
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(shim + f"/druid/v2/sql/statements/{sid}/results?page=3")
    assert ei.value.code == 400
    # DELETE acknowledges a finished statement
    req = urllib.request.Request(
        shim + f"/druid/v2/sql/statements/{sid}", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert json.loads(r.read()) == {"queryId": sid}
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(shim + "/druid/v2/sql/statements/nope")
    assert ei.value.code == 404
    # failure surfaces as FAILED + errorDetails, not a broken broker
    bad = _post(shim + "/druid/v2/sql/statements", {
        "query": "SELECT * FROM no_such_table"})
    for _ in range(120):
        st = _get(shim + f"/druid/v2/sql/statements/{bad['queryId']}")
        if st["state"] != "RUNNING":
            break
        time.sleep(0.25)
    assert st["state"] == "FAILED"
    assert "no_such_table" in st["errorDetails"]["errorMessage"]


def test_sql_statements_extern_select(spark, tmp_path):
    """SELECT ... FROM TABLE(EXTERN(...)) on the async statements API
    (sql-ingestion.md: querying external data is an MSQ-engine
    feature served by sql/task and sql/statements, never interactive
    /druid/v2/sql): raw files read through the ingestion reader with
    the declared signature, no segments written."""
    import time

    drop = tmp_path / "ext"
    drop.mkdir()
    with open(drop / "a.json", "w") as f:
        f.write(json.dumps({"page": "x", "delta": 4}) + "\n")
        f.write(json.dumps({"page": "y", "delta": 6}) + "\n")
        f.write(json.dumps({"page": "x", "delta": 1}) + "\n")
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    src = json.dumps({"type": "local", "baseDir": str(drop),
                      "filter": "*.json"})
    fmt = json.dumps({"type": "json"})
    sig = json.dumps([{"name": "page", "type": "string"},
                      {"name": "delta", "type": "long"}])
    try:
        sub = _post(base + "/druid/v2/sql/statements", {
            "query": f"SELECT page, SUM(delta) AS total "
                     f"FROM TABLE(EXTERN('{src}', '{fmt}', '{sig}')) "
                     f"GROUP BY 1 ORDER BY 1"})
        sid = sub["queryId"]
        for _ in range(120):
            st = _get(base + f"/druid/v2/sql/statements/{sid}")
            if st["state"] != "RUNNING":
                break
            time.sleep(0.25)
        assert st["state"] == "SUCCESS"
        rows = _get(base + f"/druid/v2/sql/statements/{sid}/results")
        assert rows == [{"page": "x", "total": 5},
                        {"page": "y", "total": 6}]
        # the interactive endpoint does NOT grow the EXTERN feature:
        # parity with Druid, where only the MSQ surfaces accept it
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base + "/druid/v2/sql", {
                "query": f"SELECT COUNT(*) AS n "
                         f"FROM TABLE(EXTERN('{src}', '{fmt}', '{sig}'))"})
        assert ei.value.code in (400, 500)
    finally:
        s.stop()


def test_avatica_decimal_and_array_columns(shim):
    """Review regression: DECIMAL and ARRAY columns must wire-encode
    (decimal -> double, arrays element-wise) instead of crashing
    json.dumps into an HTTP 500."""
    out = _post(shim + "/druid/v2/sql/avatica", {
        "request": "prepareAndExecute", "connectionId": "dec",
        "statementId": 999,
        "sql": "SELECT CAST(1.5 AS DECIMAL(10,2)) AS d, "
               "ARRAY(__time) AS ts_arr FROM wikipedia LIMIT 1",
    })
    row = out["results"][0]["firstFrame"]["rows"][0]
    assert row[0] == 1.5
    assert row[1] == [1704067800000]


def test_avatica_prepare_reports_parameters(shim):
    """Review regression: the JDBC driver derives the prepared
    statement's parameter count from signature.parameters — one entry
    per ? outside string literals (a literal '?' must not count)."""
    prep = _post(shim + "/druid/v2/sql/avatica", {
        "request": "prepare", "connectionId": "p",
        "sql": "SELECT '?' AS lit FROM wikipedia "
               "WHERE channel = ? AND delta > ?"})
    params = prep["statement"]["signature"]["parameters"]
    assert len(params) == 2
    assert params[0]["name"] == "?1" and params[1]["name"] == "?2"


def test_avatica_batch_and_txn(shim):
    """JDBC batch + transaction surface: Statement.addBatch/executeBatch
    (prepareAndExecuteBatch), PreparedStatement.addBatch/executeBatch
    (executeBatch re-binding the SQL stored at prepare), and the
    commit/rollback requests an autocommit=false client sends
    unconditionally — all must round-trip instead of erroring."""
    url = shim + "/druid/v2/sql/avatica"
    cid = "batch-conn"
    _post(url, {"request": "openConnection", "connectionId": cid})
    # Statement batch: one update count per SQL command (read-only -> 0)
    out = _post(url, {
        "request": "prepareAndExecuteBatch", "connectionId": cid,
        "statementId": 7,
        "sqlCommands": ["SELECT 1", "SELECT COUNT(*) FROM wikipedia"],
    })
    assert out["response"] == "executeBatch"
    assert out["updateCounts"] == [0, 0]
    assert out["statementId"] == 7
    # PreparedStatement batch: the SQL lives server-side from prepare
    prep = _post(url, {"request": "prepare", "connectionId": cid,
                       "sql": "SELECT COUNT(*) AS n FROM wikipedia "
                              "WHERE channel = ?"})
    sid = prep["statement"]["id"]
    out = _post(url, {
        "request": "executeBatch", "connectionId": cid,
        "statementId": sid,
        "parameterValues": [
            [{"type": "STRING", "value": "en"}],
            [{"type": "STRING", "value": "de"}],
        ],
    })
    assert out["response"] == "executeBatch"
    assert out["updateCounts"] == [0, 0]
    assert out["missingStatement"] is False
    # executeBatch against an unknown statement -> missingStatement
    miss = _post(url, {"request": "executeBatch", "connectionId": cid,
                       "statementId": 424242, "parameterValues": []})
    assert miss["missingStatement"] is True
    # txn no-ops: acknowledged, not "unsupported request"
    assert _post(url, {"request": "commit",
                       "connectionId": cid})["response"] == "commit"
    assert _post(url, {"request": "rollback",
                       "connectionId": cid})["response"] == "rollback"
    # statementId 0 is a valid client-chosen id, not "absent"
    out = _post(url, {
        "request": "prepareAndExecute", "connectionId": cid,
        "statementId": 0, "sql": "SELECT 1 AS one",
    })
    assert out["results"][0]["statementId"] == 0
    _post(url, {"request": "closeConnection", "connectionId": cid})


def test_server_inventory_tracks_ingest_and_kill(spark, tmp_path):
    """The coordinator server inventory (sql-metadata-tables.md
    sys.servers / sys.server_segments; coordinator-api.md GET
    /druid/coordinator/v1/servers): one row per service this process
    runs, with the historical's served-segment rows and sizes tracking
    a fresh ingest and a kill — the first calls the Druid console and
    every ops client make."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT server, server_type, tier, is_leader "
                     "FROM sys.servers ORDER BY server_type"})
        assert [r["server_type"] for r in rows] == [
            "broker", "coordinator", "historical", "overlord"]
        by_type = {r["server_type"]: r for r in rows}
        assert by_type["historical"]["tier"] == "_default_tier"
        assert by_type["historical"]["server"] == "localhost:8083"
        assert by_type["broker"]["server"] == f"localhost:{port}"
        assert by_type["coordinator"]["is_leader"] == 1
        assert by_type["overlord"]["is_leader"] == 1
        # empty inventory: no segments served yet
        assert _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.server_segments"
        }) == [{"n": 0}]
        # ingest 2 day-grain segments -> 2 served rows on the historical
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO inv SELECT * FROM VALUES "
                     "(TIMESTAMP '2024-02-01 01:00:00', 1), "
                     "(TIMESTAMP '2024-02-02 01:00:00', 2) "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        served = _post(base + "/druid/v2/sql", {
            "query": "SELECT ss.segment_id FROM sys.server_segments ss "
                     "JOIN sys.servers sv ON ss.server = sv.server "
                     "WHERE sv.server_type = 'historical' "
                     "ORDER BY ss.segment_id"})
        assert len(served) == 2
        assert all(r["segment_id"].startswith("inv_2024-02-0")
                   for r in served)
        # curr_size must agree with the sum sys.segments reports
        agg = _post(base + "/druid/v2/sql", {
            "query": "SELECT (SELECT curr_size FROM sys.servers WHERE "
                     "server_type = 'historical') = (SELECT SUM(size) "
                     "FROM sys.segments WHERE is_available = 1) AS ok"})
        assert agg == [{"ok": True}]
        # the coordinator endpoint lists the segment-serving server
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/servers"
        ) as r:
            assert json.loads(r.read()) == ["localhost:8083"]
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/servers?simple"
        ) as r:
            simple = json.loads(r.read())
        assert simple[0]["type"] == "historical"
        assert simple[0]["currSize"] > 0 and simple[0]["maxSize"] > 0
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/servers?full"
        ) as r:
            full = json.loads(r.read())
        assert len(full[0]["segments"]) == 2
        # kill one day: the served rows and endpoint shrink with it
        out = _post(base + "/druid/indexer/v1/task", {
            "type": "kill", "dataSource": "inv",
            "interval": "2024-02-02T00:00:00Z/2024-02-03T00:00:00Z"})
        with urllib.request.urlopen(
            base + f"/druid/indexer/v1/task/{out['task']}/status"
        ) as r:
            assert json.loads(
                r.read())["status"]["numSegmentsKilled"] == 1
        assert _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.server_segments"
        }) == [{"n": 1}]
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/servers?full"
        ) as r:
            assert len(json.loads(r.read())[0]["segments"]) == 1
    finally:
        s.stop()


def test_sql_json_family(shim):
    """Druid's nested-column JSON SQL family (nested-columns.md) works
    through the broker's SQL text path: JSON_VALUE (scalar-only, with
    and without RETURNING), JSON_QUERY (objects/arrays included),
    JSON_OBJECT KEY/VALUE construction, PARSE_JSON/TO_JSON_STRING
    round trip, JSON_KEYS, and depth-2 JSON_PATHS."""
    doc = '{"a": 1, "b": {"x": "hi", "y": [1,2]}, "c": "str"}'
    rows = _post(shim + "/druid/v2/sql", {
        "query": f"SELECT JSON_VALUE('{doc}', '$.a') AS a, "
                 f"JSON_VALUE('{doc}', '$.b') AS obj_is_null, "
                 f"JSON_VALUE('{doc}', '$.b.y') AS arr_is_null, "
                 f"JSON_VALUE('{doc}', '$.a' RETURNING BIGINT) AS a_t, "
                 f"JSON_VALUE('{doc}', '$.b.x') AS bx "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{"a": "1", "obj_is_null": None, "arr_is_null": None,
                     "a_t": 1, "bx": "hi"}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": f"SELECT JSON_QUERY('{doc}', '$.b') AS b, "
                 f"JSON_QUERY('{doc}', '$.b.y') AS y, "
                 f"JSON_QUERY('{doc}', '$.c') AS c "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{"b": '{"x":"hi","y":[1,2]}', "y": "[1,2]",
                     "c": '"str"'}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT JSON_OBJECT(KEY 'n' VALUE delta, "
                 "KEY 'ch' VALUE channel) AS o "
                 "FROM wikipedia WHERE channel = 'de'"})
    assert rows == [{"o": '{"n":11,"ch":"de"}'}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": f"SELECT TO_JSON_STRING(PARSE_JSON('{doc}')) AS rt, "
                 f"TO_JSON_STRING(TRY_PARSE_JSON('nope')) AS bad "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{
        "rt": '{"a":1,"b":{"x":"hi","y":[1,2]},"c":"str"}', "bad": None}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": f"SELECT JSON_KEYS('{doc}', '$') AS top, "
                 f"JSON_KEYS('{doc}', '$.b') AS nested, "
                 f"JSON_PATHS('{doc}') AS paths "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{"top": ["a", "b", "c"], "nested": ["x", "y"],
                     "paths": ["$.a", "$.b.x", "$.b.y", "$.c"]}]
    # a literal containing a JSON name must NOT be rewritten
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT 'JSON_OBJECT(KEY a VALUE b)' AS s "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{"s": "JSON_OBJECT(KEY a VALUE b)"}]


def test_task_status_retention_is_bounded(spark, tmp_path):
    """SELECT on /druid/v2/sql/task records a task per query, so the
    terminal-status map must be bounded (newest-first retention, like
    Druid's recentlyFinishedThreshold expiry) and sys.tasks must
    rebuild lazily on reference — not on every record — so recording
    stays O(1)."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    s._max_tasks = 5
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        ids = []
        for _ in range(8):
            out = _post(base + "/druid/v2/sql/task", {
                "query": "SELECT 1 AS one"})
            ids.append(out["taskId"])
        with s._lock:
            kept = list(s._tasks)
        assert len(kept) == 5
        assert kept == ids[-5:]  # oldest evicted first
        # evicted ids 404 like real Druid's expired statuses
        try:
            urllib.request.urlopen(
                base + f"/druid/indexer/v1/task/{ids[0]}/status")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        # the lazy view still serves current truth through SQL
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT COUNT(*) AS n FROM sys.tasks"})
        assert rows == [{"n": 5}]
    finally:
        s.stop()


def test_sql_array_and_value_aggregates(shim):
    """Druid's array SQL family and time-ordered value aggregates work
    through the broker's SQL text path (sql-array-functions.md,
    sql-aggregations.md): name/arg-form swaps onto Spark builtins."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT channel, LATEST(delta) AS last_d, "
                 "EARLIEST(delta) AS first_d, "
                 "LATEST_BY(delta, __time) AS last_by "
                 "FROM wikipedia GROUP BY channel ORDER BY channel"})
    assert rows == [
        {"channel": "de", "last_d": 11, "first_d": 11, "last_by": 11},
        {"channel": "en", "last_d": 7, "first_d": 5, "last_by": 7},
    ]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT ARRAY_LENGTH(STRING_TO_ARRAY('a-b-c', '-')) "
                 "AS n, ARRAY_OFFSET(STRING_TO_ARRAY('a-b-c', '-'), 1) "
                 "AS o1, ARRAY_ORDINAL(STRING_TO_ARRAY('a-b-c', '-'), 1)"
                 " AS d1, ARRAY_TO_STRING(ARRAY_SLICE("
                 "STRING_TO_ARRAY('a-b-c', '-'), 1, 3), '|') AS sl, "
                 "ARRAY_TO_STRING(ARRAY_SLICE("
                 "STRING_TO_ARRAY('a-b-c', '-'), 1), '|') AS sl2, "
                 "ARRAY_OVERLAP(STRING_TO_ARRAY('a-b-c', '-'), "
                 "array('c', 'z')) AS ov, "
                 "ARRAY_TO_STRING(ARRAY_CONCAT(array('x'), array('y')), "
                 "'') AS cc, STRING_FORMAT('%s=%d', 'k', 7) AS fmt, "
                 "ARRAY_SLICE(STRING_TO_ARRAY('a-b-c', '-'), 1, 5) "
                 "AS padded, "
                 "ARRAY_SLICE(STRING_TO_ARRAY('a-b-c', '-'), 0 - 1, 2) "
                 "AS bad_start "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{
        "n": 3, "o1": "b", "d1": "a", "sl": "b|c", "sl2": "b|c",
        "ov": True, "cc": "xy", "fmt": "k=7",
        # Druid pads past the end with nulls; a bad start answers NULL
        "padded": ["b", "c", None, None], "bad_start": None}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT ARRAY_LENGTH(ARRAY_CONCAT_AGG("
                 "STRING_TO_ARRAY(channel, '-'))) AS n FROM wikipedia"})
    assert rows == [{"n": 3}]


def test_coordinator_datasource_segments_drilldown(spark, tmp_path):
    """GET /druid/coordinator/v1/datasources/{ds}/segments[?full] and
    /segments/{id} — the console's datasource drill-down: used-segment
    ids, full metadata objects, and a single segment by identifier."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO dd SELECT * FROM VALUES "
                     "(TIMESTAMP '2024-03-01 01:00:00', 1), "
                     "(TIMESTAMP '2024-03-02 01:00:00', 2) "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources/dd/segments"
        ) as r:
            ids = json.loads(r.read())
        assert len(ids) == 2 and all(i.startswith("dd_2024-03-0")
                                     for i in ids)
        with urllib.request.urlopen(
            base + "/druid/coordinator/v1/datasources/dd/segments?full"
        ) as r:
            full = json.loads(r.read())
        assert [f["identifier"] for f in full] == ids
        assert all(f["numRows"] == 1 and f["size"] > 0 for f in full)
        with urllib.request.urlopen(
            base + f"/druid/coordinator/v1/datasources/dd/segments/{ids[0]}"
        ) as r:
            one = json.loads(r.read())
        assert one["identifier"] == ids[0] and one["dataSource"] == "dd"
        try:
            urllib.request.urlopen(
                base + "/druid/coordinator/v1/datasources/dd/segments/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        s.stop()


def test_sys_segments_console_columns(spark, tmp_path):
    """The console-parity sys.segments columns: version (the segment
    dir basename in this layout), partition_num (dynamic shard 0),
    num_replicas (1 while served, 0 once overshadowed/unused), and
    replication_factor."""
    s = DruidBrokerShim(spark, {}, deep_storage=str(tmp_path / "deep"))
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _post(base + "/druid/v2/sql/task", {
            "query": "INSERT INTO cc SELECT * FROM VALUES "
                     "(TIMESTAMP '2024-04-01 01:00:00', 1) "
                     "AS t(__time, v) PARTITIONED BY DAY"})
        rows = _post(base + "/druid/v2/sql", {
            "query": "SELECT version, partition_num, num_replicas, "
                     "replication_factor FROM sys.segments "
                     "WHERE datasource = 'cc'"})
        assert len(rows) == 1
        r = rows[0]
        assert r["partition_num"] == 0 and r["replication_factor"] == 1
        assert r["num_replicas"] == 1 and r["version"]
    finally:
        s.stop()
    # a second VERSION of the same interval publishes beside the old
    # (the s13/overshadow setup): the overshadowed one must report 0
    # replicas while the serving one keeps 1
    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)

    def publish(root, version, delta):
        ev = spark.createDataFrame(
            [("2024-01-01 00:10:00", delta)], "ts string, v long"
        ).select(F.col("ts").cast("timestamp").alias("__time"), "v")
        write_druid_segments(
            ev, root, granularity="P1D", version=version
        ).collect()

    root = str(tmp_path / "segs")
    publish(root, "b0", 5)
    publish(root, "b1", 9)
    back = spark.read.format("druidsegment").option("path", root).load()
    s2 = DruidBrokerShim(spark, {"ov": back}, segment_roots={"ov": root})
    port2 = s2.start()
    try:
        rows = _post(f"http://127.0.0.1:{port2}" + "/druid/v2/sql", {
            "query": "SELECT is_overshadowed, num_replicas, version "
                     "FROM sys.segments WHERE datasource = 'ov' "
                     "ORDER BY version"})
        by_shadow = {r["is_overshadowed"]: r["num_replicas"]
                     for r in rows}
        assert by_shadow == {1: 0, 0: 1}
        assert [r["version"] for r in rows] == ["b0", "b1"]
    finally:
        s2.stop()


def test_sql_time_origin_tz_and_human_readable(shim):
    """TIME_FLOOR/TIME_CEIL origin+timezone argument forms and the
    HUMAN_READABLE_* trio through the broker's SQL text path
    (sql-scalar.md)."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT TIME_FLOOR(TIMESTAMP '2024-01-05 13:47:00', "
                 "'PT1H', TIMESTAMP '2024-01-01 00:30:00') AS og, "
                 "TIME_FLOOR(TIMESTAMP '2024-01-05 13:47:00', 'P1D', "
                 "NULL, 'America/Los_Angeles') AS la, "
                 "TIME_CEIL(TIMESTAMP '2024-01-05 13:47:00', 'PT1H', "
                 "TIMESTAMP '2024-01-01 00:30:00') AS ogc "
                 "FROM wikipedia LIMIT 1"})
    r = rows[0]
    assert r["og"].startswith("2024-01-05T13:30:00")
    # LA midnight (PST, UTC-8) = 08:00Z
    assert r["la"].startswith("2024-01-05T08:00:00")
    assert r["ogc"].startswith("2024-01-05T14:30:00")
    # the 4-arg combination: origin AND timezone, with a period the
    # zone offset is NOT a multiple of (PT4H vs Chicago's -6h) — the
    # origin is an INSTANT and shifts into the zone like the data
    # (06:00Z = local midnight CST), so the local grid is 00/04/08...
    # anchored at midnight; 13:47Z = 07:47 local -> 04:00 local =
    # 10:00Z. An unshifted origin would anchor at 06:00 local and
    # answer 12:00Z instead (the r9 ADVICE bug).
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT TIME_FLOOR(TIMESTAMP '2024-01-05 13:47:00', "
                 "'PT4H', TIMESTAMP '2024-01-01 06:00:00', "
                 "'America/Chicago') AS combo, "
                 # calendar period WITH origin (rewrite-time parse):
                 # P2M anchored at Jan-15 06:30 -> May-20 floors to
                 # May-15 06:30, ceils to Jul-15 06:30
                 "TIME_FLOOR(TIMESTAMP '2024-05-20 10:00:00', 'P2M', "
                 "TIMESTAMP '2024-01-15 06:30:00') AS cal, "
                 "TIME_CEIL(TIMESTAMP '2024-05-20 10:00:00', 'P2M', "
                 "TIMESTAMP '2024-01-15 06:30:00') AS calc "
                 "FROM wikipedia LIMIT 1"})
    r = rows[0]
    assert r["combo"].startswith("2024-01-05T10:00:00")
    assert r["cal"].startswith("2024-05-15T06:30:00")
    assert r["calc"].startswith("2024-07-15T06:30:00")
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT(1048576) "
                 "AS mib, HUMAN_READABLE_BINARY_BYTE_FORMAT(1536, 1) "
                 "AS kib, HUMAN_READABLE_DECIMAL_BYTE_FORMAT(1000000) "
                 "AS mb, HUMAN_READABLE_DECIMAL_FORMAT(1234567, 1) "
                 "AS m, HUMAN_READABLE_DECIMAL_FORMAT(999) AS plain "
                 "FROM wikipedia LIMIT 1"})
    assert rows == [{"mib": "1.00 MiB", "kib": "1.5 KiB",
                     "mb": "1.00 MB", "m": "1.2 M", "plain": "999.00"}]


def test_native_lookup_datasource_and_version_invalidation(spark, tmp_path):
    """Native lookup datasource through the broker: a join against the
    managed lookup store answers through POST /druid/v2; the lookup
    VERSION rides in the result-cache key, so a lookup-config POST
    invalidates cached joins implicitly (segment digests alone cannot
    see broker lookup state move)."""
    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.sources import (
        register_druid_datasource,
    )
    from druid_datafusion_bridge_spark.sources.ingest import (
        write_druid_segments,
    )

    register_druid_datasource(spark)
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "en", 5), ("2024-01-01 00:20:00", "en", 7),
         ("2024-01-01 02:00:00", "de", 11)],
        "ts string, channel string, delta long",
    ).select(F.col("ts").cast("timestamp").alias("__time"),
             "channel", "delta")
    root = str(tmp_path / "segs")
    write_druid_segments(df, root, granularity="PT1H").collect()
    back = spark.read.format("druidsegment").option("path", root).load()
    s = DruidBrokerShim(
        spark, {"wiki": back}, segment_roots={"wiki": root},
        lookups={"lang": {"en": "English", "de": "German"}},
    )
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    nat = {
        "queryType": "groupBy",
        "dataSource": {
            "type": "join",
            "left": "wiki",
            "right": {"type": "lookup", "lookup": "lang"},
            "rightPrefix": "l.",
            "condition": '"channel" == "l.k"',
        },
        "granularity": "all",
        "dimensions": ["l.v"],
        "aggregations": [
            {"type": "longSum", "name": "total", "fieldName": "delta"},
        ],
    }
    try:
        cache = s._result_cache

        def rows():
            out = _post(base + "/druid/v2", nat)
            return sorted(
                (e["event"]["l.v"], e["event"]["total"]) for e in out
            )

        assert rows() == [("English", 12), ("German", 11)]
        hits = cache.hits
        assert rows() == [("English", 12), ("German", 11)]
        assert cache.hits == hits + 1  # cached: keyed on digest+version
        # lookup update bumps its version -> implicit invalidation
        _post(
            base + "/druid/coordinator/v1/lookups/config/__default/lang",
            {"version": "v2", "lookupExtractorFactory": {
                "type": "map",
                "map": {"en": "ANGLAIS", "de": "ALLEMAND"}}},
        )
        assert rows() == [("ALLEMAND", 11), ("ANGLAIS", 12)]
        # registeredLookup extractionFn resolves against the same
        # managed store, and its version ALSO rides in the cache key
        reg = {
            "queryType": "groupBy",
            "dataSource": "wiki",
            "granularity": "all",
            "dimensions": [{
                "type": "extraction", "dimension": "channel",
                "outputName": "lang",
                "extractionFn": {"type": "registeredLookup",
                                 "lookup": "lang"},
            }],
            "aggregations": [
                {"type": "longSum", "name": "total", "fieldName": "delta"},
            ],
        }

        def reg_rows():
            out = _post(base + "/druid/v2", reg)
            return sorted(
                (e["event"]["lang"], e["event"]["total"]) for e in out
            )

        assert reg_rows() == [("ALLEMAND", 11), ("ANGLAIS", 12)]
        assert reg_rows() == [("ALLEMAND", 11), ("ANGLAIS", 12)]  # cached
        _post(
            base + "/druid/coordinator/v1/lookups/config/__default/lang",
            {"version": "v3", "lookupExtractorFactory": {
                "type": "map",
                "map": {"en": "INGLES", "de": "ALEMAN"}}},
        )
        assert reg_rows() == [("ALEMAN", 11), ("INGLES", 12)]
    finally:
        s.stop()


def test_sql_unnest_table_function(shim):
    """Druid's UNNEST table function as SQL text through the broker
    (every SQL path runs the rewrite chain): CROSS JOIN UNNEST over an
    MV-ish split, grouped."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT w AS ch, SUM(delta) AS total FROM wikipedia "
                 "CROSS JOIN UNNEST(STRING_TO_ARRAY(channel, '-')) "
                 "AS t(w) GROUP BY w ORDER BY total DESC"})
    assert rows == [{"ch": "en", "total": 12}, {"ch": "de", "total": 11}]


def test_sql_window_functions_text(shim):
    """Druid 28 SQL window functions POSTed as text: ANSI OVER clauses
    run verbatim (Spark and Druid share the standard)."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT channel, delta, "
                 "SUM(delta) OVER (PARTITION BY channel ORDER BY "
                 "__time) AS running, "
                 "RANK() OVER (ORDER BY delta DESC) AS rk "
                 "FROM wikipedia ORDER BY channel, __time"})
    assert rows == [
        {"channel": "de", "delta": 11, "running": 11, "rk": 1},
        {"channel": "en", "delta": 5, "running": 5, "rk": 3},
        {"channel": "en", "delta": 7, "running": 12, "rk": 2},
    ]


def test_sql_pivot_unpivot_text(shim):
    """Druid 29's PIVOT / UNPIVOT SQL clauses POSTed as text: the ANSI
    forms run verbatim (Spark shares the syntax)."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT * FROM (SELECT channel, delta FROM wikipedia) "
                 "PIVOT (SUM(delta) FOR channel IN "
                 "('en' AS en, 'de' AS de))"})
    assert rows == [{"en": 12, "de": 11}]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT ch, v FROM (SELECT 1 AS en, 2 AS de) "
                 "UNPIVOT (v FOR ch IN (en, de)) ORDER BY ch"})
    assert rows == [{"ch": "de", "v": 2}, {"ch": "en", "v": 1}]


def test_coordinator_dynamic_config(shim):
    """GET/POST /druid/coordinator/v1/config: Druid's defaults overlaid
    with merge-updates (the console's first coordinator call)."""
    with urllib.request.urlopen(
        shim + "/druid/coordinator/v1/config"
    ) as r:
        cfg = json.loads(r.read())
    assert cfg["maxSegmentsToMove"] == 100
    assert cfg["smartSegmentLoading"] is True
    out = _post(shim + "/druid/coordinator/v1/config",
                {"maxSegmentsToMove": 42, "pauseCoordination": True})
    assert out["maxSegmentsToMove"] == 42 and out["pauseCoordination"]
    with urllib.request.urlopen(
        shim + "/druid/coordinator/v1/config"
    ) as r:
        cfg = json.loads(r.read())
    assert cfg["maxSegmentsToMove"] == 42
    assert cfg["replicantLifetime"] == 15  # untouched defaults remain


def test_sql_bloom_and_ipv6_names(shim):
    """The r11 SQL names work through the broker's SQL text path:
    BLOOM_FILTER/BLOOM_FILTER_TEST (filter built by a scalar subquery,
    every built key tests true) and IPV6_MATCH ('::'-compressed and
    full forms, false on unparsable, mid-group /44 prefix)."""
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT channel, BLOOM_FILTER_TEST(channel, "
                 "(SELECT BLOOM_FILTER(channel, 10) FROM wikipedia "
                 "WHERE channel = 'en')) AS hit "
                 "FROM wikipedia GROUP BY channel ORDER BY channel"})
    assert rows == [
        {"channel": "de", "hit": False},
        {"channel": "en", "hit": True},
    ]
    rows = _post(shim + "/druid/v2/sql", {
        "query": "SELECT IPV6_MATCH('2001:db8:a5::1', "
                 "'2001:db8:a0::/44') AS a, "
                 "IPV6_MATCH('2001:db8:b0::1', '2001:db8:a0::/44') AS b, "
                 "IPV6_MATCH('::1', '::1/128') AS c, "
                 "IPV6_MATCH('junk', '::/0') AS d"})
    assert rows == [{"a": True, "b": False, "c": True, "d": False}]


def _dir_bytes(seg_dir) -> int:
    """On-disk bytes of a segment dir."""
    import os

    return sum(
        os.path.getsize(os.path.join(seg_dir, fn))
        for fn in os.listdir(seg_dir)
    )


def _day_segment(root, day: int, vals, version: str = "") -> str:
    """Write one segment of ``vals`` on 2024-01-(1 + day) under the
    writer's ``segment_{bucket}_{shard}[_{version}]`` name."""
    import pyarrow as pa

    from druid_datafusion_bridge_spark.sources import write_segment

    start = 1704067200000 + day * 86_400_000
    name = f"segment_{start}_0000" + (f"_{version}" if version else "")
    write_segment(
        pa.table({
            "__time": pa.array(
                [start + i for i in range(len(vals))], pa.timestamp("ms")
            ),
            "v": pa.array(vals, pa.int64()),
        }),
        str(root / name),
    )
    return name


def test_segment_sizes_follow_same_name_compaction_rewrite(spark, tmp_path):
    """A P1D -> P1M auto-compaction writes the month segment under the
    first day's name (segment_1704067200000_0000). The segment size is
    a planning-manifest field rebuilt with the entry, so sys.segments,
    /metadata/segments and /datasources/{ds} all report the rewritten
    segment's on-disk bytes, not the small day-1 segment's."""
    deep = tmp_path / "deep"
    root = deep / "sz"
    root.mkdir(parents=True)
    _day_segment(root, 0, [1])  # small day 1
    for day in range(1, 4):
        _day_segment(root, day, list(range(day * 500, day * 500 + 400)))
    s = DruidBrokerShim(
        spark, {}, segment_roots={"sz": str(root)}, deep_storage=str(deep)
    )
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    meta_url = (
        base + "/druid/coordinator/v1/metadata/segments?datasources=sz"
    )
    sql = {"query": "SELECT size FROM sys.segments WHERE datasource = 'sz'"}
    try:
        # every size surface has answered once before the rewrite
        assert len(_post(base + "/druid/v2/sql", sql)) == 4
        assert len(_get(meta_url)) == 4
        _post(base + "/druid/coordinator/v1/config/compaction", {
            "dataSource": "sz", "segmentGranularity": "month"})
        assert s.run_auto_compaction() == {"sz": 1}
        on_disk = _dir_bytes(root / "segment_1704067200000_0000")
        assert _post(base + "/druid/v2/sql", sql) == [{"size": on_disk}]
        assert [m["size"] for m in _get(meta_url)] == [on_disk]
        summary = _get(base + "/druid/coordinator/v1/datasources/sz")
        assert summary["properties"]["segments"]["size"] == on_disk
    finally:
        s.stop()


def test_coordinator_datasource_summary_counts_used_segments(
    spark, tmp_path
):
    """The bare /datasources/{ds} form and /intervals read the same
    timeline as /segments: an overshadowed version and a markUnused
    segment are counted, sized and listed by none of them."""
    deep = tmp_path / "deep"
    root = deep / "cs"
    root.mkdir(parents=True)
    _day_segment(root, 0, [1, 2], "b0")
    _day_segment(root, 0, [10, 20], "b1")  # overshadows day 1's b0
    _day_segment(root, 1, [3])
    unused = _day_segment(root, 2, [4])
    s = DruidBrokerShim(
        spark, {}, segment_roots={"cs": str(root)}, deep_storage=str(deep)
    )
    port = s.start()
    coord = f"http://127.0.0.1:{port}/druid/coordinator/v1/datasources/cs"
    try:
        _post(coord + "/markUnused", {"segmentIds": [unused]})
        full = _get(coord + "/segments?full")
        assert len(full) == 2
        seg = _get(coord)["properties"]["segments"]
        assert seg["count"] == len(_get(coord + "/segments")) == 2
        assert seg["size"] == sum(f["size"] for f in full)
        assert _get(coord + "/intervals") == sorted(
            (f["interval"] for f in full), reverse=True
        )
        assert seg["maxTime"] == "2024-01-02T00:00:00.001Z"
    finally:
        s.stop()


def test_datasource_root_registers_druidsegment_once_per_session(
    spark, tmp_path, monkeypatch
):
    """Re-registering a segment root (every ingest, kill, rule or mark
    change) registers the druidsegment DataSource with the session at
    most once, so Spark never replaces it; a new session registers its
    own."""
    from pyspark.sql.datasource import DataSourceRegistration

    root = tmp_path / "reg"
    root.mkdir()
    _day_segment(root, 0, [1, 2])
    calls = []
    real = DataSourceRegistration.register

    def counting(self, source):
        calls.append(source.name())
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    child = spark.newSession()
    s = DruidBrokerShim(child, {}, segment_roots={"reg": str(root)})
    s._register_datasource_root("reg")
    s._register_datasource_root("reg")
    assert calls == ["druidsegment"]
    assert child.sql("SELECT SUM(v) AS v FROM reg").first().v == 3

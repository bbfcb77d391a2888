"""CLI over Druid segments — the reference's binary re-expressed on Spark
(reference src/main.rs:27-195: subcommands info / files / dump / query).

    python -m druid_datafusion_bridge_spark.cli info  <segment-path>
    python -m druid_datafusion_bridge_spark.cli files <segment-path>
    python -m druid_datafusion_bridge_spark.cli dump  <segment-path> \
        [--columns a,b] [--limit N] [--format table|json|csv]
    python -m druid_datafusion_bridge_spark.cli scan  <root-or-segment> \
        [--columns a,b] [--limit N] [--order asc|desc] [--format ...]
    python -m druid_datafusion_bridge_spark.cli query <segment-path> --sql SQL
    python -m druid_datafusion_bridge_spark.cli native <root-or-segment> \
        -s '{"queryType": "topN", ...}'   # or -f spec.json
    python -m druid_datafusion_bridge_spark.cli ingest \
        -f task.json -o <deep-storage-root>
    python -m druid_datafusion_bridge_spark.cli search <segment-path> \
        -d DIM [-m contains|icontains|regex|like|endswith] -q VALUE

`info`, `files`, `dump`, `scan` and `search` are engine-bypass paths straight
over the decode layer (the reference's cmd_info/cmd_files/cmd_dump read the
segment without DataFusion, src/main.rs:97-184) — no Spark session is
started for them, so they answer in milliseconds. `query` registers the
segment(s) as the SQL table `segment` and hands the statement to Spark
(the reference's cmd_query hands it to DataFusion, src/main.rs:186-195).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

from .sources.segment import DruidSegment


def _format_millis(ms: int) -> str:
    """Epoch millis -> ISO string (reference format_millis, main.rs:197-230)."""
    return (
        dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        + "Z"
    )


def cmd_info(path: str) -> None:
    seg = DruidSegment(path)
    try:
        meta = seg.metadata
        print(f"Segment: {path}")
        print(
            f"Interval: {_format_millis(meta.interval_start_ms)} .. "
            f"{_format_millis(meta.interval_end_ms)}"
        )
        print(f"Columns ({len(meta.columns)}):")
        for field in seg.schema:
            print(f"  {field.name}: {field.type}")
        print(f"Dimensions: {', '.join(meta.dimensions)}")
        print(f"Rows: {seg.num_rows()}")
    finally:
        seg.close()


def cmd_files(path: str) -> None:
    seg = DruidSegment(path)
    try:
        print("Logical files in smoosh archive:")
        for name in seg.files():
            chunk, start, end = seg.smoosh.entries[name]
            print(
                f"  {name:<40} chunk={chunk} offset={start}..{end} "
                f"({end - start} bytes)"
            )
        print(f"Total: {len(seg.smoosh.entries)} files")
    finally:
        seg.close()


def _emit_batch(batch, fmt: str) -> None:
    if fmt == "table":
        print(batch.to_pandas().to_string(index=False))
    elif fmt == "json":  # line-delimited JSON sink (main.rs:170-174)
        for row in batch.to_pylist():
            print(json.dumps(row, default=str))
    elif fmt == "csv":  # CSV-with-header sink (main.rs:175-180)
        import pyarrow.csv as pacsv

        pacsv.write_csv(batch, sys.stdout.buffer)
    else:
        raise SystemExit(f"unknown format {fmt!r}")


def cmd_scan(
    path: str,
    columns: str | None,
    limit: int,
    order: str,
    fmt: str,
) -> None:
    """Druid Scan query over a segment ROOT, no Spark and no SQL
    engine: the first (last) ``limit`` rows by __time across every
    segment. Plans the ordered-limit segment prefix from the root's
    timeline (segment_timeline — one manifest read when warm), then
    per planned segment finds its top-``limit`` rows by decoding ONLY
    the __time column (argpartition, no full sort) and slice-decodes
    just those rows of the projected columns; candidates merge across
    segments and the exact cut is one bounded sort over
    <= limit x planned_segments rows. The reference has no multi-
    segment reads at all; Druid itself streams segments time-ordered
    and stops at the limit (ScanQueryEngine)."""
    import numpy as np
    import pyarrow as pa

    from .sources.datasource import (
        SERVED,
        plan_ordered_limit_prefix,
        segment_timeline,
    )
    from .sources.segment import TIME_COLUMN

    if limit <= 0:
        raise SystemExit("--limit must be a positive row count")
    desc = order == "desc"
    # served segments only (overshadow-aware): the CLI scan is a QUERY
    # surface and must agree with the engine on which version of an
    # interval is visible. Same prefix + straggler plan the Spark
    # DataSource uses, so the CLI and the engine cannot disagree on
    # which segments a top-k scan reads
    taken = plan_ordered_limit_prefix(
        [
            (s.meta["start"], s.meta["end"], s.meta["rows"], s.dir)
            for s in segment_timeline(path)
            if s.state == SERVED and s.meta["rows"]
        ],
        limit,
        desc,
    )

    cols = [c.strip() for c in columns.split(",")] if columns else None
    batches = []  # one batch per planned segment
    for _, _, n_rows, seg_dir in taken:
        seg = DruidSegment(seg_dir)
        try:
            # schema evolution: a long-lived root accretes columns over
            # time — decode only what this segment has, NULL-fill the
            # rest after the merge (mirrors DruidSegmentReader.read)
            seg_cols = list(seg.metadata.columns)
            want = seg_cols if cols is None else [c for c in cols if c in seg_cols]
            read_cols = want if TIME_COLUMN in want else [TIME_COLUMN] + want
            # rows within a segment are not guaranteed time-sorted:
            # decode __time alone, argpartition the top-k, then
            # slice-decode only those rows of the projection
            times = seg.read_column(TIME_COLUMN).cast(pa.int64()).to_numpy()
            k = min(limit, len(times))
            part = (
                np.argpartition(-times, k - 1) if desc
                else np.argpartition(times, k - 1)
            )[:k]
            rows = np.sort(part.astype(np.int64))
            batches.append(seg.read_batch(read_cols, rows=rows))
        finally:
            seg.close()
    if not batches:
        raise SystemExit(f"no rows under {path}")
    # union schema in requested (or first-seen) order; NULL-fill columns
    # a segment lacks. Conflicting types across segments are a root
    # corruption — refuse loudly, same as the DataSource's schema().
    union: dict[str, pa.DataType] = {}
    for b in batches:
        for fld in b.schema:
            prev = union.get(fld.name)
            if prev is None:
                union[fld.name] = fld.type
            elif prev != fld.type:
                raise SystemExit(
                    f"conflicting types for column {fld.name!r}: "
                    f"{prev} vs {fld.type}"
                )
    if cols is not None:
        unknown = [c for c in cols if c not in union]
        if unknown:
            raise SystemExit(
                f"unknown column(s) {', '.join(unknown)} under {path}"
            )
        out_names = [TIME_COLUMN] + cols if TIME_COLUMN not in cols else cols
    else:
        out_names = list(union)
    filled = []
    for b in batches:
        by_name = {n: b.column(i) for i, n in enumerate(b.schema.names)}
        filled.append(
            pa.RecordBatch.from_arrays(
                [
                    by_name.get(n, pa.nulls(b.num_rows, type=union[n]))
                    for n in out_names
                ],
                names=out_names,
            )
        )
    import pyarrow.compute as pc

    merged = pa.Table.from_batches(filled)
    idx = pc.sort_indices(
        merged, sort_keys=[(TIME_COLUMN, "descending" if desc else "ascending")]
    )
    merged = merged.take(idx.slice(0, limit))
    if cols is not None and TIME_COLUMN not in cols:
        merged = merged.drop_columns([TIME_COLUMN])  # merge key only
    _emit_batch(merged.combine_chunks().to_batches()[0], fmt)


def cmd_dump(path: str, columns: str | None, limit: int, fmt: str) -> None:
    seg = DruidSegment(path)
    try:
        cols = [c.strip() for c in columns.split(",")] if columns else None
        # sliced decode: only the compressed blocks holding the first
        # `limit` rows decompress (the reference decodes the WHOLE
        # segment and slices after, main.rs:158-163 — on a 5M-row
        # segment dumping 10 rows that's ~6 orders of magnitude of
        # wasted decode)
        import numpy as np

        n = min(limit, seg.num_rows_meta())
        batch = seg.read_batch(cols, rows=np.arange(n, dtype=np.int64))
        _emit_batch(batch, fmt)
    finally:
        seg.close()


def cmd_query(
    path: str, sql: str, show_rows: int = 100, explain: bool = False
) -> None:
    from .functions import register_druid_sql_functions
    from .session import get_spark
    from .sources import register_druid_datasource

    spark = get_spark(app_name="ddbs-cli")
    register_druid_datasource(spark)
    # Druid SQL dialect functions (TIME_FLOOR, SAFE_DIVIDE, ...) are
    # available in the CLI's SQL prompt, same as the table itself —
    # INCLUDING the SQL-text rewrite the broker applies (DataSketches
    # names, LATEST/ARRAY_* aggregates, JSON_OBJECT, REGEXP_EXTRACT's
    # Druid default): the CLI prompt and /druid/v2/sql must accept the
    # same Druid SQL, not two dialect subsets.
    from .functions.druid_sql import (
        rewrite_datasketches_sql,
        rewrite_unnest_sql,
    )

    register_druid_sql_functions(spark)
    df = spark.read.format("druidsegment").option("path", path).load()
    df.createOrReplaceTempView("segment")
    out = spark.sql(rewrite_datasketches_sql(rewrite_unnest_sql(sql)))
    if explain:
        # the reference's EXPLAIN surface comes free from DataFusion;
        # ours comes free from Catalyst (formatted physical plan)
        from .plans import formatted_plan

        print(formatted_plan(out))
    else:
        out.show(show_rows, truncate=False)


def cmd_native(
    path: str,
    spec: str | None,
    spec_file: str | None,
    show_rows: int = 100,
    explain: bool = False,
) -> None:
    """Druid NATIVE query JSON over the segment(s) — the body a Druid
    user POSTs to /druid/v2, answered by this engine (native_query.py
    compiles the spec to a Catalyst plan over the druidsegment
    DataSource). ``dataSource`` in the spec is ignored: the path IS the
    datasource."""
    from .native_query import native_query
    from .session import get_spark
    from .sources import register_druid_datasource

    if spec is None and spec_file is None:
        sys.exit("native: provide --spec JSON or --file PATH")
    if spec is None:
        with open(spec_file) as f:
            spec = f.read()
    try:
        parsed = json.loads(spec)
    except ValueError as e:
        sys.exit(f"native: invalid JSON spec: {e}")
    spark = get_spark(app_name="ddbs-cli")
    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option("path", path).load()
    try:
        out = native_query(df, parsed)
    except ValueError as e:
        sys.exit(f"native: {e}")
    if explain:
        from .plans import formatted_plan

        print(formatted_plan(out))
    else:
        out.show(show_rows, truncate=False)


def cmd_ingest(spec_file: str, deep_storage: str) -> None:
    """Execute a Druid index_parallel ingestion spec (the task JSON a
    Druid user submits to the overlord) on Spark: real v9 segments land
    under <deep-storage>/<dataSource> (ingestion_spec.py). Prints the
    write manifest, one segment per line."""
    from .ingestion_spec import ingest
    from .session import get_spark

    with open(spec_file) as f:
        raw = f.read()
    try:
        spec = json.loads(raw)
    except ValueError as e:
        sys.exit(f"ingest: invalid JSON spec: {e}")
    spark = get_spark(app_name="ddbs-cli")
    try:
        manifest = ingest(spark, spec, deep_storage).collect()
    except (ValueError, KeyError) as e:
        sys.exit(f"ingest: {e}")
    for m in sorted(manifest, key=lambda m: m["segment_dir"]):
        print(
            f"{m['segment_dir']}\t"
            f"{_format_millis(m['interval_start_ms'])}/"
            f"{_format_millis(m['interval_end_ms'])}\t"
            f"{m['num_rows']} rows"
        )


def cmd_serve(path: str, name: str, port: int) -> None:
    """Serve the Druid broker HTTP surface (POST /druid/v2 native JSON,
    POST /druid/v2/sql, GET /status/health, /druid/v2/datasources) over
    a segment root — existing Druid clients point their broker URL here
    (broker.py). Blocks until interrupted."""
    from .broker import DruidBrokerShim
    from .session import get_spark
    from .sources import register_druid_datasource

    spark = get_spark(app_name="ddbs-broker")
    register_druid_datasource(spark)
    df = spark.read.format("druidsegment").option("path", path).load()
    shim = DruidBrokerShim(spark, {name: df}, segment_roots={name: path})
    bound = shim.start(port=port)
    print(f"serving Druid API on http://127.0.0.1:{bound} "
          f"(datasource {name!r}); Ctrl-C to stop")
    try:
        import time as _time

        while True:
            _time.sleep(3600)
    except KeyboardInterrupt:
        shim.stop()


def cmd_search(path: str, dimension: str, matcher: str, value: str) -> None:
    """Druid Search query from the CLI, engine-bypass: matching values
    of a dimension + row counts, summed over the segment(s) straight
    from dictionaries and bitmap cardinalities (no Spark session, no
    value-chunk decode — milliseconds like info/dump). The distributed
    form of the same query is model.druid_model.search_dimension."""
    from .sources.datasource import served_segment_dirs

    totals: dict[str, int] = {}
    for d in served_segment_dirs(path):
        seg = DruidSegment(d)
        try:
            pairs = seg.search_value_counts(dimension, (matcher, value))
        finally:
            seg.close()
        if pairs is None:
            sys.exit(f"column {dimension!r} has no inverted index in {d}")
        for v, c in pairs:
            totals[v] = totals.get(v, 0) + c
    for v in sorted(totals):
        print(f"{v}\t{totals[v]}")


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        prog="druid-segment-spark",
        description="Inspect and query Apache Druid v9 segments on Spark.",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p_info = sub.add_parser("info", help="print schema, interval and row count")
    p_info.add_argument("path")

    p_files = sub.add_parser("files", help="list smoosh archive entries")
    p_files.add_argument("path")

    p_dump = sub.add_parser("dump", help="dump rows without the SQL engine")
    p_dump.add_argument("path")
    p_dump.add_argument("--columns", default=None, help="comma-separated list")
    p_dump.add_argument("--limit", type=int, default=10)
    p_dump.add_argument(
        "--format", default="table", choices=["table", "json", "csv"]
    )

    p_scan = sub.add_parser(
        "scan", help="time-ordered limit scan over a segment root (no Spark)"
    )
    p_scan.add_argument("path")
    p_scan.add_argument("--columns", default=None, help="comma-separated list")
    p_scan.add_argument("--limit", type=int, default=10)
    p_scan.add_argument("--order", default="asc", choices=["asc", "desc"])
    p_scan.add_argument(
        "--format", default="table", choices=["table", "json", "csv"]
    )

    p_query = sub.add_parser("query", help="run SQL over the segment table")
    p_query.add_argument("path")
    p_query.add_argument("--sql", "-s", required=True)
    p_query.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of rows",
    )

    p_native = sub.add_parser(
        "native", help="run a Druid native query JSON spec over the segments"
    )
    p_native.add_argument("path")
    p_native.add_argument("--spec", "-s", default=None,
                          help="the native query JSON (a /druid/v2 body)")
    p_native.add_argument("--file", "-f", default=None,
                          help="read the JSON spec from a file")
    p_native.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of rows",
    )

    p_ingest = sub.add_parser(
        "ingest", help="execute a Druid ingestion spec; write v9 segments"
    )
    p_ingest.add_argument("--file", "-f", required=True,
                          help="the index_parallel task JSON")
    p_ingest.add_argument("--deep-storage", "-o", required=True,
                          help="output root; segments land under <root>/<dataSource>")

    p_serve = sub.add_parser(
        "serve", help="serve the Druid broker HTTP API over a segment root"
    )
    p_serve.add_argument("path")
    p_serve.add_argument("--name", default="segments",
                         help="datasource name clients query")
    p_serve.add_argument("--port", type=int, default=8082,
                         help="bind port (Druid's broker default)")

    p_search = sub.add_parser(
        "search", help="matching dimension values + row counts (index-only)"
    )
    p_search.add_argument("path")
    p_search.add_argument("--dimension", "-d", required=True)
    p_search.add_argument(
        "--matcher",
        "-m",
        default="contains",
        choices=["contains", "icontains", "regex", "like", "endswith"],
    )
    p_search.add_argument("--value", "-q", required=True)

    args = parser.parse_args(argv)
    if args.command == "info":
        cmd_info(args.path)
    elif args.command == "files":
        cmd_files(args.path)
    elif args.command == "dump":
        cmd_dump(args.path, args.columns, args.limit, args.format)
    elif args.command == "scan":
        cmd_scan(args.path, args.columns, args.limit, args.order, args.format)
    elif args.command == "query":
        cmd_query(args.path, args.sql, explain=args.explain)
    elif args.command == "native":
        cmd_native(args.path, args.spec, args.file, explain=args.explain)
    elif args.command == "ingest":
        cmd_ingest(args.file, args.deep_storage)
    elif args.command == "serve":
        cmd_serve(args.path, args.name, args.port)
    elif args.command == "search":
        cmd_search(args.path, args.dimension, args.matcher, args.value)


if __name__ == "__main__":
    main()

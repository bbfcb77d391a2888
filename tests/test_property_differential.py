"""Property-based differential tests: hypothesis generates small
tables (null keys, duplicates, empty relations) and the same query runs
in Spark and DuckDB — the oracle discipline of tests/test_oracle.py,
but over adversarial generated data instead of the fixed testdata.
Covers the semantics corners fixed data can't reliably hit: NULL join
keys (never match), outer-join padding, duplicate multiplicity in
INTERSECT/EXCEPT ALL, and aggregate behavior over all-NULL groups.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SCHEMA = "k int, v long, s string"

rows_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
        st.integers(min_value=-1000, max_value=1000),
        st.one_of(st.none(), st.sampled_from(["a", "b", "", "zz"])),
    ),
    max_size=25,
)

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _duck(tables: dict[str, list[tuple]]):
    con = duckdb.connect()
    for name, rows in tables.items():
        pdf = pd.DataFrame(rows, columns=["k", "v", "s"]).astype(
            {"k": "Int64", "v": "int64", "s": "object"}
        )
        con.register(f"{name}_pdf", pdf)
        con.execute(
            f"CREATE TABLE {name} AS "
            f"SELECT CAST(k AS INT) k, CAST(v AS BIGINT) v, CAST(s AS VARCHAR) s "
            f"FROM {name}_pdf"
        )
    return con


def _canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(str(r[i]) for i in idx) for r in rows)


def _compare(spark_df, con, sql):
    a = _canon(spark_df.columns, [tuple(r) for r in spark_df.collect()])
    res = con.execute(sql)
    b = _canon([d[0] for d in res.description], res.fetchall())
    assert a == b, f"\nspark={a[:5]}\nduck ={b[:5]}"


@pytest.mark.slow
@given(a=rows_st, b=rows_st)
@SET
def test_joins_differential(spark, a, b):
    ta = spark.createDataFrame(a, SCHEMA) if a else spark.createDataFrame([], SCHEMA)
    tb = spark.createDataFrame(b, SCHEMA) if b else spark.createDataFrame([], SCHEMA)
    ta.createOrReplaceTempView("pa")
    tb.createOrReplaceTempView("pb")
    con = _duck({"pa": a, "pb": b})
    # (spark keyword, duckdb keyword) — DuckDB spells semi/anti without LEFT
    for spark_join, duck_join in [
        ("JOIN", "JOIN"),
        ("LEFT JOIN", "LEFT JOIN"),
        ("FULL JOIN", "FULL JOIN"),
        ("LEFT SEMI JOIN", "SEMI JOIN"),
        ("LEFT ANTI JOIN", "ANTI JOIN"),
    ]:
        proj = (
            "pa.k AS ak, pa.v AS av"
            if "SEMI" in spark_join or "ANTI" in spark_join
            else "pa.k AS ak, pa.v AS av, pb.v AS bv, pb.s AS bs"
        )
        sql = f"SELECT {proj} FROM pa {{}} pb ON pa.k = pb.k"
        _compare(spark.sql(sql.format(spark_join)), con, sql.format(duck_join))


@pytest.mark.slow
@given(a=rows_st, b=rows_st)
@SET
def test_setops_differential(spark, a, b):
    ta = spark.createDataFrame(a, SCHEMA) if a else spark.createDataFrame([], SCHEMA)
    tb = spark.createDataFrame(b, SCHEMA) if b else spark.createDataFrame([], SCHEMA)
    ta.createOrReplaceTempView("sa")
    tb.createOrReplaceTempView("sb")
    con = _duck({"sa": a, "sb": b})
    for op in ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
               "EXCEPT", "EXCEPT ALL"]:
        sql = f"SELECT k, s FROM sa {op} SELECT k, s FROM sb"
        _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(a=rows_st)
@SET
def test_aggregates_differential(spark, a):
    ta = spark.createDataFrame(a, SCHEMA) if a else spark.createDataFrame([], SCHEMA)
    ta.createOrReplaceTempView("ga")
    con = _duck({"ga": a})
    sql = """
        SELECT k, COUNT(*) AS n, COUNT(s) AS ns, SUM(v) AS sv,
               MIN(s) AS mins, MAX(v) AS maxv, COUNT(DISTINCT s) AS ds
        FROM ga GROUP BY k
    """
    _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(a=rows_st)
@SET
def test_windows_differential(spark, a):
    # unique tiebreak column so ranking is deterministic in both engines
    rows = [(i, *r) for i, r in enumerate(a)]
    ta = (
        spark.createDataFrame(rows, "rid long, " + SCHEMA)
        if rows
        else spark.createDataFrame([], "rid long, " + SCHEMA)
    )
    ta.createOrReplaceTempView("wa")
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["rid", "k", "v", "s"])
    if rows:
        pdf = pdf.astype({"rid": "int64", "k": "Int64", "v": "int64", "s": "object"})
    con.register("wa_pdf", pdf)
    con.execute(
        "CREATE TABLE wa AS SELECT CAST(rid AS BIGINT) rid, CAST(k AS INT) k, "
        "CAST(v AS BIGINT) v, CAST(s AS VARCHAR) s FROM wa_pdf"
    )
    sql = """
        SELECT rid,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, rid) AS rn,
               RANK() OVER (PARTITION BY k ORDER BY v) AS rk,
               SUM(v) OVER (PARTITION BY k ORDER BY v, rid
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
               LAG(v) OVER (PARTITION BY k ORDER BY v, rid) AS lag_v
        FROM wa
    """
    _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(a=rows_st)
@SET
def test_window_frames_differential(spark, a):
    """Frame-spec fuzz (W4/W5): explicit ROWS and RANGE bounds,
    positional window functions and distribution functions over
    adversarial rows (null keys, ties). Frames are written explicitly
    everywhere — last_value over each engine's DEFAULT frame is a
    classic divergence trap, pinned here by never relying on it."""
    rows = [(i, *r) for i, r in enumerate(a)]
    ta = (
        spark.createDataFrame(rows, "rid long, " + SCHEMA)
        if rows
        else spark.createDataFrame([], "rid long, " + SCHEMA)
    )
    ta.createOrReplaceTempView("wf")
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["rid", "k", "v", "s"])
    if rows:
        pdf = pdf.astype({"rid": "int64", "k": "Int64", "v": "int64", "s": "object"})
    con.register("wf_pdf", pdf)
    con.execute(
        "CREATE TABLE wf AS SELECT CAST(rid AS BIGINT) rid, CAST(k AS INT) k, "
        "CAST(v AS BIGINT) v, CAST(s AS VARCHAR) s FROM wf_pdf"
    )
    sql = """
        SELECT rid,
               SUM(v) OVER (PARTITION BY k ORDER BY v, rid
                            ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS roll4,
               COUNT(*) OVER (PARTITION BY k ORDER BY v
                              RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS band,
               SUM(v) OVER (PARTITION BY k ORDER BY v
                            RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS band2,
               FIRST_VALUE(v) OVER (PARTITION BY k ORDER BY v, rid
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS fv,
               LAST_VALUE(v) OVER (PARTITION BY k ORDER BY v, rid
                                   ROWS BETWEEN CURRENT ROW
                                            AND UNBOUNDED FOLLOWING) AS lv,
               NTH_VALUE(v, 2) OVER (PARTITION BY k ORDER BY v, rid
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS nv2,
               DENSE_RANK() OVER (PARTITION BY k ORDER BY v) AS drk,
               NTILE(3) OVER (PARTITION BY k ORDER BY v, rid) AS nt,
               PERCENT_RANK() OVER (PARTITION BY k ORDER BY v) AS pr,
               CUME_DIST() OVER (PARTITION BY k ORDER BY v) AS cd,
               LEAD(v, 2, -1) OVER (PARTITION BY k ORDER BY v, rid) AS ld2
        FROM wf
    """
    _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(a=rows_st)
@SET
def test_scalar_functions_differential(spark, a):
    """String/math scalar families (SURVEY §2.8) over adversarial
    generated rows. Dialect deltas found by this very test and pinned
    here: round() excluded (Spark half-up vs DuckDB half-even — why
    queries/exact.py uses decimal casts, never double round); || used
    instead of concat() (DuckDB's concat skips NULLs, || propagates in
    both); ceil/floor cast (Spark returns BIGINT, DuckDB DOUBLE)."""
    ta = spark.createDataFrame(a, SCHEMA) if a else spark.createDataFrame([], SCHEMA)
    ta.createOrReplaceTempView("fa")
    con = _duck({"fa": a})
    # placeholders: {0} = string type name, {1} = split-join spelling
    sql = """
        SELECT upper(s) AS u, lower(s) AS l, trim(s) AS t,
               length(s) AS n, substr(s, 1, 2) AS s2,
               s || '_' || CAST(k AS {0}) AS c,
               instr(s, 'a') AS p,
               abs(v) AS av,
               CAST(ceil(v / 7.0) AS BIGINT) AS cv,
               CAST(floor(v / 7.0) AS BIGINT) AS fv,
               sqrt(abs(v)) AS sv, v % 7 AS mv,
               coalesce(k, 99) AS ck,
               CASE WHEN v > 0 THEN 'pos' WHEN v < 0 THEN 'neg'
                    ELSE 'zero' END AS sign,
               regexp_extract(s, '([abz]+)', 1) AS re1,
               replace(s, 'z', '-') AS rep,
               lpad(s, 6, '_') AS lp,
               reverse(s) AS rv2,
               CASE WHEN s LIKE '%a%' THEN 1 ELSE 0 END AS lk,
               {1} AS sj
        FROM fa
    """
    _compare(
        spark.sql(sql.format("STRING", "array_join(split(s, 'b'), '|')")),
        con,
        # array_to_string drops NULL semantics differently on empty
        # filtered lists elsewhere, but str_split never returns NULL
        # elements, so the plain spelling is parity here.
        sql.format("VARCHAR", "array_to_string(str_split(s, 'b'), '|')"),
    )


@pytest.mark.slow
@given(
    ts=st.lists(
        st.datetimes(
            min_value=pd.Timestamp("1960-01-01").to_pydatetime(),
            max_value=pd.Timestamp("2030-12-28").to_pydatetime(),
        ),
        max_size=20,
    )
)
@SET
def test_date_functions_differential(spark, ts):
    """Date/time family (SURVEY §2.8) fuzz: calendar field extraction
    and truncation over arbitrary timestamps, including pre-epoch and
    leap days. Engine spellings pinned: ISO day-of-week is weekday()+1
    in Spark vs isodow() in DuckDB; DuckDB date_trunc returns DATE and
    needs the TIMESTAMP cast."""
    rows = [(t,) for t in ts]
    ta = (
        spark.createDataFrame(rows, "ts timestamp")
        if rows
        else spark.createDataFrame([], "ts timestamp")
    )
    ta.createOrReplaceTempView("da")
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["ts"])
    con.register("da_pdf", pdf)
    con.execute("CREATE TABLE da AS SELECT CAST(ts AS TIMESTAMP) ts FROM da_pdf")
    sql = """
        SELECT year(ts) AS y, month(ts) AS mo, day(ts) AS d,
               hour(ts) AS h, minute(ts) AS mi, second(ts) AS s,
               dayofyear(ts) AS doy, quarter(ts) AS q,
               {0} AS dow,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS td,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS th,
               CAST(date_trunc('month', ts) AS TIMESTAMP) AS tm,
               {1} AS fmt,
               {2} AS dd95,
               ts + INTERVAL 7 DAY AS due,
               CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS ld
        FROM da
    """
    _compare(
        spark.sql(
            sql.format(
                "weekday(ts) + 1",
                "date_format(ts, 'yyyy-MM-dd HH:mm:ss')",
                # Spark datediff(end, start); DuckDB datediff(part, start, end)
                "CAST(datediff(CAST(ts AS DATE), DATE '1995-01-01') AS BIGINT)",
            )
        ),
        con,
        sql.format(
            "isodow(ts)",
            "strftime(ts, '%Y-%m-%d %H:%M:%S')",
            "datediff('day', DATE '1995-01-01', CAST(ts AS DATE))",
        ),
    )


@pytest.mark.slow
@given(a=rows_st)
@SET
def test_rollup_cube_differential(spark, a):
    """ROLLUP/CUBE fuzz (A6): subtotal rows carry NULL group keys that
    can collide with genuine NULLs in the data — GROUPING() is the
    disambiguator, and both engines must agree on the whole lattice.

    Divergence found by this test and pinned: on an EMPTY relation
    DuckDB emits the ()-grouping-set grand-total row (n=0), Spark emits
    no rows at all (its Expand+groupBy lowering has no input rows to
    expand). Empty inputs are skipped; the delta is documented here."""
    if not a:
        return
    ta = spark.createDataFrame(a, SCHEMA)
    ta.createOrReplaceTempView("ra")
    con = _duck({"ra": a})
    for clause in ["ROLLUP(k, s)", "CUBE(k, s)",
                   "GROUPING SETS ((k), (s), ())"]:
        sql = f"""
            SELECT k, s, GROUPING(k) AS gk, GROUPING(s) AS gs,
                   COUNT(*) AS n, SUM(v) AS sv
            FROM ra GROUP BY {clause}
        """
        _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(
    texts=st.lists(
        st.text(alphabet=" abz", max_size=30),
        max_size=15,
    )
)
@SET
def test_pipeline_ops_differential(spark, texts):
    """sequence packing + repetition signals over adversarial generated
    documents (empty strings, all-space strings, repeated tokens) —
    pins the split('' ) -> [''] token-count edge agreeing across
    engines, and the shard-local running-sum packing arithmetic."""
    from druid_datafusion_bridge_spark.operators.text_pipeline import (
        repetition_signals,
        sequence_pack,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = (
        spark.createDataFrame(rows, "doc_id long, text string")
        if rows
        else spark.createDataFrame([], "doc_id long, text string")
    )
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con.register("docs_pdf", pdf)
    con.execute(
        "CREATE TABLE documents AS "
        'SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS "text" '
        "FROM docs_pdf"
    )
    _compare(
        sequence_pack(docs, budget=7, n_shards=3),
        con,
        """
        WITH toks AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 doc_id % 3 AS shard
          FROM documents),
        packed AS (
          SELECT doc_id, shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_tok
          FROM toks)
        SELECT doc_id, shard, n_tokens,
               CAST(floor(start_tok / 7.0) AS BIGINT) AS seq_in_shard,
               CAST(start_tok % 7 AS BIGINT) AS offset_in_seq
        FROM packed
        """,
    )
    _compare(
        repetition_signals(docs),
        con,
        """
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        per_tok AS (
          SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
        per_doc AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
          FROM per_tok GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_distinct, top_count,
               CAST(top_count AS DOUBLE) / n_tokens AS top_token_share,
               CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac
        FROM per_doc
        """,
    )


@pytest.mark.slow
@given(
    lft=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), max_size=20
    ),
    rgt=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-50, 50)),
        max_size=20,
    ),
)
@SET
def test_asof_join_differential(spark, lft, rgt):
    """asof_join (operators/temporal.py) vs DuckDB's native ASOF JOIN
    over adversarial key/timestamp sets: duplicate timestamps, keys
    with no matches, empty sides. At-or-before semantics with ties
    resolving to the equal-timestamp right row must agree exactly.
    DuckDB's ASOF picks an arbitrary right row among exact right-side
    ts duplicates, so right (k, ts) pairs are deduplicated to keep both
    engines deterministic."""
    from druid_datafusion_bridge_spark.operators.temporal import asof_join

    seen = set()
    rgt_d = []
    for k, ts, v in rgt:
        if (k, ts) not in seen:
            seen.add((k, ts))
            rgt_d.append((k, ts, v))
    left = (
        spark.createDataFrame(
            [(i, k, ts) for i, (k, ts) in enumerate(lft)],
            "lid long, k long, ts long",
        )
        if lft
        else spark.createDataFrame([], "lid long, k long, ts long")
    )
    right = (
        spark.createDataFrame(rgt_d, "k long, ts long, v long")
        if rgt_d
        else spark.createDataFrame([], "k long, ts long, v long")
    )
    got = asof_join(left, right, on="k").select(
        "lid", "k", "ts", "v_right", "ts_right"
    )
    con = duckdb.connect()
    con.register(
        "l_pdf",
        pd.DataFrame(
            [(i, k, ts) for i, (k, ts) in enumerate(lft)],
            columns=["lid", "k", "ts"],
        ).astype("int64", errors="ignore"),
    )
    con.register(
        "r_pdf", pd.DataFrame(rgt_d, columns=["k", "ts", "v"]).astype("int64", errors="ignore")
    )
    con.execute("CREATE TABLE l AS SELECT * FROM l_pdf")
    con.execute("CREATE TABLE r AS SELECT * FROM r_pdf")
    sql = """
        SELECT l.lid, l.k, l.ts, r.v AS v_right, r.ts AS ts_right
        FROM l ASOF LEFT JOIN r
          ON l.k = r.k AND l.ts >= r.ts
    """
    _compare(got, con, sql)


@pytest.mark.slow
@given(
    lft=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200)), max_size=20
    ),
    rgt=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200), st.integers(-50, 50)),
        max_size=20,
    ),
)
@SET
def test_range_join_differential(spark, lft, rgt):
    """range_join (banded equi-join formulation) vs a plain DuckDB
    interval-predicate join: every (left, right) pair with the same key
    and right.ts - left.ts in [0, 60] must appear exactly once — the
    bucket-and-neighbor candidate generation must neither drop boundary
    pairs nor duplicate ones that land in two buckets."""
    from druid_datafusion_bridge_spark.operators.temporal import range_join

    left = (
        spark.createDataFrame(
            [(i, k, ts) for i, (k, ts) in enumerate(lft)],
            "lid long, k long, ts long",
        )
        if lft
        else spark.createDataFrame([], "lid long, k long, ts long")
    )
    right = (
        spark.createDataFrame(
            [(i, k, ts, v) for i, (k, ts, v) in enumerate(rgt)],
            "rid long, k long, ts long, v long",
        )
        if rgt
        else spark.createDataFrame([], "rid long, k long, ts long, v long")
    )
    got = range_join(
        left, right, on="k", lower_seconds=0.0, upper_seconds=60.0
    ).select("lid", "rid_right", "k", "ts", "ts_right", "v_right")
    con = duckdb.connect()
    con.register(
        "l_pdf",
        pd.DataFrame(
            [(i, k, ts) for i, (k, ts) in enumerate(lft)],
            columns=["lid", "k", "ts"],
        ),
    )
    con.register(
        "r_pdf",
        pd.DataFrame(
            [(i, k, ts, v) for i, (k, ts, v) in enumerate(rgt)],
            columns=["rid", "k", "ts", "v"],
        ),
    )
    con.execute("CREATE TABLE l AS SELECT * FROM l_pdf")
    con.execute("CREATE TABLE r AS SELECT * FROM r_pdf")
    sql = """
        SELECT l.lid, r.rid AS rid_right, l.k, l.ts, r.ts AS ts_right,
               r.v AS v_right
        FROM l JOIN r ON l.k = r.k
         AND r.ts - l.ts BETWEEN 0 AND 60
    """
    _compare(got, con, sql)


@pytest.mark.slow
@given(
    kv=st.lists(
        st.tuples(
            st.sampled_from(["k", "key", "x y", "nüm"]),
            st.one_of(
                st.integers(min_value=-5000, max_value=5000),
                st.sampled_from(["abc", "", "with space", 'tr"ick']),
                st.none(),
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_json_extraction_differential(spark, kv):
    """fd_json_value's extraction primitive over adversarial generated
    JSON: get_json_object must agree with DuckDB's json_extract_string
    for string/number/null values, including keys needing quoting and
    values with quotes/spaces."""
    import json

    docs = [(i, json.dumps({k: v})) for i, (k, v) in enumerate(kv)]
    ta = spark.createDataFrame(docs, "i long, j string")
    ta.createOrReplaceTempView("jt")
    con = duckdb.connect()
    pdf = pd.DataFrame(docs, columns=["i", "j"])
    con.register("jt_pdf", pdf)
    con.execute("CREATE TABLE jt AS SELECT i, CAST(j AS VARCHAR) j FROM jt_pdf")
    for key in {k for k, _ in kv}:
        # dialect delta found BY this test: Spark's JsonPath parses
        # unquoted non-ASCII keys ($.nüm) to NULL where DuckDB
        # resolves them — so keys are always quoted, bracket-style for
        # Spark, double-quote-style for DuckDB
        sql_s = f"SELECT i, get_json_object(j, '$[''{key}'']') AS v FROM jt"
        sql_d = f'SELECT i, json_extract_string(j, \'$."{key}"\') AS v FROM jt'
        _compare(spark.sql(sql_s), con, sql_d)


@pytest.mark.slow
@given(
    a=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            # i/64 is exact in binary, so v/width and the bucket floor
            # are bit-deterministic; range straddles below-zero (clip
            # to bucket 0), exact bucket boundaries, and above-range
            # (clip to the last bucket)
            st.integers(min_value=-2048, max_value=70000).map(lambda i: i / 64),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_fixed_hist_median_differential(spark, a):
    """fixedBucketsHistogram digest (operators/sketches.py hist_bucket +
    quantiles_from_counters at p50) vs the same formula in DuckDB over adversarial
    values: negatives clip into bucket 0, overflow clips into the last
    bucket, values landing exactly ON a bucket edge, and cumulative
    counts landing exactly ON the 0.5*n target (frac 0/1 boundary) must
    all agree bit-exactly — counts are integers and the interpolation
    is one IEEE expression over exactly-representable inputs."""
    from druid_datafusion_bridge_spark.operators.sketches import (
        hist_bucket,
        quantiles_from_counters,
    )

    import pyspark.sql.functions as F

    buckets, width = 64, 16.0
    df = spark.createDataFrame(a, "k long, v double")
    counters = df.groupBy(
        "k", hist_bucket(F.col("v"), buckets, width).alias("pos")
    ).agg(F.count("*").alias("cnt"))
    got = quantiles_from_counters(counters, ["k"], width, {"p50_est": 0.5})

    con = duckdb.connect()
    pdf = pd.DataFrame(a, columns=["k", "v"])
    con.register("h_pdf", pdf)
    con.execute(
        "CREATE TABLE h AS SELECT CAST(k AS BIGINT) k, CAST(v AS DOUBLE) v FROM h_pdf"
    )
    sql = f"""
        WITH b AS (
          SELECT k,
                 GREATEST(0, LEAST(CAST(FLOOR(v / {width}) AS BIGINT),
                                   {buckets - 1})) AS pos,
                 COUNT(*) AS cnt
          FROM h GROUP BY k, pos),
        t AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY k),
        c AS (
          SELECT k, pos, CAST(cnt AS BIGINT) AS cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY k ORDER BY pos)
                      AS BIGINT) AS cum
          FROM b)
        SELECT c.k, t.n,
               (pos + ((CAST(0.5 AS DOUBLE) * t.n) - (cum - cnt)) / cnt) * {width} AS p50_est
        FROM c JOIN t USING (k)
        WHERE cum >= CAST(0.5 AS DOUBLE) * t.n AND (cum - cnt) < CAST(0.5 AS DOUBLE) * t.n
    """
    _compare(got, con, sql)


@pytest.mark.slow
@given(
    a=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=-2048, max_value=70000).map(lambda i: i / 64),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_fixed_hist_two_quantiles_one_pass_differential(spark, a):
    """quantiles_from_counters asking p50 AND p95 in its single
    window+agg pass must agree bit-exactly with DuckDB computing each
    quantile independently — same adversarial inputs as the median
    fuzz (clipping, bucket-edge values, cum==target boundaries), plus
    the single-pass max(when(crossing)) extraction being fuzzed for
    BOTH targets at once (a wrong crossing-uniqueness assumption would
    surface here as a null or a wrong bucket's interpolation)."""
    from druid_datafusion_bridge_spark.operators.sketches import (
        hist_bucket,
        quantiles_from_counters,
    )

    import pyspark.sql.functions as F

    buckets, width = 64, 16.0
    df = spark.createDataFrame(a, "k long, v double")
    counters = df.groupBy(
        "k", hist_bucket(F.col("v"), buckets, width).alias("pos")
    ).agg(F.count("*").alias("cnt"))
    got = quantiles_from_counters(
        counters, ["k"], width, {"p50_est": 0.5, "p95_est": 0.95}
    )

    con = duckdb.connect()
    pdf = pd.DataFrame(a, columns=["k", "v"])
    con.register("h_pdf", pdf)
    con.execute(
        "CREATE TABLE h AS SELECT CAST(k AS BIGINT) k, CAST(v AS DOUBLE) v FROM h_pdf"
    )
    sql = f"""
        WITH b AS (
          SELECT k,
                 GREATEST(0, LEAST(CAST(FLOOR(v / {width}) AS BIGINT),
                                   {buckets - 1})) AS pos,
                 COUNT(*) AS cnt
          FROM h GROUP BY k, pos),
        t AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY k),
        c AS (
          SELECT k, pos, CAST(cnt AS BIGINT) AS cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY k ORDER BY pos)
                      AS BIGINT) AS cum
          FROM b),
        med AS (
          SELECT c.k,
                 (pos + ((CAST(0.5 AS DOUBLE) * t.n) - (cum - cnt)) / cnt)
                   * {width} AS p50_est
          FROM c JOIN t USING (k)
          WHERE cum >= CAST(0.5 AS DOUBLE) * t.n
            AND (cum - cnt) < CAST(0.5 AS DOUBLE) * t.n),
        hi AS (
          SELECT c.k,
                 (pos + ((CAST(0.95 AS DOUBLE) * t.n) - (cum - cnt)) / cnt)
                   * {width} AS p95_est
          FROM c JOIN t USING (k)
          WHERE cum >= CAST(0.95 AS DOUBLE) * t.n
            AND (cum - cnt) < CAST(0.95 AS DOUBLE) * t.n)
        SELECT t.k, t.n, med.p50_est, hi.p95_est
        FROM t JOIN med USING (k) JOIN hi USING (k)
    """
    _compare(got, con, sql)


@given(data=st.data())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_segment_filter_pruning_never_loses_rows(data):
    """Fuzz the whole acceleration stack (segment pruning, bitmap
    equality, dictionary bounds, dictionary predicates
    (regex/contains), numeric + __time zone maps) WITHOUT
    Spark: for ANY table split into ANY number of segments and ANY
    combination of pushed windows, the rows the DataSource emits must
    be a SUPERSET of the rows matching the exact predicates (Spark
    re-applies them), drawn only from the true table. This is the
    acceleration-only contract the options document."""
    import shutil
    import tempfile
    from unittest import mock

    import numpy as np
    import pyarrow as pa

    from druid_datafusion_bridge_spark.sources import datasource
    from druid_datafusion_bridge_spark.sources.datasource import (
        DruidSegmentReader,
    )
    from druid_datafusion_bridge_spark.sources.segment import write_segment
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    n = data.draw(st.integers(1, 120))
    base = 1_700_000_000_000
    v = data.draw(
        st.lists(st.integers(-50, 50), min_size=n, max_size=n)
    )
    sites = data.draw(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e"]), min_size=n, max_size=n)
    )
    t = pa.table(
        {
            "__time": pa.array(
                [base + 1000 * i for i in range(n)], pa.timestamp("ms")
            ),
            "v": pa.array(v, pa.int64()),
            "site": pa.array(sites),
        }
    )
    root = tempfile.mkdtemp(prefix="ddbs_fuzz_seg_")
    try:
        n_segs = data.draw(st.integers(1, 3))
        cuts = sorted(
            data.draw(
                st.lists(st.integers(0, n), min_size=n_segs - 1, max_size=n_segs - 1)
            )
        ) + [n]
        lo_row = 0
        for i, hi_row in enumerate(cuts):
            if hi_row > lo_row:
                write_segment(t.slice(lo_row, hi_row - lo_row),
                              f"{root}/seg_{i:03d}")
            lo_row = hi_row

        import json as _json

        options: dict = {"path": root}
        mask = np.ones(n, bool)
        varr = np.array(v)
        if data.draw(st.booleans()):  # numeric window on v
            lo = data.draw(st.one_of(st.none(), st.integers(-60, 60)))
            hi = data.draw(st.one_of(st.none(), st.integers(-60, 60)))
            options["num_range"] = _json.dumps({"v": [lo, hi]})
            if lo is not None:
                mask &= varr >= lo
            if hi is not None:
                mask &= varr <= hi
        if data.draw(st.booleans()):  # dim equality on site
            val = data.draw(st.sampled_from(["a", "b", "c", "dd", "e", "zz"]))
            options["dim_eq"] = _json.dumps({"site": val})
            mask &= np.array([s == val for s in sites])
        if data.draw(st.booleans()):  # lexicographic bound on site
            blo = data.draw(st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d"])))
            bhi = data.draw(st.one_of(st.none(), st.sampled_from(["b", "c", "d", "z"])))
            ls = data.draw(st.booleans())
            us = data.draw(st.booleans())
            options["dim_bound"] = _json.dumps({"site": [blo, bhi, ls, us]})
            for i, s in enumerate(sites):
                if blo is not None and (s < blo or (ls and s == blo)):
                    mask[i] = False
                if bhi is not None and (s > bhi or (us and s == bhi)):
                    mask[i] = False
        if data.draw(st.booleans()):  # dictionary predicate on site
            opt, needle, match = data.draw(
                st.sampled_from(
                    [
                        ("dim_regex", "^[abd]", lambda s: s[0] in "abd"),
                        ("dim_regex", "d", lambda s: "d" in s),
                        ("dim_regex", "q", lambda s: False),
                        ("dim_contains", "d", lambda s: "d" in s),
                        ("dim_contains", "zz", lambda s: False),
                        ("dim_icontains", "D", lambda s: "d" in s),
                    ]
                )
            )
            options[opt] = _json.dumps({"site": needle})
            mask &= np.array([match(s) for s in sites])
        # row windows (mask unchanged: pure repartitioning — the union over
        # windows must equal the unwindowed read): a small MIN_WINDOW_ROWS
        # and core count let the planner cut these tiny segments
        min_window = datasource.MIN_WINDOW_ROWS
        cores = datasource.usable_cores()
        if data.draw(st.booleans()):
            min_window = data.draw(st.integers(1, n + 5))
            cores = data.draw(st.integers(1, 8))
        if data.draw(st.booleans()):  # time interval
            lo_i = data.draw(st.integers(0, n))
            hi_i = data.draw(st.integers(0, n))
            options["time_lower_ms"] = str(base + 1000 * lo_i)
            options["time_upper_ms"] = str(base + 1000 * hi_i)
            idx = np.arange(n)
            mask &= (idx >= lo_i) & (idx <= hi_i)
        # ordered-limit planning engages on scans with no VALUE filters (a
        # row-dropping dim/metric filter invalidates the header-count
        # cover) and composes with the time interval; contract: emitted
        # rows are a SUPERSET of the k earliest (latest) in-interval rows
        order_k = None
        order_desc = False
        if set(options) <= {
            "path",
            "time_lower_ms",
            "time_upper_ms",
        } and data.draw(st.booleans()):
            order_k = data.draw(st.integers(1, n + 3))
            options["order_limit"] = str(order_k)
            order_desc = data.draw(st.booleans())
            if order_desc:
                options["order_desc"] = "true"

        schema = StructType(
            [
                StructField("__time", TimestampType()),
                StructField("v", LongType()),
                StructField("site", StringType()),
            ]
        )
        reader = DruidSegmentReader(schema, options)
        with mock.patch.object(
            datasource, "MIN_WINDOW_ROWS", min_window
        ), mock.patch.object(datasource, "usable_cores", lambda: cores):
            tasks = reader.partitions()
        batches = [b for p in tasks for b in reader.read(p)]
        emitted_v = [x for b in batches for x in b.column(1).to_pylist()]
        emitted_times = {
            x for b in batches for x in b.column(0).cast(pa.int64()).to_pylist()
        }
        # microsecond timestamps out of the reader
        expected_times = {(base + 1000 * i) * 1000 for i in np.flatnonzero(mask)}
        all_times = {(base + 1000 * i) * 1000 for i in range(n)}
        if order_k is not None:
            sel_idx = np.flatnonzero(mask)  # in-interval rows, time order
            sel = sel_idx[-order_k:] if order_desc else sel_idx[:order_k]
            topk = {(base + 1000 * int(i)) * 1000 for i in sel}
            assert topk <= emitted_times, "ordered-limit lost top-k rows"
        else:
            assert (
                expected_times <= emitted_times
            ), "acceleration lost matching rows"
        assert emitted_times <= all_times, "reader invented rows"
        assert len(emitted_v) == len(emitted_times)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(data=st.data())
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cli_scan_matches_brute_force(data):
    """cli scan == decode-everything-then-sort, for random segment
    layouts (unsorted rows within segments, overlapping intervals),
    both orders, any limit. Pure decode plane — no Spark."""
    import contextlib
    import io
    import json as _json
    import shutil
    import tempfile

    import pyarrow as pa

    from druid_datafusion_bridge_spark.cli import cmd_scan
    from druid_datafusion_bridge_spark.sources.segment import write_segment

    n = data.draw(st.integers(1, 60))
    # a permutation of distinct times, sliced into segments: slices of
    # an unsorted permutation give overlapping intervals AND
    # non-time-sorted rows within each segment
    perm = data.draw(st.permutations(list(range(n))))
    base = 1_700_000_000_000
    n_segs = data.draw(st.integers(1, 4))
    cuts = sorted(
        data.draw(st.lists(st.integers(0, n), min_size=n_segs - 1, max_size=n_segs - 1))
    ) + [n]
    root = tempfile.mkdtemp(prefix="ddbs_fuzz_scan_")
    try:
        lo = 0
        for i, hi in enumerate(cuts):
            if hi > lo:
                part = perm[lo:hi]
                write_segment(
                    pa.table(
                        {
                            "__time": pa.array(
                                [base + 1000 * t for t in part],
                                pa.timestamp("ms"),
                            ),
                            "v": pa.array(part, pa.int64()),
                        }
                    ),
                    f"{root}/seg_{i:03d}",
                )
            lo = hi
        limit = data.draw(st.integers(1, n + 3))
        desc = data.draw(st.booleans())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cmd_scan(root, "v", limit, "desc" if desc else "asc", "json")
        got = [_json.loads(line)["v"] for line in buf.getvalue().strip().splitlines()]
        want = sorted(range(n), reverse=desc)[:limit]
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------
# Native filter trees: hypothesis builds random Druid filter JSON
# (and/or/not over selector/in/bound/like), the tree compiles through
# native_query's scan path, and an independent tree->SQL translation
# runs in DuckDB. Exercises the 3-valued-logic corners (NOT over NULL
# comparisons) and the try_cast numeric-bound path (unparsable strings
# must silently not match, never throw under ANSI mode).

def _leaf_selector():
    return st.builds(
        lambda v: {"type": "selector", "dimension": "s", "value": v},
        st.one_of(st.none(), st.sampled_from(["a", "b", "zz", "7", ""])),
    )


def _leaf_in():
    return st.builds(
        lambda vs: {"type": "in", "dimension": "s", "values": vs},
        st.lists(
            st.one_of(st.none(), st.sampled_from(["a", "b", "7"])),
            min_size=1, max_size=3,
        ),
    )


def _leaf_bound():
    # numeric ordering over the STRING column: non-numeric values must
    # not match (try_cast path); plus plain numeric bounds on v
    return st.one_of(
        st.builds(
            lambda lo, hi, ls, hs: {
                "type": "bound", "dimension": "s", "ordering": "numeric",
                **({"lower": str(lo)} if lo is not None else {}),
                **({"upper": str(hi)} if hi is not None else {}),
                "lowerStrict": ls, "upperStrict": hs,
            },
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 9)),
            st.booleans(), st.booleans(),
        ),
        st.builds(
            lambda lo: {"type": "bound", "dimension": "v",
                        "ordering": "numeric", "lower": str(lo)},
            st.integers(-5, 5),
        ),
    )


def _leaf_like():
    return st.builds(
        lambda p: {"type": "like", "dimension": "s", "pattern": p},
        st.sampled_from(["a%", "%z", "_", "%7%"]),
    )


filter_tree = st.recursive(
    st.one_of(_leaf_selector(), _leaf_in(), _leaf_bound(), _leaf_like()),
    lambda kids: st.one_of(
        st.builds(lambda fs: {"type": "and", "fields": fs},
                  st.lists(kids, min_size=1, max_size=3)),
        st.builds(lambda fs: {"type": "or", "fields": fs},
                  st.lists(kids, min_size=1, max_size=3)),
        st.builds(lambda f: {"type": "not", "field": f}, kids),
    ),
    max_leaves=6,
)


def _tree_sql(f) -> str:
    k = f["type"]
    if k == "and":
        return "(" + " AND ".join(_tree_sql(x) for x in f["fields"]) + ")"
    if k == "or":
        return "(" + " OR ".join(_tree_sql(x) for x in f["fields"]) + ")"
    if k == "not":
        return f"(NOT {_tree_sql(f['field'])})"
    if k == "selector":
        v = f["value"]
        if v is None:
            return f"({f['dimension']} IS NULL)"
        return f"({f['dimension']} = '{v}')"
    if k == "in":
        non_null = [v for v in f["values"] if v is not None]
        terms = []
        if non_null:
            vals = ", ".join(f"'{v}'" for v in non_null)
            terms.append(f"{f['dimension']} IN ({vals})")
        else:
            terms.append("FALSE")
        if any(v is None for v in f["values"]):
            terms.append(f"{f['dimension']} IS NULL")
        return "(" + " OR ".join(terms) + ")"
    if k == "bound":
        side = f"TRY_CAST({f['dimension']} AS DOUBLE)"
        preds = []
        if "lower" in f:
            op = ">" if f.get("lowerStrict") else ">="
            preds.append(f"{side} {op} {float(f['lower'])}")
        if "upper" in f:
            op = "<" if f.get("upperStrict") else "<="
            preds.append(f"{side} {op} {float(f['upper'])}")
        if not preds:
            return f"({side} IS NOT NULL)"
        return "(" + " AND ".join(preds) + ")"
    if k == "like":
        return f"({f['dimension']} LIKE '{f['pattern']}')"
    raise AssertionError(k)


@given(rows_st, filter_tree)
@SET
def test_native_filter_tree_differential(spark, a, tree):
    from druid_datafusion_bridge_spark.native_query import native_query

    df = spark.createDataFrame(a, SCHEMA)
    got = native_query(
        df,
        {"queryType": "scan", "filter": tree, "columns": ["k", "v", "s"]},
        time_col="v",
    )
    con = _duck({"t": a})
    _compare(got, con, f"SELECT k, v, s FROM t WHERE {_tree_sql(tree)}")


@pytest.mark.slow
@given(a=st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.one_of(st.none(), st.integers(min_value=-10, max_value=10)),
        st.integers(min_value=-1000, max_value=1000),
    ),
    max_size=25,
))
@SET
def test_window_frames_null_order_keys_differential(spark, a):
    """Frame fuzz over a NULLABLE ORDER BY key (the corner the base
    frame fuzz can't hit — its order column is non-null): null order
    keys form one peer group, and ROWS/RANGE frames must agree on how
    that group participates. Null placement is written EXPLICITLY
    (NULLS FIRST) everywhere: Spark's ASC default is NULLS FIRST,
    DuckDB's is NULLS LAST — relying on a default would fuzz the
    dialect delta, not the frame semantics."""
    rows = [(i, *r) for i, r in enumerate(a)]
    schema = "rid long, k int, ov int, v long"
    ta = (
        spark.createDataFrame(rows, schema)
        if rows else spark.createDataFrame([], schema)
    )
    ta.createOrReplaceTempView("wn")
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["rid", "k", "ov", "v"])
    if rows:
        pdf = pdf.astype({"rid": "int64", "k": "Int64", "ov": "Int64",
                          "v": "int64"})
    con.register("wn_pdf", pdf)
    con.execute(
        "CREATE TABLE wn AS SELECT CAST(rid AS BIGINT) rid, "
        "CAST(k AS INT) k, CAST(ov AS INT) ov, CAST(v AS BIGINT) v "
        "FROM wn_pdf"
    )
    sql = """
        SELECT rid,
               SUM(v) OVER (PARTITION BY k
                            ORDER BY ov ASC NULLS FIRST, rid
                            ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
                 AS roll4,
               COUNT(*) OVER (PARTITION BY k
                              ORDER BY ov ASC NULLS FIRST
                              RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
                 AS band,
               SUM(v) OVER (PARTITION BY k
                            ORDER BY ov ASC NULLS FIRST
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum,
               FIRST_VALUE(ov) OVER (PARTITION BY k
                                     ORDER BY ov ASC NULLS FIRST, rid
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS fv,
               LAG(ov) OVER (PARTITION BY k
                             ORDER BY ov ASC NULLS FIRST, rid) AS lag_ov,
               RANK() OVER (PARTITION BY k
                            ORDER BY ov ASC NULLS FIRST) AS rk
        FROM wn
    """
    _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(a=st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
        st.one_of(st.none(), st.sampled_from(["a", ""])),
    ),
    max_size=20,
))
@SET
def test_grouping_sets_all_null_groups_differential(spark, a):
    """Grouping-set fuzz where the AGGREGATED column is NULLABLE and
    whole groups can be all-NULL (appended deterministically so every
    example contains one): SUM/MIN over an all-NULL group is NULL, not
    0, COUNT(v) is 0, and the subtotal rows' NULL keys must stay
    disambiguated from the genuine all-NULL group via GROUPING()."""
    # guarantee an all-NULL-v group and a NULL-key group in every run
    a = list(a) + [(None, None, "a"), (None, None, "a"), (2, None, None)]
    schema = "k int, v int, s string"
    ta = spark.createDataFrame(a, schema)
    ta.createOrReplaceTempView("gn")
    con = duckdb.connect()
    pdf = pd.DataFrame(a, columns=["k", "v", "s"]).astype(
        {"k": "Int64", "v": "Int64", "s": "object"}
    )
    con.register("gn_pdf", pdf)
    con.execute(
        "CREATE TABLE gn AS SELECT CAST(k AS INT) k, CAST(v AS INT) v, "
        "CAST(s AS VARCHAR) s FROM gn_pdf"
    )
    for clause in ["GROUPING SETS ((k, s), (k), (s), ())",
                   "ROLLUP(k, s)", "CUBE(k, s)"]:
        sql = f"""
            SELECT k, s, GROUPING(k) AS gk, GROUPING(s) AS gs,
                   COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
                   MIN(v) AS minv, AVG(v) AS av
            FROM gn GROUP BY {clause}
        """
        _compare(spark.sql(sql), con, sql)


@pytest.mark.slow
@given(frags=st.lists(st.sampled_from([
    "DS_HLL(x)",
    "ds_hll(tab.col)",
    "APPROX_QUANTILE_DS(v, 0.5, 128)",
    "APPROX_COUNT_DISTINCT_DS_HLL(x, 12, 'HLL_8')",
    "HLL_SKETCH_ESTIMATE(DS_HLL(CASE WHEN a IN (1,2) THEN b END))",
    "HLL_SKETCH_UNION(12, DS_HLL(a), DS_HLL(b), DS_HLL(c))",
    "DS_THETA(x)",
    "DS_THETA(tab.col, 4096)",
    "THETA_SKETCH_ESTIMATE(DS_THETA(a))",
    "THETA_SKETCH_UNION(DS_THETA(a), DS_THETA(b))",
    "THETA_SKETCH_INTERSECT(1024, DS_THETA(a), DS_THETA(b), DS_THETA(c))",
    "THETA_SKETCH_NOT(sk_a, sk_b)",
    "APPROX_COUNT_DISTINCT_DS_THETA(x, 256)",
    "'THETA_SKETCH_NOT(a, b)'",
    "BLOOM_FILTER(x, 100)",
    "IPV6_MATCH(addr, 'fe80::/10')",
    "'IPV6_MATCH(a, b)'",
    "BLOOM_FILTER_TEST(k, bf)",
    "BLOOM_FILTER_TEST(k, (SELECT BLOOM_FILTER(u, 50) FROM t))",
    "'BLOOM_FILTER(a, 1)'",
    "REGEXP_EXTRACT(s, '[0-9]+')",
    "regexp_extract(s, '([a-z])([0-9])', 2)",
    "STRING_AGG(DISTINCT x, ',')",
    "string_agg(x, ';')",
    "JSON_VALUE(j, '$.k')",
    "JSON_VALUE(j, '$.k' RETURNING BIGINT)",
    "JSON_OBJECT(KEY 'a' VALUE x, KEY 'b' VALUE DS_HLL(y))",
    "json_object('k', v)",
    "LATEST(v)",
    "LATEST_BY(v, ts)",
    "EARLIEST(v, 1024)",
    "ARRAY_CONCAT_AGG(ARRAY_SLICE(a, 0, 2))",
    "ARRAY_TO_STRING(STRING_TO_ARRAY(s, '-'), '|')",
    "ARRAY_OFFSET(a, 0)",
    "STRING_FORMAT('%s', s)",
    "'ARRAY_LENGTH(a)'",
    "'DS_HLL(a)'",
    "'don''t'",
    r"'a\'b DS_HLL(q)'",
    '"DS_HLL"',
    "/* don't DS_HLL(x) */",
    "-- DS_HLL(y) don't\n",
    "SELECT",
    ",",
    "FROM t WHERE",
    "count(*)",
]), min_size=1, max_size=12))
@SET
def test_datasketches_rewrite_fuzz(frags):
    """The DS-name SQL rewrite under adversarial composition: nested
    calls, apostrophes inside comments, ''- and backslash-escaped
    literals, quoted identifiers. Properties: (1) idempotent — the
    rendered Spark names never re-match; (2) every literal/comment
    fragment survives verbatim; (3) no DS name remains in a CODE
    region of the output."""
    import re

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        _DS_CALL_RE,
        _sql_code_mask,
        rewrite_datasketches_sql,
    )

    sql = " ".join(frags)
    out = rewrite_datasketches_sql(sql)
    assert rewrite_datasketches_sql(out) == out  # idempotent
    for lit in ("'DS_HLL(a)'", "'don''t'", r"'a\'b DS_HLL(q)'",
                '"DS_HLL"', "/* don't DS_HLL(x) */"):
        assert sql.count(lit) == out.count(lit)  # untouched spans
    mask = _sql_code_mask(out)
    for m in _DS_CALL_RE.finditer(out):
        # the exact-lowercase Spark builtin spellings deliberately
        # stay (they already mean the Spark function; skipping them
        # keeps the rewrite idempotent)
        if m.group(1) in ("hll_sketch_estimate", "regexp_extract",
                          "string_agg"):
            continue
        if m.group(1) == "JSON_VALUE":
            # JSON_VALUE is a registered scalar UDF, not a pure
            # rewrite name: the rewrite only peels RETURNING into a
            # CAST and re-emits the plain 2-arg call verbatim
            continue
        assert not mask[m.start()], (out, m.group())


# ---------------------------------------------------------------------
# Native groupBy having/limitSpec/subtotalsSpec composition: hypothesis
# builds random having trees (agg + dim predicates under and/or/not),
# random DefaultLimitSpec orderings (lexicographic/numeric, asc/desc,
# limit+offset), and random subtotalsSpec grouping sets; the spec runs
# through native_query and an independent spec->SQL rendering runs in
# DuckDB — the same harness shape whose filter-tree sibling caught the
# DS-rewrite non-idempotence in r8. Every generated ordering ends in a
# full-column tie-break so the limit cut is deterministic on both
# engines (only then is the selected row SET comparable).

_having_leaf = st.one_of(
    st.builds(
        lambda v: {"type": "greaterThan", "aggregation": "sv", "value": v},
        st.integers(-300, 300),
    ),
    st.builds(
        lambda v: {"type": "lessThan", "aggregation": "cnt", "value": v},
        st.integers(0, 6),
    ),
    st.builds(
        lambda v: {"type": "equalTo", "aggregation": "cnt", "value": v},
        st.integers(0, 4),
    ),
    st.builds(
        lambda v: {"type": "dimSelector", "dimension": "s", "value": v},
        st.sampled_from(["a", "b", ""]),
    ),
)
having_tree = st.recursive(
    _having_leaf,
    lambda kids: st.one_of(
        st.builds(lambda fs: {"type": "and", "havingSpecs": fs},
                  st.lists(kids, min_size=1, max_size=3)),
        st.builds(lambda fs: {"type": "or", "havingSpecs": fs},
                  st.lists(kids, min_size=1, max_size=3)),
        st.builds(lambda f: {"type": "not", "havingSpec": f}, kids),
    ),
    max_leaves=5,
)

_limit_col = st.one_of(
    st.builds(
        lambda d, o: {"dimension": "s", "direction": d, "dimensionOrder": o},
        st.sampled_from(["ascending", "descending"]),
        st.sampled_from(["lexicographic", "numeric"]),
    ),
    st.builds(
        lambda a, d: {"dimension": a, "direction": d,
                      "dimensionOrder": "numeric"},
        st.sampled_from(["cnt", "sv"]),
        st.sampled_from(["ascending", "descending"]),
    ),
)
# trailing tie-break over every output column makes the cut total-
# ordered; the bare-string "s" entry exercises the str-form column
_TIEBREAK = [
    {"dimension": "k", "dimensionOrder": "numeric"},
    "s",
    {"dimension": "cnt", "dimensionOrder": "numeric"},
    {"dimension": "sv", "dimensionOrder": "numeric"},
]
limit_st = st.builds(
    lambda cols, lim, off: {
        "type": "default",
        "columns": cols + _TIEBREAK,
        **({"limit": lim} if lim is not None else {}),
        **({"offset": off} if off else {}),
    },
    st.lists(_limit_col, max_size=2),
    st.one_of(st.none(), st.integers(0, 8)),
    st.integers(0, 3),
)
subtotals_st = st.one_of(
    st.none(),
    st.lists(st.sampled_from([["k", "s"], ["k"], ["s"], []]),
             min_size=1, max_size=3),
)


def _having_sql(h) -> str:
    t = h["type"]
    if t == "greaterThan":
        return f"(CAST({h['aggregation']} AS DOUBLE) > {float(h['value'])})"
    if t == "lessThan":
        return f"(CAST({h['aggregation']} AS DOUBLE) < {float(h['value'])})"
    if t == "equalTo":
        return f"(CAST({h['aggregation']} AS DOUBLE) = {float(h['value'])})"
    if t == "dimSelector":
        return f"({h['dimension']} = '{h['value']}')"
    if t == "and":
        return "(" + " AND ".join(_having_sql(x) for x in h["havingSpecs"]) + ")"
    if t == "or":
        return "(" + " OR ".join(_having_sql(x) for x in h["havingSpecs"]) + ")"
    if t == "not":
        return f"(NOT {_having_sql(h['havingSpec'])})"
    raise AssertionError(t)


def _limit_order_sql(cols) -> str:
    parts = []
    for c in cols:
        if isinstance(c, str):
            c = {"dimension": c}
        d = c["dimension"]
        ordering = c.get("dimensionOrder", "lexicographic")
        expr = f"TRY_CAST({d} AS DOUBLE)" if ordering == "numeric" else d
        if c.get("direction", "ascending") == "descending":
            parts.append(f"{expr} DESC NULLS LAST")
        else:
            parts.append(f"{expr} ASC NULLS FIRST")
    return ", ".join(parts)


@pytest.mark.slow
@given(a=rows_st, having=st.one_of(st.none(), having_tree),
       limit_spec=limit_st, subtotals=subtotals_st)
@SET
def test_native_groupby_having_limit_subtotals_differential(
    spark, a, having, limit_spec, subtotals
):
    from druid_datafusion_bridge_spark.native_query import native_query

    df = (
        spark.createDataFrame(a, SCHEMA)
        if a else spark.createDataFrame([], SCHEMA)
    )
    spec = {
        "queryType": "groupBy",
        "granularity": "all",
        "dimensions": ["k", "s"],
        "aggregations": [
            {"type": "count", "name": "cnt"},
            {"type": "longSum", "name": "sv", "fieldName": "v"},
        ],
        "limitSpec": limit_spec,
    }
    if having is not None:
        spec["having"] = having
    if subtotals is not None:
        spec["subtotalsSpec"] = subtotals
    got = native_query(df, spec, time_col="v")

    # The mirror renders subtotals as per-set UNION ALL rather than
    # SQL GROUPING SETS, for two reasons: DuckDB refuses to select a
    # column absent from every set (Spark surfaces it as NULL), and
    # the empty set () over EMPTY input yields one global row in
    # standard SQL but ZERO rows in Spark — which is also Druid's
    # subtotals behavior (a groupBy over no rows returns no rows), so
    # the engine is right and the mirror encodes it (HAVING COUNT(*)
    # > 0 suppresses the empty-input global row).
    if subtotals is not None:
        selects = []
        for names in subtotals:
            k_e = "k" if "k" in names else "CAST(NULL AS INT)"
            s_e = "s" if "s" in names else "CAST(NULL AS VARCHAR)"
            grp = f"GROUP BY {', '.join(names)}" if names else (
                "HAVING COUNT(*) > 0"
            )
            selects.append(
                f"SELECT {k_e} AS k, {s_e} AS s, COUNT(*) AS cnt, "
                f"SUM(v) AS sv FROM t {grp}"
            )
        g = " UNION ALL ".join(selects)
    else:
        g = "SELECT k, s, COUNT(*) AS cnt, SUM(v) AS sv FROM t GROUP BY k, s"
    where = f"WHERE {_having_sql(having)}" if having is not None else ""
    order = _limit_order_sql(limit_spec["columns"])
    cut = ""
    if limit_spec.get("limit") is not None:
        cut += f" LIMIT {limit_spec['limit']}"
    if limit_spec.get("offset"):
        cut += f" OFFSET {limit_spec['offset']}"
    con = _duck({"t": a})
    _compare(
        got, con,
        f"""
        WITH g AS ({g})
        SELECT k, s, cnt, sv FROM g {where} ORDER BY {order}{cut}
        """,
    )


@given(
    ts=st.lists(
        st.datetimes(
            min_value=pd.Timestamp("1970-01-05").to_pydatetime(),
            max_value=pd.Timestamp("2030-12-28").to_pydatetime(),
        ),
        min_size=1,
        max_size=12,
    ),
    origin=st.datetimes(
        min_value=pd.Timestamp("1995-01-01").to_pydatetime(),
        max_value=pd.Timestamp("2005-12-28").to_pydatetime(),
    ),
    months=st.sampled_from([1, 2, 3, 6, 12]),
)
@SET
def test_time_floor_calendar_origin_differential(spark, ts, origin, months):
    """Calendar-period-with-origin TIME_FLOOR (r10): random timestamps,
    origins (day capped at 28 so calendar addition never overflows a
    month), and month grains vs an independent pure-Python calendar
    reference. Checks the SQL-text rendering (rewrite path) AND the
    Column helper agree with it, plus the grid laws: floor is
    idempotent and bucket <= ts < bucket + period."""
    import datetime as dt

    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        register_druid_sql_functions,
        rewrite_datasketches_sql,
        time_floor,
    )

    origin = origin.replace(day=min(origin.day, 28), microsecond=0)
    ts = [t.replace(microsecond=0) for t in ts]

    def add_months(d: dt.datetime, n: int) -> dt.datetime:
        y, m = divmod((d.year * 12 + d.month - 1) + n, 12)
        return d.replace(year=y, month=m + 1)

    def ref_floor(c: dt.datetime) -> dt.datetime:
        am = (c.year * 12 + c.month) - (origin.year * 12 + origin.month)
        if (c.day, c.time()) < (origin.day, origin.time()):
            am -= 1
        import math
        return add_months(origin, math.floor(am / months) * months)

    register_druid_sql_functions(spark)
    df = spark.createDataFrame(
        [(t.isoformat(sep=" "),) for t in ts], "s string"
    ).select(F.col("s").cast("timestamp").alias("c"))
    got_helper = [
        r["f"]
        for r in df.select(
            time_floor("c", f"P{months}M", origin.isoformat(sep=" "))
            .alias("f")
        ).collect()
    ]
    sql = rewrite_datasketches_sql(
        f"SELECT TIME_FLOOR(c, 'P{months}M', "
        f"TIMESTAMP '{origin.isoformat(sep=' ')}') AS f FROM __tfco"
    )
    df.createOrReplaceTempView("__tfco")
    got_sql = [r["f"] for r in spark.sql(sql).collect()]
    for c, gh, gs in zip(ts, got_helper, got_sql):
        expect = ref_floor(c)
        assert gh == expect, (c, gh, expect, origin, months)
        assert gs == expect, (c, gs, expect, origin, months)
        # grid laws
        assert expect <= c < add_months(expect, months)
        assert ref_floor(expect) == expect


@given(
    a=st.lists(st.integers(0, 400), min_size=0, max_size=120),
    b=st.lists(st.integers(0, 400), min_size=0, max_size=120),
    k=st.sampled_from([4, 16, 64, 4096]),
)
# pinned: b's theta is its 16th smallest hash, which a float theta
# rounds up past itself, so the union must not keep that hash
@example(a=[375], b=[*range(15), 375], k=16)
@SET
def test_theta_sql_algebra_differential(spark, a, b, k):
    """The theta SQL machinery (DS_THETA build, UNION/INTERSECT/NOT,
    ESTIMATE) vs a pure-Python kmv reference on random multisets at
    random k — exact below saturation, the KMV estimator above it,
    and set ops anchored at min-theta with exact membership below it."""
    import hashlib

    from druid_datafusion_bridge_spark.functions.druid_sql import (
        rewrite_datasketches_sql,
    )

    HS = float(1 << 60)

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    def build(vals):
        # theta stays an int: KMV keeps hashes strictly below it, and a
        # 60-bit hash does not survive a round trip through float
        hs = sorted({h60(v) for v in vals})
        if len(hs) >= k:
            return hs[k - 1], hs[: k - 1]
        return 1 << 60, hs

    def estimate(sk):
        theta, hashes = sk
        return len(hashes) * HS / theta

    def pair(op, x, y):
        theta = min(x[0], y[0])
        sx, sy = set(x[1]), set(y[1])
        merged = {"union": sx | sy, "intersect": sx & sy,
                  "not": sx - sy}[op]
        return theta, sorted(m for m in merged if m < theta)

    rows = [(v, 0) for v in a] + [(v, 1) for v in b]
    if not rows:
        return
    spark.createDataFrame(rows, "v int, side int").createOrReplaceTempView(
        "__theta_fuzz"
    )
    sql = rewrite_datasketches_sql(f"""
        WITH sks AS (
          SELECT (SELECT DS_THETA(v, {k}) FROM __theta_fuzz
                  WHERE side = 0) AS a,
                 (SELECT DS_THETA(v, {k}) FROM __theta_fuzz
                  WHERE side = 1) AS b
        )
        SELECT THETA_SKETCH_ESTIMATE(a) AS ea,
               THETA_SKETCH_ESTIMATE(b) AS eb,
               THETA_SKETCH_ESTIMATE(THETA_SKETCH_UNION(a, b)) AS eu,
               THETA_SKETCH_ESTIMATE(THETA_SKETCH_INTERSECT(a, b)) AS ei,
               THETA_SKETCH_ESTIMATE(THETA_SKETCH_NOT(a, b)) AS en
        FROM sks
    """)
    row = spark.sql(sql).first()
    ska, skb = build(a), build(b)
    # empty side -> DS_THETA aggregates over zero rows: collect_set is
    # empty, theta = HS, estimate 0 — matches the reference
    assert row["ea"] == estimate(ska), (a, k)
    assert row["eb"] == estimate(skb), (b, k)
    for col, op in (("eu", "union"), ("ei", "intersect"), ("en", "not")):
        assert row[col] == estimate(pair(op, ska, skb)), (op, a, b, k)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 72 * 3600 - 1),   # second offset in 3 days
            st.integers(-50, 50),            # value
        ),
        min_size=1, max_size=40,
    ),
    gran=st.sampled_from(["hour", "day", "PT6H", "PT90M"]),
    start_h=st.integers(0, 24),
    span_h=st.integers(1, 48),
    skip_empty=st.booleans(),
)
# pinned hard cases: query start MISALIGNED with the bucket grid (the
# grid must start at bucketStart(start), Druid's floor, and the
# partial first bucket must carry only in-interval rows)
@example(rows=[(4 * 3600, 7), (2 * 3600, 5)], gran="day",
         start_h=3, span_h=30, skip_empty=False)
@example(rows=[(5 * 3600 + 1800, 3)], gran="PT90M",
         start_h=5, span_h=2, skip_empty=False)
@example(rows=[(0, 1)], gran="PT6H", start_h=1, span_h=4,
         skip_empty=True)
@SET
def test_timeseries_zerofill_differential(
    spark, rows, gran, start_h, span_h, skip_empty
):
    """Native timeseries vs an independent DuckDB rendering under
    random granularities (calendar + duration), random query windows,
    and both zero-fill modes — pins the literal bucket-grid build
    (bounded explode, identity fills) against a generate_series grid
    that shares none of its code."""
    import datetime as dt

    from pyspark.sql import functions as F

    from druid_datafusion_bridge_spark.native_query import native_query

    base = dt.datetime(2024, 3, 1)
    data = [
        ((base + dt.timedelta(seconds=s)).isoformat(sep=" "), float(v))
        for s, v in rows
    ]
    df = spark.createDataFrame(data, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("__time"), "value"
    )
    start = base + dt.timedelta(hours=start_h)
    end = start + dt.timedelta(hours=span_h)
    iv = f"{start.isoformat()}Z/{end.isoformat()}Z"
    spec = {
        "queryType": "timeseries",
        "granularity": gran if gran in ("hour", "day")
        else {"type": "period", "period": gran},
        "intervals": [iv],
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
        ],
        "context": {"skipEmptyBuckets": skip_empty},
    }
    got = native_query(df, spec)

    ms = {"hour": 3_600_000, "day": 86_400_000,
          "PT6H": 21_600_000, "PT90M": 5_400_000}[gran]
    con = duckdb.connect()
    con.register(
        "ev_pdf",
        pd.DataFrame(data, columns=["ts", "value"]),
    )
    con.execute(
        'CREATE TABLE ev AS SELECT CAST(ts AS TIMESTAMP) ts, '
        'CAST("value" AS DOUBLE) AS "value" FROM ev_pdf'
    )
    agg = f"""
      SELECT make_timestamp(CAST(floor(epoch_ms(ts) / {ms}) AS BIGINT)
               * {ms} * 1000) AS "timestamp",
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS total
      FROM ev
      WHERE ts >= TIMESTAMP '{start}' AND ts < TIMESTAMP '{end}'
      GROUP BY 1
    """
    if skip_empty:
        sql = agg
    else:
        first = (start.timestamp() // (ms / 1000)) * (ms / 1000)
        sql = f"""
        WITH agg AS ({agg}),
        grid AS (
          SELECT g AS "timestamp"
          FROM generate_series(make_timestamp(CAST({int(first)} AS
                 BIGINT) * 1000000),
               TIMESTAMP '{end}' - INTERVAL 1 MICROSECOND,
               INTERVAL {ms // 1000} SECOND) AS t(g)
          WHERE g >= make_timestamp(CAST({int(first)} AS BIGINT)
                * 1000000))
        SELECT g."timestamp",
               COALESCE(a.n, 0) AS n,
               COALESCE(a.total, 0.0) AS total
        FROM grid g LEFT JOIN agg a USING ("timestamp")
        """
    _compare(got, con, sql)


@given(
    seed=st.integers(0, 10_000),
    h=st.integers(8, 40),
    w=st.integers(8, 56),
    ri=st.sampled_from([0, 1, 3, 7]),
    mode=st.sampled_from(["gray", "444", "420"]),
)
@SET
def test_jpeg_codec_roundtrip_property(seed, h, w, ri, mode):
    """JPEG encode->decode property across random dims, restart
    intervals, and sampling modes: dims always survive exactly;
    grayscale and 4:4:4 round-trip within DCT+color rounding (<= 1 and
    <= 4 per channel at all-ones quant); the 4:2:0 case runs on
    gray-valued RGB (constant chroma = the subsampling's lossless
    case), where every channel must round-trip within <= 2 — per-pixel
    random chroma has no per-pixel bound under subsampling (lossy by
    design; the fixed tests cover that regime)."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    if mode == "gray":
        pix = rng.integers(0, 256, (h, w), dtype=np.uint8)
        data = encode_jpeg(pix, restart_interval=ri)
        ww, hh, out = decode_jpeg(data)
        assert (ww, hh) == (w, h) and out.shape == (h, w)
        assert np.abs(out.astype(int) - pix.astype(int)).max() <= 1
        return
    pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    if mode == "444":
        ww, hh, out = decode_jpeg(encode_jpeg(pix, restart_interval=ri))
        assert (ww, hh) == (w, h) and out.shape == (h, w, 3)
        assert np.abs(out.astype(int) - pix.astype(int)).max() <= 4
        return
    gray3 = np.repeat(
        rng.integers(0, 256, (h, w, 1), dtype=np.uint8), 3, axis=2
    )
    ww, hh, out = decode_jpeg(
        encode_jpeg(gray3, subsampling="420", restart_interval=ri)
    )
    assert (ww, hh) == (w, h) and out.shape == (h, w, 3)
    assert np.abs(out.astype(int) - gray3.astype(int)).max() <= 2

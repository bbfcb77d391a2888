"""Text-analysis operators for training-data pipelines (build mandate,
beyond the reference's surface): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All hot-path logic is JVM-side built-ins (regexp_*, md5, length) — no
Python UDFs — so the operators stay inside whole-stage codegen and scale
linearly with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from . import query

# Deterministic 60-bit hash from md5 — reproducible in any engine
# (DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)).
def md5_hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_hash60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


@query(
    "txt_token_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
           length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_word_chars,
           length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
             AS n_punct
    FROM documents
    """,
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counting — whitespace+word-char tokenizer (BPE-ish regex
    pretokenization shape).

    ONE regex pass (guide §1.2 per-task work): java regex replacement
    churns a match buffer per hit and the stage is allocation-bandwidth-
    bound, not core-bound. The token array is extracted once in its own
    projection and reused — n_word_chars = sum of token lengths ==
    length(text with [^A-Za-z0-9] removed), exactly — and the
    space/punct counts use translate(), a regex-free single-char map."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        # extracted ONCE, referenced twice below (its own projection, so
        # Catalyst cannot inline the regex into both uses)
        F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]+"), 0).alias("_toks"),
        (
            F.length("text") - F.length(F.translate("text", " ", ""))
        ).cast("long").alias("n_spaces"),
        (
            F.length("text") - F.length(F.translate("text", ".,!?;:", ""))
        ).cast("long").alias("n_punct"),
    )
    return toks.select(
        "doc_id",
        "n_chars_calc",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.aggregate(
            "_toks", F.lit(0), lambda acc, x: acc + F.length(x)
        ).cast("long").alias("n_word_chars"),
        "n_spaces",
        "n_punct",
    )


@query(
    "txt_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             length(text) AS nc,
             len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS nt
      FROM documents)
    SELECT doc_id,
           nc, nt,
           CASE WHEN nt = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(nc AS DOUBLE) / nt END AS chars_per_token,
           CASE WHEN nc BETWEEN 100 AND 400 THEN CAST(1 AS DOUBLE)
                WHEN nc BETWEEN 50 AND 600 THEN CAST(0.5 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS length_score,
           CASE WHEN nt >= 20 THEN CAST(1 AS DOUBLE)
                ELSE CAST(nt AS DOUBLE) / 20 END AS token_score
    FROM s
    """,
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring (length & token-density bands)."""
    docs = table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("nc"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]+"), 0))
        .cast("long")
        .alias("nt"),
    )
    return s.select(
        "doc_id",
        "nc",
        "nt",
        F.when(F.col("nt") == 0, F.lit(0.0))
        .otherwise(F.col("nc") * 1.0 / F.col("nt"))
        .alias("chars_per_token"),
        F.when(F.col("nc").between(100, 400), 1.0)
        .when(F.col("nc").between(50, 600), 0.5)
        .otherwise(0.0)
        .alias("length_score"),
        F.when(F.col("nt") >= 20, F.lit(1.0)).otherwise(F.col("nt") / 20.0).alias(
            "token_score"
        ),
    )


@query(
    "txt_lang_id",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(' ' || text || ' ', ' (the|and|of|scan) '))
               AS hits_en,
             len(regexp_extract_all(' ' || text || ' ', ' (el|la|de|los) '))
               AS hits_es,
             len(regexp_extract_all(' ' || text || ' ', ' (der|die|das|und) '))
               AS hits_de,
             len(regexp_extract_all(' ' || text || ' ', ' (le|les|et|du) '))
               AS hits_fr
      FROM documents)
    SELECT doc_id, lang AS label_lang,
           CASE WHEN hits_en >= hits_es AND hits_en >= hits_de
                     AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
                WHEN hits_es >= hits_de AND hits_es >= hits_fr
                     AND hits_es > 0 THEN 'es'
                WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
                WHEN hits_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
    FROM f
    """,
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic (deterministic n-gram scoring;
    a real pipeline would swap in a trained n-gram model via pandas_udf —
    the plumbing and tie-break CASE cascade are identical)."""
    docs = table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

    def hits(words: str) -> Column:
        return F.size(F.regexp_extract_all(padded, F.lit(f" ({words}) "), 0))

    f = docs.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        hits("the|and|of|scan").alias("hits_en"),
        hits("el|la|de|los").alias("hits_es"),
        hits("der|die|das|und").alias("hits_de"),
        hits("le|les|et|du").alias("hits_fr"),
    )
    en, es, de, fr = (F.col(c) for c in ("hits_en", "hits_es", "hits_de", "hits_fr"))
    return f.select(
        "doc_id",
        "label_lang",
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), "en")
        .when((es >= de) & (es >= fr) & (es > 0), "es")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
        .alias("pred_lang"),
    )


_NORM_EXPR = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"


@query(
    "txt_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_EXPR}) AS fp_md5,
           {sql_md5_hash60(_NORM_EXPR)} AS fp_60bit
    FROM documents
    """,
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint: md5 hex + a 60-bit integer variant
    (bucket/shard key for distributed dedup joins)."""
    docs = table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        md5_hash60(norm).alias("fp_60bit"),
    )


@query(
    "txt_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs AS DOUBLE) / (dfreq.df + 1)) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, tf, df, score, rn FROM ranked WHERE rn <= 3
    """,
)
def txt_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf weighting.

    The idf factor is the rational surrogate N/(df+1), not ln(N/df):
    division on exactly-aggregated integers is correctly-rounded IEEE in
    every engine (bit-identical to the DuckDB oracle), whereas ln() is
    only ~1-ulp-reproducible across libm builds — an exactness contract,
    same spirit as the engine's integer-cents money arithmetic. Ranking
    quality is the tf-idf family's; only the score scale differs.
    Implementation + scale shape: operators/text_pipeline.py
    tfidf_top_terms (stressed at 1M docs in bench_scale.py)."""
    from ..operators.text_pipeline import tfidf_top_terms

    return tfidf_top_terms(table(spark, sf_dir, "documents"), k=3)


@query(
    "txt_keyword_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    hits AS (
      SELECT tf.doc_id,
             count(*) AS n_terms,
             sum(CAST(tf.tf AS DOUBLE)
                 * (CAST(n.n_docs AS DOUBLE) / (dfreq.df + 1))) AS rank_score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE tf.term IN ('vector', 'stream')
      GROUP BY tf.doc_id
      HAVING count(*) = 2)
    SELECT doc_id, n_terms, rank_score
    FROM hits ORDER BY rank_score DESC, doc_id LIMIT 20
    """,
)
def txt_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search over the inverted index: documents
    containing ALL query terms ('vector' AND 'stream'), ranked by summed
    tf-idf (same rational-idf contract as txt_tfidf_top_terms; the sum
    spans exactly two doubles, so it is order-independent — IEEE
    addition is commutative — and cross-engine exact).
    Implementation + scale shape: operators/text_pipeline.py
    keyword_search."""
    from ..operators.text_pipeline import keyword_search

    return keyword_search(
        table(spark, sf_dir, "documents"), terms=("vector", "stream"), limit=20
    )

@query(
    "txt_bm25_rank",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents),
    t AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    dfreq AS (
      SELECT term, count(*) AS df FROM t GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    ad AS (
      SELECT CAST(SUM(dl.dl) AS DOUBLE) / (SELECT n_docs FROM n) AS avgdl
      FROM dl),
    hits AS (
      SELECT t.doc_id,
             count(*) AS n_terms,
             SUM(
               ln(1.0 + (CAST(n.n_docs AS DOUBLE) - dfreq.df + 0.5)
                        / (dfreq.df + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl))
             ) AS s
      FROM t JOIN dfreq USING (term) JOIN dl USING (doc_id)
             CROSS JOIN n CROSS JOIN ad
      WHERE t.term IN ('vector', 'stream')
      GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, round(s, 9) AS bm25
    FROM hits ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def txt_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval ranking for the 2-term query ('vector' OR
    'stream'): saturating tf and length normalization against the
    corpus-average document length — the scorer real search/RAG
    stacks use where txt_keyword_search's tf-idf is the baseline.
    Implementation + scale shape: operators/text_pipeline.py
    bm25_search (posting-list prune below the first shuffle, scalar
    N/avgdl broadcasts, TakeOrdered top-20). The oracle mirrors the
    exact arithmetic (k1=1.2, b=0.75; 1-b written as 0.25 both
    sides; per-doc sums span <= 2 addends so IEEE addition is
    order-exact), rounded to 9 decimals before ranking."""
    from ..operators.text_pipeline import bm25_search

    return bm25_search(
        table(spark, sf_dir, "documents"), terms=("vector", "stream"),
        limit=20,
    )

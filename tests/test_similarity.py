"""ANN quality tests: both approximate paths (multi-table LSH, IVF)
must achieve real recall against the exact brute-force baseline — a
structurally-correct ANN with near-zero recall is a bug, not an
approximation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from druid_datafusion_bridge_spark.catalog import table
from druid_datafusion_bridge_spark.operators.similarity import (
    as_double_vec,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        as_double_vec(F.col("embedding")).alias("probe_vec"),
    )


@pytest.fixture(scope="module")
def truth(emb, probes):
    return {
        (r["probe_id"], r["vec_id"])
        for r in brute_force_topk(emb, probes, k=10).collect()
    }


def _structure_ok(rows):
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for group in by_probe.values():
        group.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in group] == list(range(1, len(group) + 1))
        sims = [r["sim"] for r in group]
        assert sims == sorted(sims, reverse=True)
        assert len(group) <= 10


def test_lsh_recall_and_structure(emb, probes, truth):
    rows = lsh_topk(emb, probes, dim=64, k=10, bits=4, tables=8).collect()
    _structure_ok(rows)
    got = {(r["probe_id"], r["vec_id"]) for r in rows}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, f"multi-table LSH recall collapsed: {recall}"


def test_ivf_recall_and_structure(emb, probes, truth):
    """nprobe=8 of 16 cells: on this structureless random corpus IVF
    recall tracks coverage (see sim_ivf_topk docstring) — half the
    cells must recover well over half the true neighbors."""
    rows = ivf_topk(emb, probes, k=10, n_centroids=16, nprobe=8).collect()
    _structure_ok(rows)
    got = {(r["probe_id"], r["vec_id"]) for r in rows}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF recall collapsed: {recall}"


def test_ivf_more_probes_more_recall(emb, probes, truth):
    """nprobe is the recall/cost dial; full probe == exact search."""
    rows = ivf_topk(emb, probes, k=10, n_centroids=16, nprobe=16).collect()
    got = {(r["probe_id"], r["vec_id"]) for r in rows}
    assert got == truth  # probing every cell must reproduce brute force


def test_neardup_hot_bucket_capped_but_fully_connected(spark):
    """Adversarial corpus: thousands of IDENTICAL vectors — every one
    lands in the same bucket of every LSH table. The capped expansion
    must (a) finish without building an unbounded per-bucket list and
    (b) still connect EVERY vector into the duplicate cluster via the
    representative's star edges."""
    from druid_datafusion_bridge_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    n = 3000
    vec = [float(i % 7 + 1) for i in range(16)]
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in vec]).alias("embedding"),
    )
    pairs = embedding_neardup_pairs(
        df, threshold=0.95, bits=4, dim=16, max_bucket=50
    ).collect()
    linked = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert linked == set(range(n))  # no member dropped from the cluster
    assert all(r["sim"] >= 0.95 for r in pairs)
    # bounded: 50^2/2 all-pairs + (n-50) star edges, not n^2/2 ~ 4.5M
    assert len(pairs) <= 50 * 49 // 2 + (n - 50)


def test_lsh_candidate_pairs_hot_bucket_capped(spark):
    """Same adversarial shape for the MinHash LSH text path: identical
    documents all share every band bucket; the cap must bound pair
    volume while keeping every doc attached to the cluster."""
    from druid_datafusion_bridge_spark.operators.dedup import lsh_candidate_pairs

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text appears in every document").alias(
            "text"
        ),
    )
    pairs = lsh_candidate_pairs(df, max_bucket=40).collect()
    linked = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert linked == set(range(n))
    assert len(pairs) <= 40 * 39 // 2 + (n - 40)


def test_ivf_cell_partitioned_storage_prunes(spark, tmp_path, emb, probes):
    """The scale story the IVF docstring claims, executed: write the
    cell-assigned corpus partitioned BY CELL, then read back only a
    probe's cells — the scan must show partition filters (input
    pruning), so at 100 TB a probe touches nprobe/n_cells of the
    storage instead of all of it."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from druid_datafusion_bridge_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )

    c = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    model = KMeans(k=8, seed=7, maxIter=5, distanceMeasure="cosine").fit(
        c.select(array_to_vector(F.col("v")).alias("features"))
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cent_id long, cv array<double>",
    )
    assigned = (
        c.join(F.broadcast(cents))
        .select("vec_id", "v", "cent_id", cosine(F.col("v"), F.col("cv")).alias("cs"))
        .groupBy("vec_id")
        .agg(F.max_by("cent_id", "cs").alias("cell"), F.first("v").alias("v"))
    )
    out = str(tmp_path / "ivf_store")
    assigned.write.partitionBy("cell").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("cell").isin([0, 1]))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # pruning is real: only the two cells' rows come back
    cells = {r["cell"] for r in back.select("cell").distinct().collect()}
    assert cells <= {0, 1}


def test_neardup_finds_planted_duplicates(spark):
    """The testdata corpus has no pairs above 0.95, so the registry
    oracle match is empty=empty; this test makes the operator's claim
    non-vacuous — with planted near-identical vectors the bucketed
    search must recover EXACTLY the thresholded pair set (near-dups
    agree on every hyperplane sign, so LSH cannot split them)."""
    import math
    import random

    from druid_datafusion_bridge_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rng = random.Random(7)
    rows = []
    base = {}
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in v]))
        base[i] = v
    # plant 5 near-identical copies of vectors 0..4 as ids 100..104
    for i in range(5):
        v = [x + rng.gauss(0, 0.01) for x in base[i]]
        rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    vecs = dict(rows)
    ids = sorted(vecs)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if round(cos(vecs[a], vecs[b]), 9) >= 0.95
    }
    assert len(exact) == 5  # the planted pairs, nothing accidental
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, threshold=0.95, bits=4, dim=16
        ).collect()
    }
    assert got == exact


def test_pq_codes_shape_and_determinism(spark):
    from druid_datafusion_bridge_spark.catalog import table
    from druid_datafusion_bridge_spark.operators.similarity import pq_quantize

    emb = table(spark, SF_DIR, "embeddings")
    pq = pq_quantize(emb, dim=64, n_subspaces=4, codebook_size=16)
    rows = {r["vec_id"]: r for r in pq.collect()}
    assert len(rows) == emb.count()
    for r in rows.values():
        assert len(r["codes"]) == 4  # 4 bytes per 256-byte vector: 64x
        assert all(0 <= c < 16 for c in r["codes"])
        assert r["sq_err"] >= 0.0
    # fixed seed => byte-identical codes on a re-run
    again = {r["vec_id"]: r for r in pq_quantize(emb, dim=64).collect()}
    assert all(rows[k]["codes"] == again[k]["codes"] for k in rows)


def test_zero_norm_vectors_are_excluded(spark):
    """An all-zero embedding yields sim = 0/0 = NaN, and NaN sorts
    ABOVE every real double in a descending window — unguarded, a
    single padding row becomes every probe's rank-1 neighbor."""
    from druid_datafusion_bridge_spark.operators.similarity import (
        as_double_vec,
        brute_force_topk,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero-norm: must never appear as a neighbor
        (3, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"),
        as_double_vec(F.col("embedding")).alias("probe_vec"),
    )
    import math

    got = brute_force_topk(emb, probes, k=3).collect()
    ids = [r.vec_id for r in got]
    assert 2 not in ids
    assert ids[0] == 1  # the true nearest neighbor holds rank 1
    assert all(not math.isnan(r.sim) for r in got)


def test_pq_adc_recall_structure_and_plan(emb, probes, truth, spark):
    """ADC search: ranked structure, recall above the registry floor,
    and the scale contract — the corpus-code scan must join a
    BROADCAST lookup table (the corpus side is never shuffled into a
    hash-join build, and no Python worker appears in the plan)."""
    from druid_datafusion_bridge_spark.operators.similarity import (
        pq_adc_topk,
    )

    ann = pq_adc_topk(emb, probes, k=10, shortlist=200, n_subspaces=8)
    rows = ann.collect()
    _structure_ok(rows)
    got = {(r["probe_id"], r["vec_id"]) for r in rows}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_adc_shortlist_monotone(emb, probes, truth):
    """A larger ADC shortlist can only improve recall (the rerank is
    exact over the shortlist) — the tuning contract a user relies on."""
    from druid_datafusion_bridge_spark.operators.similarity import (
        pq_adc_topk,
    )

    small = {
        (r["probe_id"], r["vec_id"])
        for r in pq_adc_topk(
            emb, probes, k=10, shortlist=25, n_subspaces=8
        ).collect()
    }
    big = {
        (r["probe_id"], r["vec_id"])
        for r in pq_adc_topk(
            emb, probes, k=10, shortlist=400, n_subspaces=8
        ).collect()
    }
    assert len(truth & big) >= len(truth & small)


def test_mmr_rerank_suppresses_planted_near_duplicate(spark):
    """MMR's whole point: with two near-identical high-relevance
    candidates, plain top-k returns both back-to-back, MMR picks one
    and then prefers a diverse lower-relevance candidate. Vectors are
    constructed so relevance order is 1, 2 (a clone of 1), 3 — the MMR
    selection at lam=0.7 must be 1 then 3, with 2 pushed behind."""
    import math

    from druid_datafusion_bridge_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n, 0.0, 0.0]

    # the probe must NOT coincide with the top candidate: if it did,
    # every candidate's penalty against the first pick would equal its
    # own relevance and MMR could never separate clone from diverse
    rows = [
        (0, unit(1.0, 0.0)),            # probe
        (1, unit(0.9, 0.436)),          # most relevant
        (2, unit(0.9, 0.437)),          # near-clone of 1
        (3, unit(0.89, -0.456)),        # similar relevance, OTHER side
        (4, unit(0.0, 1.0)),            # orthogonal filler
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    probes = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS probe_id", "embedding AS probe_vec"
    )
    plain = brute_force_topk(emb, probes, k=3, round_sim=9).collect()
    assert [r["vec_id"] for r in sorted(plain, key=lambda r: r["rank"])][:2] == [1, 2]
    mmr = mmr_rerank(emb, probes, k=3, shortlist=4, lam=0.7).collect()
    order = [r["vec_id"] for r in sorted(mmr, key=lambda r: r["rank"])]
    assert order[0] == 1        # relevance leads
    assert order[1] == 3        # the clone is penalized; diversity wins
    assert set(order) == {1, 2, 3} or set(order) == {1, 3, 4}


def test_ivfpq_append_serves_new_vectors(spark, tmp_path):
    """ivf_pq_append: vectors appended against the frozen quantizers
    land in the existing cell partitions and the serving path finds
    them with zero changes — a probe whose exact twin arrived in the
    APPEND batch must return that twin at rank 1."""
    import os

    import numpy as np

    from druid_datafusion_bridge_spark.operators.similarity import (
        ivf_pq_append,
        ivf_pq_build,
        ivf_pq_query,
    )

    rs = np.random.RandomState(11)
    vecs = rs.normal(size=(300, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "idx")
    ivf_pq_build(emb.filter("vec_id < 200"), idx,
                 n_centroids=8, n_subspaces=8)
    cells_before = {
        d for d in os.listdir(f"{idx}/codes") if d.startswith("cell=")
    }
    ivf_pq_append(spark, idx, emb.filter("vec_id >= 200"))
    cells_after = {
        d for d in os.listdir(f"{idx}/codes") if d.startswith("cell=")
    }
    assert cells_before <= cells_after  # nothing vanished
    # appended rows may only land in VALID centroid cells (0..7 for
    # n_centroids=8) — a bogus cell id means the frozen-quantizer
    # assignment broke
    assert all(
        0 <= int(d.split("=", 1)[1]) < 8 for d in cells_after
    ), cells_after
    # probe = an appended vector itself: rank-1 must be its twin
    # (self-match excluded by id inequality — use a fresh probe id)
    probe = spark.createDataFrame(
        [(10_000, [float(x) for x in vecs[250]])],
        "probe_id long, probe_vec array<double>",
    )
    got = ivf_pq_query(spark, idx, probe, k=3, nprobe=4, shortlist=50)
    top = sorted(got.collect(), key=lambda r: r["rank"])[0]
    assert top["vec_id"] == 250 and top["sim"] > 0.999


def test_ivfpq_query_rejects_foreign_codebook(spark, tmp_path):
    """The packed-codebook lookups index by code value, so a persisted
    codebook whose codes are not exactly 0..k-1 per subspace (here: one
    code shifted past the end, as a hand edit would) must fail loudly
    instead of serving NULL or wrong ADC distances."""
    import numpy as np

    from druid_datafusion_bridge_spark.operators.similarity import (
        ivf_pq_build,
        ivf_pq_query,
    )

    rs = np.random.RandomState(5)
    vecs = rs.normal(size=(120, 64))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    ivf_pq_build(emb, idx, n_centroids=4, n_subspaces=8, codebook_size=8)
    probe = spark.createDataFrame(
        [(10_000, [float(x) for x in vecs[3]])],
        "probe_id long, probe_vec array<double>",
    )
    ivf_pq_query(spark, idx, probe, k=3, nprobe=2).collect()  # intact: serves

    cb = spark.read.parquet(f"{idx}/codebooks")
    rows = [r.asDict() for r in cb.collect()]
    shifted = next(r for r in rows if r["sub_id"] == 0 and r["code"] == 0)
    shifted["code"] = max(r["code"] for r in rows) + 1
    spark.createDataFrame(rows, cb.schema).write.mode("overwrite").parquet(
        f"{idx}/codebooks"
    )
    with pytest.raises(ValueError, match="codebook subspace 0"):
        ivf_pq_query(spark, idx, probe, k=3, nprobe=2)


def test_ivfpq_cache_dir_fallback_on_unusable_base(monkeypatch, tmp_path):
    """An unusable shared cache base (here: a FILE squatting the
    ddbs_ivfpq path — permission bits don't stop root, which this
    container runs as) must fall back to a session-scoped mkdtemp index
    BEFORE any Spark write is attempted (the r9 ADVICE gap: Spark
    writers raise Py4JJavaError/AnalysisException, not OSError, so a
    post-hoc except could never catch them)."""
    import os
    import tempfile

    from druid_datafusion_bridge_spark.queries.similarity import (
        _ivfpq_index_dir,
    )

    # squat the cache base with a regular file -> os.makedirs raises
    (tmp_path / "ddbs_ivfpq").write_text("squatter")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    built = []

    def fake_build(into: str) -> None:
        os.makedirs(into, exist_ok=True)
        (tmp_path / "marker").write_text(into)
        built.append(into)

    idx = _ivfpq_index_dir(
        "/root/testdata/sf0.001", emb=None, build_fn=fake_build
    )
    assert built == [idx]
    assert os.path.basename(idx).startswith("ddbs_ivfpq_")
    assert idx.startswith(str(tmp_path))  # session-scoped, not shared

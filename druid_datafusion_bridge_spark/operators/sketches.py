"""KMV (k-minimum-values) distinct-count sketches with set operations —
the query-time analog of Druid's ThetaSketch (union / intersection of
distinct-count sketches across slices), which the reference's README
gestures at but its code cannot read (COMPLEX columns fail on read,
`/root/reference/src/column/mod.rs:59-61`). The repo's ingest-time HLL
COMPLEX column (`sources/ingest.py`) covers mergeable counts; this
operator covers the OTHER Druid sketch use: set algebra between
sketches ("users who did A and B") that HLL cannot answer.

Built entirely from JVM built-ins on an md5-derived 60-bit hash, so the
sketch is deterministic and engine-independent: the DuckDB oracle
recomputes every output bit-exactly (the same property the dedup /
sampling operators rely on). No RNG, no Python, no UDF.

Scale posture (100 TB):
- phase 1 aggregates on (spark_partition_id, group), so its map-side
  partial collect_set dedupes within each input partition BEFORE the
  exchange and every aggregation state is bounded by one split's
  distinct hashes — shuffle volume is COUNT(DISTINCT)-class (each
  partition's deduped hash set crosses the wire once), memory is
  sketch-class (no task ever holds a whole group);
- phase 2 is the true sketch merge: its shuffle carries at most k
  longs per (partition, group), and per-group merge state is bounded
  by k x n_partitions. Set algebra then runs on single sketch rows
  (k longs each).
- a map-side k-slice BEFORE the phase-1 exchange (the DataSketches
  shape) is ``kmv_sketch_bounded``: Spark's aggregate layer has no
  bounded-collect primitive (a slice written "inside the agg" is a
  post-merge projection — the partial state still crosses the wire
  whole), so the bounded form runs phase 1 as a zero-exchange
  ``mapInArrow`` pass with numpy k-way unions. Bit-identical output;
  see its docstring for the IPC-vs-network trade and why the registry
  queries keep the pure-JVM form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

# 60-bit hash space (md5_hash60 yields uniform values in [0, 2^60)).
HASH_SPACE = float(1 << 60)

# kmv_sketch_bounded emits its per-partition state in batches of this
# many groups (bounds the Python-side materialization at emit time).
_EMIT_GROUPS_PER_BATCH = 1024


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 60-bit hashes of
    ``value_col``, as a sorted array. Groups with fewer than k distinct
    values keep them all (the sketch is then exact).

    Two-phase: per-partition partial sketch (aggregation state bounded
    by split size), then a merge whose input is <= k hashes per
    partition per group. Every hash that is among the k smallest
    globally is among the k smallest of its own partition, so the merge
    is lossless for the head — the standard KMV merge argument. See the
    module docstring for what each exchange actually carries.
    """
    h = md5_hash60(F.col(value_col).cast("string"))
    partial = (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .groupBy(F.spark_partition_id().alias("_pid"), "g")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("part"))
    )
    return (
        partial.select("g", F.explode("part").alias("h"))
        .groupBy("g")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("h")), 1, k
            ).alias("sketch")
        )
    )


def kmv_sketch_bounded(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """``kmv_sketch`` with phase 1's exchange capped at k hashes per
    (partition, group) — the DataSketches shape. Output is BIT-IDENTICAL
    to ``kmv_sketch`` (asserted by tests/test_sketches.py): phase 1
    emits, per input partition and group, exactly the k smallest
    distinct hashes — the same multiset ``kmv_sketch``'s
    slice-after-merge produces — and phase 2 is the same k-bounded
    JVM merge.

    Why this needs a Python worker: in ``kmv_sketch`` the slice is
    already "inside the agg" textually, but a declarative aggregate
    applies projections AFTER the final merge — collect_set's partial
    state (what actually crosses phase 1's wire) is the partition's
    whole distinct-hash set, and Spark's aggregate layer has no
    bounded-collect primitive to cap it. Here phase 1 is a
    ``mapInArrow`` pass instead: ZERO exchange (partition-wise map),
    per-partition state bounded at k hashes per group, every batch
    folded through a numpy k-way union. The trade is Arrow IPC of the
    (group, hash) pairs through the Python worker — local memory
    bandwidth — in place of a NETWORK exchange of the partition's
    distinct hashes. At 100 TB on a high-cardinality value column
    (where distinct ~ total and the sketch is the whole point), the
    bounded form wins; for registry queries the pure-JVM form is kept
    so every oracle-checked plan stays Python-free (both forms are
    exact — same hashes, same merge).

    Memory contract: phase 1's state is bounded PER GROUP (k hashes),
    not per partition — the worker's dict holds O(groups-in-partition
    x k) longs and cannot spill. Fine for sketching's normal shape
    (group count << row count); if a single partition can carry more
    groups than worker memory holds at k longs each, pre-partition the
    input by the group column (each group then appears in one
    partition) or use the JVM ``kmv_sketch``, whose hash aggregate
    spills.

    Measured (bench_scale.py, 1M rows / 900 groups / k=4096,
    local[32]): bounded 2.5 s vs JVM 1.4 s — on a single node the
    "network" is free so the Arrow IPC overhead shows; the term the
    bound removes (each partition's full distinct-hash set crossing a
    real network) is exactly the term local mode cannot measure.
    """
    # NULL values hash to NULL; a null in an int64 Arrow batch would
    # force a float64 conversion Python-side (silently rounding hashes
    # past 2^53), so null hashes are dropped JVM-side BEFORE the map.
    # That reproduces kmv_sketch exactly: its collect_set drops null
    # elements and its explode([]) drops groups whose every value is
    # NULL, so such groups are absent from BOTH forms' output.
    h = md5_hash60(F.col(value_col).cast("string"))
    pairs = df.select(F.col(group_col).alias("g"), h.alias("h")).filter(
        F.col("h").isNotNull()
    )

    def local_kmin(batches):  # pragma: no cover - executor-side
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        state: dict = {}
        g_type = None
        for b in batches:
            g_type = b.schema.field("g").type
            if b.num_rows == 0:
                continue
            # dictionary-encode the group column instead of pandas
            # round-tripping: group VALUES stay in Arrow (no int64 ->
            # float64 null coercion, no >2^53 rounding) and grouping
            # runs on the int32 codes. Null groups code to -1.
            enc = pc.dictionary_encode(b.column("g"))
            codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
            keys = enc.dictionary.to_pylist()
            h_np = b.column("h").to_numpy(zero_copy_only=False)
            order = np.argsort(codes, kind="stable")
            codes_s, h_s = codes[order], h_np[order]
            bounds = np.flatnonzero(np.diff(codes_s)) + 1
            for code_grp, h_grp in zip(
                np.split(codes_s, bounds), np.split(h_s, bounds)
            ):
                gkey = None if code_grp[0] < 0 else keys[code_grp[0]]
                cand = np.unique(h_grp)
                prev = state.get(gkey)
                if prev is not None:
                    cand = np.union1d(prev, cand)
                state[gkey] = cand[:k]
        # emit in bounded chunks — one monolithic batch over millions of
        # groups would be an unspillable Python-side memory spike
        items = list(state.items())
        for i in range(0, len(items), _EMIT_GROUPS_PER_BATCH):
            part = items[i : i + _EMIT_GROUPS_PER_BATCH]
            gs: list = []
            hs: list = []
            for g, arr in part:
                gs.extend([g] * len(arr))
                hs.extend(arr.tolist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(gs, type=g_type), pa.array(hs, type=pa.int64())],
                names=["g", "h"],
            )

    local = pairs.mapInArrow(local_kmin, schema=pairs.schema)
    return local.groupBy("g").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sketch")
    )


def _theta(combined: Column, k: int) -> Column:
    """Threshold hash: the kth smallest of the combined sketch when the
    union saw >= k distinct hashes, else the whole hash space (the
    sketch is exact below theta)."""
    return F.when(
        F.size(combined) >= k, F.element_at(combined, k).cast("double")
    ).otherwise(F.lit(HASH_SPACE))


def theta_set_estimates(
    sketch_a: Column,
    sketch_b: Column,
    k: int = 256,
) -> list[Column]:
    """Union / intersection distinct-count estimates from two KMV
    sketch arrays (the ThetaSketch set-algebra step). Returns columns
    ``est_union`` and ``est_intersection`` (doubles; exact counts when
    the union fits the sketch).

    theta = kth smallest of the merged sketch. Every hash below theta
    is in a slice's sketch iff the value is in the slice (the sketch
    holds ALL hashes below its own max), so membership tests below
    theta are exact:
      est_union        = (k-1) * HASH_SPACE / theta
      est_intersection = |A ∩ B below theta| / (k-1) * est_union
    All arithmetic is a fixed expression tree over exactly-representable
    doubles (integers < 2^61 and one product 255*2^60 with an 8-bit
    mantissa), so Spark and the DuckDB oracle round identically.
    """
    combined = F.array_sort(F.array_union(sketch_a, sketch_b))
    theta = _theta(combined, k)
    full = F.size(combined) >= k
    est_union = F.when(
        full, F.lit(float(k - 1)) * F.lit(HASH_SPACE) / theta
    ).otherwise(F.size(combined).cast("double"))
    inter_below = F.size(
        F.filter(
            F.array_intersect(sketch_a, sketch_b),
            lambda x: x.cast("double") < theta,
        )
    )
    est_inter = F.when(
        full, inter_below.cast("double") * est_union / F.lit(float(k - 1))
    ).otherwise(inter_below.cast("double"))
    return [est_union.alias("est_union"), est_inter.alias("est_intersection")]


def cms_buckets(value: Column, depth: int, width: int) -> Column:
    """Array of ``depth`` bucket indices for one value — row j uses the
    md5-derived hash of ``"j:" + value`` (independent-enough rows, and
    deterministic, so the DuckDB oracle reproduces every counter)."""
    return F.array(
        *[
            md5_hash60(F.concat(F.lit(f"{j}:"), value)) % width
            for j in range(depth)
        ]
    )


def count_min_sketch(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of ``value_col`` frequencies, as its flat
    counter table ``(j, bucket, c)`` — Druid ships this family as the
    datasketches frequency aggregators; the reference cannot read any
    COMPLEX column (src/column/mod.rs:59-61).

    One scan, one exchange: each row contributes to ``depth`` buckets
    (the posexplode multiplies rows depth-x BEFORE the map-side partial
    aggregate, which then collapses each input partition to at most
    depth x width counter rows — so the shuffle carries <= depth*width
    longs per partition no matter the input size or cardinality, the
    whole point of the sketch at 100 TB). The merged table is
    depth x width rows, broadcastable for the estimate join.
    """
    v = F.col(value_col).cast("string")
    pairs = df.select(
        F.posexplode(cms_buckets(v, depth, width)).alias("j", "bucket")
    )
    return pairs.groupBy("j", "bucket").agg(F.count("*").alias("c"))


def cms_estimate(
    items: DataFrame,
    sketch: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate counts for candidate ``items`` against a
    count-min ``sketch``: est(v) = min over rows j of the counter at
    (j, hash_j(v)) — the classic CMS upper bound (never underestimates;
    overestimates only by colliding mass). The sketch is tiny
    (depth x width) and is broadcast; the candidate side never
    shuffles more than items x depth rows."""
    v = F.col(value_col).cast("string")
    probes = items.select(
        value_col,
        F.posexplode(cms_buckets(v, depth, width)).alias("j", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy(value_col)
        .agg(F.min("c").alias("est_count"))
    )


# --- fixed-buckets histogram (Druid fixedBucketsHistogram) -------------
#
# Deterministic mergeable quantile digest: `buckets` exact counts over
# [0, buckets*width) with "clip" outlier handling (Druid's mode of the
# same name — everything below clamps into bucket 0, everything above
# into the last bucket). Counts merge by addition, so per-slice digests
# roll up losslessly; quantiles come from linear interpolation inside
# the bucket whose cumulative count crosses the target rank. All
# arithmetic is integer counts + one IEEE-double expression over
# exactly-representable inputs, so every estimate is bit-reproducible
# in any engine evaluating the same formula (the exact-oracle property
# this module exists to keep).


def hist_bucket(value: Column, buckets: int, width: float) -> Column:
    """Clip-mode bucket index for `value`: 0 <= pos < buckets."""
    return (
        F.greatest(
            F.lit(0),
            F.least(F.floor(value / F.lit(width)), F.lit(buckets - 1)),
        )
    ).cast("long")


def quantiles_from_counters(
    counters: DataFrame,
    group_cols: list[str],
    width: float,
    qs: dict[str, float],
) -> DataFrame:
    """Quantile estimates per group from merged (group..., pos, cnt)
    counters: for each requested quantile, the first bucket whose
    cumulative count reaches q*n, interpolated linearly inside the
    bucket. ``qs`` maps output column name -> quantile fraction.
    Output: (group..., n, <out_col> per ask).

    Scale: ALL requested quantiles come from ONE window + ONE agg over
    the counter table, whose size is |groups| x buckets regardless of
    how many raw rows were digested — the whole point of the digest.
    A single pass matters beyond the counter-table math: the counter
    table's own lineage (often a segment decode) executes once, not
    once per quantile ask."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*group_cols).orderBy("pos")
    w_all = W.partitionBy(*group_cols)
    cum = counters.select(
        *group_cols,
        "pos",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for out_col, q in qs.items():
        target = F.lit(q) * F.col("n")
        crossing = (F.col("cum") >= target) & (
            (F.col("cum") - F.col("cnt")) < target
        )
        est = (
            F.col("pos")
            + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        ) * F.lit(width)
        # exactly one bucket per group satisfies `crossing` (cum is
        # strictly increasing across non-empty buckets), so max(when)
        # extracts that bucket's interpolated value
        aggs.append(F.max(F.when(crossing, est)).alias(out_col))
    return cum.groupBy(*group_cols).agg(*aggs)


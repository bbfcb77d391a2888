"""Reusable DataFrame-to-DataFrame operators.

These are the engine's "custom operator" layer (SURVEY.md §7 Phase E):
compositions of built-in Spark SQL functions wherever semantics allow,
Pandas-UDF/`mapInPandas` only where they genuinely don't (multimodal
decode). Each operator takes and returns DataFrames so it composes with
the rest of a Catalyst plan and inherits pushdown/AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# Per-partition input-byte floor for spread(): a rebalance never creates
# more partitions than input_bytes / this, so a tiny input cannot fan
# out into near-empty partitions whose scheduling costs more than their
# work (r12 verdict: sim_topk_per_probe measured FASTER at 8 cores than
# 32 because its ~0.8 MB corpus was spread to 32 near-empty partitions).
# The default floor is small — any real corpus slice clears it at full
# width — because most spread() sites front HEAVY per-row compute
# (gram explodes, hyperplane projections, payload codecs) where even a
# few KiB of rows is a core's worth of work. Sites whose per-row work
# is LIGHT (a handful of broadcast probes per row) pass a larger
# ``target_bytes``. Size-adaptive, not core-count-adaptive: width is
# bytes/target regardless of the master's core count.
SPREAD_MIN_BYTES_PER_PART = 8 * 1024


def spread(
    df: DataFrame, factor: int = 1, target_bytes: int | None = None
) -> DataFrame:
    """Repartition to cluster parallelism before a CPU-heavy stage —
    but ONLY when the input is under-partitioned, and never wider than
    the input's bytes justify.

    Small inputs (single parquet file => single partition) would
    otherwise run hash/explode-heavy operators on one core. At real
    scale input splits already provide parallelism, so this is a no-op
    there (round-1 verdict #6: the unconditional form added a full
    shuffle a 100 TB scan never needs). The probe is df.inputFiles() —
    pure metadata from the already-listed file index (df.rdd would
    work too but pays ~0.5s of plan-to-RDD conversion per call). A
    many-partition scan of FEW huge splittable files repartitions
    unnecessarily — a cheap narrow-column shuffle, never a correctness
    or memory hazard.

    ``target_bytes`` (default SPREAD_MIN_BYTES_PER_PART) caps the width
    at input_bytes / target_bytes: callers whose downstream per-row
    work is light raise it so a sub-MB input gets a handful of
    partitions instead of one per core (see SPREAD_MIN_BYTES_PER_PART
    comment). The byte probe sums the input files' sizes — the FULL
    files, so a filtered lineage is still sized by its source table;
    that only errs toward more partitions.
    """
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        files = df.inputFiles()
        if len(files) >= n:
            return df
        total = 0
        for f in files:
            path = f[5:] if f.startswith("file:") else f
            total += os.path.getsize(path)
        if total:
            tb = target_bytes or SPREAD_MIN_BYTES_PER_PART
            n = min(n, max(1, total // tb))
            if len(files) >= n:
                return df
    except Exception:
        pass  # non-file source (or unstatable path): keep the rebalance
    return df.repartition(n)

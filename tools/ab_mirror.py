"""A/B the scan-mirror policy on the headline queries, in ONE session
with round-robin interleaving (host noise hits every config equally).

Configs flip the catalog's mirror thresholds in-process between runs;
each config has its own mirror root so builds are cached per layout and
never rebuilt inside the timed loop.

Usage: python tools/ab_mirror.py [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from druid_datafusion_bridge_spark import catalog, get_spark  # noqa: E402
from druid_datafusion_bridge_spark.queries import all_queries  # noqa: E402

CONFIGS = {
    # name -> (MIN_BYTES, FILE_BYTES, ROOT)
    "none": (10**12, 8 << 20, "/tmp/ddbs_ab_none"),
    "li_8m": (8 << 20, 8 << 20, "/tmp/ddbs_ab_li8"),      # lineitem only, 4 files
    "li_1m": (8 << 20, 1 << 20, "/tmp/ddbs_ab_li1"),      # lineitem only, 10 files
    "all_8m": (400 << 10, 8 << 20, "/tmp/ddbs_ab_all8"),  # li/ord/ev/doc/emb, 4 files
    "all_1m": (400 << 10, 1 << 20, "/tmp/ddbs_ab_all1"),  # same tables, size//1MB files
}


def set_cfg(cfg: tuple[int, int, str]) -> None:
    catalog.MIRROR_MIN_BYTES = cfg[0]
    # the heavy profile has its OWN threshold: without this the 'none'
    # baseline would still serve heavy mirrors to heavy_scan reads
    catalog.HEAVY_SCAN_MIN_BYTES = cfg[0]
    catalog.MIRROR_FILE_BYTES = cfg[1]
    os.environ["SPARK_GRAFT_MIRROR_ROOT"] = cfg[2]


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ddbs-ab-mirror")
    qs = all_queries()

    for name, cfg in CONFIGS.items():
        set_cfg(cfg)
        out = catalog.build_scan_mirrors(spark, sf_dir)
        print(f"built {name}: {[t for t, v in out.items() if v]}", file=sys.stderr)

    # warm every (config, query) once
    for cname, cfg in CONFIGS.items():
        set_cfg(cfg)
        for q in HEADLINE:
            qs[q](spark, sf_dir).write.mode("overwrite").format("noop").save()

    best: dict[str, dict[str, float]] = {c: {q: float("inf") for q in HEADLINE} for c in CONFIGS}
    for p in range(passes):
        for cname, cfg in CONFIGS.items():
            set_cfg(cfg)
            for q in HEADLINE:
                df = qs[q](spark, sf_dir)
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                best[cname][q] = min(best[cname][q], time.perf_counter() - t0)
        print(f"pass {p + 1}/{passes} done", file=sys.stderr, flush=True)

    rows = {c: {q: round(v, 3) for q, v in d.items()} for c, d in best.items()}
    totals = {c: round(sum(d.values()), 3) for c, d in rows.items()}
    print(json.dumps({"totals": totals, "queries": rows}))


if __name__ == "__main__":
    main()

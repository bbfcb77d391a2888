"""Time EVERY registry query at sf0.1 with the noop sink (1 warm + 1
timed run each): which of the registry's query paths actually cost
anything.

Prints one JSON line {"queries": {name: sec}, "total": sec} sorted by
descending time. A profiling tool, not a benchmark (bench.py stays
the number of record).

Usage: python tools/time_registry.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from druid_datafusion_bridge_spark import get_spark  # noqa: E402
from druid_datafusion_bridge_spark.catalog import build_scan_mirrors  # noqa: E402
from druid_datafusion_bridge_spark.queries import all_queries  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ddbs-time-registry")
    build_scan_mirrors(spark, sf_dir)
    qs = all_queries()
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)
            print(f"{i}/{len(qs)} {name} {times[name]}", file=sys.stderr, flush=True)
        except Exception as ex:  # noqa: BLE001
            errs[name] = str(ex)[:300]
            print(f"{i}/{len(qs)} {name} ERR {errs[name][:120]}", file=sys.stderr, flush=True)
    ordered = dict(sorted(times.items(), key=lambda kv: -kv[1]))
    out = {
        "metric": "registry_query_seconds_sf01",
        "total": round(sum(times.values()), 3),
        "queries": ordered,
        "errors": errs,
    }
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w", encoding="utf-8") as f:
            f.write(line)


if __name__ == "__main__":
    main()

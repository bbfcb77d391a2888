"""Capture .explain('formatted') for headline (or named) queries into
<out_dir>/<query>_<tag>.txt — before/after plan evidence for a change.

Usage: python tools/capture_plans.py <out_dir> <tag> [query ...]
(e.g. out_dir plans/r13, tag 'before' or 'after'; default query set =
bench.py HEADLINE).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from druid_datafusion_bridge_spark import get_spark  # noqa: E402
from druid_datafusion_bridge_spark.catalog import build_scan_mirrors  # noqa: E402
from druid_datafusion_bridge_spark.queries import all_queries  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="ddbs-capture-plans")
    build_scan_mirrors(spark, sf_dir)
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(formatted)
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()

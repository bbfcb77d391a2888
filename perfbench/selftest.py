"""Self-test of the benchmark at scale 0.001 (6k lineitem rows).

Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs a few seconds untraced,
traced and with one deliberately corrupted expected answer; the
untraced narrow_dashboard run is made once per query kind (one seed
each). It checks:

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every declared end-to-end (untraced) or per-layer (traced) metric is
  printed with its declared unit, and nothing else;
- honest runs fail no op, and the corrupted answer is counted as failed;
- in a directory holding only BENCHMARK.json and the benchmark's own
  files, the benchmark exits non-zero without printing a result.

Takes about twelve minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import ops

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _run(args: list[str], cwd: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        RUN + args, cwd=cwd, capture_output=True, text=True, timeout=180
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, proc.stdout.strip().splitlines()


def _check(lines: list[str], declared: list[dict], corrupted: bool) -> list[str]:
    problems = []
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: {set(got) ^ set(want)} "
                        f"or units {[(k, got[k], want[k]) for k in want if got.get(k) != want[k]]}")
    if result["attempted"] < 1:
        problems.append("no op attempted")
    if corrupted and (result["failed"] < 1 or result["correct"]):
        problems.append("a corrupted expected answer was not counted as failed")
    if not corrupted and (result["failed"] or not result["correct"]):
        problems.append(f"{result['failed']} ops failed")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    problems = []
    for w in (wl["name"] for wl in spec["workloads"]):
        base = ["--workload", w, "--seconds", "3", "--scale", "0.001"]
        # a narrow run sends the kind NARROW_KINDS[seed % 6]
        seeds = range(len(ops.NARROW_KINDS)) if w == "narrow_dashboard" else [1]
        for seed, trace, extra, declared in (
            *[(seed, "0", [], spec["end_to_end"]) for seed in seeds],
            (1, "1", [], spec["per_layer"]),
            (1, "0", ["--corrupt-oracle"], spec["end_to_end"]),
        ):
            label = f"{w} seed={seed} trace={trace} {' '.join(extra)}".strip()
            rc, lines = _run(base + ["--seed", str(seed), "--trace", trace] + extra, ROOT)
            found = [f"exit {rc}"] if rc != 0 or not lines else _check(
                lines, declared, corrupted=bool(extra)
            )
            print(f"{'FAIL' if found else 'ok  '} {label} {'; '.join(found)}", flush=True)
            problems += found

    # a directory with only the benchmark's files must be refused cleanly
    bare = os.path.join(ROOT, ".bench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                          "--seconds", "1", "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    bare_ok = rc != 0 and not any(line.startswith("{") for line in lines)
    print(f"{'ok  ' if bare_ok else 'FAIL'} bare directory exits {rc} without a result")
    if not bare_ok:
        problems.append("bare directory")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

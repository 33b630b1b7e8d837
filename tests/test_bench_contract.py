"""bench.py driver contract: it must honor $SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS and emit one line of valid JSON, asserted by
running it, not by inspection.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_honors_sf_dir_env_without_argv():
    """$SPARK_GRAFT_SF_DIR is the sf_dir when no argv is given: with
    the env pointed at a nonexistent directory, bench.py must fail its
    sf_dir validation (exit 2) BEFORE starting Spark, naming that
    directory — proving the env var is actually consumed."""
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/nonexistent/sfX"}
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=60,
    )
    assert p.returncode == 2
    assert "/nonexistent/sfX" in p.stderr


def test_bench_rejects_flag_argv():
    """Flag-like argv must not be parsed as an sf_dir (the --help
    incident in CLAUDE.md): exit 2, usage on stderr, no JSON."""
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--help"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert p.returncode == 2
    assert "Benchmark harness" in p.stderr


def test_bench_emits_one_line_json_and_honors_cpus():
    """End-to-end contract: a real (partial) bench run at sf0.001 with
    $SPARK_GRAFT_CPUS=4 must print a final stdout line that parses as
    JSON with the contract fields, report the env cpu count, the sf
    parsed from the dir, and per-query timings for exactly the
    requested queries."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.001 fixture missing")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), sf_dir,
         "q_scan_parquet"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = p.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "total_wall_sec"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["cpus"] == "4"
    assert out["n_queries"] == 1
    assert out["n_errors"] == 0
    assert set(out["queries"]) == {"q_scan_parquet"}
    assert all(v >= 0 for v in out["queries"].values())

"""Snapshot memos (sources/io.snapshot): built once per (application,
kind, fixture), per-application on disk, nothing recorded on a failed
write, and no clobbering across processes sharing one fixture."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _writer(spark, calls):
    def write(path):
        calls.append(path)
        spark.range(3).write.parquet(path)

    return write


def test_snapshot_builds_once_per_kind_and_fixture(spark, sf_dir):
    from spark_sklearn_spark.sources.io import snapshot

    calls: list[str] = []
    write = _writer(spark, calls)
    first = snapshot(spark, "memo_test", sf_dir, write)
    assert snapshot(spark, "memo_test", sf_dir, write) == first
    assert calls == [first]
    assert spark.read.parquet(first).count() == 3
    # the directory is this application's own
    assert os.path.basename(first) == spark.sparkContext.applicationId

    other_kind = snapshot(spark, "memo_test_b", sf_dir, write)
    other_fixture = snapshot(spark, "memo_test", f"{sf_dir}_other", write)
    assert len({first, other_kind, other_fixture}) == 3
    assert calls == [first, other_kind, other_fixture]


def test_snapshot_failed_write_records_nothing(spark, sf_dir):
    from spark_sklearn_spark.sources.io import snapshot

    def boom(path):
        spark.range(1).write.parquet(path)  # a half-written snapshot
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        snapshot(spark, "memo_test_fail", sf_dir, boom)
    calls: list[str] = []
    path = snapshot(spark, "memo_test_fail", sf_dir, _writer(spark, calls))
    assert calls == [path]
    assert spark.read.parquet(path).count() == 3


_CHILD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from spark_sklearn_spark.queries.ml import li_ols_moments
    from spark_sklearn_spark.session import createLocalSparkSession

    spark = createLocalSparkSession("snapshot-child", cpus=2)
    print(li_ols_moments(spark, {sf!r}).count())
    spark.stop()
    """
)


def test_snapshot_not_clobbered_by_another_process(spark, sf_dir):
    """A second process building the same memo on the same fixture
    must leave this process's snapshot files alone: a DataFrame read
    from them before the other process ran still collects. The other
    process removes its own snapshot directory when it exits."""
    from spark_sklearn_spark.queries.ml import li_ols_moments
    from spark_sklearn_spark.sources.io import warehouse_path

    held = li_ols_moments(spark, sf_dir)
    want = sorted(held.collect())
    memo_dir = warehouse_path("li_ols_moments", sf_dir)
    before = set(os.listdir(memo_dir))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    child = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=str(REPO), sf=sf_dir)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    assert child.stdout.split()[-1] == str(len(want))
    assert sorted(held.collect()) == want
    assert set(os.listdir(memo_dir)) == before

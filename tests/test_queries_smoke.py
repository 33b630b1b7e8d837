"""Contract smoke: every registered query runs at sf0.001 and returns
a stable, non-degenerate result; every declared query has matching
column names with its oracle's aliases (the driver hashes by sorted
column name, so a name drift is an automatic mismatch).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

SLOW = {"q_ml_grid_search", "q_ml_random_search"}  # CV fits: covered by t2
# q_join_theta's selective value filters leave no qualifying pairs in
# the 1000-event sf0.001 fixture; it returns 6 rows at sf0.01 (t2).
# q_tpch_q7's nation pair doesn't exist among sf0.001's 10 suppliers;
# it returns 4 rows at sf0.01 (the driver's correctness grain).
EMPTY_OK: set[str] = {"q_join_theta", "q_tpch_q7"}


@pytest.fixture(scope="module")
def registry():
    return entry.queries(), entry.oracle_sql()


def test_every_query_has_docstring_and_registration(registry):
    queries, oracles = registry
    assert len(queries) >= 60
    for name, fn in queries.items():
        assert fn.__doc__, f"{name} lacks a docstring"
        assert name.startswith("q_"), name
    assert set(oracles) <= set(queries)


def test_baseline_table_covers_registry(registry):
    """bench.py's regression gate parses BASELINE.md with a
    silent-on-miss regex (baseline_walls): a malformed table edit
    would shrink regression coverage with no signal (VERDICT r13
    item 7 / r14 item 3). Pin: every registered key has exactly one
    parsed baseline wall, and the table carries no stale keys."""
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    walls = bench.baseline_walls()
    queries, _ = registry
    missing = set(queries) - set(walls)
    stale = set(walls) - set(queries)
    assert not missing, f"BASELINE.md lacks rows for: {sorted(missing)}"
    assert not stale, f"BASELINE.md has rows for unregistered: {sorted(stale)}"
    assert all(w > 0 for w in walls.values())


def test_entry_flagship_runs(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_runs_nonempty(spark, sf_dir, name, registry):
    if name in SLOW:
        pytest.skip("CV grid search exercised by the t2 harness")
    queries, _ = registry
    df = queries[name](spark, sf_dir)
    n = df.count()
    if name not in EMPTY_OK:
        assert n > 0, f"{name} returned no rows at sf0.001"


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_declared_columns_appear_in_oracle(spark, sf_dir, name, registry):
    """Every Spark output column name must appear in the oracle SQL —
    the driver sorts columns by name before hashing, so a name drift
    between the two sides is an automatic hash mismatch. Plan-only
    (no job runs): building the DataFrame is enough to read columns."""
    if name in SLOW:
        pytest.skip("CV grid search exercised by the t2 harness")
    queries, oracles = registry
    cols = queries[name](spark, sf_dir).columns
    sql_l = oracles[name].lower()
    for col in cols:
        assert re.search(rf"\b{re.escape(col.lower())}\b", sql_l), (
            f"{name}: column {col!r} not found in oracle SQL"
        )

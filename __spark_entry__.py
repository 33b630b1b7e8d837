"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``spark_sklearn_spark``: importing the queries package
populates the registry; this module re-exports it in the driver's
shape. See SURVEY.md §2B for the operator inventory behind each key.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_sklearn_spark import registry as _registry  # noqa: E402

_registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return _registry.QUERIES["q_agg_hash"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Iteration order is the driver rotation (``registry.ordered_queries``):
    the differential harness checks a 50-key prefix, so ``registry.HEAD``
    (canary + recently changed keys) comes first, then the rest stalest
    first by their latest round in the committed CORRECTNESS_r*.json.
    """
    return _registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every declared (hash-checked) query."""
    return dict(_registry.ORACLES)

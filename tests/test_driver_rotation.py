"""The driver rotation: ``queries()`` order is ``registry.HEAD`` then
every other key stalest first, computed from the committed
CORRECTNESS_r*.json files (the driver hash-checks a 50-key prefix)."""

from __future__ import annotations

import glob
import json
import os
import re

import __spark_entry__ as entry
from spark_sklearn_spark.registry import (
    HEAD,
    QUERIES,
    REPO_ROOT,
    driver_order,
    sampled_rounds,
)


def test_ordered_queries_yield_every_key_once():
    order = list(entry.queries())
    assert len(order) == len(set(order))
    assert set(order) == set(QUERIES)
    assert order[: len(HEAD)] == list(HEAD)


def test_head_is_registered_unique_and_canary_first():
    assert HEAD[0] == "q_dq_engine_canary"
    assert len(HEAD) == len(set(HEAD))
    assert not set(HEAD) - set(QUERIES), "HEAD pins unregistered queries"


def test_r17_evidence_reproduces_the_r18_window():
    """Cutover check: the rule reproduces the last hand-kept window —
    the r18 head plus a tail computed from r1..r17 evidence gives
    CORRECTNESS_r18.json's 50 keys in order."""
    r18 = os.path.join(REPO_ROOT, "CORRECTNESS_r18.json")
    with open(r18) as f:
        window = list(json.load(f))
    earlier = [
        p for p in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))
        if int(re.search(r"_r(\d+)\.json$", p).group(1)) < 18
    ]
    assert driver_order(QUERIES, window[:11], sampled_rounds(earlier))[:50] == window

"""The workloads: what each sets up, which operations make one
pass, and how each operation's result is checked.

An operation is one call through a public entry point of the package
plus whatever it takes to get its result to the caller. For a registry
key that is the callable (``build``) and a ``collect()`` of the
DataFrame it returns (``exec``). Checks never run inside a timed span.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

# The curation pass over the seeded corpus, in pass order: exact
# dedup, MinHash near-dup pairs and IVF retrieval. q_sim_ann_ivf_kmeans
# builds its k-means index snapshot on first use, so the cold pass
# writes it and the warm passes read it. Python workers are measured on
# sklearn_api (gapply, KeyedModel.transform).
DEDUP_KEYS = [
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_ann_ivf_kmeans",
]

# Keys whose DuckDB oracle is a brute-force pair scan: checked against
# an exact evaluation of the same definition instead (oracle.py).
REFERENCE_CHECKED = {"q_dedup_minhash": 0.8}


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[Any], Any]  # span -> result; fills span.parts
    check: Callable[[Any], str | None]  # result -> None or failure reason
    fits: int = 0  # candidate x fold fits the op performs


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    snapshot_keys: frozenset[str] = frozenset()  # ops whose first run builds a snapshot
    min_warm = 1  # warm passes a run makes at least

    def __init__(self, spark, sf_dir: str, seed: int, queries: dict, oracles: dict):
        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.queries, self.oracles = queries, oracles
        self.digests: dict[str, str] = {}
        self.rows: dict[str, list] = {}  # first verified result per key
        self._con = None

    def build(self) -> None:
        """One-time build timed as part of set-up (none by default)."""

    def prepare(self) -> None:
        """Untimed set-up of what the checks compare against."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def items(self, ops: list[Op]) -> int:
        """Work items one pass completes, for the throughput metric."""
        raise NotImplementedError

    def traced_extras(self) -> dict[str, float]:
        """Untimed layer figures of this workload only (traced runs)."""
        return {}

    # -- registry keys ---------------------------------------------------

    def key_op(self, key: str, layer: str = "queries") -> Op:
        fn = self.queries[key]

        def run(span):
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            span.parts["build"] = t1 - t0
            span.parts["exec"] = time.perf_counter() - t1
            return df.columns, rows

        return Op(key, layer, run, lambda res: self.check_key(key, res))

    def check_key(self, key: str, res) -> str | None:
        """First result: against the oracle. Later ones: against the
        fingerprint of the first, which the oracle already vetted."""
        from . import oracle

        cols, rows = res
        dg = oracle.digest(cols, rows)
        if key in self.digests:
            return None if dg == self.digests[key] else "result changed between passes"
        if key in REFERENCE_CHECKED:
            ref = oracle.shingle_jaccard_pairs(self.texts(), REFERENCE_CHECKED[key])
            why = None if dg == oracle.digest(["id_a", "id_b", "jaccard"], ref) else (
                f"differs from the exact pair set ({len(rows)} vs {len(ref)} rows)")
        elif key in self.oracles:
            why = oracle.compare(list(cols), rows, self.con(), self.oracles[key])
        else:
            why = None if rows else "no rows"
        if why is None:
            self.digests[key] = dg
            self.rows[key] = rows
        return why

    def con(self):
        if self._con is None:
            from . import oracle

            self._con = oracle.connect(self.sf_dir)
        return self._con

    def texts(self) -> dict[int, str]:
        return dict(self.con().execute("SELECT doc_id, text FROM documents").fetchall())

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class DedupCorpus(Workload):
    name = "dedup_corpus"
    tables = ("documents", "embeddings")
    snapshot_keys = frozenset({"q_sim_ann_ivf_kmeans"})
    min_warm = 2

    def ops(self) -> list[Op]:
        return [self.key_op(k) for k in DEDUP_KEYS]

    def items(self, ops: list[Op]) -> int:
        from .gen import N_DOCS

        return N_DOCS

    def traced_extras(self) -> dict[str, float]:
        from spark_sklearn_spark.operators.minhash import minhash_candidate_pairs
        from spark_sklearn_spark.sources.io import load

        docs = load(self.spark, self.sf_dir, "documents", spread=True)
        candidates = minhash_candidate_pairs(docs, "doc_id", "text").count()
        verified = len(self.rows["q_dedup_minhash"])
        return {"operators.minhash_candidate_precision": verified / max(1, candidates)}


def _gfun(key, pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["value"]
    sd = v.std() or 1.0
    return pd.DataFrame({"user_id": [key[0]], "z_max": [float(((v - v.mean()) / sd).abs().max())]})


class SklearnApi(Workload):
    name = "sklearn_api"
    tables = ("embeddings", "events")
    REG = [0.001, 0.01, 0.1, 1.0]
    # elasticNetParam stays 0, so every candidate trains with L-BFGS: an
    # L1 share switches LogisticRegression to OWL-QN, which runs more
    # jobs, and the cost of a pass would then depend on what the seed
    # draws.
    EN = [0.0]

    def build(self) -> None:
        from pyspark.ml.functions import array_to_vector
        from pyspark.sql import functions as F
        from spark_sklearn_spark.sources.io import load

        emb = load(self.spark, self.sf_dir, "embeddings")
        # The seed sets the fold split of the fold-column search.
        self.feat = emb.select(
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
            F.col("label").cast("double").alias("label"),
            F.expr(f"pmod(xxhash64(vec_id, {self.seed}L), 2)").cast("int").alias("fold"),
        )
        ev = load(self.spark, self.sf_dir, "events")
        self.events = ev.select(
            "user_id", "event_type", "value",
            F.get_json_object("props", "$.k").cast("double").alias("k"),
        )

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        ev = pq.read_table(f"{self.sf_dir}/events.parquet", columns=["user_id"])
        self.n_events = ev.num_rows
        self.n_users = len(ev.column("user_id").unique())
        self.n_feat = pq.ParquetFile(f"{self.sf_dir}/embeddings.parquet").metadata.num_rows

    def _search_check(self, search, n_cand: int) -> str | None:
        grid = [r["params"] for r in search.cv_results_]
        scores = [r["mean_test_score"] for r in search.cv_results_]
        if len(grid) != n_cand:
            return f"{len(grid)} candidates, expected {n_cand}"
        if not all(math.isfinite(s) and 0.0 <= s <= 1.0 for s in scores):
            return f"non-finite or out-of-range avgMetrics {scores}"
        if search.best_params_ not in grid:
            return "best_params_ not taken from the grid"
        if search.best_score_ != max(scores):
            return "best_score_ is not the best avgMetric"
        for p in grid:
            if p.get("regParam") not in self.REG or p.get("elasticNetParam", 0.0) not in self.EN:
                return f"candidate {p} outside the search space"
        return None

    def ops(self) -> list[Op]:
        from pyspark.ml.classification import LogisticRegression
        from spark_sklearn_spark.ml_api import (
            Converter, GridSearchCV, KeyedEstimator, RandomizedSearchCV,
        )
        from spark_sklearn_spark.operators.gapply import gapply

        seed = self.seed
        feat = self.feat.drop("fold")
        state: dict[str, Any] = {}  # results later ops build on

        def grid(span):
            return GridSearchCV(
                LogisticRegression(maxIter=2), {"regParam": self.REG[1:3]},
                cv=2, parallelism=1, seed=seed,
            ).fit(feat)

        def random_foldcol(span):
            rs = RandomizedSearchCV(
                LogisticRegression(maxIter=2),
                {"regParam": self.REG, "elasticNetParam": self.EN},
                n_iter=2, cv=2, parallelism=1, seed=seed, fold_col="fold",
            ).fit(self.feat)
            state["random"] = rs
            return rs

        def best_model(span):
            return state["random"].best_model_

        def keyed_fit(span):
            state["keyed"] = KeyedEstimator(["user_id"], ["k"], "value").fit(self.events)
            return state["keyed"]

        def keyed_transform(span):
            return state["keyed"].transform(self.events).count()

        def gapply_op(span):
            return gapply(self.events, "user_id", _gfun, "user_id long, z_max double",
                          "value").collect()

        def to_pandas(span):
            return Converter().toPandas(self.feat)

        def best_check(m):
            return None if m is not None and len(m.coefficientMatrix.toArray()[0]) == 64 \
                else "best_model_ has the wrong shape"

        return [
            Op("ml_api.grid_fit", "ml_api", grid,
               lambda s: self._search_check(s, 2), fits=4),
            Op("ml_api.random_foldcol_fit", "ml_api", random_foldcol,
               lambda s: self._search_check(s, 2), fits=4),
            Op("ml_api.best_model", "ml_api", best_model, best_check),
            self.key_op("q_ml_vector_roundtrip"),
            Op("ml_api.keyed_fit", "ml_api", keyed_fit,
               lambda m: None if m.key_cols == ["user_id"] else "wrong key columns"),
            Op("ml_api.keyed_transform", "ml_api", keyed_transform,
               lambda n: None if n == self.n_events else f"{n} rows out of {self.n_events}"),
            Op("operators.gapply", "operators", gapply_op,
               lambda rows: None if len(rows) == self.n_users
               and all(math.isfinite(r.z_max) for r in rows) else "wrong gapply groups"),
            Op("ml_api.to_pandas", "ml_api", to_pandas,
               lambda pdf: None if pdf.shape == (self.n_feat, 3)
               and len(pdf["features"].iloc[0]) == 64 else f"toPandas shape {pdf.shape}"),
        ]

    def items(self, ops: list[Op]) -> int:
        return sum(op.fits for op in ops)


WORKLOADS = {w.name: w for w in (SklearnApi, DedupCorpus)}

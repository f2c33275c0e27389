"""The benchmark's workloads: the reference workflow's fit and
feature-preparation steps, each driven through public calls only.

A workload generates its inputs from the seed and warms up in
``setup``, runs one timed operation per ``op`` call, and checks every
output it produced in ``verify``, outside the timed region. Sizes are
the class constants; NOTES.md says why each workload exists.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench import gen

# GBT configuration of the fit workload, shared by the model the layer
# probes of every workload predict with.
GBT_PARAMS = dict(n_estimators=2, max_depth=3, learning_rate=0.3)


def log_loss(y: np.ndarray, p: np.ndarray) -> float:
    p = np.clip(p, 1e-15, 1 - 1e-15)
    return float(-np.mean(y * np.log(p) + (1 - y) * np.log(1 - p)))


def warm_up(op, ops: int) -> list[float]:
    """Run ``op(i)`` ``ops`` times; returns the walls. A fixed count, not a
    fixed time, puts every run's measured window at the same point of the
    JVM's compilation curve whatever the host's speed."""
    walls: list[float] = []
    for i in range(ops):
        t0 = time.perf_counter()
        op(i)
        walls.append(time.perf_counter() - t0)
    return walls


class Workload:
    name = ""
    op_name = ""
    # a measured window ends only after a multiple of this many operations
    ops_per_round = 1

    def __init__(self, spark, seed: int, data_dir: str, tracer):
        self.spark, self.seed, self.data_dir, self.tracer = spark, seed, data_dir, tracer
        self.warmup_walls: list[float] = []

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def verify(self) -> tuple[int, int]:
        """(operations checked, operations failed or wrong)."""
        raise NotImplementedError

    def probe_model(self):
        """(``_ClassifierData``, fitted ``XGBClassifier``) for the layer
        probes of a traced run."""
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError


class _ClassifierData:
    """Seeded classification rows written as parquet and read back through
    ``sources.read_parquet`` + ``ml.core.assemble_features``."""

    def __init__(self, spark, seed: int, root: str, rows: int, holdout: int, files: int):
        from dask_xgboost_spark.ml.core import assemble_features
        from dask_xgboost_spark.sources import read_parquet

        x, y = gen.classification_arrays(seed, rows + holdout)
        self.train_dir = os.path.join(root, "train")
        gen.write_classification(self.train_dir, x[:rows], y[:rows], files)
        self.y_train = y[:rows]
        self.raw = read_parquet(spark, self.train_dir)
        self.train = assemble_features(self.raw, "features")
        if holdout:
            hold_dir = os.path.join(root, "holdout")
            gen.write_classification(hold_dir, x[rows:], y[rows:], 2)
            self.holdout = assemble_features(read_parquet(spark, hold_dir), "features")
            self.y_holdout = y[rows:]


def _proba_by_id(clf, df) -> np.ndarray:
    """P(label = 1) per row of ``df``, in ``id`` order (distributed path)."""
    pdf = clf.predict_proba(df).select("id", "proba").toPandas()
    pdf = pdf.sort_values("id")
    return np.array([p[1] for p in pdf["proba"]], dtype=np.float64)


def local_parity_failures(spark, clf, requests: list[np.ndarray],
                          answers: list[tuple[int, np.ndarray]]) -> int:
    """How many local ``predict_proba`` answers (request index, output)
    differ from the distributed ``predict_proba`` of the same rows: the
    reference's local-vs-distributed parity check."""
    import pandas as pd

    from dask_xgboost_spark.ml.core import assemble_features

    rows = np.concatenate(requests)
    pdf = pd.DataFrame({"id": np.arange(len(rows)), "f": list(rows)})
    df = assemble_features(spark.createDataFrame(pdf), "f")
    ref = _proba_by_id(clf, df).reshape(len(requests), -1)
    return sum(not (out.shape == (len(ref[k]), 2) and np.array_equal(out[:, 1], ref[k]))
               for k, out in answers)


class TrainBinary(Workload):
    """``XGBClassifier.fit`` with ``binary:logistic`` — the reference's
    ``dxgb.train`` path. One operation is one full fit."""

    name, op_name = "train_binary", "fit"
    ROWS, HOLDOUT, FILES = 10_000, 5_000, 4
    WARMUP_FITS = 7

    def setup(self) -> None:
        self.data = _ClassifierData(self.spark, self.seed, self.data_dir,
                                    self.ROWS, self.HOLDOUT, self.FILES)
        self.models = []
        self.warmup_walls = warm_up(self.op, ops=self.WARMUP_FITS)

    def op(self, i: int) -> None:
        from dask_xgboost_spark.ml.core import XGBClassifier

        with self.tracer.span("XGBClassifier.fit"):
            clf = XGBClassifier(random_state=self.seed, **GBT_PARAMS).fit(self.data.train)
        self.models.append(clf)

    def verify(self) -> tuple[int, int]:
        """Every fit's held-out log-loss beats the base rate, and every
        fit gives exactly the held-out probabilities of the first one.
        Fits whose trees print the same compute the same function, so the
        held-out rows are scored once per distinct tree ensemble."""
        y = self.data.y_holdout
        self.base_logloss = log_loss(y, np.full(len(y), self.data.y_train.mean()))
        by_trees: dict[str, np.ndarray] = {}
        ref, failed = None, 0
        for clf in self.models:
            trees = clf.model_.toDebugString
            if trees not in by_trees:
                with self.tracer.span("predict_proba.holdout", counters=True):
                    by_trees[trees] = _proba_by_id(clf, self.data.holdout)
            p = by_trees[trees]
            ref = p if ref is None else ref
            failed += not (log_loss(y, p) < self.base_logloss and np.array_equal(p, ref))
        self.holdout_logloss = log_loss(y, ref)
        return len(self.models), failed

    def probe_model(self):
        return self.data, self.models[0]

    def sizes(self) -> dict:
        return dict(rows=self.ROWS, features=gen.N_FEATURES, files=self.FILES,
                    holdout_rows=self.HOLDOUT, warmup_fits=self.WARMUP_FITS, **GBT_PARAMS,
                    holdout_logloss=self.holdout_logloss, base_logloss=self.base_logloss)


class _Collected:
    """A result already fetched to pandas, shaped like the DataFrame that
    ``tests.oracle.compare`` expects, so checking re-executes nothing."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class PrepFeatures(Workload):
    """One operation is one hash-mode ``M-PREP-*`` registry query run in
    full (``QuerySpec.fn`` then ``toPandas``); the seed sets the order,
    and windows are whole sweeps over all of them."""

    name, op_name = "prep_features", "query"
    CUSTOMERS = 1500
    N_QUERIES = 16
    WARMUP_SWEEPS = 1

    def setup(self) -> None:
        import duckdb

        from dask_xgboost_spark.registry import load_all

        self.rows = gen.write_prep_tables(self.data_dir, self.seed, self.CUSTOMERS)
        specs = load_all()
        names = sorted(n for n, s in specs.items()
                       if n.startswith("M-PREP-") and s.mode == "hash")
        if len(names) != self.N_QUERIES:
            raise RuntimeError(f"expected {self.N_QUERIES} hash-mode M-PREP queries, got {names}")
        self.specs = specs
        self.order = list(np.random.default_rng([self.seed, 3]).permutation(names))
        self.ops_per_round = len(self.order)
        self.con = duckdb.connect()
        for t in self.rows:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.results: list[tuple[str, object]] = []
        self.query_walls: dict[str, list[float]] = {n: [] for n in names}
        sweep = lambda _: [self.op(i) for i in range(self.N_QUERIES)]  # noqa: E731
        self.warmup_walls = warm_up(sweep, ops=self.WARMUP_SWEEPS)
        self.query_walls = {n: [] for n in names}

    def op(self, i: int) -> None:
        name = self.order[i % len(self.order)]
        t0 = time.perf_counter()
        with self.tracer.span("QuerySpec.fn"):
            df = self.specs[name].fn(self.spark, self.data_dir)
        with self.tracer.span("DataFrame.toPandas"):
            pdf = df.toPandas()
        self.query_walls[name].append(time.perf_counter() - t0)
        self.results.append((name, pdf))

    def verify(self) -> tuple[int, int]:
        """Every result hash-matches its DuckDB oracle SQL; a result equal
        to one already matched is not compared again."""
        from tests.oracle import compare

        matched: dict[str, list] = {}
        failed = 0
        for name, pdf in self.results:
            if any(pdf.equals(m) for m in matched.get(name, [])):
                continue
            r = compare(_Collected(pdf), self.con, self.specs[name].sql)
            if r["match"]:
                matched.setdefault(name, []).append(pdf)
            else:
                failed += 1
                print(f"perfbench: {name} differs from its oracle: {r.get('reason')}",
                      flush=True, file=sys.stderr)
        return len(self.results), failed

    def probe_model(self):
        """No model is part of this workload: the probes get seeded
        classification rows of the fit workload's shape and a model fitted
        on them."""
        from dask_xgboost_spark.ml.core import XGBClassifier

        data = _ClassifierData(self.spark, self.seed, os.path.join(self.data_dir, "probe"),
                               TrainBinary.ROWS, 0, TrainBinary.FILES)
        return data, XGBClassifier(random_state=self.seed, **GBT_PARAMS).fit(data.train)

    def sizes(self) -> dict:
        per_query = {n: float(np.median(w)) for n, w in self.query_walls.items() if w}
        return dict(queries=self.N_QUERIES, table_rows=self.rows,
                    warmup_sweeps=self.WARMUP_SWEEPS, order=self.order,
                    query_median_s=per_query)


WORKLOADS = {w.name: w for w in (TrainBinary, PrepFeatures)}

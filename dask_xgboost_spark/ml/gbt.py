"""Histogram GBT in one barrier job, returned as a native MLlib model.

``fit(estimator, df)`` is a drop-in for ``GBTClassifier.fit``,
``GBTRegressor.fit`` and ``OneVsRest(classifier=GBTClassifier()).fit``:
it reads the estimator's params and returns the same MLlib model, so
predict, serving, save/load, ``featureImportances`` and
``evaluateEachIteration`` are MLlib's own. One-vs-rest is one barrier
job too, growing the class models one after another over the same rows.

Why: MLlib's driver-centred loop runs one Spark job per tree level plus
three jobs of metadata and split finding (9 jobs for 2 trees of depth 3).
Here one barrier job (``ml/barrier.py``) holds every rank's rows for the
whole fit, and the ranks exchange per-level bin histograms through the
driver's relay, which finds the splits. The Python workers hold the
binned rows (one byte per feature value) for the length of the fit.

The semantics are MLlib's (``GradientBoostedTrees.boost``,
``RandomForest``):

- labels map to ±1 for classification; tree 0 fits the labels with weight
  1.0, tree m fits the negative gradient of the loss (LogLoss, squared or
  absolute error) with weight ``stepSize``;
- every tree is a variance-impurity regression tree over at most
  ``maxBins`` bins per feature, with MLlib's thresholds
  (``findSplitsForContinuousFeature``). They are exact when the training
  rows number at most max(maxBins², 10000); above that, MLlib and this
  trainer both use a seeded sample of about that size, though not the
  same sample;
- a split needs ``minInstancesPerNode`` rows and ``minWeightFractionPerNode``
  of the weight on each side and a gain of at least ``minInfoGain``; the
  first maximum in feature-then-split order wins; children with
  near-zero impurity become leaves; sibling leaves with equal predictions
  are merged;
- ``weightCol``, the validation indicator with MLlib's ``validationTol``
  early stopping, and ``subsamplingRate`` (a seeded Bernoulli draw per
  tree and rank) carry over.

Each rank sums its rows in row order and the driver sums the ranks in
rank order. On the input's own partitions that is MLlib's order within
a partition, so a fit is bit-identical for a given seed and input and
agrees with MLlib to rounding (MLlib merges partitions in an
unspecified order). An input ``run_barrier`` has to repartition first
reaches the ranks in another row order, which changes only rounding.
"""

from __future__ import annotations

import math

import numpy as np

# org.apache.spark.ml.impl.Utils.EPSILON
EPSILON = 2.220446049250313e-16
# Scala's Double.MinValue: the gain MLlib gives an invalid split
_INVALID_GAIN = -1.7976931348623157e308


# ---------------------------------------------------------------------------
# losses (org.apache.spark.mllib.tree.loss)


def _exp(x: np.ndarray) -> np.ndarray:
    """``math.exp`` per element: the C library's exp agrees with the JVM's
    ``Math.exp`` far more often than numpy's vectorised exp, which is off
    by an ulp for about a quarter of inputs; an ulp in a gradient can flip
    a near-tied split against MLlib's."""
    return np.fromiter(map(math.exp, x.tolist()), np.float64, len(x))


def _neg_gradient(loss: str, pred: np.ndarray, y: np.ndarray) -> np.ndarray:
    if loss == "logistic":
        return -(-4.0 * y / (1.0 + _exp(2.0 * y * pred)))
    if loss == "squared":
        return -(-2.0 * (y - pred))
    return np.where(y - pred < 0, -1.0, 1.0)


def _error(loss: str, pred: np.ndarray, y: np.ndarray) -> np.ndarray:
    if loss == "logistic":
        x = -(2.0 * y * pred)
        with np.errstate(over="ignore"):
            return 2.0 * np.where(x > 0, x + np.log1p(np.exp(-x)), np.log1p(np.exp(x)))
    err = y - pred
    return err * err if loss == "squared" else np.abs(err)


# ---------------------------------------------------------------------------
# variance impurity (org.apache.spark.mllib.tree.impurity.Variance); a
# calculator is (weight, weighted sum, weighted sum of squares, row count)


def _impurity(count, total, squares):
    with np.errstate(divide="ignore", invalid="ignore"):
        out = (squares - (total * total) / count) / count
    return np.where(count == 0, 0.0, out)


def _predict(calc) -> float:
    return 0.0 if calc[0] == 0 else float(calc[1] / calc[0])


# ---------------------------------------------------------------------------
# rank side: runs inside the barrier task


def _read_partition(batches):
    """Arrow batches of (f: VectorUDT, y, w, v) → dense float64 features,
    labels, weights and validation flags."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return np.zeros((0, 0)), np.zeros(0), np.zeros(0), np.zeros(0, dtype=bool)
    table = pa.Table.from_batches(batches).combine_chunks()
    vec = table.column("f").chunk(0)
    kind = vec.field("type").to_numpy(zero_copy_only=False)
    values = vec.field("values")
    lens = pc.fill_null(pc.list_value_length(values), 0).to_numpy()
    flat = values.flatten().to_numpy(zero_copy_only=False)
    n = len(kind)
    dense = kind == 1
    sizes = np.where(dense, lens, vec.field("size").fill_null(0).to_numpy(zero_copy_only=False))
    if n and (sizes != sizes[0]).any():
        raise ValueError(f"feature vectors differ in size: {sorted(set(sizes.tolist()))}")
    dim = int(sizes[0])
    if dense.all():
        x = flat.reshape(n, dim).astype(np.float64, copy=False)
    else:
        x = np.zeros((n, dim))
        row = np.repeat(np.arange(n), lens)
        in_dense = dense[row]
        starts = np.repeat(np.cumsum(lens) - lens, lens)
        x[row[in_dense], (np.arange(len(flat)) - starts)[in_dense]] = flat[in_dense]
        idx = vec.field("indices").flatten().to_numpy(zero_copy_only=False)
        x[row[~in_dense], idx] = flat[~in_dense]
    col = lambda name: table.column(name).to_numpy()  # noqa: E731
    return x, col("y").astype(np.float64), col("w").astype(np.float64), col("v").astype(bool)


def _rng(seed: int, rank: int, stream: int):
    return np.random.default_rng([seed & 0xFFFFFFFFFFFFFFFF, rank, stream])


def _bin(x: np.ndarray, thresholds: list[np.ndarray]) -> np.ndarray:
    """Bin b of a feature holds the values in (thr[b-1], thr[b]] (MLlib's
    binary search over the thresholds)."""
    widest = max((len(t) for t in thresholds), default=0)
    out = np.empty(x.shape, dtype=np.uint8 if widest < 256 else np.uint16)
    for f, thr in enumerate(thresholds):
        out[:, f] = np.searchsorted(thr, x[:, f], side="left")
    return out


def _histograms(bins, node, active, target, weight, sampled, n_bins):
    """(active node, feature, bin, stat) sums over this rank's sampled rows,
    each cell summed in row order like MLlib's DTStatsAggregator."""
    k, (n, d) = len(active), bins.shape
    size = k * d * n_bins
    pos = np.minimum(np.searchsorted(active, node), k - 1)
    sel = active[pos] == node
    if sampled is not None:
        sel &= sampled
    rows = np.flatnonzero(sel)
    flat = ((pos[rows, None] * d + np.arange(d)) * n_bins + bins[rows]).ravel()
    w, t = weight[rows], target[rows]
    wy = w * t
    out = np.empty((4, size))
    for i, stat in enumerate((w, wy, wy * t)):
        out[i] = np.bincount(flat, np.repeat(stat, d), size)
    out[3] = np.bincount(flat, minlength=size)
    return out.T.reshape(k, d, n_bins, 4)


def _route(bins, node, split):
    """Move the rows of the split nodes to their children."""
    ids, feats, cuts = split
    if not len(ids):
        return node
    pos = np.minimum(np.searchsorted(ids, node), len(ids) - 1)
    rows = np.flatnonzero(ids[pos] == node)
    p = pos[rows]
    node = node.copy()
    node[rows] = 2 * node[rows] + (bins[rows, feats[p]] > cuts[p])
    return node


def _rank(batches, link, cfg: dict) -> None:
    x, y, w, v = _read_partition(batches)
    meta = {"rows": int((~v).sum()), "dim": x.shape[1] if len(x) else None, "error": None}
    xt, yt, wt = x[~v], y[~v], w[~v]
    meta["weight"] = float(np.cumsum(wt)[-1]) if len(wt) else 0.0
    labels = yt[~np.isnan(yt)]  # a null label arrives as NaN
    meta["max_label"] = float(labels.max()) if len(labels) else None
    if len(w) and not (np.isfinite(w).all() and (w >= 0).all()):
        meta["error"] = "weights must be non-negative and finite"
    bad = y[~np.isin(y, (0.0, 1.0))] if cfg["classification"] and not cfg["ovr"] else []
    if len(bad):
        meta["error"] = (f"GBTClassifier was given a dataset with invalid label "
                         f"{float(bad[0])}; labels must be 0 or 1 for binary classification")
    fraction, models = link.exchange(meta)

    # split finding: per feature, the distinct nonzero values and their weights
    xs, ws = xt, wt
    if fraction < 1.0:
        keep = _rng(cfg["seed"], link.rank, 0).random(len(xt)) < fraction
        xs, ws = xt[keep], wt[keep]
    summary = []
    for f in range(xs.shape[1]):
        col = xs[:, f]
        nz = col != 0.0
        vals, inv = np.unique(col[nz], return_inverse=True)
        summary.append((vals, np.bincount(inv, ws[nz], len(vals)), int(nz.sum())))
    thresholds, n_bins = link.exchange(summary)

    if x.shape[1] != len(thresholds):  # an empty partition
        x = xt = np.zeros((0, len(thresholds)))
    bt, bv = _bin(xt, thresholds), _bin(x[v], thresholds)
    del x, xt, xs
    for k in range(models):
        # one-vs-rest: class k's model fits the indicator label == k
        yk = np.where(y == k, 1.0, 0.0) if cfg["ovr"] else y
        if cfg["classification"]:
            yk = 2.0 * yk - 1.0
        _boost(link, cfg, n_bins, bt, bv, yk[~v], wt, yk[v], w[v])


def _boost(link, cfg: dict, n_bins: int, bt, bv, yt, wt, yv, wv) -> None:
    """One model's trees over the binned training and validation rows."""
    loss = cfg["loss"]
    pred, pred_v = np.zeros(len(yt)), np.zeros(len(yv))
    for m in range(cfg["max_iter"]):
        target = yt if m == 0 else _neg_gradient(loss, pred, yt)
        sampled = None
        if cfg["subsampling_rate"] < 1.0:
            sampled = _rng(cfg["seed"], link.rank, m + 1).random(len(yt)) < cfg["subsampling_rate"]
        node = np.ones(len(yt), dtype=np.int64)
        active, levels = np.array([1]), []
        while True:
            answer = link.exchange(_histograms(bt, node, active, target, wt, sampled, n_bins))
            node = _route(bt, node, answer["split"])
            levels.append(answer["split"])
            if answer["leaves"] is not None:
                break
            active = answer["active"]
        leaf_ids, leaf_values = answer["leaves"]
        tree_weight = 1.0 if m == 0 else cfg["step_size"]
        pred = pred + leaf_values[np.searchsorted(leaf_ids, node)] * tree_weight
        if cfg["validate"]:
            node_v = np.ones(len(yv), dtype=np.int64)
            for split in levels:
                node_v = _route(bv, node_v, split)
            pred_v = pred_v + leaf_values[np.searchsorted(leaf_ids, node_v)] * tree_weight
            err = _error(loss, pred_v, yv) * wv
            total = (np.cumsum(err)[-1], np.cumsum(wv)[-1]) if len(wv) else (0.0, 0.0)
            if link.exchange(total):
                break


# ---------------------------------------------------------------------------
# driver side: the relay's coordinator


def find_splits(values: np.ndarray, weights: np.ndarray, count: int,
                weighted_samples: float, num_splits: int) -> np.ndarray:
    """MLlib's ``RandomForest.findSplitsForContinuousFeature``: thresholds
    from the sorted distinct nonzero values and their weights, the zeros'
    weight being what the nonzero values leave of ``weighted_samples``."""
    if not len(values):
        return np.empty(0)
    zeros = weighted_samples - float(weights.sum())
    if zeros > EPSILON * count * 100:
        at = int(np.searchsorted(values, 0.0))
        values = np.insert(values, at, 0.0)
        weights = np.insert(weights, at, zeros)
    possible = len(values) - 1
    if possible == 0:
        return np.empty(0)
    if possible <= num_splits:
        return (values[:-1] + values[1:]) / 2.0
    # walk the cumulative weight; a value ends a bin once moving past it
    # takes the running count further from the next stride target
    cum = np.cumsum(weights)
    stride = weighted_samples / (num_splits + 1)
    target, i, out = stride, 1, []
    while i < len(values):
        # |cum - target| cannot grow before cum passes target, so skip ahead
        i = max(i, int(np.searchsorted(cum, target, side="right")))
        while i < len(values) and not abs(cum[i - 1] - target) < abs(cum[i] - target):
            i += 1
        if i >= len(values):
            break
        out.append((values[i - 1] + values[i]) / 2.0)
        target += stride
        i += 1
    return np.asarray(out)


class _Node:
    """One tree node as MLlib's LearningNode leaves it: the impurity
    calculator it was given by its parent's split (the root's comes from
    the first candidate split), its impurity, and, for a split node, the
    gain and the split."""

    __slots__ = ("calc", "impurity", "gain", "valid", "split")

    def __init__(self, calc, impurity, gain=0.0, valid=True, split=None):
        self.calc, self.impurity, self.gain, self.valid, self.split = (
            calc, impurity, gain, valid, split)


class _Coordinator:
    def __init__(self, cfg: dict):
        self.cfg = cfg

    def __call__(self, relay):
        cfg = self.cfg
        metas = relay.gather()
        for m in metas:
            if m["error"]:
                raise ValueError(m["error"])
        dims = {m["dim"] for m in metas if m["dim"] is not None}
        if len(dims) > 1:
            raise ValueError(f"feature vectors differ in size: {sorted(dims)}")
        rows = sum(m["rows"] for m in metas)
        if not rows:
            raise ValueError("GBT training needs at least one training row")
        weight = 0.0
        for m in metas:
            weight += m["weight"]
        self.num_features = dim = dims.pop()
        max_bins = min(cfg["max_bins"], rows)
        required = max(max_bins * max_bins, 10000)
        fraction = required / rows if required < rows else 1.0
        models = 1
        if cfg["ovr"]:  # OneVsRest's class count: num_class, or max label + 1
            labels = [m["max_label"] for m in metas if m["max_label"] is not None]
            if not (cfg["num_class"] or labels):
                raise ValueError("one-vs-rest training needs a non-null label")
            models = cfg["num_class"] or int(max(labels)) + 1
        relay.broadcast((fraction, models))

        summaries = [s for s in relay.gather() if s]
        weighted = fraction * weight
        thresholds = []
        for f in range(dim):
            vals = np.concatenate([s[f][0] for s in summaries])
            wts = np.concatenate([s[f][1] for s in summaries])
            uniq, inv = np.unique(vals, return_inverse=True)
            thresholds.append(find_splits(uniq, np.bincount(inv, wts, len(uniq)),
                                          sum(s[f][2] for s in summaries), weighted,
                                          max_bins - 1))
        self.thresholds = thresholds
        self.num_splits = np.array([len(t) for t in thresholds])
        self.min_weight = cfg["min_weight_fraction"] * weight
        relay.broadcast((thresholds, int(self.num_splits.max(initial=0)) + 1))
        return [self._boost(relay) for _ in range(models)]

    def _boost(self, relay) -> list[dict[int, _Node]]:
        """One model's trees, stopped early on the validation loss."""
        cfg = self.cfg
        trees, errors, best_error, best_m = [], [], None, 1
        for m in range(cfg["max_iter"]):
            trees.append(self._grow(relay))
            if not cfg["validate"]:
                continue
            err_sum = w_sum = np.float64(0.0)
            for e, w in relay.gather():
                err_sum, w_sum = err_sum + e, w_sum + w
            with np.errstate(invalid="ignore", divide="ignore"):
                error = err_sum / w_sum
            errors.append(float(error))
            done = m == cfg["max_iter"] - 1
            if m == 0:
                best_error = error
            elif best_error - error < cfg["validation_tol"] * max(error, 0.01):
                done = True
            elif error < best_error:
                best_error, best_m = error, m + 1
            relay.broadcast(done)
            if done:
                break
        self.history = errors[:best_m]
        return trees[:best_m] if cfg["validate"] else trees

    def _grow(self, relay) -> dict[int, _Node]:
        """One tree, one relay round per level."""
        max_depth = self.cfg["max_depth"]
        nodes: dict[int, _Node] = {}
        parents: dict[int, np.ndarray | None] = {1: None}
        active, level = [1], 0
        while True:
            hists = relay.gather()
            total = hists[0].copy()
            for h in hists[1:]:
                total += h
            split_ids, feats, cuts, next_active = [], [], [], []
            for slot, nid in enumerate(active):
                node, children = self._split(total[slot], parents.pop(nid), level)
                nodes[nid] = node
                if node.split is None:
                    continue
                split_ids.append(nid)
                feats.append(node.split[0])
                cuts.append(node.split[1])
                for child, calc in zip((2 * nid, 2 * nid + 1), children):
                    impurity = float(_impurity(*calc[:3]))
                    if level + 1 == max_depth or abs(impurity) < EPSILON:
                        nodes[child] = _Node(calc, impurity)
                    else:
                        parents[child] = calc
                        next_active.append(child)
            level += 1
            split = (np.array(split_ids, dtype=np.int64), np.array(feats, dtype=np.int64),
                     np.array(cuts, dtype=np.int64))
            if next_active:
                relay.broadcast({"split": split, "active": np.array(next_active), "leaves": None})
                active = next_active
                continue
            leaf_ids = sorted(i for i, n in nodes.items() if n.split is None)
            leaves = (np.array(leaf_ids, dtype=np.int64),
                      np.array([_predict(nodes[i].calc) for i in leaf_ids]))
            relay.broadcast({"split": split, "active": None, "leaves": leaves})
            return nodes

    def _split(self, hist: np.ndarray, parent, level: int):
        """MLlib's ``binsToBestSplit`` + ``calculateImpurityStats`` for one
        node: (node, (left calc, right calc) or None)."""
        cfg = self.cfg
        cum = np.cumsum(hist, axis=1)
        left = cum[:, :-1, :]
        right = cum[:, -1:, :] - left
        with_splits = np.flatnonzero(self.num_splits)
        if not len(with_splits):
            calc = cum[0, -1]
            return _Node(calc, float(_impurity(*calc[:3])), _INVALID_GAIN, valid=False), None
        if parent is None:
            f0 = with_splits[0]
            parent = left[f0, 0] + right[f0, 0]
        impurity = float(_impurity(*parent[:3]))
        lc, rc = left[..., 0], right[..., 0]
        l_imp = _impurity(lc, left[..., 1], left[..., 2])
        r_imp = _impurity(rc, right[..., 1], right[..., 2])
        with np.errstate(divide="ignore", invalid="ignore"):
            tot = lc + rc
            gain = impurity - (lc / tot) * l_imp - (rc / tot) * r_imp
        exists = np.arange(left.shape[1])[None, :] < self.num_splits[:, None]
        ok = (exists & (left[..., 3] >= cfg["min_instances"]) & (right[..., 3] >= cfg["min_instances"])
              & (lc >= self.min_weight) & (rc >= self.min_weight) & (gain >= cfg["min_info_gain"]))
        score = np.where(ok, gain, np.where(exists, _INVALID_GAIN, -np.inf))
        best = int(np.argmax(score))
        f, s = divmod(best, left.shape[1])
        gain_best, valid = float(score[f, s]), bool(ok[f, s])
        if gain_best <= 0 or level == cfg["max_depth"]:
            return _Node(parent, impurity, gain_best, valid), None
        return (_Node(parent, impurity, gain_best, True, (f, s)),
                (left[f, s], right[f, s]))


# ---------------------------------------------------------------------------
# MLlib model construction


def _pruned(nodes: dict[int, _Node], nid: int, thresholds) -> tuple:
    """LearningNode.toNode(prune=true) as nested tuples:
    ("leaf", prediction, impurity, calc) or
    ("split", prediction, impurity, gain, feature, threshold, calc, left, right)."""
    node = nodes[nid]
    if node.split is None:
        return ("leaf", _predict(node.calc), node.impurity if node.valid else -1.0, node.calc)
    left = _pruned(nodes, 2 * nid, thresholds)
    right = _pruned(nodes, 2 * nid + 1, thresholds)
    if left[0] == right[0] == "leaf" and left[1] == right[1]:
        return ("leaf", left[1], node.impurity, node.calc)
    f, s = node.split
    return ("split", _predict(node.calc), node.impurity, node.gain, f,
            float(thresholds[f][s]), node.calc, left, right)


def _java_doubles(jvm, values):
    """A Java double[] from one byte transfer instead of a call per element."""
    data = bytearray(np.asarray(values, dtype=">f8").tobytes())
    out = jvm.java.nio.DoubleBuffer.allocate(len(values))
    out.put(jvm.java.nio.ByteBuffer.wrap(data).asDoubleBuffer())
    return out.array()


def _java_trees(sc, trees: list[tuple], num_features: int):
    jvm = sc._jvm
    calcs: list = []

    def collect(t):
        calcs.append(t[3] if t[0] == "leaf" else t[6])
        if t[0] == "split":
            collect(t[7])
            collect(t[8])

    for t in trees:
        collect(t)
    stats = _java_doubles(jvm, [float(c[i]) for c in calcs for i in range(3)])
    counter = iter(range(len(calcs)))
    tree_pkg = jvm.org.apache.spark.ml.tree
    copy_range = jvm.java.util.Arrays.copyOfRange
    variance = jvm.org.apache.spark.mllib.tree.impurity.VarianceCalculator

    def build(t):
        k = next(counter)
        calc = variance(copy_range(stats, 3 * k, 3 * k + 3), int(round(float(calcs[k][3]))))
        if t[0] == "leaf":
            return tree_pkg.LeafNode(t[1], t[2], calc)
        left, right = build(t[7]), build(t[8])
        return tree_pkg.InternalNode(t[1], t[2], t[3], left, right,
                                     tree_pkg.ContinuousSplit(int(t[4]), t[5]), calc)

    cls = jvm.org.apache.spark.ml.regression.DecisionTreeRegressionModel
    out = sc._gateway.new_array(cls, len(trees))
    for i, t in enumerate(trees):
        out[i] = cls(build(t), num_features)
    return out


# ---------------------------------------------------------------------------
# entry point


def _config(est) -> dict:
    from pyspark.ml.classification import GBTClassifier

    get = est.getOrDefault
    if get("featureSubsetStrategy") not in ("auto", "all"):
        raise NotImplementedError("GBT training supports featureSubsetStrategy 'all' only")
    return {
        "classification": isinstance(est, GBTClassifier),
        "loss": get("lossType"),
        "max_iter": get("maxIter"),
        "max_depth": get("maxDepth"),
        "max_bins": get("maxBins"),
        "step_size": get("stepSize"),
        "subsampling_rate": get("subsamplingRate"),
        "seed": get("seed"),
        "min_instances": get("minInstancesPerNode"),
        "min_info_gain": get("minInfoGain"),
        "min_weight_fraction": get("minWeightFractionPerNode"),
        "validation_tol": get("validationTol"),
        "validate": bool(est.isDefined(est.validationIndicatorCol)
                         and get("validationIndicatorCol")),
    }


def fit(est, df, history: list | None = None, num_class: int | None = None):
    """Train ``est`` (a ``GBTClassifier``, a ``GBTRegressor`` or a
    ``OneVsRest`` of a ``GBTClassifier``) on ``df`` in one barrier job;
    returns the model MLlib's ``est.fit(df)`` would. A ``GBTClassifier``
    raises ``ValueError`` for labels outside {0, 1}. ``OneVsRest``'s model
    k fits the indicator ``label == k`` (a null label is negative in every
    class) for k below ``num_class``, or the largest training label + 1.

    With a validation indicator, ``history`` (a list, extended in place)
    receives the validation loss after each kept tree: the weighted mean
    of the estimator's loss that early stopping compares, which is what
    the model's ``evaluateEachIteration`` on the validation rows reports.
    A one-vs-rest fit reports none."""
    from pyspark.ml.classification import GBTClassificationModel, OneVsRest, OneVsRestModel
    from pyspark.ml.linalg import VectorUDT
    from pyspark.ml.regression import GBTRegressionModel
    from pyspark.sql import functions as F

    from dask_xgboost_spark.ml.barrier import run_barrier

    ovr = isinstance(est, OneVsRest)
    base = est.getClassifier() if ovr else est
    if ovr:  # the columns MLlib's OneVsRest hands its classifier
        extra = {base.labelCol: "_ovr_y", base.featuresCol: est.getFeaturesCol()}
        if est.isDefined(est.weightCol) and est.getWeightCol():
            extra[base.weightCol] = est.getWeightCol()
        base = base.copy(extra)
    cfg = {**_config(base), "ovr": ovr, "num_class": num_class}
    get = base.getOrDefault
    if not isinstance(df.schema[get("featuresCol")].dataType, VectorUDT):
        raise ValueError(f"column {get('featuresCol')!r} must hold MLlib vectors")
    weight_col = get("weightCol") if base.isDefined(base.weightCol) else None
    frame = df.select(
        F.col(get("featuresCol")).alias("f"),
        F.col(est.getLabelCol()).cast("double").alias("y"),
        (F.col(weight_col).cast("double") if weight_col else F.lit(1.0)).alias("w"),
        (F.col(get("validationIndicatorCol")).cast("boolean") if cfg["validate"]
         else F.lit(False)).alias("v"),
    )
    coordinator = _Coordinator(cfg)
    forest = run_barrier(frame, lambda batches, link: _rank(batches, link, cfg), coordinator)
    if history is not None and not ovr:
        history.extend(coordinator.history)
    sc = df.sparkSession.sparkContext
    ml = sc._jvm.org.apache.spark.ml
    step = cfg["step_size"]
    models = []
    for trees in forest:
        pruned = [_pruned(nodes, 1, coordinator.thresholds) for nodes in trees]
        jtrees = _java_trees(sc, pruned, coordinator.num_features)
        jweights = _java_doubles(sc._jvm, [1.0] + [step] * (len(trees) - 1))
        if cfg["classification"]:
            model = GBTClassificationModel(ml.classification.GBTClassificationModel(
                base.uid, jtrees, jweights, coordinator.num_features, 2))
        else:
            model = GBTRegressionModel(ml.regression.GBTRegressionModel(
                base.uid, jtrees, jweights, coordinator.num_features))
        base._copyValues(model)
        model._transfer_params_to_java()
        models.append(model)
    # the copied ``classifier`` param is what a OneVsRestModel's writer saves
    return est._copyValues(OneVsRestModel(models)) if ovr else models[0]

"""Distributed gradient-boosted-tree train/predict (SURVEY.md §2F).

Re-expresses the reference's entire ML surface on Spark:

- ``train(params, df, ...)`` mirrors ``dask_xgboost.train``
  (reference core.py:268-321): blocking call, returns a fitted model.
  Every objective trains with ``ml/gbt.py``, the reference's
  architecture in Spark terms: one gang-scheduled barrier job
  (core.py:242-253) whose tasks exchange per-level bin histograms
  through a relay the driver hosts per fit, like the reference's Rabit
  tracker (core.py:39-59). Every objective is one Spark job per fit,
  where MLlib's ``.fit()`` runs one per tree level plus three for
  metadata and split finding; ``multi:*`` grows in that job one model
  per class, the models ``OneVsRest(GBTClassifier)`` fits. The trees, and
  the returned ``GBTClassificationModel`` / ``GBTRegressionModel`` /
  ``OneVsRestModel``, are MLlib's (see ``ml/gbt.py`` for the exact
  semantics). The eval history is the validation loss the trainer
  computes for early stopping, so it costs no extra job.
- The relay replaces ``BarrierTaskContext.allGather``: on Spark 4.1 every
  allGather / ``barrier()`` call costs about 1 s (the driver polls the
  barrier state once a second), which made a per-level exchange slower
  than MLlib. A relay round costs milliseconds.
- Memory: for the length of a fit the Python workers hold their rows'
  binned features (one byte per feature value) with labels, weights and
  running predictions; MLlib held its cached tree points in the JVM.
- ``predict(model, df)`` mirrors ``dask_xgboost.predict``
  (core.py:340-384): lazy, per-partition, model broadcast by Spark
  (replacing closure serialization of the Booster, core.py:367). Local
  input is scored on the driver by MLlib's own code in no Spark job.
- ``XGBRegressor`` / ``XGBClassifier`` mirror the sklearn-style
  estimators (core.py:387-631) including param-name translation,
  class discovery (core.py:561-566, one Spark job with no shuffle) and
  the binary→multiclass objective switch (core.py:580-586; the trees
  are binary, so multiclass is one-vs-rest).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_COL = "features"

# Reference param names (xgboost) → MLlib GBT params. Mirrors the
# translation the reference does at core.py:466 (n_estimators →
# num_boost_round) and the sklearn param plumbing of core.py:387/487.
_PARAM_MAP = {
    "n_estimators": "maxIter",
    "num_boost_round": "maxIter",
    "max_depth": "maxDepth",
    "eta": "stepSize",
    "learning_rate": "stepSize",
    "subsample": "subsamplingRate",
    "random_state": "seed",
    "seed": "seed",
}


def translate_params(params: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in params.items():
        if k in _PARAM_MAP:
            out[_PARAM_MAP[k]] = v
    return out


def assemble_features(df: DataFrame, feature_col: str = "embedding") -> DataFrame:
    """Feature column → MLlib vector ``features`` column, dispatching on
    the input type the way the reference's ``concat`` dispatches on
    partition container (core.py:67-80: ndarray / DataFrame / csr_matrix
    / pydata sparse all accepted):

    - ``array<numeric>`` → dense vector (``array_to_vector``, JVM-side).
    - MLlib ``VectorUDT`` (dense OR sparse) → passed through unchanged.
    - ``struct<size:int, indices:array<int>, values:array<double>>`` —
      the row-wise encoding of a ``scipy.sparse.csr_matrix``
      (reference test_core.py:415-441 ``test_scipy_sparse``/``test_sparse``)
      → ``SparseVector`` per row, O(nnz), never densified.

    Replaces the reference's partition-triad alignment (core.py:182-231):
    in a single DataFrame, features/label/weight travel on the same row,
    so co-location is free.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import ArrayType, StructType

    dtype = df.schema[feature_col].dataType
    if isinstance(dtype, VectorUDT):
        if feature_col == FEATURES_COL:
            return df
        return df.withColumn(FEATURES_COL, F.col(feature_col))
    if isinstance(dtype, StructType):
        names = {f.name for f in dtype.fields}
        if not {"size", "indices", "values"} <= names:
            raise ValueError(
                f"sparse feature struct must have size/indices/values "
                f"fields, got {sorted(names)}"
            )
        return df.withColumn(
            FEATURES_COL,
            _make_sparse_vector(
                F.col(f"{feature_col}.size"),
                F.col(f"{feature_col}.indices"),
                F.col(f"{feature_col}.values"),
            ),
        )
    if isinstance(dtype, ArrayType):
        return df.withColumn(
            FEATURES_COL,
            array_to_vector(F.col(feature_col).cast("array<double>")),
        )
    raise ValueError(
        f"unsupported feature column type for {feature_col!r}: {dtype}"
    )


def _sparse_vector_udf():
    """(size, indices, values) → SparseVector. A Python UDF is the only
    construction path for the VectorUDT user-defined type — pandas_udf
    cannot return UDTs (verified on this Spark build: the worker rejects
    VectorUDT as a pandas_udf return type) — but ``useArrow=True`` moves
    the data transfer onto Arrow record batches, so only the per-row
    SparseVector construction stays in Python while serialization is
    columnar (ArrowEvalPython, not pickled-row BatchEvalPython).
    O(nnz) per row and, critically, the vector stays SPARSE end-to-end:
    a 1e6-dim one-hot row costs its nnz, not 8 MB of dense doubles.
    MLlib's tree learners consume SparseVector natively downstream."""
    from pyspark.ml.linalg import SparseVector, VectorUDT

    return F.udf(
        lambda s, i, v: SparseVector(s, i or [], v or []),
        VectorUDT(),
        useArrow=True,
    )


def _make_sparse_vector(size_col, indices_col, values_col):
    return _sparse_vector_udf()(size_col, indices_col, values_col)


def sparse_features(
    df: DataFrame,
    size_col: str = "size",
    indices_col: str = "indices",
    values_col: str = "values",
) -> DataFrame:
    """Three flat columns (CSR row decomposition) → ``features``
    SparseVector column. The distributed mirror of handing the reference
    a ``scipy.sparse.csr_matrix`` (test_core.py:415-441)."""
    return df.withColumn(
        FEATURES_COL,
        _make_sparse_vector(
            F.col(size_col).cast("int"),
            F.col(indices_col).cast("array<int>"),
            F.col(values_col).cast("array<double>"),
        ),
    )


def compute_impute_means(
    df: DataFrame, missing: float, features_col: str = FEATURES_COL
) -> list[float]:
    """Per-dimension means of the non-sentinel values — ONE distributed
    aggregate (posexplode → groupBy(pos)); only the dim-sized mean table
    is collected. Every dimension keeps its row, so the dimension is its
    largest ``pos`` + 1, and one whose values are all sentinel averages
    nothing and gets 0.0. An empty frame gives ``[]``. Computed on the
    TRAINING frame and reused everywhere (eval frames, predict) so there
    is no train/serve skew."""
    from pyspark.ml.functions import vector_to_array

    v = F.col("v")
    means_rows = (
        df.select(F.posexplode(vector_to_array(F.col(features_col))).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.when(v != missing, v)).alias("m"))
        .collect()  # bounded: one row per feature dimension
    )
    means = {r["pos"]: r["m"] for r in means_rows}
    dim = max(means, default=-1) + 1
    return [0.0 if means.get(i) is None else float(means[i]) for i in range(dim)]


def apply_impute(
    df: DataFrame,
    missing: float,
    means: list[float],
    features_col: str = FEATURES_COL,
) -> DataFrame:
    """Replace sentinel feature slots with the given per-dimension means
    (pure column algebra, no shuffle)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    arr = vector_to_array(F.col(features_col))
    mean_arr = F.array(*[F.lit(m) for m in means])
    fixed = F.zip_with(
        arr, mean_arr, lambda x, m: F.when(x == missing, m).otherwise(x)
    )
    return df.withColumn(features_col, array_to_vector(fixed))


def replace_missing(
    df: DataFrame, missing: float, features_col: str = FEATURES_COL
) -> DataFrame:
    """Train-time missing-value sentinel (reference
    ``dmatrix_kwargs['missing']``, core.py:300/test_core.py:366-382):
    feature slots equal to ``missing`` are replaced by the per-dimension
    mean of the non-missing values (computed on ``df`` itself — inside
    ``train`` the means come from the training frame only, via
    ``compute_impute_means`` + ``apply_impute``).

    Documented divergence: xgboost routes missing values through tree
    default directions; MLlib GBT has no missing-value routing, so the
    Spark-idiomatic equivalent is mean imputation (the same strategy as
    MLlib's ``Imputer``, applied inside the assembled vector).
    """
    return apply_impute(
        df, missing, compute_impute_means(df, missing, features_col), features_col
    )


def train(
    params: dict[str, Any],
    df: DataFrame,
    label_col: str = "label",
    features_col: str = FEATURES_COL,
    sample_weight_col: str | None = None,
    eval_df: DataFrame | None = None,
    evals_result: dict | None = None,
    sample_weight_eval_set: list[str] | None = None,
    eval_metric: Any = None,
    missing: float | None = None,
    **kwargs: Any,
):
    """Blocking distributed GBT training (reference train, core.py:268-321).

    ``params['objective']`` picks the task exactly like xgboost params, and
    every task trains with one ``gbt.fit``, one barrier job:

    - ``reg:*`` → a ``GBTRegressionModel``;
    - ``binary:*`` → a ``GBTClassificationModel``; a label other than 0/1
      raises ValueError;
    - ``multi:*`` → a ``OneVsRestModel`` whose model k was fitted on the
      indicator ``label == k``, for k below ``params['num_class']``, or
      below the largest training label + 1 when it is not given. These
      are the models MLlib's ``OneVsRest(GBTClassifier)`` fits.

    eval_df: validation frame (reference eval_set, core.py:138-151) —
    its rows ride with the training rows under a validation indicator
    (MLlib's validationIndicatorCol): they grow no tree and stop boosting
    early (MLlib's validationTol). For ``multi:*`` each class stops on
    its own.

    evals_result: dict filled in place with the validation loss after
    each kept tree (reference evals_result/history, core.py:120,259-260),
    under the reference's ``validation_0`` key (core.py:148). It is the
    loss early stopping compares — LogLoss for classification, the
    regressor's lossType (squared error by default) for regression — as
    a weighted mean over the validation rows, so without eval weights it
    equals the model's ``evaluateEachIteration(eval_df)``. A ``multi:*``
    fit has one history per class and reports none.

    sample_weight_eval_set: weight-column names zipped against the eval
    frames (reference core.py:138-151; zip truncation semantics per
    test_core.py:166-170 — extra entries are ignored, an empty list means
    unweighted). This engine takes one eval frame, so the first entry
    names the weight column in ``eval_df``; it weights both early
    stopping and the reported history. Without it validation rows weigh
    1.0, whatever ``sample_weight_col`` says.

    eval_metric: a *callable* metric is accepted and dropped with a
    warning, exactly like the reference (core.py:454-458: custom
    callables can't cross the distributed boundary).

    missing: train-time sentinel (reference dmatrix_kwargs['missing'],
    test_core.py:366-382) — sentinel feature slots are mean-imputed via
    ``replace_missing`` before fitting (see its docstring for the
    documented divergence from xgboost's tree-routing semantics).
    """
    import warnings

    from pyspark.ml.classification import GBTClassifier, OneVsRest
    from pyspark.ml.regression import GBTRegressor

    from dask_xgboost_spark.ml import gbt

    params = dict(params)
    if eval_metric is None:
        eval_metric = params.pop("eval_metric", None)
    else:
        params.pop("eval_metric", None)
    if callable(eval_metric):
        warnings.warn(
            "callable eval_metric is not supported across the distributed "
            "boundary and is ignored (reference behavior, core.py:454-458)",
            UserWarning,
            stacklevel=2,
        )
        eval_metric = None
    if missing is None:
        missing = params.pop("missing", None)
    else:
        params.pop("missing", None)

    objective = params.get("objective", "reg:squarederror")
    if not objective.startswith(("reg", "binary", "multi")):
        raise ValueError(f"unsupported objective: {objective}")
    mlp = translate_params({**params, **kwargs})
    mlp.setdefault("seed", 42)
    common = dict(featuresCol=features_col, labelCol=label_col, **mlp)
    weight_col = sample_weight_col

    impute_means: list[float] | None = None
    if missing is not None:
        # Means come from the TRAINING frame only and are reused for the
        # eval frame and (via attributes stamped on the returned model)
        # at predict time — same statistics at train and serve, exactly
        # like xgboost's missing routing applying to both.
        impute_means = compute_impute_means(df, missing, features_col)
        df = apply_impute(df, missing, impute_means, features_col)
        if eval_df is not None:
            eval_df = apply_impute(eval_df, missing, impute_means, features_col)

    fit_df = df
    if eval_df is not None:
        # Distributed eval sets are first-class here (the reference must
        # reject them, core.py:154-161, because its eval sets ride inside
        # the per-worker closure; a Spark indicator column needs no such
        # restriction).
        train_part = df.withColumn("_is_val", F.lit(False))
        val_part = eval_df.withColumn("_is_val", F.lit(True))
        # zip-truncate: first weight spec pairs with the single eval frame
        eval_weight_col = sample_weight_eval_set[0] if sample_weight_eval_set else None
        if sample_weight_col or eval_weight_col:
            # one weight column across the union: each side keeps its own
            # weights, or 1.0 (reference core.py:138-151)
            def weights(col):
                return (F.col(col) if col else F.lit(1.0)).cast("double")

            train_part = train_part.withColumn("_w", weights(sample_weight_col))
            val_part = val_part.withColumn("_w", weights(eval_weight_col))
            weight_col = "_w"
        fit_df = train_part.unionByName(val_part, allowMissingColumns=True)
        common["validationIndicatorCol"] = "_is_val"
    if weight_col is not None:
        common["weightCol"] = weight_col

    est = (GBTRegressor if objective.startswith("reg") else GBTClassifier)(**common)
    if objective.startswith("multi"):
        est = OneVsRest(classifier=est, featuresCol=features_col, labelCol=label_col)
        if weight_col is not None:
            est.setWeightCol(weight_col)
    history: list[float] = []
    model = gbt.fit(est, fit_df, history, params.get("num_class"))
    if impute_means is not None:
        # stamp the imputation contract on the model so predict()/
        # predict_proba() apply the SAME training-frame means
        model._impute_missing = missing
        model._impute_means = impute_means
    if evals_result is not None and history:
        evals_result["validation_0"] = {"loss": history}
    return model


def _local_features_frame(data, num_features: int) -> DataFrame | None:
    """Local numpy array / pandas frame / list of rows / scipy CSR matrix
    → a driver-local Spark frame with one ``features`` vector column, in
    input order, or None for an empty batch. The width is checked against
    the model's ``num_features`` before any Spark call.

    Dense input becomes one Arrow fixed-size-list column: Spark turns an
    Arrow table into a ``LocalRelation`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. CSR input becomes
    ``SparseVector`` rows, never densified (reference accepts csr_matrix
    blocks, core.py:67-70 / test_core.py:415-441)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql import SparkSession
    from pyspark.sql.types import StructField, StructType

    try:
        import scipy.sparse as ss
    except ImportError:  # same guard as the reference (core.py:23-26)
        ss = None
    sparse = ss is not None and ss.issparse(data)
    data = data.tocsr() if sparse else np.asarray(data, dtype="float64")
    if data.ndim != 2:
        raise ValueError(f"expected 2-D feature data, got shape {data.shape}")
    n, dim = data.shape
    if dim != num_features:
        raise ValueError(
            f"local input has {dim} features, the model expects {num_features}"
        )
    if n == 0:
        return None
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("local-data predict needs an active SparkSession")
    if sparse:
        ptr = data.indptr
        rows = [SparseVector(dim, data.indices[a:b], data.data[a:b])
                for a, b in zip(ptr[:-1], ptr[1:])]
        return spark.createDataFrame(
            pd.DataFrame({FEATURES_COL: rows}),
            StructType([StructField(FEATURES_COL, VectorUDT())]),
        )
    arr = pa.FixedSizeListArray.from_arrays(data.ravel(), dim)
    return spark.createDataFrame(pa.table({"_arr": arr})).select(
        array_to_vector("_arr").alias(FEATURES_COL)
    )


def _maybe_impute(model, df: DataFrame) -> DataFrame:
    """Apply the training-time missing-sentinel imputation (training-frame
    means stamped on the model by ``train``) at serve time — without this,
    sentinel-bearing inference rows would flow raw into the trees while
    training rows were imputed (train/serve skew)."""
    missing = getattr(model, "_impute_missing", None)
    if missing is None:
        return df
    return apply_impute(df, missing, model._impute_means)


def _proba(model, df: DataFrame):
    """(frame, class-probability column) for an imputed ``df``: MLlib's
    ``probability`` vector for a binary model, the renormalized per-class
    probabilities of ``_ovr_proba_frame`` for a ``OneVsRestModel``."""
    from pyspark.ml.functions import vector_to_array

    if hasattr(model, "models"):
        return _ovr_proba_frame(model, df), F.col("_ovr_proba")
    return model.transform(df), vector_to_array("probability")


def _predict_local(model, data, proba: bool = False):
    """Local batch → predictions ``(n,)`` or class probabilities
    ``(n, k)`` as numpy, with no Spark job (reference core.py:378-382:
    local in → local out). The optimizer folds MLlib's transform into the
    lifted ``LocalRelation`` (``ConvertToLocalRelation``), so MLlib's own
    code scores the rows on the driver, and ``collect`` of the resulting
    local table scan returns them in input order without running a job.
    k is 2, or the number of OvR models."""
    import numpy as np

    ovr = hasattr(model, "models")
    sdf = _local_features_frame(data, (model.models[0] if ovr else model).numFeatures)
    rows = []
    if sdf is not None:
        sdf = _maybe_impute(model, sdf)
        out, col = _proba(model, sdf) if proba else (model.transform(sdf), F.col("prediction"))
        rows = out.select(col).collect()  # bounded: the input was a local array
    k = len(model.models) if ovr else 2
    return np.array([r[0] for r in rows], dtype="float64").reshape((-1, k) if proba else -1)


def predict(model, data, features_col: str = FEATURES_COL):
    """Distributed inference (reference predict, core.py:340-384):
    ``model.transform`` adds prediction/probability columns; nothing runs
    until an action — same laziness the reference documents (P7).

    Like the reference (core.py:378-382), non-distributed input is also
    accepted: a numpy 2-D array / pandas frame / list of feature rows /
    scipy CSR matrix is scored on the driver and the predictions come back
    as a local numpy array (local in → local out, ``_predict_local``).

    If the model was trained with a ``missing`` sentinel, the same
    training-frame means are applied here (see ``_maybe_impute``).
    """
    if not isinstance(data, DataFrame):
        return _predict_local(model, data)
    if features_col != FEATURES_COL:
        data = data.withColumnRenamed(features_col, FEATURES_COL)
    return model.transform(_maybe_impute(model, data))


class _XGBModel:
    """The sklearn-style facade both estimators share (reference
    core.py:387-631); a subclass names its default ``_objective``."""

    _objective: str

    def __init__(
        self,
        n_estimators: int = 100,
        max_depth: int = 3,
        learning_rate: float = 0.1,
        random_state: int = 42,
        **kwargs: Any,
    ):
        self.params = {
            "objective": self._objective,
            "n_estimators": n_estimators,
            "max_depth": max_depth,
            "learning_rate": learning_rate,
            "random_state": random_state,
            **kwargs,
        }
        self.model_ = None

    def _fit(self, params, df, label_col, sample_weight_col, eval_df, sample_weight_eval_set):
        """``train`` and, after a fit with an eval set, the reference's
        early-stopping attributes (core.py:477-479): ``best_iteration`` is
        the argmin of the validation loss in ``evals_result_`` and
        ``best_ntree_limit`` is xgboost's best_iteration + 1. Early stopping
        keeps the trees up to the best loss and the history covers exactly
        those, so ``best_ntree_limit`` is the model's tree count."""
        self.evals_result_: dict = {}
        self.model_ = train(
            params, df, label_col=label_col, sample_weight_col=sample_weight_col,
            eval_df=eval_df, sample_weight_eval_set=sample_weight_eval_set,
            evals_result=self.evals_result_,
        )
        history = self.evals_result_.get("validation_0", {}).get("loss", [])
        if eval_df is not None and history:
            self.best_score = min(history)
            self.best_iteration = history.index(self.best_score)
            self.best_ntree_limit = self.best_iteration + 1
        return self

    def predict(self, df):
        """Predictions; for a classifier the hard labels (reference
        core.py:617-624: argmax / 0.5 threshold — both already inside
        MLlib's ``prediction`` column). Local input returns a local numpy
        array (reference core.py:378-382)."""
        if not isinstance(df, DataFrame):
            return predict(self.model_, df)
        return predict(self.model_, df).select(*df.columns, "prediction")

    @property
    def feature_importances_(self):
        """Per-feature importances as a numpy array (reference asserts
        this attribute, test_core.py:57): MLlib's impurity-based
        ``featureImportances``; multiclass (OneVsRest) → mean of the
        per-class binary models' importances."""
        import numpy as np

        model = self.model_
        if model is None:
            raise AttributeError("model is not fitted")
        if hasattr(model, "models"):
            return np.mean([m.featureImportances.toArray() for m in model.models], axis=0)
        return np.asarray(model.featureImportances.toArray())


class XGBRegressor(_XGBModel):
    """sklearn-style facade (reference core.py:387-484)."""

    _objective = "reg:squarederror"

    def fit(
        self,
        df: DataFrame,
        label_col: str = "label",
        sample_weight_col: str | None = None,
        eval_df: DataFrame | None = None,
        sample_weight_eval_set: list[str] | None = None,
    ):
        return self._fit(
            self.params, df, label_col, sample_weight_col, eval_df, sample_weight_eval_set
        )


class XGBClassifier(_XGBModel):
    """sklearn-style facade (reference core.py:487-631).

    Class discovery runs ``distinct_labels`` (reference core.py:561-566:
    da.unique + compute), one Spark job, skipped when ``classes`` is
    given; n_classes > 2 switches the objective binary:logistic →
    multi:softprob (core.py:580-586).
    """

    _objective = "binary:logistic"
    classes_: list[int] | None = None

    def fit(
        self,
        df: DataFrame,
        label_col: str = "label",
        classes: list[int] | None = None,
        sample_weight_col: str | None = None,
        eval_df: DataFrame | None = None,
        sample_weight_eval_set: list[str] | None = None,
    ):
        if classes is None:
            # the reference's eager distributed unique (core.py:566), in
            # one job with no shuffle
            classes = distinct_labels(df, label_col)
        self.classes_ = classes
        params = dict(self.params)
        if len(classes) > 2 and params["objective"].startswith("binary"):
            params["objective"] = "multi:softprob"
            # OneVsRest's class count, max label + 1: len(classes) for the
            # reference's labels 0 .. n-1
            params["num_class"] = int(max(classes)) + 1
        # mirrors the reference stamping the resolved objective/num_class
        # on the trained model (core.py:262-264, 580-586)
        self.objective_ = params["objective"]
        self.n_classes_ = len(classes)
        return self._fit(
            params, df, label_col, sample_weight_col, eval_df, sample_weight_eval_set
        )

    def predict_proba(self, df):
        """Probabilities as array<double> (reference core.py:626-631).
        Binary → MLlib's calibrated ``probability`` vector; multiclass →
        sum-normalized per-class OvR probabilities (sklearn's
        OneVsRestClassifier convention — each binary model's P(class|x),
        renormalized to 1; argmax agrees with ``predict`` because the
        per-model probability is the same monotone transform of the raw
        margin OvR itself argmaxes over). Local input returns an (n, k)
        numpy array, k = 2 or the number of OvR models."""
        if not isinstance(df, DataFrame):
            return _predict_local(self.model_, df, proba=True)
        out, proba = _proba(self.model_, _maybe_impute(self.model_, df))
        return out.select(*df.columns, proba.alias("proba"))


def distinct_labels(df: DataFrame, label_col: str) -> list[float]:
    """Sorted distinct non-null values of ``label_col`` in one Spark job
    with no shuffle and no Python worker: each task's distinct labels
    reach the driver as an observed ``collect_set`` metric of a write to
    the no-op sink."""
    from pyspark.sql import Observation

    obs = Observation()
    labels = df.select(F.col(label_col).cast("double").alias("y"))
    labels.observe(obs, F.collect_set("y").alias("labels")).write.format("noop").mode(
        "overwrite"
    ).save()
    # bounded: one value per distinct label
    return sorted(obs.get["labels"])


def _ovr_proba_frame(model, df: DataFrame) -> DataFrame:
    """OneVsRestModel probabilities: run each per-class binary model's
    transform (k distributed passes, k = n_classes), take its P(positive),
    and renormalize across classes into one ``_ovr_proba`` array<double>
    column. All column work stays JVM-side."""
    from pyspark.ml.functions import vector_to_array

    out = df
    cols = []
    for i, sub in enumerate(model.models):
        sub = sub.copy()
        sub.setPredictionCol(f"_ovr_pred_{i}")
        sub.setRawPredictionCol(f"_ovr_raw_{i}")
        sub.setProbabilityCol(f"_ovr_p_{i}")
        out = sub.transform(out)
        cols.append(F.element_at(vector_to_array(f"_ovr_p_{i}"), 2))
    total = sum(cols[1:], cols[0])
    arr = F.array(*[c / total for c in cols])
    drop = [c for c in out.columns if c.startswith(("_ovr_pred_", "_ovr_raw_", "_ovr_p_"))]
    return out.withColumn("_ovr_proba", arr).drop(*drop)

"""ML layer tests — transplants of the reference's test strategy
(SURVEY.md §5: dask_xgboost/tests/test_core.py patterns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_xgboost_spark.ml.core import (
    XGBClassifier,
    XGBRegressor,
    assemble_features,
    predict,
    train,
    translate_params,
)

PARAMS = dict(n_estimators=8, max_depth=3, learning_rate=0.5, random_state=42)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from dask_xgboost_spark.sources import load

    df = assemble_features(load(spark, sf_dir, "embeddings"))
    df = df.withColumn("y", (F.col("label") < 5).cast("double")).cache()
    df.count()
    return df


def test_param_translation():
    # reference core.py:466: n_estimators → boosting rounds
    out = translate_params({"n_estimators": 7, "eta": 0.3, "max_depth": 4, "unknown_param": 1})
    assert out == {"maxIter": 7, "stepSize": 0.3, "maxDepth": 4}


def test_classifier_accuracy_and_determinism(spark, emb):
    # pattern: test_classifier (test_core.py:42-58) — distributed training
    # reaches sane accuracy; "we can do this twice" (test_core.py:348).
    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    preds = clf.predict(emb).select("vec_id", "prediction").toPandas()
    truth = emb.select("vec_id", "y").toPandas()
    j = preds.merge(truth, on="vec_id")
    acc = (j["prediction"] == j["y"]).mean()
    assert acc >= 0.8, f"train accuracy {acc}"

    clf2 = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    preds2 = clf2.predict(emb).select("vec_id", "prediction").toPandas()
    assert preds.sort_values("vec_id").reset_index(drop=True).equals(
        preds2.sort_values("vec_id").reset_index(drop=True)
    ), "same seed must give identical models"


def test_classifier_predict_proba_consistency(spark, emb):
    # pattern: test_predict_proba (test_core.py:478-505): argmax(proba)
    # agrees with predict; binary threshold at 0.5 (core.py:623).
    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    out = clf.predict_proba(emb).join(
        clf.predict(emb).select("vec_id", "prediction"), "vec_id"
    )
    bad = out.filter(
        (F.element_at("proba", 2) > 0.5) != (F.col("prediction") == 1.0)
    ).count()
    assert bad == 0


def test_classes_discovery_and_multiclass(spark, emb):
    # reference core.py:561-566 (distributed unique) + 580-586 (objective
    # switch); shape assert pattern of test_classifier_multi (:233-265).
    df = emb.withColumn("ym", F.col("label").cast("double"))
    clf = XGBClassifier(n_estimators=3, max_depth=2).fit(df, label_col="ym")
    assert clf.classes_ == [float(i) for i in range(10)]
    assert clf.objective_ == "multi:softprob"
    assert clf.n_classes_ == 10
    preds = clf.predict(df).select("prediction").distinct().toPandas()
    assert set(preds["prediction"]) <= set(float(i) for i in range(10))


def test_regressor_rmse_and_determinism(spark, emb):
    # pattern: test_regressor (test_core.py:268-279)
    df = emb.withColumn("target", F.element_at("embedding", 1).cast("double"))
    reg = XGBRegressor(**PARAMS).fit(df, label_col="target")
    out = reg.predict(df).withColumn("err", F.col("prediction") - F.col("target"))
    rmse = out.agg(F.sqrt(F.avg(F.col("err") * F.col("err")))).collect()[0][0]
    std = df.agg(F.stddev("target")).collect()[0][0]
    assert rmse < std, f"rmse {rmse} should beat the target stddev {std}"


def test_sample_weight_changes_model(spark, emb):
    # pattern: test_validation_weights_* (test_core.py:173-337): weighting
    # must change predictions.
    df = emb.withColumn("w", (1 + F.col("vec_id") % 2 * 10).cast("double"))
    base = XGBClassifier(**PARAMS).fit(df, label_col="y")
    weighted = XGBClassifier(**PARAMS).fit(df, label_col="y", sample_weight_col="w")
    a = base.predict_proba(df).select("vec_id", F.element_at("proba", 2).alias("p"))
    b = weighted.predict_proba(df).select(
        "vec_id", F.element_at("proba", 2).alias("p2")
    )
    diff = (
        a.join(b, "vec_id")
        .agg(F.sum(F.abs(F.col("p") - F.col("p2"))).alias("d"))
        .collect()[0]["d"]
    )
    assert diff > 0, "weights must affect the model"


def test_eval_set_validation(spark, emb):
    # pattern: _package_evals / evals_result (core.py:138-151, 259-260):
    # validation frame is accepted and training still converges.
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    clf = XGBClassifier(**PARAMS).fit(tr, label_col="y", eval_df=va)
    # the validation-indicator path must produce a model that still fits
    # the training data (the fixture embeddings generalize weakly, so the
    # assertable bar is train-set fit + val predictions materializing)
    jt = clf.predict(tr)  # carries tr's columns incl. y, plus prediction
    acc_tr = jt.filter(F.col("prediction") == F.col("y")).count() / jt.count()
    assert acc_tr >= 0.7
    assert clf.predict(va).count() == va.count()


def test_train_predict_functional_api(spark, emb):
    # the non-estimator API (reference train/predict, core.py:268/340)
    model = train(
        {"objective": "binary:logistic", **PARAMS}, emb, label_col="y"
    )
    out = predict(model, emb)
    assert "prediction" in out.columns
    assert out.count() == emb.count()


def test_bad_objective_raises(spark, emb):
    with pytest.raises(ValueError, match="unsupported objective"):
        train({"objective": "rank:pairwise"}, emb, label_col="y")


def test_evals_result_history(spark, emb):
    # reference evals_result/history (core.py:120,259-260; pattern
    # test_core.py:508-533): per-iteration validation loss is recorded
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    import numpy as np

    history: dict = {}
    model = train(
        {"objective": "binary:logistic", **PARAMS},
        tr,
        label_col="y",
        eval_df=va,
        evals_result=history,
    )
    losses = history["validation_0"]["loss"]
    # validationIndicatorCol implies early stopping (validationTol), so
    # the history covers the trees actually built, ≤ n_estimators —
    # matching the reference where best_ntree_limit ≤ num_boost_round
    assert 1 <= len(losses) <= PARAMS["n_estimators"]
    assert all(isinstance(v, float) for v in losses)
    # it is the trainer's own validation loss, one value per kept tree,
    # and what MLlib reports for the same model and rows
    assert len(losses) == model.getNumTrees
    np.testing.assert_allclose(losses, model.evaluateEachIteration(va), rtol=1e-12, atol=0)


def test_input_type_matrix(spark, sf_dir):
    # reference §1.2 type grid (numpy/pandas/scipy-sparse partitions,
    # test_core.py:400-441): dense arrays, pandas-constructed frames, and
    # SparseVector features all train.
    import numpy as np
    import pandas as pd
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import DoubleType, StructField, StructType

    rng = np.random.RandomState(42)
    X = rng.rand(120, 6)
    y = (X[:, 0] > 0.5).astype(float)

    # pandas → Spark (reference: dd.from_pandas, test_core.py:345)
    pdf = pd.DataFrame({"f" + str(j): X[:, j] for j in range(6)})
    pdf["y"] = y
    dense = spark.createDataFrame(pdf).repartition(4)
    dense = dense.withColumn(
        "features_arr", F.array(*[F.col(f"f{j}") for j in range(6)])
    )
    from dask_xgboost_spark.ml.core import assemble_features

    dense = assemble_features(dense, feature_col="features_arr")
    m1 = train({"objective": "binary:logistic", "n_estimators": 4}, dense, label_col="y")
    assert m1.transform(dense).count() == 120

    # scipy-CSR analogue: SparseVector column (reference test_core.py:415)
    rows = [
        (Vectors.sparse(6, [(j, float(v)) for j, v in enumerate(X[i]) if v > 0.6]),
         float(y[i]))
        for i in range(120)
    ]
    sparse = spark.createDataFrame(
        rows, StructType([StructField("features", VectorUDT()), StructField("y", DoubleType())])
    )
    m2 = train({"objective": "binary:logistic", "n_estimators": 4}, sparse, label_col="y")
    assert m2.transform(sparse).count() == 120


def test_feature_importances(spark, emb):
    # reference test_core.py:57: the fitted classifier exposes
    # feature_importances_; nonneg, feature-dim length, sums to ~1
    import numpy as np

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    imp = clf.feature_importances_
    dim = len(emb.select("embedding").first()["embedding"])
    assert imp.shape == (dim,)
    assert (imp >= 0).all() and imp.sum() > 0

    reg = XGBRegressor(**PARAMS).fit(
        emb.withColumn("t", F.element_at("embedding", 1).cast("double")),
        label_col="t",
    )
    assert reg.feature_importances_.shape == (dim,)


def test_local_data_predict_matches_distributed(spark, emb):
    # reference core.py:378-382: predict accepts non-distributed input;
    # local in → local numpy out, equal to the distributed path
    import numpy as np

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    sample = emb.orderBy("vec_id").limit(20).toPandas()
    local_X = np.array(sample["embedding"].tolist(), dtype="float64")

    got = clf.predict(local_X)
    assert isinstance(got, np.ndarray) and got.shape == (20,)
    want = (
        clf.predict(emb.orderBy("vec_id").limit(20))
        .orderBy("vec_id")
        .toPandas()["prediction"]
        .to_numpy()
    )
    assert (got == want).all()

    proba = clf.predict_proba(local_X)
    assert proba.shape == (20, 2)
    assert np.allclose(proba.sum(axis=1), 1.0)
    assert ((proba[:, 1] > 0.5) == (got == 1.0)).all()

    # every row's probabilities equal the distributed path's for its id,
    # bit for bit, with the lifted request spread over several Arrow
    # batches, so a row-order slip between batches would show
    rows = emb.orderBy("vec_id").toPandas()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        proba = clf.predict_proba(np.array(rows["embedding"].tolist(), dtype="float64"))
    finally:
        spark.conf.set(key, before)
    dist = clf.predict_proba(emb).select("vec_id", "proba").orderBy("vec_id").toPandas()
    assert (dist["vec_id"] == rows["vec_id"]).all() and len(rows) > 64 * 3
    assert np.array_equal(proba, np.array(dist["proba"].tolist(), dtype="float64"))


def test_weighted_eval_history_differs(spark, emb):
    # reference core.py:138-151 + test_core.py:166-170: eval-set weights
    # flow into the reported validation history (zip-truncation: extra
    # weight specs are ignored)
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vw", (1 + (F.col("vec_id") % 3) * 9).cast("double")
    )
    plain: dict = {}
    train({"objective": "binary:logistic", **PARAMS}, tr, label_col="y",
          eval_df=va, evals_result=plain)
    weighted: dict = {}
    train({"objective": "binary:logistic", **PARAMS}, tr, label_col="y",
          eval_df=va, evals_result=weighted,
          sample_weight_eval_set=["vw", "ignored_extra_entry"])
    h0 = plain["validation_0"]["loss"]
    h1 = weighted["validation_0"]["loss"]
    assert h0 and h1
    # the weighted validation signal changes the history — values and/or
    # the early-stopping point (validationIndicatorCol stops on the
    # weighted signal)
    assert h0 != h1, "eval-set weights must change the reported history"


def test_callable_eval_metric_accepted_and_dropped(spark, emb):
    # reference core.py:454-458: callable metrics are accepted with a
    # warning and dropped (they cannot cross the distributed boundary)
    with pytest.warns(UserWarning, match="callable eval_metric"):
        model = train(
            {"objective": "binary:logistic", **PARAMS},
            emb,
            label_col="y",
            eval_metric=lambda y, p: 0.0,
        )
    assert predict(model, emb).count() == emb.count()


def test_missing_sentinel_at_train(spark, emb):
    # reference dmatrix_kwargs['missing'] (test_core.py:366-382): the
    # sentinel changes training. Poison one feature slot with -999 on
    # every 3rd row: trained WITH missing=-999 (mean-imputed) must differ
    # from trained without, and imputation must erase the sentinel.
    import numpy as np

    from dask_xgboost_spark.ml.core import replace_missing
    from pyspark.ml.functions import vector_to_array

    poisoned = assemble_features(
        emb.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    (i == 0) & (F.col("vec_id") % 3 == 0), F.lit(-999.0)
                ).otherwise(x.cast("double")),
            ),
        )
    )
    fixed = replace_missing(poisoned, -999.0)
    mn = (
        fixed.select(F.array_min(vector_to_array("features")).alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    assert mn > -999.0, "sentinel slots must be imputed away"

    naive = train({"objective": "binary:logistic", **PARAMS}, poisoned, label_col="y")
    aware = train(
        {"objective": "binary:logistic", **PARAMS},
        poisoned,
        label_col="y",
        missing=-999.0,
    )
    a = predict(naive, poisoned).select("vec_id", "prediction").toPandas()
    b = predict(aware, poisoned).select("vec_id", "prediction").toPandas()
    assert not a.merge(b, on="vec_id").query("prediction_x != prediction_y").empty


def test_missing_sentinel_no_train_serve_skew(spark, emb):
    # The training-frame means must be stamped on the model and applied at
    # predict time: predicting on sentinel-bearing data through predict()
    # must equal a raw transform over the explicitly pre-imputed frame
    # (same means), NOT a raw transform over the un-imputed frame.
    from dask_xgboost_spark.ml.core import apply_impute

    poisoned = assemble_features(
        emb.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    (i == 0) & (F.col("vec_id") % 3 == 0), F.lit(-999.0)
                ).otherwise(x.cast("double")),
            ),
        )
    )
    model = train(
        {"objective": "binary:logistic", **PARAMS},
        poisoned,
        label_col="y",
        missing=-999.0,
    )
    assert model._impute_missing == -999.0
    assert isinstance(model._impute_means, list) and len(model._impute_means) > 0

    via_predict = predict(model, poisoned).select("vec_id", "prediction").toPandas()
    pre_imputed = apply_impute(poisoned, -999.0, model._impute_means)
    expected = model.transform(pre_imputed).select("vec_id", "prediction").toPandas()
    m = via_predict.merge(expected, on="vec_id")
    assert m.query("prediction_x != prediction_y").empty, (
        "predict() must impute with the training means"
    )
    # and the serve-side imputation actually fires: the features reaching
    # the trees through _maybe_impute contain no sentinel
    from dask_xgboost_spark.ml.core import _maybe_impute
    from pyspark.ml.functions import vector_to_array

    mn = (
        _maybe_impute(model, poisoned)
        .select(F.array_min(vector_to_array("features")).alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    assert mn > -999.0, "sentinel must be gone at serve time"


def test_multiclass_predict_proba_ovr(spark, emb):
    # reference core.py:626-631 returns softprob for multiclass; the OvR
    # equivalent is sum-normalized per-class probabilities whose argmax
    # agrees with predict()
    import numpy as np

    df = emb.withColumn("ym", F.col("label").cast("double"))
    clf = XGBClassifier(n_estimators=3, max_depth=2).fit(df, label_col="ym")
    out = (
        clf.predict_proba(df)
        .join(clf.predict(df).select("vec_id", "prediction"), "vec_id")
        .select("vec_id", "proba", "prediction")
        .toPandas()
    )
    proba = np.array(out["proba"].tolist())
    assert proba.shape[1] == 10
    assert np.allclose(proba.sum(axis=1), 1.0)
    assert (proba.argmax(axis=1) == out["prediction"].to_numpy()).all()


def test_model_save_load_roundtrip(spark, emb, tmp_path):
    # model persistence (MLlib native writer — the engine's equivalent of
    # pickling a Booster): reloaded model must predict identically
    from pyspark.ml.classification import GBTClassificationModel

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    path = str(tmp_path / "gbt_model")
    clf.model_.write().overwrite().save(path)
    loaded = GBTClassificationModel.load(path)

    a = clf.predict(emb).select("vec_id", "prediction").toPandas().sort_values("vec_id")
    b = (
        predict(loaded, emb)
        .select("vec_id", "prediction")
        .toPandas()
        .sort_values("vec_id")
    )
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_cross_validator_deterministic(spark, emb):
    # M-TRAIN-07: same seed → same fold split → same chosen params and
    # identical per-candidate metrics across runs
    from dask_xgboost_spark.registry import load_all

    fn = load_all()["M-TRAIN-07"].fn
    a = fn(spark, "/root/testdata/sf0.001").collect()
    b = fn(spark, "/root/testdata/sf0.001").collect()
    assert a == b
    assert sum(r["is_best"] for r in a) == 1
    assert all(0.0 <= r["avg_auc"] <= 1.0 for r in a)


def test_best_attrs_after_eval_fit(spark, emb):
    # reference core.py:448,477-479: fitting with an eval set stamps
    # evals_result_, best_score, best_iteration, best_ntree_limit
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    clf = XGBClassifier(**PARAMS).fit(tr, label_col="y", eval_df=va)
    hist = clf.evals_result_["validation_0"]["loss"]
    assert len(hist) >= 1
    assert clf.best_score == min(hist)
    assert hist[clf.best_iteration] == clf.best_score
    assert clf.best_ntree_limit == clf.best_iteration + 1
    assert clf.best_ntree_limit == clf.model_.getNumTrees
    # and a fit WITHOUT an eval set must not invent the attributes
    clf2 = XGBClassifier(**PARAMS).fit(tr, label_col="y")
    assert clf2.evals_result_ == {}
    assert not hasattr(clf2, "best_score")


def test_categorical_encoding_matches_stringindexer(spark, sf_dir):
    """M-PREP-03's declarative frequencyDesc window must reproduce MLlib
    StringIndexer's default encoding exactly (same index per category)."""
    from pyspark.ml.feature import StringIndexer

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    ours = load_all()["M-PREP-03"].fn(spark, sf_dir).toPandas()
    cust = load(spark, sf_dir, "customer")
    si = StringIndexer(inputCol="c_mktsegment", outputCol="mllib_idx").fit(cust)
    theirs = (
        si.transform(cust)
        .select("c_custkey", F.col("mllib_idx").cast("int").alias("mllib_idx"))
        .toPandas()
    )
    m = ours.merge(theirs, on="c_custkey")
    assert len(m) == len(ours) > 0
    assert (m.seg_index == m.mllib_idx).all()


def test_sparse_struct_and_flat_ingestion_match_dense(spark):
    """Sparse ingestion parity (reference test_sparse/test_scipy_sparse,
    test_core.py:415-441): the SAME data handed over in a sparse container
    must train to the SAME model as the dense hand-over."""
    import numpy as np

    from dask_xgboost_spark.ml.core import sparse_features

    rng = np.random.RandomState(7)
    X = rng.rand(150, 5)
    X[X < 0.4] = 0.0  # real zeros so the sparse encoding is exercised
    y = (X[:, 0] + X[:, 3] > 0.9).astype(float)

    rows = [
        (
            int(i),
            [float(v) for v in X[i]],
            5,
            [int(j) for j in np.nonzero(X[i])[0]],
            [float(v) for v in X[i][np.nonzero(X[i])]],
            float(y[i]),
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows,
        "_row_idx long, arr array<double>, size int, "
        "indices array<int>, values array<double>, y double",
    ).repartition(4)

    dense = assemble_features(df, feature_col="arr")
    flat = sparse_features(df)
    struct = assemble_features(
        df.withColumn("sp", F.struct("size", "indices", "values")),
        feature_col="sp",
    )

    params = {"objective": "binary:logistic", "n_estimators": 4, "random_state": 0}
    preds = []
    for frame in (dense, flat, struct):
        m = train(params, frame, label_col="y")
        out = (
            m.transform(frame)
            .select("_row_idx", "prediction")
            .orderBy("_row_idx")
            .toPandas()
        )
        preds.append(out["prediction"].to_numpy())
    assert (preds[0] == preds[1]).all()
    assert (preds[1] == preds[2]).all()

    # and the constructed vectors really are sparse (nnz storage, not dim)
    v = flat.select("features").first()["features"]
    from pyspark.ml.linalg import SparseVector

    assert isinstance(v, SparseVector)
    assert len(v.indices) < v.size


def test_sparse_struct_rejects_bad_fields(spark):
    df = spark.createDataFrame([(1,)], "x int").withColumn(
        "sp", F.struct(F.lit(1).alias("a"), F.lit(2).alias("b"))
    )
    with pytest.raises(ValueError, match="size/indices/values"):
        assemble_features(df, feature_col="sp")


def test_scipy_csr_local_predict(spark):
    """Local CSR in → local predictions out (reference predict on
    csr_matrix partitions, core.py:378-384). Skips where scipy is absent —
    the distributed sparse path is covered above either way."""
    scipy_sparse = pytest.importorskip("scipy.sparse")
    import numpy as np

    from dask_xgboost_spark.ml.core import _local_features_frame

    X = np.eye(6, dtype="float64") * 3.0
    rows = _local_features_frame(scipy_sparse.csr_matrix(X), 6).collect()
    assert len(rows) == 6
    v = rows[2]["features"]
    from pyspark.ml.linalg import SparseVector

    assert isinstance(v, SparseVector)
    assert v[2] == 3.0 and v.numNonzeros() == 1
    # collected in input order: row i holds its one value at slot i
    assert [r["features"].indices.tolist() for r in rows] == [[i] for i in range(6)]


# ---------------------------------------------------------------------------
# The barrier-job GBT trainer (ml/gbt.py) against MLlib's own fit


def _tree_text(model):
    """(structure, leaf values, tree weights) of a GBT model's debug
    string: the structure keeps every split's feature and threshold
    verbatim and blanks the leaf predictions, which are returned apart."""
    import re

    body = model.toDebugString.split("\n", 1)[1]  # line 0 carries the uid
    leaves = [float(v) for v in re.findall(r"Predict: (\S+)", body)]
    weights = list(getattr(model, "treeWeights", []))  # a single tree has none
    return re.sub(r"Predict: \S+", "Predict: _", body), leaves, weights


def _assert_matches_mllib(est, df, eval_df=None):
    import numpy as np

    from dask_xgboost_spark.ml import gbt

    want = est.fit(df)
    got = gbt.fit(est, df)
    assert type(got) is type(want)
    w_struct, w_leaves, w_weights = _tree_text(want)
    g_struct, g_leaves, g_weights = _tree_text(got)
    assert g_struct == w_struct, "splits, features and thresholds must equal MLlib's"
    assert g_weights == w_weights
    np.testing.assert_allclose(g_leaves, w_leaves, rtol=1e-12, atol=0)
    if eval_df is not None:
        args = (eval_df,) if hasattr(want, "getThresholds") else (eval_df, "squared")
        np.testing.assert_allclose(got.evaluateEachIteration(*args),
                                   want.evaluateEachIteration(*args), rtol=1e-12, atol=0)
    # same seed, same input: bit-identical
    again = gbt.fit(est, df)
    assert _tree_text(again) == (g_struct, g_leaves, g_weights)
    return got


def _sparse_emb(spark, emb):
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    rows = [
        (r["vec_id"], Vectors.sparse(len(r["embedding"]),
                                     [(j, float(v)) for j, v in enumerate(r["embedding"])
                                      if abs(v) > 0.5]), r["y"])
        for r in emb.select("vec_id", "embedding", "y").collect()
    ]
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("features", VectorUDT()),
                         StructField("y", DoubleType())])
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("case", ["dense", "sparse", "weighted", "regression", "eval"])
def test_gbt_trainer_matches_mllib(spark, emb, case):
    # every fit grows MLlib's trees: same splits, features and thresholds,
    # leaf values and per-iteration loss equal to rounding
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.regression import GBTRegressor

    common = dict(maxIter=4, maxDepth=3, stepSize=0.3, seed=11)
    eval_df = None
    df = emb
    if case == "dense":
        est = GBTClassifier(labelCol="y", **common)
    elif case == "sparse":
        df = _sparse_emb(spark, emb)
        est = GBTClassifier(labelCol="y", **common)
    elif case == "weighted":
        df = emb.withColumn("w", (1 + F.col("vec_id") % 3 * 0.75).cast("double"))
        est = GBTClassifier(labelCol="y", weightCol="w", **common)
    elif case == "regression":
        df = emb.withColumn("t", F.element_at("embedding", 1).cast("double"))
        est = GBTRegressor(labelCol="t", **{**common, "maxDepth": 4})
        eval_df = df
    else:
        df = emb.withColumn("val", F.col("vec_id") % 4 == 0)
        eval_df = df.filter("val")
        est = GBTClassifier(labelCol="y", validationIndicatorCol="val",
                            **{**common, "maxIter": 30, "stepSize": 0.8})
    model = _assert_matches_mllib(est, df, eval_df)
    if case == "eval":
        assert model.getNumTrees < 30, "the validation set must stop training early"


def _listening_sockets() -> set[str]:
    """Inodes of the TCP sockets this process has listening."""
    import os

    mine = set()
    for fd in os.listdir("/proc/self/fd"):
        try:
            target = os.readlink(f"/proc/self/fd/{fd}")
        except OSError:
            continue
        if target.startswith("socket:["):
            mine.add(target[8:-1])
    listening = set()
    for table in ("/proc/net/tcp", "/proc/net/tcp6"):
        if os.path.exists(table):
            with open(table) as fh:
                for line in fh.readlines()[1:]:
                    cols = line.split()
                    if cols[3] == "0A":  # TCP_LISTEN
                        listening.add(cols[9])
    return mine & listening


def _relay_threads():
    import threading

    return [t for t in threading.enumerate() if t.name == "gbt-relay" and t.is_alive()]


def test_gbt_bad_label_fails_fast_and_cleans_up(spark, emb):
    # a label of 2 in one partition stops a binary fit with a clear error,
    # within a bounded time, leaving no relay socket or thread behind
    import time

    first = emb.agg(F.min("vec_id")).first()[0]
    bad = emb.withColumn("y2", F.when(F.col("vec_id") == first, 2.0).otherwise(F.col("y")))
    before = _listening_sockets()
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="invalid label 2.0"):
        train({"objective": "binary:logistic", **PARAMS}, bad, label_col="y2")
    assert time.perf_counter() - t0 < 60
    assert not _relay_threads()
    assert _listening_sockets() <= before


def test_relay_skips_stray_clients(monkeypatch):
    # a client that connects and stays silent, one that connects and
    # closes, and one with the wrong secret are dropped; the ranks behind
    # them still meet
    import socket
    import threading

    from dask_xgboost_spark.ml import barrier

    monkeypatch.setattr(barrier, "HELLO_TIMEOUT_S", 0.2)
    relay = barrier.Relay("127.0.0.1")

    def coordinator(r):
        total = sum(r.gather())
        r.broadcast(total)
        return total

    relay.start(2, coordinator)
    silent = socket.create_connection(relay.address)
    socket.create_connection(relay.address).close()
    wrong = barrier.RankLink(relay.address, "0" * 32, 0)
    answers = {}

    def rank(i):
        link = barrier.RankLink(relay.address, relay.secret, i)
        answers[i] = link.exchange(i + 1)
        link.close()

    threads = [threading.Thread(target=rank, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    relay.wait()
    silent.close()
    wrong.close()
    assert relay.error is None and relay.result == 3 and answers == {0: 3, 1: 3}


def _range_frame(spark, rows: int, partitions: int, start: int = 0):
    """Seeded features on a plain ``range`` (no exchange in the plan)."""
    from pyspark.ml.functions import array_to_vector

    df = spark.range(start, rows, 1, numPartitions=partitions)
    feats = [F.round(F.rand(seed=j) * 10, 1) for j in range(5)]
    df = df.withColumn("x", F.array(*feats))
    return df.withColumn("features", array_to_vector("x")).withColumn(
        "y", (F.element_at("x", 1) + F.element_at("x", 2) > 10).cast("double"))


def test_gbt_more_partitions_than_slots_and_empty_partition(spark):
    # inputs with more partitions than task slots are repartitioned to the
    # slots; an empty partition is a rank with no rows
    from pyspark.ml.classification import GBTClassifier

    from dask_xgboost_spark.ml import gbt
    from dask_xgboost_spark.ml.barrier import task_slots

    est = GBTClassifier(labelCol="y", maxIter=3, maxDepth=3, seed=5)
    many = _range_frame(spark, 2000, task_slots(spark) + 3)
    model = gbt.fit(est, many)
    assert model.getNumTrees == 3 and model.transform(many).count() == 2000

    # ids 0-199 fill partition 0; the filter leaves it empty
    holes = _range_frame(spark, 800, 4).filter(F.col("id") >= 200)
    assert holes.rdd.glom().map(len).collect()[0] == 0
    _assert_matches_mllib(est, holes)
    assert not _relay_threads()


def test_gbt_fits_union_and_coalesce(spark):
    # Spark refuses a barrier stage over an RDD chain whose partition
    # counts differ, as a union's or a coalesce's do; the trainer
    # repartitions such inputs to the task slots
    from pyspark.ml.classification import GBTClassifier

    from dask_xgboost_spark.ml import gbt

    from dask_xgboost_spark.ml.barrier import _own_partitions, task_slots

    est = GBTClassifier(labelCol="y", maxIter=3, maxDepth=3, seed=5)
    union = _range_frame(spark, 600, 2).union(_range_frame(spark, 1200, 3, start=600))
    coalesced = _range_frame(spark, 1200, 4).coalesce(2)
    slots = task_slots(spark)
    assert _own_partitions(_range_frame(spark, 1200, 2), slots) == 2
    assert _own_partitions(union, slots) is None
    assert _own_partitions(coalesced, slots) is None
    _assert_matches_mllib(est, union)
    _assert_matches_mllib(est, coalesced)
    clf = XGBClassifier(n_estimators=2, max_depth=3).fit(
        _range_frame(spark, 600, 2).unionByName(_range_frame(spark, 1200, 3, start=600)),
        label_col="y")
    assert clf.classes_ == [0.0, 1.0]


def _spark_jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_binary_fit_runs_two_spark_jobs(spark, emb):
    # job-count tripwire: class discovery is one job, and metadata, split
    # finding and every tree level of a binary fit share one barrier job
    # (MLlib's fit plus a distinct().collect() ran 11 for 2 trees of depth 3)
    clf, jobs = _spark_jobs(spark, "binary-fit-job-count", lambda: XGBClassifier(
        n_estimators=2, max_depth=3, learning_rate=0.3).fit(emb, label_col="y"))
    assert clf.classes_ == [0.0, 1.0]
    assert jobs == 2
    # an eval set, weighted or not, adds no job for its history: that is
    # the trainer's own validation loss. The train/eval union is
    # repartitioned to the task slots first (a barrier stage refuses a
    # union's RDD chain), and adaptive execution runs that shuffle as a
    # job of its own: 2 jobs
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0).withColumn("vw", (1 + F.col("vec_id") % 3).cast("double"))
    for weights in ([], ["vw"]):
        history: dict = {}
        _, jobs = _spark_jobs(spark, f"eval-fit-job-count-{len(weights)}", lambda: train(
            {"objective": "binary:logistic", **PARAMS}, tr, label_col="y", eval_df=va,
            evals_result=history, sample_weight_eval_set=weights))
        assert history["validation_0"]["loss"] and jobs == 2
    # a missing sentinel adds the imputation means: one aggregate, whose
    # shuffle adaptive execution runs as a job of its own (2 jobs), then
    # the barrier job
    _, jobs = _spark_jobs(spark, "missing-fit-job-count", lambda: train(
        {"objective": "binary:logistic", **PARAMS}, emb, label_col="y", missing=-999.0))
    assert jobs == 3
    # multiclass: class discovery, then one barrier job that grows every
    # class's model (one barrier job per class ran 11)
    ym = emb.withColumn("ym", F.col("label").cast("double"))
    clf, jobs = _spark_jobs(spark, "multiclass-fit-job-count", lambda: XGBClassifier(
        n_estimators=2, max_depth=3, learning_rate=0.3).fit(ym, label_col="ym"))
    assert clf.n_classes_ == 10 and jobs == 2
    # train() is the barrier job alone, with num_class or without it,
    # when the class count comes from the job itself (a max-label
    # aggregate, then a job per class, ran 12)
    multi = {"objective": "multi:softprob", **PARAMS, "n_estimators": 2}
    for extra in ({}, {"num_class": 10}):
        model, jobs = _spark_jobs(spark, f"multiclass-train-job-count-{len(extra)}",
                                  lambda: train({**multi, **extra}, ym, label_col="ym"))
        assert len(model.models) == 10 and jobs == 1
    # an eval set: the union's shuffle and the barrier job, once for all
    # classes (22 when each class reshuffled the union)
    trm = ym.filter(F.col("vec_id") % 5 != 0)
    vam = ym.filter(F.col("vec_id") % 5 == 0)
    model, jobs = _spark_jobs(spark, "multiclass-eval-job-count", lambda: train(
        {**multi, "num_class": 10}, trm, label_col="ym", eval_df=vam))
    assert len(model.models) == 10 and jobs == 2
    # a missing sentinel: the imputation means, then the barrier job (14)
    model, jobs = _spark_jobs(spark, "multiclass-missing-job-count", lambda: train(
        multi, ym, label_col="ym", missing=-999.0))
    assert len(model.models) == 10 and jobs == 3


@pytest.fixture(scope="module")
def served(spark, emb):
    """A local request and the models local serving answers it with:
    binary, 3-class (OvR), regression, and binary trained with a
    ``missing`` sentinel."""
    import numpy as np

    X = np.array(emb.orderBy("vec_id").limit(64).toPandas()["embedding"].tolist(), dtype="float64")
    small = dict(n_estimators=2, max_depth=2)
    ym = emb.withColumn("ym", (F.col("label") % 3).cast("double"))
    return X, {
        "binary": XGBClassifier(**small).fit(emb, label_col="y", classes=[0.0, 1.0]),
        "multiclass": XGBClassifier(**small).fit(ym, label_col="ym", classes=[0.0, 1.0, 2.0]),
        "regression": XGBRegressor(**small).fit(emb, label_col="y"),
        "missing": train({"objective": "binary:logistic", **small}, emb, label_col="y",
                         missing=-999.0),
    }


def test_local_predict_runs_no_spark_job(spark, served):
    # local-serving tripwire: the request becomes a driver-local relation
    # that MLlib's transform folds into, and collecting it runs no job,
    # with Arrow for pandas conversion on or off (a row index, a sort and
    # toPandas ran 3 jobs per request, 9 for 3 classes)
    X, m = served
    poisoned = X.copy()
    poisoned[::3, 0] = -999.0
    calls = {
        "predict": lambda: m["binary"].predict(X),
        "predict_proba": lambda: m["binary"].predict_proba(X),
        "multiclass-predict_proba": lambda: m["multiclass"].predict_proba(X),
        "regressor-predict": lambda: m["regression"].predict(X),
        "missing-predict": lambda: predict(m["missing"], poisoned),
    }
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for name, call in calls.items():
                out, jobs = _spark_jobs(spark, f"local-{name}-arrow-{arrow}", call)
                assert len(out) == len(X) and jobs == 0, (name, arrow, jobs)
    finally:
        spark.conf.set(key, before)


def test_local_predict_empty_batch_returns_empty_arrays(spark, served):
    # k comes from the model: 2, or one column per OvR model
    import numpy as np

    X, m = served
    empty = np.empty((0, X.shape[1]))
    assert m["binary"].predict(empty).shape == (0,)
    assert m["regression"].predict(empty).shape == (0,)
    assert m["binary"].predict_proba(empty).shape == (0, 2)
    assert m["multiclass"].predict_proba(empty).shape == (0, 3)


def test_local_predict_rejects_wrong_width(spark, served):
    # checked against the model's numFeatures before any Spark call, not
    # left to fail inside MLlib's UDF
    X, m = served
    for name, call in [("binary", m["binary"].predict), ("ovr", m["multiclass"].predict_proba)]:
        with pytest.raises(ValueError, match=f"has 5 features.*expects {X.shape[1]}"):
            _spark_jobs(spark, f"local-wrong-width-{name}", lambda: call(X[:, :5]))
        assert not spark.sparkContext.statusTracker().getJobIdsForGroup(f"local-wrong-width-{name}")


def test_gbt_subsampling_is_seeded(spark, emb):
    # subsamplingRate draws each tree's rows per seed: the same seed grows
    # the same trees, and sampling changes them
    from pyspark.ml.classification import GBTClassifier

    from dask_xgboost_spark.ml import gbt

    common = dict(labelCol="y", maxIter=3, maxDepth=3, seed=3)
    half = GBTClassifier(subsamplingRate=0.5, **common)
    a, b = gbt.fit(half, emb), gbt.fit(half, emb)
    assert _tree_text(a) == _tree_text(b)
    assert _tree_text(a) != _tree_text(gbt.fit(GBTClassifier(**common), emb))


def test_distinct_labels_one_job(spark, emb):
    # class discovery: one job, no shuffle
    from dask_xgboost_spark.ml.core import distinct_labels

    sc = spark.sparkContext
    group = "distinct-labels-job-count"
    sc.setJobGroup(group, "distinct_labels")
    try:
        labels = distinct_labels(emb, "label")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert labels == [float(i) for i in range(10)]
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    assert len(sc.statusTracker().getJobInfo(job).stageIds) == 1, "no shuffle"



def _assert_prefix_of(got, want):
    """``got``'s trees are ``want``'s first trees: same splits, features,
    thresholds and tree weights, leaves within 1e-12."""
    import numpy as np

    n = got.getNumTrees
    assert 1 <= n <= want.getNumTrees
    assert list(got.treeWeights) == list(want.treeWeights)[:n]
    for g, w in zip(got.trees, want.trees[:n]):
        g_struct, g_leaves, _ = _tree_text(g)
        w_struct, w_leaves, _ = _tree_text(w)
        assert g_struct == w_struct
        np.testing.assert_allclose(g_leaves, w_leaves, rtol=1e-12, atol=0)


def test_multiclass_matches_one_vs_rest_and_round_trips(spark, emb, tmp_path):
    # multiclass is one barrier fit per class on the indicator label == k:
    # class by class the trees of MLlib's OneVsRest(GBTClassifier), the
    # reference implementation; same seed, bit-identical; the
    # OneVsRestModel saves and loads
    import numpy as np
    from pyspark.ml.classification import GBTClassifier, OneVsRest, OneVsRestModel

    df = emb.withColumn("ym", F.col("label").cast("double"))
    params = {"objective": "multi:softprob", "n_estimators": 3, "max_depth": 3,
              "learning_rate": 0.5, "random_state": 7}
    got = train(params, df, label_col="ym")
    want = OneVsRest(classifier=GBTClassifier(maxIter=3, maxDepth=3, stepSize=0.5, seed=7),
                     labelCol="ym").fit(df)
    assert len(got.models) == len(want.models) == 10
    for g, w in zip(got.models, want.models):
        assert g.getNumTrees == w.getNumTrees
        _assert_prefix_of(g, w)
    again = train(params, df, label_col="ym")
    assert [_tree_text(m) for m in again.models] == [_tree_text(m) for m in got.models]

    path = str(tmp_path / "ovr_model")
    got.write().overwrite().save(path)
    loaded = OneVsRestModel.load(path)

    def scores(model):
        out = predict(model, df).select("vec_id", "prediction", "rawPrediction")
        pdf = out.toPandas().sort_values("vec_id")
        return pdf["prediction"].to_numpy(), np.array([v.toArray() for v in pdf["rawPrediction"]])

    (p0, r0), (p1, r1) = scores(got), scores(loaded)
    assert np.array_equal(p0, p1) and np.array_equal(r0, r1)


def test_multiclass_class_count(spark, emb):
    # num_class fixes the model count; without it the count is the largest
    # training label + 1: a validation row's label and a null label add no
    # class
    df = emb.withColumn("ym", F.col("label").cast("double"))
    params = {"objective": "multi:softprob", "n_estimators": 1, "max_depth": 2}
    assert len(train({**params, "num_class": 4}, df, label_col="ym").models) == 4
    low = df.filter(F.col("ym") < 7)
    first = low.agg(F.min("vec_id")).first()[0]
    low = low.withColumn(
        "ym", F.when(F.col("vec_id") == first, F.lit(None)).otherwise(F.col("ym")))
    assert low.filter(F.col("ym").isNull()).count() == 1
    assert len(train(params, low, label_col="ym").models) == 7
    model = train(params, low, label_col="ym", eval_df=df.filter(F.col("ym") == 9))
    assert len(model.models) == 7


def test_multiclass_eval_set_only_stops_early(spark, emb):
    # validation rows grow no tree: with true or scrambled eval labels,
    # every class's model is a prefix of the one fitted without them
    df = emb.withColumn("ym", F.col("label").cast("double"))
    tr = df.filter(F.col("vec_id") % 5 != 0)
    va = df.filter(F.col("vec_id") % 5 == 0)
    scrambled = va.withColumn("ym", ((F.col("ym") + F.col("vec_id")) % 10).cast("double"))
    params = {"objective": "multi:softprob", "num_class": 10, "n_estimators": 6,
              "max_depth": 2, "learning_rate": 0.5}
    plain = train(params, tr, label_col="ym")
    for eval_df in (va, scrambled):
        model = train(params, tr, label_col="ym", eval_df=eval_df)
        assert len(model.models) == 10
        for got, want in zip(model.models, plain.models):
            _assert_prefix_of(got, want)


def test_eval_rows_weigh_one_without_eval_weights(spark, emb):
    # reference core.py:138-151: an eval set is unweighted unless
    # sample_weight_eval_set names its weight column, whatever the
    # training weight column is called
    tr = emb.filter(F.col("vec_id") % 5 != 0).withColumn(
        "w", (1 + F.col("vec_id") % 2 * 3).cast("double"))
    va = emb.filter(F.col("vec_id") % 5 == 0)
    a = XGBClassifier(**PARAMS).fit(tr, label_col="y", sample_weight_col="w", eval_df=va)
    b = XGBClassifier(**PARAMS).fit(
        tr, label_col="y", sample_weight_col="w",
        eval_df=va.withColumn("w", (1 + F.col("vec_id") % 3 * 9).cast("double")))
    assert a.evals_result_["validation_0"]["loss"]
    assert a.evals_result_ == b.evals_result_
    assert _tree_text(a.model_) == _tree_text(b.model_)

"""Fail-fast error propagation (reference P9: test_errors,
test_core.py:464-475 — an exception inside a partition surfaces on the
driver with its message intact)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_partition_error_surfaces_with_message(spark, sf_dir):
    from dask_xgboost_spark.sources import load

    def boom(batches):
        for pdf in batches:
            raise ValueError("Data must be 2 dimensional")  # reference msg style

    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    with pytest.raises(Exception, match="Data must be 2 dimensional"):
        li.mapInPandas(boom, "l_orderkey bigint").collect()


def test_analysis_error_is_eager_and_clean(spark, sf_dir):
    from dask_xgboost_spark.sources import load

    li = load(spark, sf_dir, "lineitem")
    with pytest.raises(Exception, match="no_such_column|UNRESOLVED_COLUMN"):
        li.select("no_such_column")


def test_missing_path_raises_path_not_found(spark):
    from dask_xgboost_spark.sources import load

    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        load(spark, "/root/testdata/sf_nope", "lineitem").collect()


def test_connected_components_no_edges_is_empty(spark):
    from dask_xgboost_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "a long, b long")
    assert connected_components(empty).count() == 0


def test_local_predict_rejects_non_2d_input(spark, sf_dir):
    import numpy as np
    import pytest

    from dask_xgboost_spark.ml.core import XGBClassifier, assemble_features
    from dask_xgboost_spark.sources import load

    emb = assemble_features(load(spark, sf_dir, "embeddings").limit(50))
    emb = emb.withColumn("y", (emb.label < 5).cast("double"))
    clf = XGBClassifier(n_estimators=2, max_depth=2).fit(emb, label_col="y")
    with pytest.raises(ValueError, match="2-D"):
        clf.predict(np.array([1.0, 2.0, 3.0]))


def test_replace_missing_all_sentinel_dimension(spark):
    # a dimension that is ALL sentinel has no observable mean — it falls
    # back to 0.0 instead of propagating the sentinel or NaN
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from dask_xgboost_spark.ml.core import assemble_features, replace_missing

    df = assemble_features(
        spark.createDataFrame(
            [(1, [-999.0, 2.0]), (2, [-999.0, 4.0])], "id long, e array<double>"
        ),
        feature_col="e",
    )
    out = replace_missing(df, -999.0).select(
        F.element_at(vector_to_array("features"), 1).alias("f0"),
        F.element_at(vector_to_array("features"), 2).alias("f1"),
    )
    rows = out.collect()
    assert all(r["f0"] == 0.0 for r in rows)
    assert sorted(r["f1"] for r in rows) == [2.0, 4.0]


def test_train_empty_frame_with_missing_raises_trainer_error(spark):
    # the imputation means of no rows are [], so an empty frame reaches the
    # trainer's own row check whether or not a sentinel is given
    from dask_xgboost_spark.ml.core import assemble_features, train

    empty = assemble_features(
        spark.createDataFrame([], "label double, e array<double>"), feature_col="e"
    )
    for missing in (None, -999.0):
        with pytest.raises(ValueError, match="at least one training row"):
            train({"objective": "binary:logistic"}, empty, missing=missing)


def test_read_snapshot_missing_manifest_raises(spark, tmp_path):
    from dask_xgboost_spark.operators.merge import read_snapshot

    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nowhere"))


def test_read_snapshot_unknown_version_raises(spark, sf_dir, tmp_path):
    from dask_xgboost_spark.operators.merge import read_snapshot, write_snapshot
    from dask_xgboost_spark.sources import load

    base = str(tmp_path / "snap")
    write_snapshot(load(spark, sf_dir, "nation"), base, 1)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_snapshot(spark, base, version=99).collect()


def test_pyjsonl_missing_path_option_raises(spark):
    from dask_xgboost_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    with pytest.raises(Exception, match="path|KeyError"):
        spark.read.format("pyjsonl").schema("doc_id bigint").load().collect()


def test_scratch_dir_is_deterministic_and_wiped():
    """scratch_dir: same tag → same path, previous contents wiped on
    re-entry (the bounded-disk contract repeated sweeps rely on);
    scratch_mkdtemp: unique per call, under the exit-cleaned root."""
    import os

    from dask_xgboost_spark.scratch import scratch_dir, scratch_mkdtemp

    d1 = scratch_dir("unit_probe")
    probe = os.path.join(d1, "leftover.txt")
    with open(probe, "w") as f:
        f.write("x")
    d2 = scratch_dir("unit_probe")
    assert d1 == d2
    assert not os.path.exists(probe), "previous run's contents must be wiped"

    m1, m2 = scratch_mkdtemp("u_"), scratch_mkdtemp("u_")
    assert m1 != m2
    assert os.path.dirname(m1) == os.path.dirname(d1)

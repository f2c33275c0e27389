"""ML registry entries (SURVEY.md §2F) — rows-only for the driver
(training is not SQL-expressible; the strong checks live in
tests/test_ml.py, mirroring the reference's parity-test strategy §5)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_xgboost_spark.functions import cents, md5_poly, sql_cents
from dask_xgboost_spark.ml.core import XGBClassifier, XGBRegressor, assemble_features
from dask_xgboost_spark.plans.scale import bounded_sort
from dask_xgboost_spark.registry import register
from dask_xgboost_spark.sources import load

FAST_PARAMS = dict(n_estimators=5, max_depth=3, learning_rate=0.5, random_state=42)


def _binary_frame(spark, sf):
    emb = load(spark, sf, "embeddings")
    return assemble_features(emb).withColumn(
        "y", (F.col("label") < 5).cast("double")
    )


@register("M-TRAIN-01", sql=None, mode="golden")
def m_train_01(spark, sf):
    """Distributed GBT regression fit+predict (reference train/XGBRegressor,
    core.py:268,388). Target: first embedding coordinate (continuous)."""
    emb = load(spark, sf, "embeddings")
    df = assemble_features(emb).withColumn(
        "target", F.element_at("embedding", 1).cast("double")
    )
    model = XGBRegressor(**FAST_PARAMS).fit(df, label_col="target")
    return (
        model.predict(df)
        .select("vec_id", F.round("prediction", 6).alias("prediction"))
        .orderBy("vec_id")
    )


@register("M-TRAIN-02", sql=None, mode="golden")
def m_train_02(spark, sf):
    """Distributed GBT binary classification (reference XGBClassifier.fit,
    core.py:488): labels + probabilities."""
    df = _binary_frame(spark, sf)
    clf = XGBClassifier(**FAST_PARAMS).fit(df, label_col="y")
    proba = clf.predict_proba(df)
    return (
        proba.select(
            "vec_id",
            F.round(F.element_at("proba", 2), 6).alias("p1"),
        )
        .join(
            clf.predict(df).select("vec_id", "prediction"),
            "vec_id",
        )
        .orderBy("vec_id")
    )


@register("M-TRAIN-03", sql=None, mode="golden")
def m_train_03(spark, sf):
    """Multi-class classification via the objective switch
    (core.py:580-586): 10-class one-vs-rest GBT fit+predict, one barrier
    fit per class."""
    emb = load(spark, sf, "embeddings")
    df = assemble_features(emb).withColumn("y", F.col("label").cast("double"))
    clf = XGBClassifier(n_estimators=3, max_depth=2, learning_rate=0.5).fit(
        df, label_col="y"
    )
    return clf.predict(df).select("vec_id", "prediction").orderBy("vec_id")


@register("M-TRAIN-04", sql=None, mode="golden")
def m_train_04(spark, sf):
    """Sample weights (reference sample_weight triads, core.py:99-102,
    191-199 → weightCol): weighted vs unweighted probabilities must
    differ; returns both for the golden check."""
    df = _binary_frame(spark, sf).withColumn(
        "w", (1 + F.col("vec_id") % 2 * 10).cast("double")
    )
    base = XGBClassifier(**FAST_PARAMS).fit(df, label_col="y")
    weighted = XGBClassifier(**FAST_PARAMS).fit(df, label_col="y", sample_weight_col="w")
    a = base.predict_proba(df).select(
        "vec_id", F.round(F.element_at("proba", 2), 6).alias("p_unweighted")
    )
    b = weighted.predict_proba(df).select(
        "vec_id", F.round(F.element_at("proba", 2), 6).alias("p_weighted")
    )
    return a.join(b, "vec_id").orderBy("vec_id")


@register("M-TRAIN-05", sql=None, mode="golden")
def m_train_05(spark, sf):
    """Eval sets (reference _package_evals/evals_result, core.py:138-151,
    259-260 → validationIndicatorCol): fit with a held-out validation
    frame, predict on it."""
    df = _binary_frame(spark, sf)
    tr = df.filter(F.col("vec_id") % 5 != 0)
    va = df.filter(F.col("vec_id") % 5 == 0)
    clf = XGBClassifier(**FAST_PARAMS).fit(df=tr, label_col="y", eval_df=va)
    return clf.predict(va).select("vec_id", "prediction").orderBy("vec_id")


@register("M-TRAIN-06", sql=None, mode="golden")
def m_train_06(spark, sf):
    """Early stopping (reference early_stopping_rounds/best attrs,
    core.py:476-479,611-614 → MLlib validationTol): with MLlib's default
    tolerance (0.01) the booster may stop before maxIter; returns
    trees-built vs requested."""
    df = _binary_frame(spark, sf)
    tr = df.filter(F.col("vec_id") % 5 != 0)
    va = df.filter(F.col("vec_id") % 5 == 0)
    from dask_xgboost_spark.ml.core import train

    requested = 30
    model = train(
        {"objective": "binary:logistic", "n_estimators": requested, "max_depth": 2,
         "learning_rate": 0.3},
        tr,
        label_col="y",
        eval_df=va,
    )
    return spark.createDataFrame(
        [(model.getNumTrees, requested)], "trees_built int, trees_requested int"
    )


@register("M-PRED-01", sql=None, mode="golden")
def m_pred_01(spark, sf):
    """Distributed predict → hard labels (reference predict + argmax/
    threshold, core.py:340,617-624)."""
    df = _binary_frame(spark, sf)
    clf = XGBClassifier(**FAST_PARAMS).fit(df, label_col="y")
    return clf.predict(df).select("vec_id", "prediction").orderBy("vec_id")


@register("M-PRED-02", sql=None, mode="golden")
def m_pred_02(spark, sf):
    """Distributed predict_proba (reference core.py:626-631): probability
    vector exposed as array<double>."""
    df = _binary_frame(spark, sf)
    clf = XGBClassifier(**FAST_PARAMS).fit(df, label_col="y")
    return (
        clf.predict_proba(df)
        .select(
            "vec_id",
            F.round(F.element_at("proba", 1), 6).alias("p0"),
            F.round(F.element_at("proba", 2), 6).alias("p1"),
        )
        .orderBy("vec_id")
    )


@register("M-PRED-03", sql=None, mode="golden")
def m_pred_03(spark, sf):
    """Missing-value handling (reference dmatrix_kwargs['missing'],
    test_core.py:366-382): nulls injected into a feature column are
    imputed (mean strategy) before assembly — the Spark-idiomatic
    equivalent of a missing sentinel."""
    from pyspark.ml.feature import Imputer

    emb = load(spark, sf, "embeddings")
    df = emb.withColumn(
        "f0",
        F.when(F.col("vec_id") % 7 == 0, None).otherwise(
            F.element_at("embedding", 1).cast("double")
        ),
    )
    imputed = (
        Imputer(inputCols=["f0"], outputCols=["f0_i"], strategy="mean")
        .fit(df)
        .transform(df)
    )
    return (
        imputed.select(
            "vec_id",
            F.col("f0").isNull().alias("was_missing"),
            F.round("f0_i", 6).alias("f0_imputed"),
        )
        .orderBy("vec_id")
    )


@register(
    "M-PRED-04",
    sql="SELECT l_orderkey, l_linenumber, "
    "2.0 * l_quantity + (-1.0) * l_discount + 0.5 AS score "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def m_pred_04(spark, sf):
    """Broadcast-model batch scoring via mapInPandas — the production
    pattern for scoring with ANY local Python model (sklearn pickle,
    xgboost booster, custom callable) at corpus scale, covering the
    reference's executor-side predict fan-out (core.py:363-379
    _predict_part: model shipped to each dask partition) for models
    MLlib's transform() cannot host.

    Shape: the fitted artifact is broadcast ONCE (torrent fan-out, not
    per-task pickling in the closure); each Arrow batch scores
    vectorized in pandas on the executor; output rides back as Arrow.
    Work is embarrassingly parallel — no shuffle, scales with partition
    count. The stand-in artifact here is a fixed linear model
    (w=[2,-1], b=0.5) so the DuckDB oracle can state the identical
    arithmetic and hash-check the full path; any pickle-able
    ``predict(X)`` drops in."""
    import pandas as pd

    model = {"w0": 2.0, "w1": -1.0, "b": 0.5}  # stand-in fitted artifact
    bc = spark.sparkContext.broadcast(model)

    def score_batches(batches):
        m = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"],
                    "l_linenumber": pdf["l_linenumber"],
                    "score": m["w0"] * pdf["l_quantity"]
                    + m["w1"] * pdf["l_discount"]
                    + m["b"],
                }
            )

    return (
        load(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .mapInPandas(
            score_batches, "l_orderkey bigint, l_linenumber int, score double"
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "M-PREP-01",
    # the observable contract of feature assembly — every id survives,
    # every vector keeps its source dimensionality — IS SQL-expressible
    # even though the VectorUDT itself is not; upgraded golden → hash
    # in r10 (the driver's r9 row for this entry was rows-only)
    sql="SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim "
    "FROM embeddings ORDER BY vec_id",
)
def m_prep_01(spark, sf):
    """Feature assembly (replaces the reference's co-located triads,
    SURVEY §1.1): array<float> → MLlib vector. The vector column itself
    is engine-specific (VectorUDT), so the hash-checked witness is the
    round-trip contract: per-id dimensionality after array→vector→array
    equals the source array length for every row."""
    from pyspark.ml.functions import vector_to_array

    df = assemble_features(load(spark, sf, "embeddings"))
    return (
        df.select(
            "vec_id",
            F.size(vector_to_array("features")).cast("bigint").alias("dim"),
        )
        .orderBy("vec_id")
    )


@register(
    "M-PREP-02",
    sql="SELECT DISTINCT label FROM embeddings ORDER BY label",
)
def m_prep_02(spark, sf):
    """Class discovery (reference core.py:561-566: distributed unique) —
    hash-checked distinct over the label column."""
    # enum grain (class labels): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return load(spark, sf, "embeddings").select("label").distinct().transform(bounded_sort, "label")


@register("G-GEN-01", sql=None, mode="golden")
def g_gen_01(spark, sf):
    """Synthetic timeseries generation (reference B13:
    dd.demo.make_timeseries / da.random.*): hash-seeded, so the output is
    identical under ANY partitioning; golden-checked."""
    from dask_xgboost_spark.sources.synthetic import make_timeseries

    ts = make_timeseries(spark, n_rows=1000, seed=42)
    return ts.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.floor(F.col("x") * 1e6)) / 1e6).alias("sx"),
    ).orderBy("name")


@register("M-TRAIN-07", sql=None, mode="golden")
def m_train_07(spark, sf):
    """Hyperparameter search via k-fold cross-validation (MLlib
    CrossValidator over a maxDepth grid) — the tuning loop the reference
    leaves to its caller, run distributed here: every (fold, param)
    fit is an independent Spark job, parallelism=2. Deterministic under
    the fixed seed: fold assignment hashes rows with the seed, so the
    chosen best depth and the refit model's predictions are stable.
    Returns the best param + per-candidate average metric (rows-only
    driver check; determinism asserted in tests/test_ml.py)."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    df = _binary_frame(spark, sf)
    gbt = GBTClassifier(
        labelCol="y", featuresCol="features", maxIter=5, stepSize=0.5, seed=42
    )
    grid = (
        ParamGridBuilder().addGrid(gbt.maxDepth, [2, 4]).build()
    )
    cv = CrossValidator(
        estimator=gbt,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="y"),
        numFolds=3,
        seed=42,
        parallelism=2,
    )
    model = cv.fit(df)
    best_depth = model.bestModel.getMaxDepth()
    rows = [
        (int(d), float(m), int(d == best_depth))
        for d, m in zip([2, 4], model.avgMetrics)
    ]
    out = spark.createDataFrame(rows, "max_depth int, avg_auc double, is_best int")
    return out.select(
        "max_depth", F.round("avg_auc", 6).alias("avg_auc"), "is_best"
    ).orderBy("max_depth")


@register(
    "M-PREP-03",
    # StringIndexer's default order is frequencyDesc with alphabetic
    # tie-break — expressible exactly as a window rank, so the encoding
    # hash-checks against the oracle
    sql="WITH f AS (SELECT c_mktsegment AS seg, COUNT(*) AS n FROM customer "
    "GROUP BY c_mktsegment), "
    "ix AS (SELECT seg, ROW_NUMBER() OVER (ORDER BY n DESC, seg) - 1 AS idx FROM f) "
    "SELECT c.c_custkey, ix.idx AS seg_index, "
    "CAST(f.n AS BIGINT) AS seg_count "
    "FROM customer c JOIN ix ON c.c_mktsegment = ix.seg "
    "JOIN f ON c.c_mktsegment = f.seg ORDER BY c.c_custkey",
)
def m_prep_03(spark, sf):
    """Categorical encoding (StringIndexer semantics, computed
    declaratively): index = rank of the category by frequencyDesc with
    alphabetic tie-break — MLlib StringIndexer's default order — built
    from a groupBy + window over the CATEGORY table (dim-sized, tiny)
    broadcast-joined back to the fact. The one-hot step is then
    `idx == k` column algebra. At 100 TB the heavy side never shuffles:
    one map-side-combined count over the facts, window over ≤ |categories|
    rows, broadcast join back.

    The same mapping is what `assemble_features`-based pipelines feed to
    the estimator facade; hash-checking it here pins the exact
    integer encoding cross-engine."""
    cust = load(spark, sf, "customer")
    f = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("c_mktsegment"))
    ix = f.select(
        "c_mktsegment",
        (F.row_number().over(w) - 1).alias("seg_index"),
        F.col("n").alias("seg_count"),
    )
    return (
        cust.join(F.broadcast(ix), "c_mktsegment")
        .select("c_custkey", "seg_index", "seg_count")
        .orderBy("c_custkey")
    )


@register(
    "M-PREP-04",
    # bal cents are exact int64 on both engines; the (x-mn)/(mx-mn)
    # double division of exact ints is correctly rounded → identical
    # bits cross-engine (same discipline as L-TEXT-06's ratios)
    sql="WITH b AS (SELECT c_custkey, "
    "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer), "
    "s AS (SELECT MIN(bal_c) AS mn, MAX(bal_c) AS mx, "
    "SUM(bal_c) AS sm, COUNT(*) AS n FROM b) "
    "SELECT c_custkey, "
    "CAST(bal_c - mn AS DOUBLE) / (mx - mn) AS bal_minmax, "
    "CAST(bal_c AS DOUBLE) - CAST(sm AS DOUBLE) / n AS bal_centered "
    "FROM b, s ORDER BY c_custkey",
)
def m_prep_04(spark, sf):
    """Min-max feature scaling + mean centering (the MinMaxScaler /
    StandardScaler(withStd=False) pre-training step), computed on exact
    int64 cents so the scaled doubles are bit-identical cross-engine.

    Scale shape: one map-side-combined pass for the 1-row stats frame,
    broadcast back over the corpus as a map-only transform — exactly how
    MLlib's scalers execute (fit = treeAggregate, transform = map). No
    per-row Python, no second shuffle."""
    from dask_xgboost_spark.functions import cents

    b = load(spark, sf, "customer").select(
        "c_custkey", cents("c_acctbal").alias("bal_c")
    )
    stats = b.agg(
        F.min("bal_c").alias("mn"),
        F.max("bal_c").alias("mx"),
        F.sum("bal_c").alias("sm"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        b.crossJoin(F.broadcast(stats))
        .select(
            "c_custkey",
            (
                (F.col("bal_c") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn"))
            ).alias("bal_minmax"),
            (
                F.col("bal_c").cast("double")
                - F.col("sm").cast("double") / F.col("n")
            ).alias("bal_centered"),
        )
        .orderBy("c_custkey")
    )


@register(
    "M-PREP-05",
    sql="SELECT c_custkey, "
    "CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS seg_idx "
    "FROM customer ORDER BY c_custkey",
)
def m_prep_05(spark, sf):
    """Categorical label encoding via MLlib StringIndexer with
    stringOrderType='alphabetAsc' — the only deterministic ordering
    (frequencyDesc ties are unspecified), and exactly DENSE_RANK()-1 over
    the category, which is the oracle.

    Scale shape: fit() is one distinct-aggregate over the category column
    (tiny result, collected to the driver as the label map — legitimate:
    the map is O(cardinality), not O(rows)); transform() is a map-only
    broadcast lookup. High-cardinality categories (>~10M labels) should
    switch to a hash encoding (M-PREP-03 shape) instead of an index."""
    from pyspark.ml.feature import StringIndexer

    df = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    idx = StringIndexer(
        inputCol="c_mktsegment", outputCol="seg_idx_d", stringOrderType="alphabetAsc"
    )
    out = idx.fit(df).transform(df)
    return out.select(
        "c_custkey", F.col("seg_idx_d").cast("long").alias("seg_idx")
    ).orderBy("c_custkey")


@register(
    "M-PREP-06",
    # indicator columns keyed off DENSE_RANK so the oracle needs no
    # hardcoded category list; all SFs share the 5 TPC-H segments
    sql="WITH r AS (SELECT c_custkey, "
    "DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS i FROM customer) "
    "SELECT c_custkey, "
    "CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS BIGINT) AS seg_0, "
    "CAST(CASE WHEN i = 1 THEN 1 ELSE 0 END AS BIGINT) AS seg_1, "
    "CAST(CASE WHEN i = 2 THEN 1 ELSE 0 END AS BIGINT) AS seg_2, "
    "CAST(CASE WHEN i = 3 THEN 1 ELSE 0 END AS BIGINT) AS seg_3, "
    "CAST(CASE WHEN i = 4 THEN 1 ELSE 0 END AS BIGINT) AS seg_4 "
    "FROM r ORDER BY c_custkey",
)
def m_prep_06(spark, sf):
    """One-hot encoding: StringIndexer(alphabetAsc) → OneHotEncoder
    (dropLast=False) → vector_to_array → int64 indicator columns. The
    dense indicator form exists for model inputs that need explicit
    columns; MLlib's sparse vector is the memory-correct carrier
    internally (1 of k set), so the expansion is presentation-only.

    Scale shape: two map-only transforms after an O(cardinality) fit;
    the vector→columns expansion is codegen'd element_at, no UDF."""
    from pyspark.ml.feature import OneHotEncoder, StringIndexer
    from pyspark.ml.functions import vector_to_array

    df = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    idx = StringIndexer(
        inputCol="c_mktsegment", outputCol="seg_idx", stringOrderType="alphabetAsc"
    ).fit(df)
    n = len(idx.labels)
    enc = OneHotEncoder(inputCol="seg_idx", outputCol="seg_vec", dropLast=False)
    out = enc.fit(idx.transform(df)).transform(idx.transform(df))
    arr = vector_to_array("seg_vec")
    return out.select(
        "c_custkey",
        *[arr[i].cast("long").alias(f"seg_{i}") for i in range(n)],
    ).orderBy("c_custkey")


@register(
    "M-PREP-07",
    # md5-hex-prefix thresholding is portable across engines (same trick
    # as Q-SAMPLE-02); first 4 hex chars = 16 bits → threshold 'c000'
    # keeps 3/4 in train
    sql="SELECT c_custkey, CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) "
    "< 'c000' THEN 'train' ELSE 'test' END AS split "
    "FROM customer ORDER BY c_custkey",
)
def m_prep_07(spark, sf):
    """Deterministic 75/25 train/test split keyed on the entity id — the
    split every pipeline needs BEFORE feature work so no leakage crosses
    it. ``randomSplit`` is the wrong tool at scale: its assignment
    depends on partitioning and re-execution order, so a retried stage or a
    repartitioned rerun silently reshuffles rows across the split.
    Hashing the key (md5 hex prefix vs threshold) is stable under
    retries, repartitioning, AND engine choice — the oracle runs the
    identical expression in DuckDB.

    Scale shape: map-only, no shuffle; the split column can also feed a
    partitioned write so train/test land in separate directories."""
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.when(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4) < "c000",
            "train",
        )
        .otherwise("test")
        .alias("split"),
    ).orderBy("c_custkey")


@register(
    "M-PREP-08",
    sql="WITH g AS (SELECT event_type, "
    f" SUM({sql_cents('value')}) AS sum_c, "
    " COUNT(*) AS cnt FROM events GROUP BY event_type) "
    "SELECT event_id, "
    " CASE WHEN cnt > 1 THEN "
    f"  CAST(sum_c - {sql_cents('value')} AS DOUBLE) / (cnt - 1) "
    " END AS loo_enc "
    "FROM events e JOIN g USING (event_type) ORDER BY event_id",
)
def m_prep_08(spark, sf):
    """Leave-one-out target encoding: each row's categorical feature is
    replaced by the mean target of its category EXCLUDING the row itself
    — (sum − own) / (cnt − 1). Plain per-category mean encoding leaks
    the row's own label into its feature (training metrics inflate,
    generalization collapses); LOO is the standard leakage-safe form,
    and it needs NO second pass: one grouped aggregate, broadcast back,
    row-local arithmetic. Sums are exact int64 cents so the final double
    division is the single (deterministic IEEE) float op.

    Scale shape: one map-combined groupBy over the category key (output
    = category cardinality, a broadcast-size dim at any corpus size) +
    a broadcast join — the fact table never shuffles. Singleton
    categories yield NULL (no peer information), handled identically in
    both engines via the cnt > 1 guard."""
    ev = load(spark, sf, "events")
    own_c = cents("value")
    g = ev.groupBy("event_type").agg(
        F.sum(own_c).alias("sum_c"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        ev.join(F.broadcast(g), "event_type")
        .select(
            "event_id",
            F.when(
                F.col("cnt") > 1,
                (F.col("sum_c") - own_c).cast("double") / (F.col("cnt") - 1),
            ).alias("loo_enc"),
        )
        .orderBy("event_id")
    )


@register(
    "M-EVAL-01",
    sql="WITH s AS (SELECT "
    f" {sql_cents('value')} % 100 AS score, "
    " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events), "
    "b AS (SELECT score, SUM(y) AS n_pos, COUNT(*) - SUM(y) AS n_neg "
    " FROM s GROUP BY score), "
    "c AS (SELECT score, "
    " SUM(n_pos) OVER (ORDER BY score DESC) AS tp, "
    " SUM(n_neg) OVER (ORDER BY score DESC) AS fp, "
    " (SELECT SUM(n_pos) FROM b) AS p_total FROM b) "
    "SELECT CAST(score AS BIGINT) AS score, CAST(tp AS BIGINT) AS tp, "
    " CAST(fp AS BIGINT) AS fp, CAST(p_total - tp AS BIGINT) AS fn, "
    " CAST(tp AS DOUBLE) / (tp + fp) AS precision_, "
    " CAST(tp AS DOUBLE) / p_total AS recall_ "
    "FROM c ORDER BY score",
)
def m_eval_01(spark, sf):
    """Precision/recall curve over score thresholds — distributed model
    evaluation: for every threshold t, the confusion counts of
    'predict positive when score ≥ t' and the derived precision/recall.
    (Scores are synthesized from the fixture: cents(value) mod 100;
    label = purchase. With a real model this input is M-PRED-01's
    scored output.)

    Scale shape — the one-pass curve algorithm every eval library uses,
    distributed: (1) bucket scores and count (pos, neg) per bucket —
    the ONLY pass over the fact table, map-side combined to ≤ 100 rows;
    (2) cumulative sums over the bucket table ordered by score DESC
    turn per-bucket counts into per-threshold confusion counts — a
    window over the BOUNDED bucket table (the GLOBAL_WINDOW-lint
    bounded case), never over raw scores. Precision/recall are int÷int
    doubles — deterministic IEEE, hash-identical cross-engine."""
    from pyspark.sql import Window

    s = load(spark, sf, "events").select(
        (cents("value") % 100).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("score").agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = b.agg(F.sum("n_pos").alias("p_total"))
    c = (
        b.withColumn("tp", F.sum("n_pos").over(w))
        .withColumn("fp", F.sum("n_neg").over(w))
        .crossJoin(F.broadcast(totals))
    )
    return c.select(
        F.col("score").cast("bigint"),
        F.col("tp").cast("bigint"),
        F.col("fp").cast("bigint"),
        (F.col("p_total") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("precision_"),
        (F.col("tp").cast("double") / F.col("p_total")).alias("recall_"),
    ).orderBy("score")


@register(
    "M-EVAL-02",
    # fixed decision threshold 50; slice = user_id % 4 (stands in for a
    # demographic/segment column)
    sql="WITH s AS (SELECT user_id % 4 AS slice, "
    f" {sql_cents('value')} % 100 AS score, "
    " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events) "
    "SELECT slice, "
    " CAST(SUM(CASE WHEN score >= 50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
    " CAST(SUM(CASE WHEN score >= 50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
    " CAST(SUM(CASE WHEN score < 50 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
    " CAST(SUM(CASE WHEN score < 50 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn, "
    " CAST(SUM(CASE WHEN score >= 50 AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
    "  / NULLIF(SUM(CASE WHEN score >= 50 THEN 1 ELSE 0 END), 0) AS precision_, "
    " CAST(SUM(CASE WHEN score >= 50 AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
    "  / NULLIF(SUM(y), 0) AS recall_ "
    "FROM s GROUP BY slice ORDER BY slice",
)
def m_eval_02(spark, sf):
    """Sliced (per-segment) evaluation at a fixed threshold — the
    fairness/robustness discipline: aggregate metrics hide a model that
    fails on a subgroup, so the confusion matrix and precision/recall
    are computed PER SLICE and shipped as the release gate's evidence
    table. One FILTER-style conditional aggregate pass grouped by the
    slice key — the same single-scan shape as Q-QUAL-02, keyed by
    segment; slices with no predicted positives yield NULL precision
    (no evidence) rather than a fake 0 or 1, identically in both
    engines via the NULLIF guard.

    Scale shape: one map-side-combined groupBy on the slice key; output
    is O(slices). Composes with M-EVAL-01 (curve per slice = add the
    slice key to its bucket stage)."""
    s = load(spark, sf, "events").select(
        (F.col("user_id") % 4).alias("slice"),
        (cents("value") % 100).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    pos = F.col("score") >= 50
    y1 = F.col("y") == 1
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    tp = cnt(pos & y1)
    return (
        s.groupBy("slice")
        .agg(
            tp.cast("bigint").alias("tp"),
            cnt(pos & ~y1).cast("bigint").alias("fp"),
            cnt(~pos & y1).cast("bigint").alias("fn"),
            cnt(~pos & ~y1).cast("bigint").alias("tn"),
            (tp.cast("double") / F.nullif(cnt(pos), F.lit(0))).alias("precision_"),
            (tp.cast("double") / F.nullif(F.sum("y"), F.lit(0))).alias("recall_"),
        )
        # bounded grain (4 slices by construction): plans/scale.bounded_sort
        .transform(bounded_sort, "slice")
    )


@register(
    "M-EVAL-03",
    sql="WITH s AS (SELECT "
    f" {sql_cents('value')} % 100 AS score, "
    " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events), "
    "b AS (SELECT score, SUM(y) AS np, COUNT(*) - SUM(y) AS ng "
    " FROM s GROUP BY score), "
    "c AS (SELECT np, ng, "
    " SUM(ng) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - ng AS ng_below FROM b) "
    "SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(ng) AS BIGINT) AS n_neg, "
    " CAST(SUM(np * (2 * ng_below + ng)) AS BIGINT) AS auc_num2, "
    " CAST(SUM(np * (2 * ng_below + ng)) AS DOUBLE) "
    "   / (2.0 * SUM(np) * SUM(ng)) AS auc "
    "FROM c",
)
def m_eval_03(spark, sf):
    """Distributed exact ROC-AUC via the rank-sum (Mann-Whitney U)
    identity: AUC = P(score_pos > score_neg) + ½·P(tie), computed from
    score-bucket counts without ever ranking individual rows. (Scores
    synthesized as cents(value) mod 100, label = purchase, as in
    M-EVAL-01; with a real model this input is M-PRED-01's output.)

    Scale shape: the naive AUC computation global-sorts every scored
    row (a single-partition rank over the fact table — the exact
    GLOBAL_WINDOW killer). The bucket identity needs only (n_pos, n_neg)
    per DISTINCT score: one map-side-combined aggregate over facts down
    to ≤100 rows, then a window + weighted sum over the BOUNDED bucket
    table — ``Σ np·(2·ng_below + ng)`` counts concordant pairs twice
    and tied pairs once, so ``auc_num2 = 2·P·N·AUC`` stays an exact
    int64 (hash-stable); the final auc is one int÷int IEEE division,
    identical cross-engine. Production scores quantize to fixed-point
    buckets for exactly this reason — the curve/AUC cost becomes
    O(buckets), independent of fact cardinality."""
    s = load(spark, sf, "events").select(
        (cents("value") % 100).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("score").agg(
        F.sum("y").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).alias("ng"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = b.withColumn("ng_below", F.sum("ng").over(w) - F.col("ng"))
    num2 = F.sum(F.col("np") * (2 * F.col("ng_below") + F.col("ng")))
    return c.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("ng").cast("bigint").alias("n_neg"),
        num2.cast("bigint").alias("auc_num2"),
        (num2.cast("double") / (2.0 * F.sum("np") * F.sum("ng"))).alias("auc"),
    )


@register(
    "M-PREP-09",
    sql="WITH f AS (SELECT event_type, "
    " (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1) % 5 AS fold "
    " FROM events) "
    "SELECT event_type, CAST(fold AS BIGINT) AS fold, "
    " CAST(COUNT(*) AS BIGINT) AS n "
    "FROM f GROUP BY event_type, fold ORDER BY event_type, fold",
)
def m_prep_09(spark, sf):
    """Stratified k-fold assignment (k=5): within every label, rows are
    dealt round-robin into folds by their rank on a unique key, so each
    (label, fold) cell holds ⌈n_label/k⌉ or ⌊n_label/k⌋ rows — the
    EXACT stratification cross-validation wants (class balance preserved
    per fold, max−min ≤ 1), deterministic under retries and
    repartitioning because the rank rides a total order, not physical
    row order. Output is the (label, fold, n) balance table a CV
    harness asserts before training.

    Scale shape: one shuffle on the label; the in-partition rank is
    linear. The label is a LOW-cardinality partition key, so a single
    giant class serializes through one task — at fact scale either
    pre-salt the rank (windows.py::salted_top_k's two-stage shape) or
    fall back to the map-only hashed split (M-PREP-07), whose fold
    sizes are binomial-approximate rather than exact. The salting
    claim is MEASURED, not asserted (r14 A/B, tools/ab_mprep09.py @ 801c9f9,
    BASELINE.md §5): an UNFILTERED full rank gets no WindowGroupLimit
    pushdown (plan-verified — the protection that refuted Q-WIN-14's
    salting exists only for rank FILTERS), and on 10M-row fresh-JVM
    replicas pre-salting with 8 salts wins 6.3× (uniform 5-label) to
    7.9× (90%-hot-label) at identical shuffle rows, trading exactness
    for a per-(label, fold) cell deviation ≤ 2·salts instead of ≤ 1.
    Production rule from the A/B pair: salt the window iff the rank
    survives unfiltered. The exact plain form here stays the
    registered operator — oracle-checkable exactness at verification
    scale; the docstring trade-off IS the operator's contract."""
    from pyspark.sql import Window

    ev = load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    f = ev.select(
        "event_type",
        ((F.row_number().over(w) - 1) % 5).alias("fold"),
    )
    return (
        f.groupBy("event_type", "fold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select("event_type", F.col("fold").cast("bigint"), "n")
        .orderBy("event_type", "fold")
    )


@register(
    "M-EVAL-04",
    sql="WITH s AS (SELECT "
    f" {sql_cents('value')} % 100 AS score, "
    " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events) "
    "SELECT CAST(score // 10 AS BIGINT) AS decile, "
    " CAST(COUNT(*) AS BIGINT) AS n, "
    " CAST(SUM(y) AS BIGINT) AS n_pos, "
    " CAST(SUM(score) AS BIGINT) AS score_sum, "
    " CAST(SUM(y) AS DOUBLE) / COUNT(*) AS frac_pos, "
    " CAST(SUM(score) AS DOUBLE) / (100.0 * COUNT(*)) AS mean_score "
    "FROM s GROUP BY decile ORDER BY decile",
)
def m_eval_04(spark, sf):
    """Calibration (reliability) table — the third leg of the eval
    family after the PR curve (M-EVAL-01) and AUC (M-EVAL-03): bucket
    scores into deciles and compare each bucket's MEAN PREDICTED
    probability against its OBSERVED positive rate. A well-calibrated
    model has frac_pos ≈ mean_score per bucket; the gap per bucket is
    what reliability diagrams plot and what expected-calibration-error
    sums. (Scores synthesized as cents(value) mod 100 read as
    percentage points; label = purchase, as in M-EVAL-01/03.)

    Scale shape: ONE map-side-combined aggregate over the facts to 10
    bucket rows — counts and integer score sums are the sufficient
    statistics, so the fact table is scanned once and nothing else
    moves; the two ratios are single int÷int IEEE divisions,
    hash-identical cross-engine."""
    s = load(spark, sf, "events").select(
        (cents("value") % 100).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    return (
        s.groupBy(F.floor(F.col("score") / 10).cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum("score").cast("bigint").alias("score_sum"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias("frac_pos"),
            (F.sum("score").cast("double") / (F.lit(100.0) * F.count(F.lit(1))))
            .alias("mean_score"),
        )
        # bounded grain (10 deciles): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "decile")
    )


_LEAK_THRESHOLD = 0.8
_LEAK_FEATURES = (
    # (name, engine-neutral integer expression) — 'leak' is the PLANTED
    # target copy that must be flagged; hour/uid_mod are honest features
    ("leak", "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"),
    ("hour", "EXTRACT(hour FROM ts)"),
    ("uid_mod", "user_id % 7"),
)


def _leak_sql():
    parts = []
    for name, expr in _LEAK_FEATURES:
        parts.append(
            "SELECT "
            f"'{name}' AS feature, CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST((COUNT(*) * CAST(SUM(x * y) AS BIGINT) "
            f" - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT)) AS DOUBLE) / "
            f"(SQRT(CAST(COUNT(*) * CAST(SUM(x * x) AS BIGINT) "
            f"  - CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT) AS DOUBLE)) * "
            f" SQRT(CAST(COUNT(*) * CAST(SUM(y * y) AS BIGINT) "
            f"  - CAST(SUM(y) AS BIGINT) * CAST(SUM(y) AS BIGINT) AS DOUBLE))) AS corr "
            f"FROM (SELECT CAST({expr} AS BIGINT) AS x, "
            " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
            f" FROM {{events}} e) t"
        )
    union = " UNION ALL ".join(parts)
    return (
        f"SELECT feature, n, corr, ABS(corr) > {_LEAK_THRESHOLD} AS leaky "
        f"FROM ({union}) u ORDER BY feature"
    )


@register("M-PREP-10", sql=_leak_sql().format(events="events"))
def m_prep_10(spark, sf):
    """Target-leakage detector — the pre-training gate that catches a
    feature which IS the label in disguise (joined-in post-outcome
    columns, target-derived aggregates): per feature, exact-moment
    Pearson correlation against the label (Q-AGG-16's five int64 moment
    sums — order-independent, map-side combinable, closed form
    evaluated once on exact values), flagged when |corr| exceeds the
    threshold. The planted 'leak' feature (a copy of the label) must
    flag at corr = 1.0; honest features (hour, uid_mod) must not.

    Scale shape: ONE pass over the facts computes all features' moment
    sums (a handful of int64 cells per feature), so the gate costs one
    map-combined aggregate regardless of fact size; the per-feature
    report is O(features). Categorical features enter via their
    integer codes (M-PREP-03/05); for high-cardinality keys use the
    per-category target-rate variance instead (M-PREP-08's machinery)."""
    ev = load(spark, sf, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("bigint")
    feats = {
        "leak": F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("bigint"),
        "hour": F.hour("ts").cast("bigint"),
        "uid_mod": F.pmod(F.col("user_id"), F.lit(7)).cast("bigint"),
    }
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y).alias("sy"), F.sum(y * y).alias("syy")]
    for name, x in feats.items():
        aggs += [
            F.sum(x).alias(f"sx_{name}"),
            F.sum(x * y).alias(f"sxy_{name}"),
            F.sum(x * x).alias(f"sxx_{name}"),
        ]
    m = ev.agg(*aggs)

    def corr_row(name):
        n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
        sx, sxy, sxx = (F.col(f"{c}_{name}") for c in ("sx", "sxy", "sxx"))
        corr = (n * sxy - sx * sy).cast("double") / (
            F.sqrt((n * sxx - sx * sx).cast("double"))
            * F.sqrt((n * syy - sy * sy).cast("double"))
        )
        return F.struct(
            F.lit(name).alias("feature"),
            n.cast("bigint").alias("n"),
            corr.alias("corr"),
        )

    return (
        m.select(F.explode(F.array(*[corr_row(f) for f in feats])).alias("r"))
        .select("r.*")
        .withColumn("leaky", F.abs(F.col("corr")) > _LEAK_THRESHOLD)
        .orderBy("feature")
    )


_EVAL5_SQL = """
WITH dtok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
qt AS (SELECT doc_id AS q_id, t FROM dtok WHERE doc_id % 50 = 0),
ov AS (
    SELECT qt.q_id, c.doc_id AS c_id, COUNT(*) AS ov
    FROM qt JOIN dtok c ON qt.t = c.t AND c.doc_id <> qt.q_id
    GROUP BY qt.q_id, c_id
),
rk AS (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ov DESC, c_id) AS rnk
    FROM ov
),
rel AS (
    SELECT r.q_id, r.rnk
    FROM rk r
    JOIN documents qd ON qd.doc_id = r.q_id
    JOIN documents cd ON cd.doc_id = r.c_id
    WHERE r.rnk <= 10 AND qd.source = cd.source
)
SELECT qd.doc_id AS q_doc_id,
       CAST(MIN(rel.rnk) AS BIGINT) AS first_rel_rank,
       CAST(COALESCE(SUM(CASE WHEN rel.rnk <= 5 THEN 1 END), 0) AS BIGINT) AS hit5,
       CAST(COUNT(rel.rnk) AS BIGINT) AS hit10
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) qd
LEFT JOIN rel ON rel.q_id = qd.doc_id
GROUP BY qd.doc_id ORDER BY q_doc_id
"""


@register("M-EVAL-05", sql=_EVAL5_SQL)
def m_eval_05(spark, sf):
    """Retrieval ranking evaluation — the offline-eval leg of the
    search/RAG stack (L-SIM-08/09/10 build retrievers; this grades
    one): per query, the rank of the first relevant result plus hit@5 /
    hit@10 — the per-query integer witnesses behind MRR and recall@k.
    The harness deliberately emits RANKS, not the averaged float
    metric: ranks are exact ints (hash-checkable), and the aggregation
    to MRR is one trivial driver-side mean the caller applies.

    Fixture ground truth: every 50th document is a query; a candidate
    is relevant iff it shares the query's source. The ranking is
    shared-distinct-token overlap (integer) with doc_id tiebreak —
    deterministic cross-engine.

    Scale shape: query→candidate scoring is a posting-list join on
    token (bounded per-token by document frequency — same inverted-
    index shape as L-DEDUP-03, with the query side filtered down
    ~50×); ranking is a per-query window over each query's candidate
    list. No all-pairs scan, nothing driver-side."""
    docs = load(spark, sf, "documents")
    dtok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    qt = dtok.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("q_id"), "t"
    )
    ov = (
        qt.join(dtok.withColumnRenamed("doc_id", "c_id"), "t")
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("ov"), "c_id")
    rk = ov.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)
    src = docs.select("doc_id", "source")
    rel = (
        rk.join(
            src.select(F.col("doc_id").alias("q_id"), F.col("source").alias("qs")),
            "q_id",
        )
        .join(
            src.select(F.col("doc_id").alias("c_id"), F.col("source").alias("cs")),
            "c_id",
        )
        .filter(F.col("qs") == F.col("cs"))
        .select("q_id", "rnk")
    )
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("q_doc_id")
    )
    return (
        queries.join(rel, queries.q_doc_id == rel.q_id, "left")
        .groupBy("q_doc_id")
        .agg(
            F.min("rnk").cast("bigint").alias("first_rel_rank"),
            F.coalesce(
                F.sum(F.when(F.col("rnk") <= 5, 1)), F.lit(0)
            ).cast("bigint").alias("hit5"),
            F.count("rnk").cast("bigint").alias("hit10"),
        )
        .orderBy("q_doc_id")
    )


_HASH_DIM = 64

_PREP11_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
h AS (
    SELECT doc_id,
           (ascii(substring(md5(t), 1, 1)) * 31
            + ascii(substring(md5(t), 2, 1))) % {_HASH_DIM} AS bucket,
           CASE WHEN ascii(substring(md5(t), 3, 1)) % 2 = 0
                THEN 1 ELSE -1 END AS s
    FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, CAST(SUM(s) AS BIGINT) AS w
FROM h GROUP BY doc_id, bucket HAVING SUM(s) <> 0
ORDER BY doc_id, bucket
"""


@register("M-PREP-11", sql=_PREP11_SQL)
def m_prep_11(spark, sf):
    """Feature hashing (the hashing trick): tokens are hashed into a
    fixed 64-bucket signed count vector with no vocabulary pass at all
    — the one-shot featurizer for unbounded/streaming vocabularies
    (Weinberger et al. 2009), complementing L-TEXT-19's two-pass
    vocabulary encoding and M-PREP-06's one-hot. The sign bit makes
    collisions cancel in expectation instead of biasing counts upward.
    Emitted in sparse long form (doc_id, bucket, weight) — exact ints.

    The bucket/sign functions are derived from md5 hex characters so
    both engines compute them identically; a production Spark pipeline
    would use the JVM-side xxhash64/murmur3 for speed — same plan
    shape, cheaper per token.

    Scale shape: map-only explode + one (doc_id, bucket)-key rollup
    with map-side combine; output is bounded by min(tokens, 64) rows
    per document. No vocabulary build, no broadcast, no second pass —
    which is the entire point of the trick at 100 TB."""
    tok = load(spark, sf, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    h = F.md5("t")
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1))
    ) % _HASH_DIM
    sign = F.when(F.ascii(F.substring(h, 3, 1)) % 2 == 0, 1).otherwise(-1)
    return (
        tok.select("doc_id", bucket.cast("bigint").alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("bigint").alias("w"))
        .filter(F.col("w") != 0)
        .orderBy("doc_id", "bucket")
    )


_PREP12_SQL = """
WITH b AS (
    SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts FROM events
),
bounds AS (SELECT MIN(ts) AS t0 FROM b),
tagged AS (
    SELECT event_id, user_id,
           CASE WHEN ts <  t0 + INTERVAL 21 DAY THEN 'train'
                WHEN ts <  t0 + INTERVAL 23 DAY THEN 'embargo'
                ELSE 'valid' END AS split
    FROM b, bounds
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tagged GROUP BY split ORDER BY split
"""


@register("M-PREP-12", sql=_PREP12_SQL)
def m_prep_12(spark, sf):
    """Purged time-series train/validation split (the de Prado
    protocol): train strictly BEFORE the cut, an embargo gap (2 days
    here) PURGED entirely, validation strictly after — the split that
    keeps label horizons and autocorrelated features from leaking
    across the boundary, which M-PREP-07's entity-hash split cannot
    guarantee for temporal data (the same user's adjacent events land
    on both sides). The witness is per-split counts, id checksums, and
    user overlap-relevant distinct counts.

    Scale shape: one scalar min (map-combined) broadcast back, then a
    map-only CASE tag and one rollup — the split column then drives
    partitioned writes so train/valid never co-scan. Nothing
    driver-side."""
    ev = load(spark, sf, "events").select("event_id", "user_id", "ts")
    bounds = ev.agg(F.min("ts").alias("t0"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        F.when(
            F.col("ts") < F.col("t0") + F.expr("INTERVAL 21 DAY"), "train"
        )
        .when(F.col("ts") < F.col("t0") + F.expr("INTERVAL 23 DAY"), "embargo")
        .otherwise("valid")
        .alias("split"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        # enum grain (3 split labels): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "split")
    )


_EVAL6_SQL = """
WITH s AS (
    SELECT event_type, ts, event_id,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y_c
    FROM events
),
p AS (
    SELECT event_type, y_c,
           lag(y_c) OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS yhat_c
    FROM s
),
d AS (SELECT event_type, y_c, yhat_c FROM p WHERE yhat_c IS NOT NULL)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(ABS(y_c - yhat_c)) AS BIGINT) AS abs_err_c,
       CAST(SUM((y_c - yhat_c) * (y_c - yhat_c)) AS BIGINT) AS sq_err_c2,
       CAST(SUM(y_c) AS BIGINT) AS y_sum_c,
       CAST(SUM(y_c * y_c) AS BIGINT) AS y_sq_c2,
       CAST(SUM(ABS(y_c - yhat_c)) AS DOUBLE) / COUNT(*) / 100 AS mae
FROM d GROUP BY event_type ORDER BY event_type
"""


@register("M-EVAL-06", sql=_EVAL6_SQL)
def m_eval_06(spark, sf):
    """Distributed regression / forecasting evaluation in exact integer
    moments — the missing leg beside the classification (M-EVAL-01/02/
    03/04) and ranking (M-EVAL-05) evals: per series, MAE and the
    sufficient statistics for RMSE and R² (Σ|e|, Σe², Σy, Σy², n — all
    int64 at cents scale), against the PERSISTENCE baseline ŷ_t =
    y_{t-1}, the forecast every model must beat before it ships. MAE's
    absolute error stays exact because both y and ŷ are integer cents;
    the derived double is one int÷int division.

    Scale shape: one per-series window (LAG) on the (type, time) key —
    the same single shuffle the feature pipeline already does — then a
    map-combined five-moment rollup to one row per series. Swapping in
    a real model's predictions changes the LAG column to a join
    against the scored table; the moment algebra is unchanged."""
    s = load(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y_c"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = (
        s.withColumn("yhat_c", F.lag("y_c").over(w))
        .filter(F.col("yhat_c").isNotNull())
        .withColumn("e", F.col("y_c") - F.col("yhat_c"))
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.abs("e")).cast("bigint").alias("abs_err_c"),
            F.sum(F.col("e") * F.col("e")).cast("bigint").alias("sq_err_c2"),
            F.sum("y_c").cast("bigint").alias("y_sum_c"),
            F.sum(F.col("y_c") * F.col("y_c")).cast("bigint").alias("y_sq_c2"),
        )
        .withColumn(
            "mae", F.col("abs_err_c").cast("double") / F.col("n") / 100
        )
        .orderBy("event_type")
    )


_PREP13_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         {sql_cents('o_totalprice')} AS price_c,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
              THEN 'train' ELSE 'valid' END AS split
  FROM orders),
fit AS (
  SELECT MIN(price_c) AS lo, MAX(price_c) AS hi
  FROM o WHERE split = 'train'),
scaled AS (
  SELECT split,
         CASE WHEN price_c <= lo THEN CAST(0 AS BIGINT)
              WHEN price_c >= hi THEN CAST(1000 AS BIGINT)
              ELSE CAST(((price_c - lo) * 1000) // (hi - lo) AS BIGINT)
         END AS pm
  FROM o, fit)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(pm) AS BIGINT) AS min_pm,
       CAST(MAX(pm) AS BIGINT) AS max_pm,
       CAST(SUM(pm) AS BIGINT) AS sum_pm,
       CAST(SUM(CASE WHEN pm IN (0, 1000) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped
FROM scaled GROUP BY split ORDER BY split
"""


@register("M-PREP-13", sql=_PREP13_SQL)
def m_prep_13(spark, sf):
    """Leakage-safe feature scaling: min-max statistics are FIT on the
    train split only (orders before 1997) and APPLIED to both splits,
    with out-of-range validation rows clipped to the edges — the
    fit/transform discipline that keeps validation data out of the
    scaler (fitting on the full table leaks the future's range into
    the features; sklearn's fit-on-train-transform-both, distributed).
    Exact carrier: per-mille integer scaling, (x − lo)·1000 div
    (hi − lo), both engines flooring the positive division; the
    clipped-count column makes the leakage-relevant behavior (valid
    rows outside the train range) a first-class, hash-checked output.

    Scale shape: the fit is a map-combined 2-scalar aggregate over the
    train partition, broadcast back into a map-only transform — the
    same one-broadcast shape as M-PREP-12's cut; no shuffle touches
    the facts except the final per-split rollup."""
    o = load(spark, sf, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        cents("o_totalprice").alias("price_c"),
    ).withColumn(
        "split",
        F.when(F.col("od") < F.lit("1997-01-01").cast("date"), "train").otherwise(
            "valid"
        ),
    )
    fit = (
        o.filter(F.col("split") == "train")
        .agg(F.min("price_c").alias("lo"), F.max("price_c").alias("hi"))
    )
    scaled = o.crossJoin(F.broadcast(fit)).select(
        "split",
        F.when(F.col("price_c") <= F.col("lo"), F.lit(0).cast("bigint"))
        .when(F.col("price_c") >= F.col("hi"), F.lit(1000).cast("bigint"))
        .otherwise(
            F.expr("((price_c - lo) * 1000) div (hi - lo)").cast("bigint")
        )
        .alias("pm"),
    )
    return (
        scaled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("pm").cast("bigint").alias("min_pm"),
            F.max("pm").cast("bigint").alias("max_pm"),
            F.sum("pm").cast("bigint").alias("sum_pm"),
            F.sum(F.when(F.col("pm").isin(0, 1000), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
        )
        # enum grain (split labels): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "split")
    )


_EVAL7_SQL = f"""
WITH o AS (
  SELECT {sql_cents('o_totalprice')} AS price_c,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
              THEN 1 ELSE 0 END AS is_train
  FROM orders),
b AS (
  SELECT CAST(LEAST(9, price_c // 5000000) AS BIGINT) AS bucket,
         CAST(SUM(is_train) AS BIGINT) AS n_t,
         CAST(SUM(1 - is_train) AS BIGINT) AS n_s
  FROM o GROUP BY bucket),
tot AS (
  SELECT SUM(n_t) AS big_nt, SUM(n_s) AS big_ns FROM b)
SELECT bucket, n_t, n_s,
       CASE WHEN n_t = 0 THEN n_s > 0
            ELSE (CAST(n_s AS DOUBLE) * CAST(big_nt AS DOUBLE)
                  - CAST(n_t AS DOUBLE) * CAST(big_ns AS DOUBLE))
                 * (CAST(n_s AS DOUBLE) * CAST(big_nt AS DOUBLE)
                    - CAST(n_t AS DOUBLE) * CAST(big_ns AS DOUBLE))
                 > 9.0 * CAST(n_t AS DOUBLE) * CAST(big_ns AS DOUBLE)
                       * CAST(big_nt AS DOUBLE)
       END AS drifted
FROM b, tot ORDER BY bucket
"""


@register("M-EVAL-07", sql=_EVAL7_SQL)
def m_eval_07(spark, sf):
    """Train/serve feature-drift gate — the MLOps check that catches a
    feature distribution shifting under a deployed model: the price
    feature is bucketed on FIXED $50k-wide edges (fixed edges, not
    data-derived quantiles — drift detection needs a stable ruler),
    counted per bucket in the train era vs the serve era, and each
    bucket is flagged when the serve count deviates ≥3σ from its
    train-proportional expectation. The test is the cross-multiplied
    z² form (n_s·N_t − n_t·N_s)² > 9·n_t·N_s·N_t — Q-QUAL-04's exact
    discipline, here evaluated in DOUBLES (products reach ~1e21 at
    large SF, past int64): every factor is an exact integer cast to
    double, both engines perform the identical correctly-rounded IEEE
    multiplies, so the boolean is still engine-exact while never
    overflowing. Empty-train buckets flag on any serve row.

    Scale shape: one fact-sized rollup to ≤10 buckets; the totals are
    a window/CROSS JOIN over those 10 rows. The drift report for a
    100 TB serve log costs one map-combined aggregation."""
    o = load(spark, sf, "orders").select(
        cents("o_totalprice").alias("price_c"),
        F.when(
            F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"), 1
        )
        .otherwise(0)
        .alias("is_train"),
    )
    b = (
        o.groupBy(
            F.least(F.lit(9), F.expr("price_c div 5000000"))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.sum("is_train").cast("bigint").alias("n_t"),
            F.sum(F.lit(1) - F.col("is_train")).cast("bigint").alias("n_s"),
        )
    )
    tot = b.agg(
        F.sum("n_t").alias("big_nt"), F.sum("n_s").alias("big_ns")
    )
    j = b.crossJoin(F.broadcast(tot))
    dev = F.col("n_s").cast("double") * F.col("big_nt").cast("double") - F.col(
        "n_t"
    ).cast("double") * F.col("big_ns").cast("double")
    lim = (
        F.lit(9.0)
        * F.col("n_t").cast("double")
        * F.col("big_ns").cast("double")
        * F.col("big_nt").cast("double")
    )
    return (
        j.select(
            "bucket",
            "n_t",
            "n_s",
            F.when(F.col("n_t") == 0, F.col("n_s") > 0)
            .otherwise(dev * dev > lim)
            .alias("drifted"),
        )
        .orderBy("bucket")
    )


_PREP14_SQL = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey % 100 = 0),
items AS (SELECT DISTINCT l_partkey AS it FROM lineitem),
users AS (SELECT DISTINCT u FROM inter),
cand AS (
  SELECT us.u, i.it,
         md5(CAST(us.u AS VARCHAR) || '|' || CAST(i.it AS VARCHAR)) AS h
  FROM users us, items i
  WHERE NOT EXISTS (SELECT 1 FROM inter x
                    WHERE x.u = us.u AND x.it = i.it)),
ranked AS (
  SELECT u, it, h,
         ROW_NUMBER() OVER (PARTITION BY u ORDER BY h, it) AS rnk
  FROM cand)
SELECT u, CAST(rnk AS BIGINT) AS rnk, it
FROM ranked WHERE rnk <= 5 ORDER BY u, rnk
"""


@register("M-PREP-14", sql=_PREP14_SQL)
def m_prep_14(spark, sf):
    """Deterministic negative sampling for implicit-feedback training
    (the BPR / word2vec data-prep step): for each sampled user, pick
    k=5 items they have NEVER interacted with, chosen by md5-hash
    order over (user, item) — the registry's no-seeded-PRNG discipline
    (mixture.py): the "random" negatives are reproducible bit-for-bit
    on any engine, any partitioning, any rerun, which is what makes
    training-data lineage auditable. The anti-join against the
    interaction set guarantees no false negative leaks a positive.

    Scale shape: the fixture demo crosses sampled users × the item
    vocabulary (bounded demo); the production path blocks the cross by
    hash-bucket (user, item-bucket) so each task draws from ~k·few
    candidates — same map-only md5 discipline, never a full cross.
    Interactions shuffle once on user for the anti-join; candidate
    ranking is a per-user window over the bounded candidate set."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    inter = (
        o.filter(F.col("o_custkey") % 100 == 0)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("it"))
        .distinct()
    )
    items = li.select(F.col("l_partkey").alias("it")).distinct()
    users = inter.select("u").distinct()
    cand = (
        users.crossJoin(items)
        .join(inter, ["u", "it"], "left_anti")
        .select(
            "u",
            "it",
            F.md5(
                F.concat(
                    F.col("u").cast("string"),
                    F.lit("|"),
                    F.col("it").cast("string"),
                )
            ).alias("h"),
        )
    )
    w = Window.partitionBy("u").orderBy("h", "it")
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("u", "rnk", "it")
        .orderBy("u", "rnk")
    )


_EVAL8_SQL = """
WITH assign AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
v AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS c
  FROM assign GROUP BY variant),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
         MAX(CASE WHEN variant = 0 THEN c END) AS c0,
         MAX(CASE WHEN variant = 1 THEN n END) AS n1,
         MAX(CASE WHEN variant = 1 THEN c END) AS c1
  FROM v)
SELECT n0, c0, n1, c1,
       (CAST(c1 AS DOUBLE) * CAST(n0 AS DOUBLE)
        - CAST(c0 AS DOUBLE) * CAST(n1 AS DOUBLE))
       * (CAST(c1 AS DOUBLE) * CAST(n0 AS DOUBLE)
          - CAST(c0 AS DOUBLE) * CAST(n1 AS DOUBLE))
       * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
       > 3.8415 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
               * (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
               * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)
                  - CAST(c0 AS DOUBLE) - CAST(c1 AS DOUBLE))
         AS significant
FROM w
"""


@register("M-EVAL-08", sql=_EVAL8_SQL)
def m_eval_08(spark, sf):
    """A/B experiment readout — the two-proportion z-test every
    experimentation platform runs, in engine-exact arithmetic: users
    are assigned deterministically (user_id % 2 — the documented
    stand-in for a real bucketing hash, same discipline as M-PREP-14's
    md5 assignment), per-user conversion is "ever purchased", and the
    pooled two-proportion z² test is CROSS-MULTIPLIED so no division
    or sqrt is compared: (c₁n₀ − c₀n₁)²·(n₀+n₁) > z²·n₀n₁·C·(N−C)
    with z² = 3.8415 (α = 0.05, two-sided). Every factor is an exact
    integer cast to double (the products pass int64 at large SF —
    M-EVAL-07's overflow-safe discipline), so both engines compute the
    identical correctly-rounded boolean. Raw counts ship alongside;
    effect size is the reader's division.

    Scale shape: one user-keyed rollup (the conversion flag is a
    per-user MAX, map-combinable), then a 2-row pivot — the experiment
    readout for a 100 TB event log costs one aggregation pass."""
    assign = (
        load(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("variant"), "conv"
        )
    )
    v = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    dev = d("c1") * d("n0") - d("c0") * d("n1")
    lhs = dev * dev * (d("n0") + d("n1"))
    rhs = (
        F.lit(3.8415)
        * d("n0")
        * d("n1")
        * (d("c0") + d("c1"))
        * (d("n0") + d("n1") - d("c0") - d("c1"))
    )
    return w.select("n0", "c0", "n1", "c1", (lhs > rhs).alias("significant"))


# shared md5-polynomial score fragment for M-EVAL-09 — dialect-specific
# only in the string cast (Spark STRING vs DuckDB VARCHAR); the
# polynomial is the shared functions.md5_poly definition (descending
# powers: char1·961 + char2·31 + char3)
def _cal_raw(cast_t: str) -> str:
    return md5_poly(f"CAST(o_orderkey AS {cast_t})", 3, descending=True)


_EVAL9_SQL = f"""
WITH s AS (
  SELECT {_cal_raw('VARCHAR')} % 1000 AS spm,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders)
SELECT spm // 100 AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(spm) AS BIGINT) AS sum_score_pm,
       CAST(SUM(y) AS BIGINT) AS n_pos
FROM s GROUP BY bin ORDER BY bin
"""


@register("M-EVAL-09", sql=_EVAL9_SQL)
def m_eval_09(spark, sf):
    """Calibration-bin readout (the reliability-diagram table): scores
    in per-mille land in 10 equal-width bins; per bin the row count,
    the exact predicted-probability numerator (Σ score_pm; mean = that
    over 1000·n) and the observed positive count. A calibrated model
    has sum_score_pm/(1000·n) ≈ n_pos/n per bin — the downstream ECE /
    Brier decomposition is driver-side arithmetic on these 10 rows.
    The "model score" is an md5-polynomial stand-in (the same
    determinism discipline as M-PREP-11's feature hashing: both
    engines compute the identical integer, so the oracle pins the
    MECHANISM; a real model plugs its score column in unchanged). The
    label is priority∈{{URGENT,HIGH}}.

    Scale shape: one map-combined aggregate over 10 groups — the
    cheapest possible eval pass; no per-row output ever leaves the
    executors."""
    raw = _cal_raw("STRING")
    s = load(spark, sf, "orders").select(
        (F.expr(raw) % 1000).alias("spm"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    return (
        s.groupBy(F.expr("spm div 100").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("spm").cast("long").alias("sum_score_pm"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        # bounded grain (10 calibration bins): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "bin")
    )


_PREP15_SQL = """
WITH t AS (
  SELECT o_orderpriority AS label, o_orderkey AS k,
         md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders),
r AS (SELECT label, k,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY h, k) AS rn,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM t)
SELECT label,
       CASE WHEN rn <= (n * 8) // 10 THEN 'train'
            WHEN rn <= (n * 9) // 10 THEN 'valid'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM r GROUP BY label, split ORDER BY label, split
"""


@register("M-PREP-15", sql=_PREP15_SQL)
def m_prep_15(spark, sf):
    """EXACT stratified train/valid/test split (80/10/10 per class):
    within each label, rows are pseudo-shuffled by md5(key) and
    rank-cut at exact ⌊0.8n⌋/⌊0.9n⌋ boundaries — so every class hits
    its target proportions EXACTLY (±1 row from the floor), unlike the
    hash-bucket split (M-PREP-14's mechanism), which is only
    proportional in expectation and can starve rare classes. The
    md5 ordering makes the split deterministic, reproducible, and
    leakage-free (membership depends only on the key, never on row
    order or partitioning). Output is the per-(class, split) contract:
    counts + key checksum.

    Scale shape: one window partitioned BY LABEL — parallel across
    classes; a single giant class serializes its own rank pass (the
    price of exactness — if that bites, fall back to hash-bucket for
    the head classes and exact ranks for the tail). One shuffle
    total."""
    t = load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("label"),
        F.col("o_orderkey").alias("k"),
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    )
    w = Window.partitionBy("label").orderBy("h", "k")
    wn = Window.partitionBy("label")
    r = t.select(
        "label",
        "k",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    split = (
        F.when(F.col("rn") <= F.expr("(n * 8) div 10"), "train")
        .when(F.col("rn") <= F.expr("(n * 9) div 10"), "valid")
        .otherwise("test")
    )
    return (
        r.select("label", split.alias("split"), "k")
        .groupBy("label", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("k").cast("long").alias("key_sum"),
        )
        .orderBy("label", "split")
    )


# shared md5-flip predicted-class fragment for M-EVAL-10 — the stand-in
# "model output" is the actual class perturbed to the next class in the
# alphabetical ring for the ~1/5 of rows whose md5 first hex char lands
# on a multiple of 5 (same determinism discipline as M-EVAL-09's score)
def _conf_pred(cast_t: str) -> str:
    flip = md5_poly(f"CAST(event_id AS {cast_t})", 1)
    return (
        f"CASE WHEN {flip} % 5 = 0 "
        "THEN CASE event_type WHEN 'click' THEN 'error' "
        "WHEN 'error' THEN 'purchase' WHEN 'purchase' THEN 'signup' "
        "WHEN 'signup' THEN 'view' ELSE 'click' END "
        "ELSE event_type END"
    )


_EVAL10_SQL = f"""
WITH e AS (
  SELECT event_type AS actual, {_conf_pred('VARCHAR')} AS predicted
  FROM events),
cm AS (SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM e GROUP BY actual, predicted),
sup AS (SELECT actual AS cls, CAST(SUM(cnt) AS BIGINT) AS support
        FROM cm GROUP BY actual),
pn AS (SELECT predicted AS cls, CAST(SUM(cnt) AS BIGINT) AS pred_n
       FROM cm GROUP BY predicted),
d AS (SELECT actual AS cls, CAST(SUM(cnt) AS BIGINT) AS tp
      FROM cm WHERE actual = predicted GROUP BY actual)
SELECT s.cls,
       CAST(COALESCE(d.tp, 0) AS BIGINT) AS tp,
       CAST(COALESCE(pn.pred_n, 0) - COALESCE(d.tp, 0) AS BIGINT) AS fp,
       CAST(s.support - COALESCE(d.tp, 0) AS BIGINT) AS fn,
       s.support,
       CAST(1000 * COALESCE(d.tp, 0) // NULLIF(COALESCE(pn.pred_n, 0), 0)
            AS BIGINT) AS precision_pm,
       CAST(1000 * COALESCE(d.tp, 0) // s.support AS BIGINT) AS recall_pm,
       CAST(2000 * COALESCE(d.tp, 0)
            // NULLIF(s.support + COALESCE(pn.pred_n, 0), 0)
            AS BIGINT) AS f1_pm
FROM sup s LEFT JOIN pn ON s.cls = pn.cls LEFT JOIN d ON s.cls = d.cls
ORDER BY s.cls
"""


def confusion_matrix(df, actual_col: str = "actual",
                     predicted_col: str = "predicted"):
    """Public API behind M-EVAL-10: per-class confusion counts and
    floor-per-mille precision/recall/F1 in exact integer arithmetic for
    a frame of (actual, predicted) label pairs. One row per class that
    appears as an actual label; a class only ever predicted (never
    actual) contributes to other classes' fp but gets no row — its
    recall would be undefined. Property-tested against an independent
    pure-pandas reference in tests/test_eval_profile_property.py.

    Scale shape: ONE shuffle to the (actual, predicted) grain — at most
    k^2 cells for k classes — then three rollups of that tiny frame and
    a k-row join; per-row work never leaves the map side."""
    e = df.select(
        F.col(actual_col).alias("actual"),
        F.col(predicted_col).alias("predicted"),
    )
    cm = e.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    sup = cm.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("cnt").cast("bigint").alias("support")
    )
    pn = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("cnt").cast("bigint").alias("pred_n")
    )
    d = cm.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("cnt").alias("tp")
    )
    j = (
        sup.join(pn, "cls", "left")
        .join(d, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("pred_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.col("support") - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fn"),
            "support",
            F.coalesce("pred_n", F.lit(0)).cast("bigint").alias("pred_n"),
        )
    )
    return (
        j.select(
            "cls",
            "tp",
            "fp",
            "fn",
            "support",
            F.expr("1000 * tp div nullif(pred_n, 0)")
            .cast("bigint")
            .alias("precision_pm"),
            F.expr("1000 * tp div support").cast("bigint").alias("recall_pm"),
            F.expr("2000 * tp div nullif(support + pred_n, 0)")
            .cast("bigint")
            .alias("f1_pm"),
        )
        .orderBy("cls")
    )


@register("M-EVAL-10", sql=_EVAL10_SQL)
def m_eval_10(spark, sf):
    """Multiclass confusion-matrix readout: per class the true/false
    positives, false negatives, support, and floor-per-mille precision /
    recall / F1 in exact integer arithmetic (F1 = 2000*tp // (support +
    pred_n), since 2tp+fp+fn = support + pred_n) — the classification
    eval leg M-EVAL-01/02 (thresholded binary) and M-EVAL-03 (AUC)
    don't cover. "Predictions" are the md5-ring perturbation of the
    true class (~19% error rate), so every confusion cell is engine-
    deterministic and the oracle pins the mechanism; a real model's
    predicted-label column plugs into confusion_matrix (the public API
    this delegates to) unchanged. Macro/micro averages are driver-side
    arithmetic on these 5 rows (see examples/model_evaluation.py)."""
    e = load(spark, sf, "events").select(
        F.col("event_type").alias("actual"),
        F.expr(_conf_pred("STRING")).alias("predicted"),
    )
    return confusion_matrix(e)


_PREP16_SQL = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey % 100 = 0),
users AS (SELECT DISTINCT u FROM inter),
items AS (
  SELECT it, substr(md5('b#' || CAST(it AS VARCHAR)), 1, 1) AS bucket
  FROM (SELECT DISTINCT l_partkey AS it FROM lineitem) t),
spine AS (
  SELECT substr('0123456789abcdef', CAST(i AS INT) + 1, 1) AS bucket
  FROM range(16) r(i)),
probes AS (
  SELECT u, bucket FROM (
    SELECT us.u, s.bucket,
           ROW_NUMBER() OVER (
             PARTITION BY us.u
             ORDER BY md5('p#' || CAST(us.u AS VARCHAR) || '#' || s.bucket),
                      s.bucket) AS pr
    FROM users us, spine s) z
  WHERE pr <= 4),
cand AS (
  SELECT p.u, i.it,
         md5(CAST(p.u AS VARCHAR) || '|' || CAST(i.it AS VARCHAR)) AS h
  FROM probes p JOIN items i ON i.bucket = p.bucket
  WHERE NOT EXISTS (SELECT 1 FROM inter x WHERE x.u = p.u AND x.it = i.it)),
ranked AS (
  SELECT u, it, h,
         ROW_NUMBER() OVER (PARTITION BY u ORDER BY h, it) AS rnk
  FROM cand)
SELECT u, CAST(rnk AS BIGINT) AS rnk, it
FROM ranked WHERE rnk <= 5 ORDER BY u, rnk
"""


def blocked_negatives(spark, inter, items, k: int = 5, probes: int = 4,
                      bucket_chars: int = 1):
    """Blocked deterministic negative sampling — the public API behind
    M-PREP-16. ``inter`` is the positive/interaction frame (u, it),
    ``items`` the item vocabulary (it). Items hash into B = 16^
    ``bucket_chars`` md5 buckets; each user draws from its ``probes``
    md5-ranked buckets, positives are anti-joined away, and the top
    ``k`` candidates per user by md5(u|it) are returned as (u, rnk, it)
    — bit-reproducible on any engine or partitioning. ``bucket_chars``
    is the production scale knob: size B so |items|/B stays a small
    constant (3-4 chars = 4096-65536 buckets), which bounds candidate
    volume at users·probes·(|items|/B) and keeps the bucket join
    skew-free."""
    users = inter.select("u").distinct()
    items = items.withColumn(
        "bucket",
        F.substring(
            F.md5(F.concat(F.lit("b#"), F.col("it").cast("string"))),
            1,
            bucket_chars,
        ),
    )
    # enumerate all 16^bucket_chars lowercase-hex bucket strings from a
    # Range (bounded literal build side — lint-downgraded by design)
    hex_expr = " || ".join(
        "substr('0123456789abcdef', "
        f"CAST((id div {16 ** j}) % 16 AS INT) + 1, 1)"
        for j in reversed(range(bucket_chars))
    )
    spine = spark.range(16 ** bucket_chars).select(
        F.expr(hex_expr).alias("bucket")
    )
    wpr = Window.partitionBy("u").orderBy(
        F.md5(
            F.concat(
                F.lit("p#"), F.col("u").cast("string"), F.lit("#"), F.col("bucket")
            )
        ),
        "bucket",
    )
    probe_set = (
        users.crossJoin(spine)
        .withColumn("pr", F.row_number().over(wpr))
        .filter(F.col("pr") <= probes)
        .select("u", "bucket")
    )
    cand = (
        probe_set.join(items, "bucket")
        .join(inter, ["u", "it"], "left_anti")
        .select(
            "u",
            "it",
            F.md5(
                F.concat(
                    F.col("u").cast("string"), F.lit("|"), F.col("it").cast("string")
                )
            ).alias("h"),
        )
    )
    w = Window.partitionBy("u").orderBy("h", "it")
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("u", "rnk", "it")
        .orderBy("u", "rnk")
    )


@register("M-PREP-16", sql=_PREP16_SQL)
def m_prep_16(spark, sf):
    """BLOCKED negative sampling — the production path M-PREP-14's
    docstring promised, shipped as code (VERDICT r7 item 4): instead of
    crossing every sampled user with the FULL item vocabulary, items
    are hashed into B=16 md5 buckets and each user draws candidates
    from only its P=4 probe buckets (chosen by md5(user, bucket) rank
    — deterministic, so the "random" probe set is reproducible on any
    engine / partitioning / rerun). Candidates are anti-joined against
    the interaction set (no positive ever leaks) and ranked by the
    SAME md5(user|item) key as M-PREP-14, so the blocked draw is
    exactly the demo's draw restricted to the probed buckets
    (property-pinned against a pure-Python reference in
    tests/test_negsample_property.py).

    Scale shape: candidate volume is users × P × (|items|/B) instead
    of users × |items| — with B sized so |items|/B is a constant c
    (production uses a 3-4 hex-char bucket, B = 4096-65536), shuffle
    rows are Θ(users · P·c) ≈ Θ(users · k), the audit target. The
    16-key bucket join here is the fixture rendering of that knob —
    at 16 buckets the join would skew at real scale; widening the
    bucket string is the one-line fix. The 16-row probe spine is a
    literal Range crossed under every user (bounded broadcast BNLJ,
    lint-downgraded by design)."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    inter = (
        o.filter(F.col("o_custkey") % 100 == 0)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("it"))
        .distinct()
    )
    items = li.select(F.col("l_partkey").alias("it")).distinct()
    return blocked_negatives(spark, inter, items)


_EVAL11_SQL = """
WITH r AS (
  SELECT o_custkey AS u,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS rel,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY md5('r#' || CAST(o_orderkey AS VARCHAR)), o_orderkey
         ) AS rnk
  FROM orders),
per_q AS (
  SELECT u,
         MIN(CASE WHEN rel THEN rnk END) AS first_rank,
         CAST(SUM(CASE WHEN rel AND rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS hits5,
         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
  FROM r GROUP BY u)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST(SUM(CASE WHEN first_rank IS NOT NULL
                     THEN 1000000 // first_rank ELSE 0 END) AS BIGINT)
         AS rr_ppm_sum,
       CAST(SUM(hits5) AS BIGINT) AS hits_at_k,
       CAST(SUM(CASE WHEN hits5 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit_at_k,
       CAST(SUM(n_rel) AS BIGINT) AS n_rel_total
FROM per_q JOIN customer ON c_custkey = u
GROUP BY segment ORDER BY segment
"""


def ranking_metrics(ranked, groups, k: int = 5):
    """Distributed ranking-metric readout — the public API behind
    M-EVAL-11. ``ranked`` is (u, rel, rnk): per query u, candidates with
    a boolean relevance flag and a 1-based rank (a real model's score
    column produces rnk via a row_number window). ``groups`` maps u to a
    rollup segment. Returns exact integers per segment: n_queries,
    n_hit (queries with any relevant), rr_ppm_sum (Σ 1000000 div
    first_rank — floor parts-per-million, no float summation),
    hits_at_k (total top-k relevant), n_hit_at_k (queries with ANY
    top-k hit — the hit-rate@k numerator), and total relevant count;
    MRR = rr_ppm_sum/n_queries/1e6 and hit-rate@k =
    n_hit_at_k/n_queries are driver-side divisions. The column names
    are FIXED for every k — ``hits_at_k``/``n_hit_at_k`` do not embed
    the k value, so the output schema is stable under the parameter
    (callers track which k they asked for)."""
    per_q = ranked.groupBy("u").agg(
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rank"),
        F.sum(F.when(F.col("rel") & (F.col("rnk") <= k), 1).otherwise(0))
        .cast("long")
        .alias("hitsk"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("long").alias("n_rel"),
    )
    return (
        per_q.join(groups, "u")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(F.when(F.col("first_rank").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
            F.sum(
                F.when(
                    F.col("first_rank").isNotNull(),
                    F.expr("1000000 div first_rank"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rr_ppm_sum"),
            # FIXED column names regardless of k (ADVICE r8): a
            # k-parameterized name (hits_at_{k}) changes the output
            # schema with the argument, silently breaking callers and
            # hash-mode oracles pinned to one spelling. k itself is a
            # query parameter, not part of the schema contract.
            F.sum("hitsk").cast("long").alias("hits_at_k"),
            F.sum(F.when(F.col("hitsk") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_hit_at_k"),
            F.sum("n_rel").cast("long").alias("n_rel_total"),
        )
        # enum grain (segments — sole caller M-EVAL-11 passes customer
        # market segments): narrow presentation sort, no range Exchange
        # (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "segment")
    )


@register("M-EVAL-11", sql=_EVAL11_SQL)
def m_eval_11(spark, sf):
    """Distributed ranking-metric readout (MRR / hit-rate@k) — the
    retrieval-eval leg the M-EVAL family lacked: per query (customer),
    candidates (orders) are ranked by a deterministic md5 score
    stand-in (a real model's score column plugs into the window
    unchanged; same discipline as M-EVAL-09/10), relevance is the
    order-priority flag, and the per-segment rollup reports exact
    integers only: query counts, first-relevant hits, hits@5 (total
    top-5 relevant, emitted as the k-stable column ``hits_at_k``),
    n_hit_at_k (queries with at least one top-5 hit), and the
    reciprocal-rank sum in FLOOR parts-per-million (1000000 div
    first_rank — the repo's floor-per-mille discipline, avoiding any
    cross-engine float summation). MRR = rr_ppm_sum / n_queries / 1e6
    and hit-rate@5 = n_hit_at_k / n_queries are driver-side divisions
    on these 5 rows (this entry pins k=5; the column names do not
    embed k, see ranking_metrics).

    Scale shape: one window partitioned by query key (never global),
    one query-grain rollup, one join to the dimension for the segment
    rollup — three shuffles on a 100 TB ranking log, each on the
    natural grain; per-query state is O(1)."""
    r = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("u"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("rel"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                F.md5(F.concat(F.lit("r#"), F.col("o_orderkey").cast("string"))),
                "o_orderkey",
            )
        )
        .alias("rnk"),
    )
    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("u"), F.col("c_mktsegment").alias("segment")
    )
    return ranking_metrics(r, cust, k=5)

"""Similarity search over embeddings (SURVEY.md §2G L-SIM-01/02).

Two-tier design, as a production vector pipeline at 100 TB:

- Exact brute-force cosine (L-SIM-01): higher-order-function dot products
  — JVM-side, no UDF, no explode — against a *small* query set broadcast
  to all executors. Cost O(n · |queries|); this is the correct exact shape
  when |queries| is small, and the verification oracle for the ANN tier.
- ANN via BucketedRandomProjectionLSH (L-SIM-02): random-hyperplane
  bucketing prunes candidates before exact re-scoring. Sub-linear
  candidate generation; recall ≥ 0.9 vs the exact tier is asserted in
  tests.

Cross-engine float determinism uses the fixed-point anchor: dot terms are
FLOOR(x*y*1e12) — identical doubles → identical integers in any engine
and any summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_xgboost_spark.registry import register
from dask_xgboost_spark.sources import load

# Fixed-point dot/norm templates live in functions/ (shared with the
# L-DEDUP-05 oracle); aliased here under their historical local names.
from dask_xgboost_spark.functions import (  # noqa: E402
    DOT12 as _DOT12,
    DUCK_DOT12 as _DUCK_DOT12,
    DUCK_NORM12 as _DUCK_NORM12,
    NORM12 as _NORM12,
)


def cosine_col(a: str, b: str) -> Column:
    """cos(a, b) as a deterministic JVM-side expression."""
    return F.expr(
        f"({_DOT12.format(a=a, b=b)}) / "
        f"(({_NORM12.format(a=a)}) * ({_NORM12.format(a=b)}))"
    )


def duck_cosine_sql(a: str, b: str) -> str:
    return (
        f"({_DUCK_DOT12.format(a=a, b=b)}) / "
        f"(({_DUCK_NORM12.format(a=a)}) * ({_DUCK_NORM12.format(a=b)}))"
    )


def cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """All pairs (v1 < v2) with cosine ≥ threshold (brute force — declared
    for verification scale; LSH-prune first at production scale).

    Two measured constants fixes (r12; 215 s → seconds at sf0.1 on
    local[32], result bitwise identical): (1) each vector's norm is
    computed ONCE per row before the pair join instead of once per PAIR
    (the norm expression and inputs are unchanged, so the double —
    and hence cosine = dot/(na*nb) — is the same IEEE value); (2) the
    stream side is repartitioned by parallelism so the nested-loop pair
    join fans out across all cores instead of inheriting the fixture's
    single-file scan partitioning."""
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.expr(_NORM12.format(a="embedding")).alias("na"),
    ).repartition(n_parts)
    b = emb.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.expr(_NORM12.format(a="embedding")).alias("nb"),
    )
    dot = F.expr(_DOT12.format(a="ea", b="eb"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("v1", "v2", "cosine")
    )


N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10

_SIM01_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
s AS (SELECT qid, cid, {duck_cosine_sql('qe', 'ce')} AS cosine
      FROM q CROSS JOIN c WHERE qid <> cid),
r AS (SELECT qid, cid, cosine,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk FROM s)
SELECT qid, cid, cosine, rnk FROM r WHERE rnk <= {TOP_K} ORDER BY qid, rnk
"""


@register("L-SIM-01", sql=_SIM01_SQL)
def l_sim_01(spark, sf):
    """Exact cosine top-k for a small broadcast query set (hash-checked).
    Plan shape: BroadcastNestedLoopJoin(queries) → HOF dot product →
    per-query top-k window — no shuffle of the big side until the final
    (tiny) window input."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cosine", cosine_col("qe", "ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "cid", "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


@register("L-SIM-03", sql=None, mode="tol")
def l_sim_03(spark, sf):
    """ANN top-k via IVF (inverted-file) search: KMeans coarse quantizer
    partitions the corpus into cells; each query probes only its nprobe
    nearest cells, then exact cosine re-scores the candidates.

    The 100 TB shape: the corpus is scanned ONCE to assign cells (and the
    assignment is a persistable layout, like bucketing); per-query work is
    ~nprobe/k of the corpus. Tests assert recall ≥ 0.9 vs exact L-SIM-01.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # the fixture vectors are near-uniform on the sphere (no cluster
    # structure), so a high nprobe is needed for recall; on real clustered
    # embeddings nprobe/k of 1/8-1/4 is typical
    n_cells, nprobe = 16, 10

    emb = load(spark, sf, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = KMeans(k=n_cells, seed=42, featuresCol="vec", predictionCol="cell").fit(emb)
    assigned = km.transform(emb).select("vec_id", "embedding", "cell")

    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "cell int, center array<double>",
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # pick each query's nprobe nearest cells (tiny cross join: |q| × k)
    qcell = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centers))
        .withColumn(
            "dist2",
            F.expr(
                "aggregate(zip_with(qe, center, (x, y) -> "
                "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "CAST(0 AS DOUBLE), (a, v) -> a + v)"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy("dist2", "cell")
    probes = (
        qcell.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qe", "cell")
    )
    cand = probes.join(assigned, "cell").filter(F.col("qid") != F.col("vec_id"))
    scored = cand.withColumn("cosine", cosine_col("qe", "embedding"))
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", F.col("vec_id").alias("cid"), "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


@register("L-SIM-02", sql=None, mode="tol")
def l_sim_02(spark, sf):
    """ANN top-k via BucketedRandomProjectionLSH: bucket join prunes
    candidates, exact cosine re-scores them. Tests assert recall ≥ 0.9 vs
    L-SIM-01. No oracle (random projections are engine-specific)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=0.5, numHashTables=6, seed=42
    )
    model = lsh.fit(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    # Euclidean-distance candidates; vectors are ~unit-norm so euclidean
    # ranking ≈ cosine ranking; exact cosine re-scores the candidate set.
    cand = model.approxSimilarityJoin(q, emb, 2.0, distCol="dist")
    scored = (
        cand.select(
            F.col("datasetA.vec_id").alias("qid"),
            F.col("datasetA.embedding").alias("qe"),
            F.col("datasetB.vec_id").alias("cid"),
            F.col("datasetB.embedding").alias("ce"),
        )
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cosine", cosine_col("qe", "ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "cid", "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


_SIM04_SQL = """
SELECT label, pos - 1 AS pos,
       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e8) AS BIGINT)) AS BIGINT) AS csum8,
       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e8) AS BIGINT)) AS BIGINT)
           / COUNT(*) / 1e8 AS centroid
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos FROM embeddings) t
GROUP BY label, pos ORDER BY label, pos
"""


@register("L-SIM-04", sql=_SIM04_SQL)
def l_sim_04(spark, sf):
    """Per-label embedding centroid (mean-pool) — the building block for
    semantic clustering / class prototypes in a curation pipeline.

    Scale shape: ONE pass over the fact table with d per-dimension sum
    aggregates (whole-stage codegen, no explode of the big side — an
    explode would shuffle d× the data); only the tiny (labels × d) result
    is unpivoted to long form. Determinism: 1e-8 fixed-point anchored
    sums (exact int64) divided by exact counts → identical doubles in
    both engines."""
    emb = load(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])

    def a8(i: int) -> Column:
        return F.floor(F.element_at("embedding", i + 1).cast("double") * 1e8)

    wide = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(a8(i)).alias(f"s{i}") for i in range(dim)],
    )
    return (
        wide.select(
            "label",
            "n",
            F.posexplode(F.array(*[F.col(f"s{i}") for i in range(dim)])).alias(
                "pos", "csum8"
            ),
        )
        .select(
            "label",
            "pos",
            "csum8",
            (F.col("csum8") / F.col("n") / 1e8).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


# --- persistable IVF index ------------------------------------------------


def build_ivf_index(emb, path: str, n_cells: int = 16, seed: int = 42) -> None:
    """Build an on-disk IVF index: corpus vectors written as parquet
    PARTITIONED BY cell id (one directory per cell), plus a `centroids`
    parquet beside them. One scan to assign cells; the layout persists,
    so index build cost amortizes over every later query batch — and a
    search that probes `nprobe` cells physically reads only
    nprobe/n_cells of the files (partition pruning does the work,
    exactly like a date-partitioned fact table).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = emb.withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="vec", predictionCol="cell").fit(vec)
    assigned = km.transform(vec).select("vec_id", "embedding", "cell")
    assigned.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/vectors")
    emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "cell int, center array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def search_ivf(spark, path: str, queries, nprobe: int = 10, k: int = 5):
    """Search a persisted IVF index: pick each query's nprobe nearest
    centroids (tiny broadcast cross join), then scan ONLY those cell
    directories (`cell IN (...)` prunes partitions at the file listing)
    and exact-cosine re-score. queries: DataFrame(qid, qe array<float>).
    """
    centers = spark.read.parquet(f"{path}/centroids")
    qcell = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(centers))
        .withColumn(
            "dist2",
            F.expr(
                "aggregate(zip_with(qe, center, (x, y) -> "
                "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "CAST(0 AS DOUBLE), (a, v) -> a + v)"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy("dist2", "cell")
    probes = (
        qcell.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qe", "cell")
    )
    vectors = spark.read.parquet(f"{path}/vectors")
    cand = vectors.join(probes, "cell").filter(F.col("qid") != F.col("vec_id"))
    scored = cand.withColumn("cosine", cosine_col("qe", "embedding"))
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


@register("L-SIM-05", sql=None, mode="tol")
def l_sim_05(spark, sf):
    """Persistable IVF index build + pruned search (see build_ivf_index /
    search_ivf): same recall contract as L-SIM-03, but the cell layout
    lives on disk and the search plan reads only the probed cell
    partitions — asserted in tests along with recall ≥ 0.9 vs exact."""
    import tempfile

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="dxs_ivf_")
    build_ivf_index(emb, path)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = search_ivf(spark, path, q, nprobe=10, k=TOP_K).localCheckpoint()
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return out


@register(
    "L-SIM-06",
    # int8 symmetric quantization: scale = per-vector max|x| / 127;
    # q_i = floor(x_i / max|x| * 127 + 0.5) for x_i >= 0 (mirrored for
    # negatives via the sign trick below) — every step is the same IEEE
    # double op in both engines, so the int8 codes hash-match exactly
    sql="SELECT vec_id, "
    "CAST(FLOOR(mx * 1e6 + 0.5) AS BIGINT) AS scale6, "
    "CAST(q_sum AS BIGINT) AS q_sum, CAST(q_min AS BIGINT) AS q_min, "
    "CAST(q_max AS BIGINT) AS q_max FROM ("
    "SELECT vec_id, mx, "
    "list_sum(list_transform(embedding, x -> "
    "CASE WHEN CAST(x AS DOUBLE) >= 0 "
    "THEN FLOOR(CAST(x AS DOUBLE) / mx * 127 + 0.5) "
    "ELSE -FLOOR(-CAST(x AS DOUBLE) / mx * 127 + 0.5) END)) AS q_sum, "
    "list_min(list_transform(embedding, x -> "
    "CASE WHEN CAST(x AS DOUBLE) >= 0 "
    "THEN FLOOR(CAST(x AS DOUBLE) / mx * 127 + 0.5) "
    "ELSE -FLOOR(-CAST(x AS DOUBLE) / mx * 127 + 0.5) END)) AS q_min, "
    "list_max(list_transform(embedding, x -> "
    "CASE WHEN CAST(x AS DOUBLE) >= 0 "
    "THEN FLOOR(CAST(x AS DOUBLE) / mx * 127 + 0.5) "
    "ELSE -FLOOR(-CAST(x AS DOUBLE) / mx * 127 + 0.5) END)) AS q_max "
    "FROM (SELECT vec_id, embedding, "
    "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx "
    "FROM embeddings) t) s ORDER BY vec_id",
)
def l_sim_06(spark, sf):
    """Embedding int8 scalar quantization — the 4× storage/bandwidth
    reduction step a 100 TB vector corpus ships before ANN serving:
    per-vector symmetric scale (max|x|/127), codes in [-127, 127].
    Pure array HOFs (map-only, no shuffle, whole-stage codegen); the
    registry row witnesses the codes via exact integer stats (sum, min,
    max per vector) plus the micro-anchored scale. Rounding is the
    sign-mirrored FLOOR(+0.5) anchor (half away from zero) — the one
    rounding rule both engines evaluate identically on doubles."""
    x = lambda c: c.cast("double")  # noqa: E731
    emb = load(spark, sf, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda v: F.abs(x(v))))
    emb = emb.select("vec_id", "embedding", mx.alias("mx"))

    def q(v):
        scaled = x(v) / F.col("mx") * 127
        return F.when(x(v) >= 0, F.floor(scaled + 0.5)).otherwise(
            -F.floor(-scaled + 0.5)
        )

    codes = F.transform("embedding", q)
    return emb.select(
        "vec_id",
        F.floor(F.col("mx") * 1e6 + 0.5).cast("long").alias("scale6"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, b: a + b.cast("long")).alias("q_sum"),
        F.array_min(codes).cast("long").alias("q_min"),
        F.array_max(codes).cast("long").alias("q_max"),
    ).orderBy("vec_id")


def train_pq_codebook_distributed(
    unit,
    m: int = 8,
    k: int = 16,
    iters: int = 12,
    seed: int = 7,
    sample_fraction: float | None = None,
    vec_col: str = "ue",
):
    """Per-subspace codebook via DISTRIBUTED ``pyspark.ml.clustering.KMeans``
    — the corpus (or a distributed ``sample_fraction`` of it at 100 TB;
    sampling happens executor-side, nothing is collected) trains each of
    the m subspace quantizers; only the (m × k × d/m) codebook — a few KB
    — ever reaches the driver. The m slice columns are materialized once
    and cached so the m fits share one pass over the input.

    Centers are returned in lexicographic order so downstream code
    assignment is stable across equivalent fits."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = unit.select(F.size(vec_col).alias("d")).first()["d"]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    train_df = unit
    if sample_fraction is not None:
        train_df = train_df.sample(fraction=sample_fraction, seed=seed)
    sliced = train_df.select(
        *[
            array_to_vector(
                F.slice(F.col(vec_col), j * sub + 1, sub).cast("array<double>")
            ).alias(f"_s{j}")
            for j in range(m)
        ]
    ).cache()
    codebook = np.empty((m, k, sub))
    try:
        for j in range(m):
            km = KMeans(
                k=k, seed=seed + j, maxIter=iters, featuresCol=f"_s{j}"
            ).fit(sliced)
            C = np.stack([np.asarray(c) for c in km.clusterCenters()])
            codebook[j] = C[np.lexsort(C.T[::-1])]
    finally:
        sliced.unpersist()
    return codebook


@register("L-SIM-07", sql=None, mode="tol")
def l_sim_07(spark, sf):
    """ANN top-k via product quantization (PQ) + asymmetric distance:
    vectors are unit-normalized, split into m=16 subspaces, each encoded
    as its nearest of k=16 KMeans-trained centroids (distributed fit) → 16 nibble codes =
    8 bytes per vector (32× smaller than float32×64). Queries score
    candidates from per-query (m×k) distance tables — ADC: approx L2² =
    Σ_j table_j[code_j], nothing but m array lookups per corpus vector —
    then exact cosine re-scores the ADC top-8k and keeps TOP_K. The
    fixture vectors are structureless (uniform on the sphere — the
    hardest case for PQ), hence the deep re-score margin; clustered real
    embeddings rank far better per candidate.

    The 100 TB shape: the codebook is constant-size, encoding is one
    map-only Arrow-batched pass, and serving scans CODES (8 B/vector)
    not raw floats — memory-bandwidth-bound ANN at 1/32 the bytes.
    Recall vs exact L-SIM-01 is asserted in tests/test_golden.py.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    m, k = 16, 16
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")

    # normalize to the unit sphere so L2² = 2 − 2·cos: PQ-L2 ranking ≡ cosine
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    unit = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double") / norm).alias("ue"),
    )

    # codebook trained DISTRIBUTED (MLlib KMeans per subspace; only the
    # few-KB codebook is collected) — at 100 TB pass sample_fraction to
    # train on an executor-side sample instead of the full corpus
    codebook = train_pq_codebook_distributed(unit, m=m, k=k)
    sub = codebook.shape[2]
    bc_cb = spark.sparkContext.broadcast(codebook)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc_cb.value  # (m, k, sub)
        for pdf in batches:
            X = np.stack(pdf["ue"].to_numpy())  # (n, d)
            n = X.shape[0]
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = ((Xj[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": list(codes)})

    coded = unit.mapInPandas(encode, "vec_id bigint, codes array<bigint>")

    # per-query ADC tables (m×k), flattened so a JVM HOF does the lookup sum
    # bounded: N_QUERIES broadcast query vectors
    queries = unit.filter(F.col("vec_id") < N_QUERIES).collect()
    rows = []
    for r in queries:
        qv = np.asarray(r.ue)
        table = np.empty((m, k))
        for j in range(m):
            qj = qv[j * sub : (j + 1) * sub]
            table[j] = ((codebook[j] - qj[None, :]) ** 2).sum(axis=1)
        rows.append((r.vec_id, [float(x) for x in table.ravel()], list(r.ue)))
    qdf = spark.createDataFrame(
        rows, "qid bigint, table array<double>, qe array<double>"
    )

    # ADC: approx_d2 = Σ_j table[j*k + code_j] — pure column algebra over
    # the broadcast-joined tables; candidates = ADC top-4k per query
    adc = (
        F.broadcast(qdf)
        .crossJoin(coded)
        .filter(F.col("qid") != F.col("vec_id"))
        .withColumn(
            "approx_d2",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda c, j: F.element_at(
                        F.col("table"), (j * k + c + 1).cast("int")
                    ),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )
    )
    wq = Window.partitionBy("qid").orderBy("approx_d2", "vec_id")
    cand = (
        adc.withColumn("ar", F.row_number().over(wq))
        .filter(F.col("ar") <= 8 * TOP_K)
        .select("qid", "qe", "vec_id")
    )
    rescored = cand.join(unit.withColumnRenamed("ue", "ce"), "vec_id").withColumn(
        "cosine",
        F.aggregate(
            F.zip_with("qe", "ce", lambda a, b: a * b), F.lit(0.0), lambda a, b: a + b
        ),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", F.col("vec_id").alias("cid"), "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


_RERANK_CANDIDATES = 20
_RERANK_K = 10


def _l_sim_10_sql():
    from dask_xgboost_spark.operators.text import _LEX_SQL

    lex = _LEX_SQL.format(terms="'data', 'query', 'stream'")
    return (
        f"WITH lex AS ({lex}), "
        "rl AS (SELECT doc_id, "
        " ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM lex), "
        f"cand AS (SELECT doc_id, lex_rank FROM rl WHERE lex_rank <= {_RERANK_CANDIDATES}), "
        "qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        "sc AS (SELECT c.doc_id, c.lex_rank, "
        f"{duck_cosine_sql('e.embedding', 'qe')} AS cosine "
        " FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN qv), "
        "rr AS (SELECT doc_id, lex_rank, cosine, "
        " ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rerank FROM sc) "
        "SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank, cosine, "
        f"CAST(rerank AS BIGINT) AS rerank FROM rr WHERE rerank <= {_RERANK_K} "
        "ORDER BY rerank"
    )


@register("L-SIM-10", sql=_l_sim_10_sql())
def l_sim_10(spark, sf):
    """Two-stage retrieve-then-rerank — the production RAG serving
    shape: a cheap high-recall lexical retriever (L-SIM-08's
    integer-exact saturating-tf scorer) narrows the corpus to a bounded
    candidate set (top-20), then an expensive high-precision dense
    scorer (exact cosine against the query embedding) re-orders ONLY
    those candidates and emits the final top-10 with both ranks
    preserved for debugging rank disagreement. In production the rerank
    stage is a cross-encoder model call — precisely why the candidate
    bound matters: stage-2 cost is O(candidates), never O(corpus).

    Scale shape: stage 1 shuffles only postings of the query terms
    (L-SIM-08's pushed filter); its global rank runs on the scored
    candidate set, not the corpus. Stage 2 is a candidate-sized join
    against the embedding table (partition-pruned when embeddings are
    bucketed by id) plus one broadcast query vector — the corpus'
    embeddings are never scanned in full. Cosine doubles hash-check
    exactly (same IEEE operation order both engines, L-SIM-01
    discipline)."""
    from dask_xgboost_spark.operators.text import lexical_scores

    w_lex = Window.orderBy(F.col("score").desc(), "doc_id")
    cand = (
        lexical_scores(spark, sf, ["data", "query", "stream"])
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("bigint"))
        .filter(F.col("lex_rank") <= _RERANK_CANDIDATES)
        .select("doc_id", "lex_rank")
    )
    emb = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(qv))
        .withColumn("cosine", cosine_col("embedding", "qe"))
    )
    w_rr = Window.orderBy(F.col("cosine").desc(), "doc_id")
    return (
        scored.withColumn("rerank", F.row_number().over(w_rr).cast("bigint"))
        .filter(F.col("rerank") <= _RERANK_K)
        .select("doc_id", "lex_rank", "cosine", "rerank")
        .orderBy("rerank")
    )


_SIM11_SQL = """
WITH q AS (
    SELECT vec_id AS q_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
    FROM embeddings WHERE vec_id % 100 = 0
),
c AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS cv
    FROM embeddings WHERE vec_id % 100 <> 0
),
scored AS (
    SELECT q.q_id, c.vec_id,
           CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i]))
                AS BIGINT) AS score
    FROM q, c
),
rk AS (
    SELECT q_id, vec_id, score,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id)
               AS rnk
    FROM scored
)
SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= 3 ORDER BY q_id, rnk
"""


@register("L-SIM-11", sql=_SIM11_SQL)
def l_sim_11(spark, sf):
    """Vectorized brute-force scoring via an Arrow-batched numpy
    matmul — the THIRD exact-scoring tier beside L-SIM-01's JVM HOF
    dot products and the ANN family: each mapInPandas batch stacks its
    candidate vectors into an (n × d) int64 matrix and multiplies
    against the broadcast (k × d) query matrix in ONE numpy call —
    the BLAS-shaped inner loop a GPU/SIMD scorer would use, with the
    Python boundary amortized over the whole Arrow batch instead of
    paid per row. Embeddings are quantized to ×2²⁰ int64 (exactly
    representable floats → exact products, |q·c| ≤ 64·2³⁹ ≪ 2⁶³), so
    numpy's integer matmul is bit-exact against the oracle's
    sequential list sum — which a float64 BLAS matmul (arbitrary
    summation order) never is: hash-exactness is precisely why the
    quantized-int path exists (same carrier as L-SIM-06).

    Scale shape: O(n·k) like every exact scorer — correct when k is
    small (the collect pulls k=5 query vectors for broadcast, the
    L-SIM-01 pattern); for large k or n, the IVF/LSH/PQ tiers prune
    candidates first and THIS kernel re-scores the survivors."""
    import numpy as np
    import pandas as pd

    quant = F.expr(
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT))"
    )
    emb = load(spark, sf, "embeddings").select("vec_id", quant.alias("qv"))
    # bounded: the broadcast query-vector set (k rows), never the corpus
    qrows = emb.filter(F.col("vec_id") % 100 == 0).collect()
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["qv"] for r in qrows], dtype=np.int64)  # (k, d)

    cand = emb.filter(F.col("vec_id") % 100 != 0)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.array(list(pdf["qv"]), dtype=np.int64)  # (n, d)
            s = cmat @ qmat.T  # exact int64 matmul
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, n),
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), len(q_ids)),
                    "score": s.T.reshape(-1),
                }
            )

    scored = cand.mapInPandas(score, "q_id bigint, vec_id bigint, score bigint")
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .orderBy("q_id", "rnk")
    )


def _duck_doti(a: str, b: str) -> str:
    """Raw int64 fixed-point dot (the _DUCK_DOT12 anchor without the
    /1e12 rescale): exact in both engines because every floored term
    is an integer ≤ ~2e10 and 64 of them sum well under 2^53."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
        f"CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) "
        f"AS DOUBLE))) AS BIGINT)"
    )


def _mmr_step(prev_sel: str, step: str, sel: str) -> str:
    return f"""
{step} AS (
  SELECT c.qid, c.cid, c.rel, 7 * c.rel - 3 * MAX(s.sim) AS score
  FROM cand c
  JOIN sims s ON s.qid = c.qid AND s.a = c.cid
  JOIN {prev_sel} z ON z.qid = s.qid AND z.cid = s.b
  LEFT JOIN {prev_sel} x ON x.qid = c.qid AND x.cid = c.cid
  WHERE x.cid IS NULL
  GROUP BY c.qid, c.cid, c.rel),
{sel} AS (
  SELECT qid, cid, rel FROM (
    SELECT qid, cid, rel,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score DESC, cid) AS rn
    FROM {step}) WHERE rn = 1)"""


_SIM12_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
qs AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id < 3),
cand0 AS (
  SELECT q.qid, c.vec_id AS cid,
         {_duck_doti('c.embedding', 'q.qv')} AS rel
  FROM e c, qs q WHERE c.vec_id >= 3),
cand AS (
  SELECT qid, cid, rel FROM (
    SELECT qid, cid, rel,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY rel DESC, cid) AS rn
    FROM cand0) WHERE rn <= 12),
sims AS (
  SELECT c1.qid, c1.cid AS a, c2.cid AS b,
         {_duck_doti('ea.embedding', 'eb.embedding')} AS sim
  FROM cand c1
  JOIN cand c2 ON c1.qid = c2.qid AND c1.cid != c2.cid
  JOIN e ea ON ea.vec_id = c1.cid
  JOIN e eb ON eb.vec_id = c2.cid),
sel1 AS (
  SELECT qid, cid, rel FROM (
    SELECT qid, cid, rel,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY rel DESC, cid) AS rn
    FROM cand) WHERE rn = 1),
{_mmr_step('sel1', 'step2', 'sel2')},
selA AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
{_mmr_step('selA', 'step3', 'sel3')},
selB AS (SELECT * FROM selA UNION ALL SELECT * FROM sel3),
{_mmr_step('selB', 'step4', 'sel4')}
SELECT qid, rank, cid, rel FROM (
  SELECT qid, 1 AS rank, cid, rel FROM sel1 UNION ALL
  SELECT qid, 2, cid, rel FROM sel2 UNION ALL
  SELECT qid, 3, cid, rel FROM sel3 UNION ALL
  SELECT qid, 4, cid, rel FROM sel4)
ORDER BY qid, rank
"""

_DOTI_SPARK = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12) AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS BIGINT)"
)


def _mmr_greedy_kernel(pdf):
    """Per-query MMR greedy over the (a, b, sim, rel_a) pair frame —
    the applyInPandas kernel L-SIM-12 ships, module-level so the
    hypothesis property test can drive the EXACT shipped code on
    adversarial score matrices. Pure int64 arithmetic; ties to the
    smaller candidate id; first pick is pure relevance."""
    import pandas as pd

    qid = int(pdf["qid"].iloc[0])
    rel = {int(a): int(r) for a, r in zip(pdf["a"], pdf["rel_a"])}
    sim = {
        (int(a), int(b)): int(s)
        for a, b, s in zip(pdf["a"], pdf["b"], pdf["sim"])
    }
    remaining = set(rel)
    first = min(remaining, key=lambda c: (-rel[c], c))
    sel = [first]
    remaining.discard(first)
    # guard like the reference greedy (tests/test_interval_property.py
    # ::_ref_mmr): a query whose top-12 truncation yields <4 candidates
    # (tiny fixtures, heavy filters) emits fewer ranks instead of
    # crashing on min() over an empty set, and a missing pair sim
    # (candidates that never co-occurred in the pair frame) scores
    # neutral instead of KeyError-ing the whole job (ADVICE r6 low)
    while len(sel) < 4 and remaining:
        best = min(
            remaining,
            key=lambda c: (
                -(7 * rel[c] - 3 * max(sim.get((c, s), 0) for s in sel)),
                c,
            ),
        )
        sel.append(best)
        remaining.discard(best)
    return pd.DataFrame(
        {
            "qid": [qid] * len(sel),
            "rank": list(range(1, len(sel) + 1)),
            "cid": sel,
            "rel": [rel[c] for c in sel],
        }
    )


@register("L-SIM-12", sql=_SIM12_SQL)
def l_sim_12(spark, sf):
    """MMR diversified re-ranking (Carbonell & Goldstein): retrieval's
    answer to near-duplicate result lists — after relevance retrieval,
    greedily pick k=4 of the top-12 candidates maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7,
    carried as the exact integer form 7·rel − 3·max_sim over the 1e12
    fixed-point dot anchor, so the greedy argmax — tie-broken on id —
    is bit-identical across engines; the oracle runs the SAME greedy
    unrolled into per-step SQL). First pick is pure relevance, per
    standard MMR.

    Scale shape: stage 1 is L-SIM-01's broadcast-queries exact scan
    (or any ANN tier) truncated to top-12 per query — from there
    everything is per-query BOUNDED: 12·11 pairwise sims and a 4-step
    greedy over 12 rows, grouped per query through applyInPandas
    (Arrow-batched; int64 arithmetic inside, no floats). 100 TB of
    corpus changes stage 1 only; the rerank cost is |queries|·k·12."""
    import pandas as pd

    e = load(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cand0 = (
        e.filter(F.col("vec_id") >= 3)
        .crossJoin(F.broadcast(qs))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            "embedding",
            F.expr(_DOTI_SPARK.format(a="embedding", b="qv")).alias("rel"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "cid")
    cand = cand0.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 12
    )
    c1 = cand.select("qid", F.col("cid").alias("a"), F.col("embedding").alias("ea"), F.col("rel").alias("rel_a"))
    c2 = cand.select("qid", F.col("cid").alias("b"), F.col("embedding").alias("eb"))
    pairs = (
        c1.join(c2, "qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            "rel_a",
            F.expr(_DOTI_SPARK.format(a="ea", b="eb")).alias("sim"),
        )
    )

    return (
        pairs.groupBy("qid")
        .applyInPandas(
            _mmr_greedy_kernel, "qid long, rank int, cid long, rel long"
        )
        .orderBy("qid", "rank")
    )


# Shared ×1024 integer quantization lambda body (dialect intersection:
# the SAME text runs inside Spark `transform` and DuckDB
# `list_transform`) — ONE definition so a scale change cannot silently
# diverge one engine/entry from the others (r8 review).
_Q1024 = "CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)"


_SIM13_SQL = f"""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding, x -> {_Q1024}) AS qv
    FROM embeddings
),
ev AS (SELECT vec_id, qv FROM base WHERE vec_id % 97 = 0),
plants AS (
    SELECT vec_id + 200000 AS vec_id,
           list_prepend(qv[1] + 1, qv[2:64]) AS qv
    FROM ev
),
corpus AS (
    SELECT vec_id, qv FROM base WHERE vec_id % 97 <> 0
    UNION ALL SELECT vec_id, qv FROM plants
),
cb AS (
    SELECT vec_id, qv,
           CAST(list_sum(list_transform(range(1, 13),
               i -> CASE WHEN qv[i] >= 0 THEN 1 << (i - 1) ELSE 0 END))
               AS BIGINT) AS bucket,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
    FROM corpus
),
eb AS (
    SELECT vec_id, qv,
           CAST(list_sum(list_transform(range(1, 13),
               i -> CASE WHEN qv[i] >= 0 THEN 1 << (i - 1) ELSE 0 END))
               AS BIGINT) AS bucket,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
    FROM ev
),
ep AS (
    SELECT vec_id, qv, n2,
           unnest(list_transform(range(0, 13),
               j -> CASE WHEN j = 0 THEN bucket
                    ELSE xor(bucket, CAST(1 << (j - 1) AS BIGINT)) END))
             AS pbucket
    FROM eb
),
pairs AS (
    SELECT c.vec_id AS corpus_id, e.vec_id AS eval_id,
           CAST(list_sum(list_transform(range(1, 65),
               i -> c.qv[i] * e.qv[i])) AS BIGINT) AS dot,
           c.n2 AS cn2, e.n2 AS en2
    FROM cb c JOIN ep e ON c.bucket = e.pbucket
)
SELECT corpus_id, eval_id, dot
FROM pairs
WHERE dot > 0 AND 100 * dot * dot >= 81 * cn2 * en2
ORDER BY corpus_id, eval_id
"""


def decontaminate(corpus, eval_set, sign_bits: int = 12):
    """Embedding-space decontamination — the public API behind L-SIM-13.
    ``corpus`` and ``eval_set`` are frames of (id, qv) where qv is an
    integer-quantized vector (array<bigint>, e.g. FLOOR(x*1024)); returns
    (corpus_id, eval_id, dot) for every corpus vector whose cosine to an
    eval vector clears 0.9, via cross-multiplied integer arithmetic.
    Blocking: ``sign_bits``-bit sign SimHash with one-flip multi-probe on
    the (small) eval side — any pair within Hamming 1 of the leading sign
    pattern is guaranteed a candidate; the corpus side keeps exactly one
    bucket per vector."""
    bucket = F.expr(
        f"aggregate(transform(slice(qv, 1, {sign_bits}), "
        "(x, i) -> CASE WHEN x >= 0 THEN shiftleft(CAST(1 AS BIGINT), i) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    n2 = F.expr(
        "aggregate(transform(qv, x -> x * x), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v)"
    )
    cb = corpus.select(
        F.col("id").alias("corpus_id"),
        F.col("qv").alias("cqv"),
        bucket.alias("bucket"),
        n2.alias("cn2"),
    )
    ep = (
        eval_set.select(
            F.col("id").alias("eval_id"),
            F.col("qv").alias("eqv"),
            bucket.alias("ebucket"),
            n2.alias("en2"),
        )
        .select(
            "eval_id",
            "eqv",
            "en2",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {sign_bits}), j -> CASE WHEN j = 0 "
                    "THEN ebucket ELSE CAST(ebucket AS BIGINT) ^ "
                    "shiftleft(CAST(1 AS BIGINT), CAST(j AS INT) - 1) END)"
                )
            ).alias("bucket"),
        )
    )
    pairs = cb.join(ep, "bucket").select(
        "corpus_id",
        "eval_id",
        F.expr(
            "aggregate(zip_with(cqv, eqv, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dot"),
        "cn2",
        "en2",
    )
    return (
        pairs.filter(
            (F.col("dot") > 0)
            & (
                100 * F.col("dot") * F.col("dot")
                >= 81 * F.col("cn2") * F.col("en2")
            )
        )
        .select("corpus_id", "eval_id", "dot")
        .orderBy("corpus_id", "eval_id")
    )


@register("L-SIM-13", sql=_SIM13_SQL)
def l_sim_13(spark, sf):
    """EMBEDDING-SPACE decontamination (bipartite, multi-probe blocked)
    — the semantic twin of L-DEDUP-08's word-overlap decontamination:
    corpus vectors whose cosine to ANY held-out eval vector clears 0.9
    are flagged before training. Everything is engine-exact integers:
    vectors quantize to ×1024 BIGINT, the cosine test is
    cross-multiplied (dot > 0 AND 100·dot² ≥ 81·|a|²·|b|², all inside
    int64 at this magnitude), so no float division or sqrt crosses the
    engines. Blocking is a 12-bit sign SimHash with ONE-FLIP
    MULTI-PROBE on the eval side (13 probe buckets per eval vector:
    exact + each single bit flipped) — any pair whose sign patterns
    differ in ≤1 of the 12 leading dims is GUARANTEED a candidate (the
    pigeonhole discipline of L-MM-04's dHash banding), which covers
    the planted contamination (one quantization step on dim 1 flips at
    most that one sign). Plants mirror the oracle: each eval vector
    re-enters the corpus as vec_id+200000 nudged by one quant step.

    Scale shape: probes explode the SMALL eval side ×13; the 100 TB
    corpus side keeps exactly one bucket per vector — candidate volume
    is Σ over probe buckets of |corpus bucket|, near-linear at 2¹²
    buckets (production widens to 16-24 bits + R independent
    rotations, L-DEDUP-02's banding). Exact verification touches
    candidates only; brute force never."""
    q = load(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(f"transform(embedding, x -> {_Q1024})").alias("qv"),
    )
    ev = q.filter(F.col("vec_id") % 97 == 0)
    plants = ev.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.expr("concat(array(qv[0] + CAST(1 AS BIGINT)), slice(qv, 2, 63))").alias(
            "qv"
        ),
    )
    corpus = q.filter(F.col("vec_id") % 97 != 0).unionByName(plants)
    return decontaminate(
        corpus.select(F.col("vec_id").alias("id"), "qv"),
        ev.select(F.col("vec_id").alias("id"), "qv"),
    )


_SIM14_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x -> {_Q1024}) AS qv
    FROM embeddings
),
cent AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id % 61 = 0),
queries AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id % 89 = 0),
corpus AS (SELECT vec_id, qv FROM q WHERE vec_id % 89 <> 0),
assign AS (
    SELECT vec_id, qv, cid FROM (
        SELECT v.vec_id, v.qv, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_sum(list_transform(range(1, 65),
                   i -> (v.qv[i] - c.cqv[i]) * (v.qv[i] - c.cqv[i]))), c.cid
               ) AS rn
        FROM corpus v, cent c) a
    WHERE rn = 1
),
probes AS (
    SELECT qid, qv, cid FROM (
        SELECT s.qid, s.qv, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY s.qid
                 ORDER BY list_sum(list_transform(range(1, 65),
                   i -> (s.qv[i] - c.cqv[i]) * (s.qv[i] - c.cqv[i]))), c.cid
               ) AS rn
        FROM queries s, cent c) p
    WHERE rn <= 2
),
cand AS (
    SELECT p.qid, a.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, 65),
             i -> (p.qv[i] - a.qv[i]) * (p.qv[i] - a.qv[i]))) AS BIGINT)
             AS dist2
    FROM probes p JOIN assign a ON a.cid = p.cid
)
SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, dist2
FROM (
    SELECT qid, neighbor_id, dist2,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY dist2, neighbor_id) AS rnk
    FROM cand) r
WHERE rnk <= 3 ORDER BY query_id, rnk
"""


def ivf_search(corpus, centroids, queries, probes: int = 2, k: int = 3):
    """Deterministic IVF search — the public API behind L-SIM-14.
    ``corpus``/(``queries``) are (vec_id|qid, qv) frames of integer-
    quantized vectors, ``centroids`` is (cid, cqv). Every stage is
    integer-exact with pinned tie-breaks: corpus vectors assign to the
    argmin-distance cell (ties → smallest cid), each query probes its
    ``probes`` nearest cells, candidates come only from probed cells,
    and the top ``k`` re-rank by exact distance (ties → smallest
    neighbor id). Returns (query_id, rnk, neighbor_id, dist2). The
    centroid frame is broadcast (C rows, C ~ sqrt(n) by IVF
    convention)."""
    d2_cent = F.expr(
        "aggregate(zip_with(qv, cqv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    assign = (
        corpus.crossJoin(F.broadcast(centroids))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(d2_cent, "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "qv", "cid")
    )
    probe_set = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(d2_cent, "cid")
            ),
        )
        .filter(F.col("rn") <= probes)
        .select("qid", "qv", "cid")
    )
    cand = probe_set.join(
        assign.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("qv").alias("nqv"),
            "cid",
        ),
        "cid",
    ).select(
        "qid",
        "neighbor_id",
        F.expr(
            "aggregate(zip_with(qv, nqv, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dist2"),
    )
    return (
        cand.withColumn(
            "rnk",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy("dist2", "neighbor_id"))
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= k)
        .select(F.col("qid").alias("query_id"), "rnk", "neighbor_id", "dist2")
        .orderBy("query_id", "rnk")
    )


@register("L-SIM-14", sql=_SIM14_SQL)
def l_sim_14(spark, sf):
    """HASH-MODE IVF nearest-neighbor search — the L-DEDUP-14 move
    applied to ANN: where L-SIM-03/05 verify their MLlib-KMeans IVF by
    recall tolerance (centroid training is engine-specific), this twin
    makes the ENTIRE IVF mechanism oracle-checkable by using
    deterministic centroids (every 61st vector — seeded-sample
    centroids, the standard cheap IVF initialization) and exact integer
    geometry: vectors quantize to ×1024 BIGINT, cell assignment is the
    argmin of exact integer squared distance over the centroid set
    (ties to the smallest centroid id), queries probe their P=2 nearest
    cells, and top-k=3 candidates re-rank by exact distance (ties to
    the smallest neighbor id). Every stage — assignment, probe choice,
    candidate generation, re-ranking — is bit-reproducible on any
    engine, which is what lets DuckDB pin the mechanism rather than
    just sampling its recall.

    Scale shape: the centroid set is C rows broadcast to every executor
    (the assignment cross is a bounded broadcast nearest-centroid pass,
    C ~ sqrt(n) by IVF convention — the intended BNLJ, same declared
    shape as L-SIM-01's query broadcast); search touches probes ×
    |cell| ≈ P·n/C candidates per query, never the corpus; the
    persisted variant with partition-pruned cell reads is L-SIM-05."""
    q = load(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(f"transform(embedding, x -> {_Q1024})").alias("qv"),
    )
    cent = q.filter(F.col("vec_id") % 61 == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    queries = q.filter(F.col("vec_id") % 89 == 0).select(
        F.col("vec_id").alias("qid"), "qv"
    )
    corpus = q.filter(F.col("vec_id") % 89 != 0)
    return ivf_search(corpus, cent, queries)


"""Synthetic data generation (reference B13: da.random.*,
dd.demo.make_timeseries — test_core.py:469,481-482).

Distributed generation from ``spark.range``: each row's values derive
from seeded column expressions, so generation scales linearly with no
shuffle and is reproducible for a fixed (seed, n, parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def make_timeseries(
    spark: SparkSession,
    n_rows: int = 10_000,
    start: str = "2024-01-01",
    freq_seconds: int = 60,
    n_ids: int = 100,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic timeseries frame (id, ts, name, x, y) — the Spark
    analogue of dd.demo.make_timeseries. Values are pure functions of the
    row index + seed (xxhash64-based), so the result is independent of
    partitioning — stronger than rand(seed), which is per-partition."""
    rng = spark.range(0, n_rows, numPartitions=num_partitions)

    def h(salt: int):
        # uniform in [0,1): hash the (index, seed, salt) triple
        return (
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(1 << 40))
            / float(1 << 40)
        )

    names = F.array(*[F.lit(s) for s in ["alice", "bob", "carol", "dan", "edith"]])
    return rng.select(
        F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_ids)).alias("series_id"),
        (
            F.lit(start).cast("timestamp")
            + F.make_interval(secs=F.col("id") * freq_seconds)
        ).alias("ts"),
        F.element_at(names, (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(5)) + 1).cast("int")).alias("name"),
        (h(2) * 2 - 1).alias("x"),
        (h(3) * 2 - 1).alias("y"),
    )

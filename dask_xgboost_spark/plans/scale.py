"""Scale-path plan strategies (the 100 TB levers, SURVEY.md §4.2/§7).

These are the techniques that keep the declared operators viable at
1000-executor scale; each is a small composition of public Spark APIs
with a plan-level test proving the physical effect:

- ``write_bucketed`` / ``bucketed_join``: co-located joins. Bucketing
  both fact tables on the join key at write time makes every subsequent
  join/aggregation on that key shuffle-FREE (SortMergeJoin with no
  Exchange) — at 100 TB this converts the dominant network cost of a
  fact-fact join into a local merge.
- ``salted_join``: hot-key mitigation when AQE's skew splitting isn't
  available (e.g. non-AQE engines or extreme single-key skew): explode
  the build side into S salt replicas, scatter the probe side across
  them; restores parallelism at the cost of S× the small side.
- ``repartition_by_key``: explicit co-partitioning before iterative
  reuse (the Spark analogue of the reference pinning partitions to
  workers via who_has, core.py:227-231 — here the partitioner, not the
  scheduler, owns placement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucket count is a layout decision: at 100 TB pick buckets so each
    bucket ≈ 100-500 MB per table; both sides of a co-located join must
    use the same count and keys.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables — no Exchange in the physical plan
    (asserted in tests/test_scale.py)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def repartition_by_key(df: DataFrame, cols: list[str], n: int | None = None) -> DataFrame:
    return df.repartition(n, *[F.col(c) for c in cols]) if n else df.repartition(*cols)


def bounded_sort(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Presentation sort for a provably bounded final-aggregate grain.

    A trailing global ``orderBy`` plans a range Exchange: the child is
    materialized, sampled (a driver-coordinated sampling pass computes
    the range bounds), shuffled, and sorted — an extra stage whose only
    job is presentation order (optimization guide §2.4: "an orderBy
    used only to make output deterministic" is a removable exchange).
    When the sorted frame's cardinality is bounded BY CONSTRUCTION at
    any data scale (a fixed enum grain: return flags, priorities,
    nations, calendar buckets — never a per-key grain that grows with
    the input), the scale-correct plan at sf0.1 and at 100 TB is one
    NARROW ``coalesce(1)`` + in-partition sort: identical rows,
    identical presentation order, one fewer shuffle, no sampling pass.
    Measured (tools/ab_sort_tail.py @ 801c9f9, sf0.1, fresh session, median of
    5 full re-executions): Q1-shape 0.459 → 0.247 s (−46%), hourly
    rollup 0.232 → 0.161 s (−31%), outputs pandas-identical.

    ELIGIBILITY (the real condition, advisor note r14): every operator
    between the ``coalesce(1)`` and the nearest Exchange below it must
    be NARROW and BOUNDED-CARDINALITY — a final aggregate with a
    partial/map-side phase (its post-exchange input is ≤ grain ×
    #map-tasks partial rows), projections/filters over it, and
    broadcast joins whose build sides are bounded (dim lookups). The
    grain itself must have a compile-time cardinality bound
    (≲ 10^5 rows: enum/calendar/rollup grains, never per-key grains
    that grow with the input). Applying it above a shuffled join, a
    scan, an unbounded grain, or an aggregate WITHOUT a partial phase
    (pandas UDAFs: ArrowAggregatePython consumes every input row)
    serializes THAT work through one task instead — which is why
    q_tpch_15's tail keeps its range sort (the node above it is a
    join whose streaming side is a supplier SCAN — no exchange between
    the coalesce point and unbounded work) and U-AGG-01 is excluded
    (see OPTIMIZATION_r14.md). Note the condition is about the
    COALESCED SEGMENT, not the whole query: q_tpch_16's distinct-pair
    machinery scales with suppliers, but it runs below the final count
    exchange and stays parallel — its domain-bounded output grain
    qualifies (r15, tools/ab_tpch16.py @ 801c9f9). The plan pin
    (tests/test_plans.py::test_bounded_sorts_have_no_range_exchange)
    enforces the coalesced-stage shape mechanically.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def row_salt(df: DataFrame, num_salts: int) -> Column:
    """Deterministic shard id in [0, num_salts): xxhash64 of the full row.

    Stable under repartitioning and task retry (a content hash, not a
    position id), but varies within a hot join key because non-key
    columns differ row to row.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side with a
    random-but-deterministic shard id and replicate the right side across
    all shards. Output equals ``left.join(right, on)`` exactly.

    Use when one key carries a disproportionate share of rows; AQE's
    skew-join split handles moderate skew automatically, salting handles
    the pathological single-key case and pre-AQE engines.

    The shard id is ``xxhash64`` of the FULL left row: deterministic under
    task retry/recomputation (``monotonically_increasing_id`` is not — a
    recomputed partition could re-salt rows differently mid-join), yet it
    still spreads a hot join key because the non-key columns vary. (Hashing
    only the join key would send the entire hot key to one shard —
    defeating the salt. Fully identical rows do share a shard; that is
    the irreducible case.)
    """
    l_salted = left.withColumn("_salt", row_salt(left, num_salts))
    shards = F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    r_salted = right.withColumn("_salt", shards)
    out = l_salted.join(r_salted, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_lo: str,
    right_hi: str,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Interval join (left.ts BETWEEN right.lo AND right.hi, same key)
    executed as an EQUI-join on (key, time bin).

    A naive range join on key alone degenerates: every left row meets
    every right interval of its key before the range predicate filters —
    quadratic per key. Binning replicates each right interval into the
    bins it spans (intervals are short, so few replicas), joins on
    (key, bin) — a hash-partitionable equi-key — then applies the exact
    range predicate. Work is proportional to true matches + bin overlap,
    not |left|x|right| per key, and AQE can split residual hot bins.
    Output equals the naive range join exactly (tests/test_scale.py).
    """
    lbin = F.floor(F.col(left_ts).cast("long") / bin_seconds)
    l2 = left.withColumn("_bin", lbin)
    r2 = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo).cast("long") / bin_seconds),
                F.floor(F.col(right_hi).cast("long") / bin_seconds),
            )
        ),
    )
    joined = l2.join(r2, on=[on, "_bin"]).filter(
        (F.col(left_ts) >= F.col(right_lo)) & (F.col(left_ts) <= F.col(right_hi))
    )
    return joined.drop("_bin")


def write_range_layout(
    df: DataFrame, path: str, col: str, n_ranges: int = 8
) -> None:
    """Range-clustered parquet layout for data skipping — the sort-key
    half of what table formats call clustering/Z-ordering (single key):
    ``repartitionByRange`` puts disjoint key ranges in separate files and
    ``sortWithinPartitions`` makes every row group's min/max stats tight,
    so a later range predicate prunes whole files and row groups at scan
    time instead of decoding them. At 100 TB this is the difference
    between touching one partition's worth of files and touching all of
    them; the effect is asserted on scan metrics in
    tests/test_scale.py."""
    (
        df.repartitionByRange(n_ranges, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 6, sample_frac: float | None = None
) -> Column:
    """Morton (Z-order) key over ``cols`` as a JVM-side column expression.

    Multi-column clustering: ``write_range_layout`` gives one column tight
    file/row-group min-max stats; interleaving the bit patterns of several
    columns' quantile-bucket ranks gives EVERY clustered column
    partially-tight stats, so a scan filtered on any one of them (or a
    conjunction) prunes files from footer stats alone — the standard
    table-format "Z-ORDER BY (a, b)" layout, built from public Spark APIs:

    1. per column: 2^bits - 1 quantile cut points via ``approxQuantile``
       (one sampled pass, driver holds only the cut array);
    2. bucket rank = # cut points ≤ value — a bounded ``F.aggregate`` HOF
       over the *literal* cut array (whole-stage codegen, no UDF, no
       shuffle);
    3. interleave: bit j of column c lands at position j*k + (k-1-c), so
       all columns share the high bits of the composite key.

    The returned column is deterministic given the cut points; pass the
    result to ``repartitionByRange`` + ``sortWithinPartitions`` (or use
    :func:`write_zorder_layout`).
    """
    if not 1 <= bits <= 10:
        raise ValueError("bits must be in [1, 10]")
    k = len(cols)
    if k < 2:
        raise ValueError("z-order needs >= 2 columns (use write_range_layout for 1)")
    n_cuts = (1 << bits) - 1
    probe = df
    if sample_frac:
        probe = df.sample(fraction=sample_frac, seed=7)
    probe = probe.select([F.col(c).cast("double").alias(c) for c in cols])
    quantiles = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]
    cut_lists = probe.approxQuantile(cols, quantiles, 0.01)

    def bucket(col: str, cuts: list[float]) -> Column:
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        v = F.col(col).cast("double")
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc + F.when(v >= c, F.lit(1)).otherwise(F.lit(0)),
        )

    z = F.lit(0)
    for ci, (col, cuts) in enumerate(zip(cols, cut_lists)):
        b = bucket(col, cuts)
        for j in range(bits):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * k + (k - 1 - ci))
    return z


def write_zorder_layout(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8, bits: int = 6
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort on the
    Morton key so every clustered column's footer stats are tight enough
    to prune files for single-column AND conjunctive predicates. The
    pruning effect is asserted from the parquet footers in
    tests/test_scale.py (same methodology as the single-key layout)."""
    z = zorder_value(df, cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def hilbert_index_np(ranks, bits: int):
    """Hilbert distance of integer grid cells, vectorized over rows.

    ``ranks``: (N, k) non-negative ints < 2^bits. Returns (N,) int64.
    Skilling's axes→transpose transform ("Programming the Hilbert
    Curve", AIP Conf. Proc. 707, 2004 — public algorithm) followed by
    bit interleave of the transpose form. Pure numpy bit ops; the loops
    run bits×k times (tiny), each step full-width vectorized.
    """
    import numpy as np

    X = np.ascontiguousarray(ranks, dtype=np.int64).copy()
    n = X.shape[1]
    if n < 2:
        raise ValueError("hilbert needs >= 2 columns")
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:
        P = Q - 1
        for i in range(n):
            mask = (X[:, i] & Q) != 0
            X[mask, 0] ^= P  # invert low bits of axis 0
            nm = ~mask
            t = (X[nm, 0] ^ X[nm, i]) & P  # exchange low bits 0 <-> i
            X[nm, 0] ^= t
            X[nm, i] ^= t
        Q >>= 1
    for i in range(1, n):  # Gray encode
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(len(X), dtype=np.int64)
    Q = M
    while Q > 1:
        m = (X[:, n - 1] & Q) != 0
        t[m] ^= Q - 1
        Q >>= 1
    X ^= t[:, None]
    # interleave: bit j of transpose axis i → index bit j*n + (n-1-i)
    out = np.zeros(len(X), dtype=np.int64)
    for j in range(bits):
        for i in range(n):
            out |= ((X[:, i] >> j) & 1) << (j * n + (n - 1 - i))
    return out


def hilbert_value(
    df: DataFrame, cols: list[str], bits: int = 6, sample_frac: float | None = None
) -> Column:
    """Hilbert-curve key over ``cols``: same quantile-bucket ranks as
    :func:`zorder_value`, composed with the Hilbert distance instead of
    the Morton interleave. Hilbert keeps CONSECUTIVE key values in
    ADJACENT grid cells (Morton has long jumps at power-of-two
    boundaries), so range-partitioned files cover more compact regions —
    tighter per-file footer stats at high selectivity, the same reason
    table formats offer Hilbert alongside Z-order.

    The rank computation is JVM-side (bounded HOF over literal cut
    arrays, as in z-order); the bit-twiddled Hilbert transform runs in an
    Arrow-batched pandas UDF — acceptable here because layout writing is
    a one-off batch job, not a query hot path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 1 <= bits <= 10:
        raise ValueError("bits must be in [1, 10]")
    k = len(cols)
    if k < 2:
        raise ValueError("hilbert needs >= 2 columns (write_range_layout for 1)")
    n_cuts = (1 << bits) - 1
    probe = df
    if sample_frac:
        probe = df.sample(fraction=sample_frac, seed=7)
    probe = probe.select([F.col(c).cast("double").alias(c) for c in cols])
    quantiles = [i / (n_cuts + 1) for i in range(1, n_cuts + 1)]
    cut_lists = probe.approxQuantile(cols, quantiles, 0.01)

    def bucket(col: str, cuts: list[float]) -> Column:
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        v = F.col(col).cast("double")
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc + F.when(v >= c, F.lit(1)).otherwise(F.lit(0)),
        )

    def _hkey(*rank_cols):
        import numpy as np

        ranks = np.stack([r.to_numpy(dtype="int64") for r in rank_cols], axis=1)
        return pd.Series(hilbert_index_np(ranks, bits))

    # explicit form: type-hint inference rejects *args signatures
    hkey = pandas_udf(_hkey, "long")

    return hkey(*[bucket(c, cuts) for c, cuts in zip(cols, cut_lists)])


def write_hilbert_layout(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8, bits: int = 6
) -> None:
    """Hilbert-clustered parquet layout (see :func:`hilbert_value`);
    drop-in alternative to :func:`write_zorder_layout` where query
    predicates are highly selective on individual clustered columns."""
    h = hilbert_value(df, cols, bits=bits)
    (
        df.withColumn("__h", h)
        .repartitionByRange(n_files, F.col("__h"))
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.mode("overwrite")
        .parquet(path)
    )


def prune_files_by_stats(
    paths: list[str], col: str, sorted_keys: list[int]
) -> tuple[list[str], list[str]]:
    """Split parquet files into (hit, untouched) by whether any key in
    ``sorted_keys`` can fall inside the file's [min, max] footer range
    for ``col`` — metadata-only (no data read), O(files · log|keys|)
    driver work, the same footer statistics the Spark reader itself
    prunes row groups with. A file with no stats for the column is
    conservatively HIT (correctness over pruning).

    This is the table-format-free form of what Delta/Iceberg do with
    per-file column stats in the manifest: at 100 TB the manifest scan
    replaces the footer loop, but the pruning predicate is identical.
    """
    import bisect

    import pyarrow.parquet as pq

    hit: list[str] = []
    keep: list[str] = []
    for f in paths:
        md = pq.ParquetFile(f).metadata
        try:
            idx = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or st.min is None or st.max is None:
                    raise StopIteration
                mins.append(st.min)
                maxs.append(st.max)
            mn, mx = min(mins), max(maxs)
        except StopIteration:
            hit.append(f)
            continue
        j = bisect.bisect_left(sorted_keys, mn)
        if j < len(sorted_keys) and sorted_keys[j] <= mx:
            hit.append(f)
        else:
            keep.append(f)
    return hit, keep

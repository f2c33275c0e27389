"""Scale-path strategy tests: bucketed joins eliminate the shuffle and
salted joins preserve semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_xgboost_spark.plans.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)


def executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    from dask_xgboost_spark.sources import load

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    # bucket lineitem and orders on the join key
    write_bucketed(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        "li_b",
        ["l_orderkey"],
        num_buckets=8,
    )
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "ord_b",
        ["o_orderkey"],
        num_buckets=8,
    )
    return True


def test_bucketed_join_is_shuffle_free(spark, sf_dir, warehouse):
    # disable broadcast so the plan shape is the one that matters at
    # 100 TB: fact-fact SortMergeJoin
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(
            spark,
            "li_b",
            "ord_b",
            on=[spark.table("li_b").l_orderkey == spark.table("ord_b").o_orderkey],
        )
        from dask_xgboost_spark.sources import load

        plain = load(spark, sf_dir, "lineitem").join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert j.count() == plain.count()
        p = executed_plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p, (
            f"bucketed join must not shuffle:\n{p[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_equals_plain_join(spark, sf_dir):
    from dask_xgboost_spark.sources import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    plain = li.join(orders, on="l_orderkey").groupBy("l_orderkey").count()
    salted = (
        salted_join(li, orders, on="l_orderkey", num_salts=4)
        .groupBy("l_orderkey")
        .count()
    )
    assert (
        plain.orderBy("l_orderkey").toPandas().equals(
            salted.orderBy("l_orderkey").toPandas()
        )
    )


def test_row_salt_stable_under_repartitioning(spark, sf_dir):
    # The salt must be a content hash (retry/partitioning stable), not a
    # position id: the same row gets the same shard under any layout.
    from dask_xgboost_spark.plans.scale import row_salt
    from dask_xgboost_spark.sources import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a = (
        li.repartition(3)
        .withColumn("s", row_salt(li, 8))
        .orderBy("l_orderkey", "l_linenumber")
        .toPandas()
    )
    b = (
        li.repartition(17)
        .withColumn("s", row_salt(li, 8))
        .orderBy("l_orderkey", "l_linenumber")
        .toPandas()
    )
    assert a.equals(b)
    # and it actually spreads rows across shards
    assert a["s"].nunique() == 8


def test_binned_range_join_equals_naive(spark, sf_dir):
    # intervals: [purchase ts, purchase ts + 2h] per user; left: all events
    from dask_xgboost_spark.plans.scale import binned_range_join
    from dask_xgboost_spark.sources import load

    ev = load(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
            F.col("event_id").alias("p_id"),
        )
    )
    naive = (
        left.join(right, "user_id")
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi")))
        .select("event_id", "p_id")
    )
    binned = binned_range_join(
        left, right, on="user_id", left_ts="ts", right_lo="lo", right_hi="hi"
    ).select("event_id", "p_id")
    a = naive.orderBy("event_id", "p_id").toPandas()
    b = binned.orderBy("event_id", "p_id").toPandas()
    assert a.equals(b)
    assert len(a) > 0


def test_aqe_skew_join_config_active(spark):
    # the engine's sessions keep AQE + skew-join splitting on — the
    # runtime lever that partitions a hot key's shuffle blocks
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_range_layout_enables_row_skipping(spark, sf_dir, tmp_path):
    # identical data, two layouts: range-clustered (tight per-file/row-group
    # min-max stats) vs round-robin shuffled (every file spans the full key
    # range). Data skipping happens in the parquet reader from footer
    # stats, so the load-bearing assertion is on the footers themselves:
    # under the clustered layout only the top range's files can contain
    # predicate rows; under the scattered layout every file overlaps.
    import glob

    import pyarrow.parquet as pq

    from dask_xgboost_spark.plans.scale import write_range_layout
    from dask_xgboost_spark.sources import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    write_range_layout(li, clustered, "l_orderkey", n_ranges=8)
    li.repartition(8).write.mode("overwrite").parquet(scattered)

    total = li.count()
    hi = li.agg(F.max("l_orderkey")).first()[0]
    cutoff = int(hi * 0.9)
    sel = li.filter(F.col("l_orderkey") > cutoff).count()
    assert 0 < sel < total * 0.2, "predicate must be selective for the test"
    # correctness: the clustered layout holds exactly the same data
    got = spark.read.parquet(clustered).filter(F.col("l_orderkey") > cutoff).count()
    assert got == sel

    def overlapping_files(path):
        hits, files = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            files += 1
            col_idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "l_orderkey"
            )
            fmax = max(
                md.row_group(g).column(col_idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax > cutoff:
                hits += 1
        return hits, files

    c_hits, c_files = overlapping_files(clustered)
    s_hits, s_files = overlapping_files(scattered)
    assert c_files >= 4 and s_files >= 4
    # clustered: only the top range file(s) can serve the predicate —
    # a reader skips the rest from footer stats alone
    assert c_hits <= max(1, c_files // 4), (c_hits, c_files)
    # scattered: stats are useless — (nearly) every file overlaps
    assert s_hits >= s_files - 1, (s_hits, s_files)


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order by (user_id, value): a selective predicate on EITHER column
    alone must be servable from a strict subset of files by footer stats,
    while a round-robin layout overlaps everywhere. Single-key range
    clustering can only do this for its one sort key — the multi-column
    pruning is what the Morton interleave buys."""
    import glob

    import pyarrow.parquet as pq

    from dask_xgboost_spark.plans.scale import write_zorder_layout
    from dask_xgboost_spark.sources import load

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "scattered")
    write_zorder_layout(ev, zpath, ["user_id", "value"], n_files=16, bits=6)
    ev.repartition(16).write.mode("overwrite").parquet(spath)

    total = ev.count()
    assert spark.read.parquet(zpath).count() == total  # layout preserves rows

    # cuts at the 95th percentile: ~5% of rows qualify, enough to land in
    # every scattered file but only the top Z-range of clustered ones
    u_cut, v_cut = (
        ev.select(
            F.expr("percentile(user_id, 0.95)"), F.expr("percentile(value, 0.95)")
        ).first()
    )

    def overlapping(path, col, cut):
        hits, files = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            files += 1
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax > cut:
                hits += 1
        return hits, files

    for col, cut in [("user_id", u_cut), ("value", v_cut)]:
        sel = ev.filter(F.col(col) > cut).count()
        assert 0 < sel < total * 0.2, (col, sel, total)
        got = spark.read.parquet(zpath).filter(F.col(col) > cut).count()
        assert got == sel  # correctness through the layout
        z_hits, z_files = overlapping(zpath, col, cut)
        s_hits, s_files = overlapping(spath, col, cut)
        assert z_files >= 8 and s_files >= 8
        # each clustered dimension prunes a real fraction of files...
        assert z_hits <= z_files // 2, (col, z_hits, z_files)
        # ...while the scattered layout's stats prune (almost) nothing
        assert s_hits >= s_files - 1, (col, s_hits, s_files)


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    """Beyond config flags: AQE's OptimizeSkewedJoin must actually split a
    hot shuffle partition. One key carrying ~80% of the fact rows (the
    canonical hot-user/hot-token shape) under fixture-scale thresholds →
    the final adaptive plan marks the join skew=true, meaning the hot
    partition was chunked and the matching build rows duplicated — the
    runtime defense that makes un-salted joins survive skew at 100 TB."""
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        hot = spark.range(400_000).select(
            F.lit(0).alias("k"), F.col("id").alias("a")
        )
        cold = spark.range(99_000).select(
            (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("a")
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") + 7).alias("v")
        )
        j = hot.unionAll(cold).join(right, "k").agg(
            F.sum(F.col("a") + F.col("v")).alias("s")
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        # and the split must not change the answer
        expect = (
            400_000 * 7  # hot key joins v=7
            + sum(range(400_000))
            + sum(i + (i % 99 + 1 + 7) for i in range(99_000))
        )
        assert row.s == expect
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_analyze_table_stats_reach_the_optimizer(spark, sf_dir):
    """Cost-based optimization needs catalog statistics: after ANALYZE
    TABLE COMPUTE STATISTICS, the optimized plan must carry the exact row
    count (not a size guess). At 100 TB, stats are what let Catalyst pick
    join order and broadcast sides for multi-join queries where static
    size heuristics are wrong."""
    from dask_xgboost_spark.sources import load

    spark.sql("DROP TABLE IF EXISTS nation_stats_t")
    load(spark, sf_dir, "nation").write.saveAsTable("nation_stats_t")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        # plan-level rowCount is only surfaced under CBO
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql("ANALYZE TABLE nation_stats_t COMPUTE STATISTICS")
        df = spark.table("nation_stats_t")
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "ANALYZE must populate rowCount"
        assert stats.rowCount().get() == df.count() == 25
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql("DROP TABLE IF EXISTS nation_stats_t")


def test_hilbert_index_bijective_and_continuous():
    """The two defining properties, checked exhaustively on the 2-D and
    3-D grids: (a) bijection onto [0, 2^(bits*k)) — every cell gets a
    unique Hilbert distance; (b) CONTINUITY — consecutive distances are
    Manhattan-adjacent cells. (b) is what Morton z-order lacks (its
    power-of-two boundary jumps), and the reason Hilbert files cover
    more compact regions."""
    import itertools

    import numpy as np

    from dask_xgboost_spark.plans.scale import hilbert_index_np

    for bits, k in [(3, 2), (2, 3)]:
        side = 1 << bits
        cells = np.array(list(itertools.product(range(side), repeat=k)))
        idx = hilbert_index_np(cells, bits)
        assert sorted(idx) == list(range(side**k))  # bijective
        order = cells[np.argsort(idx)]
        steps = np.abs(np.diff(order, axis=0)).sum(axis=1)
        assert (steps == 1).all()  # each step moves to an adjacent cell


def test_hilbert_layout_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Same footer-stats methodology as the z-order test: a selective
    predicate on either clustered column must be servable from a strict
    subset of Hilbert-clustered files."""
    import glob

    import pyarrow.parquet as pq

    from dask_xgboost_spark.plans.scale import write_hilbert_layout
    from dask_xgboost_spark.sources import load

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    hpath = str(tmp_path / "hilbert")
    write_hilbert_layout(ev, hpath, ["user_id", "value"], n_files=16, bits=6)

    total = ev.count()
    assert spark.read.parquet(hpath).count() == total

    u_cut, v_cut = (
        ev.select(
            F.expr("percentile(user_id, 0.95)"), F.expr("percentile(value, 0.95)")
        ).first()
    )

    def overlapping(path, col, cut):
        hits, files = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            files += 1
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax > cut:
                hits += 1
        return hits, files

    for col, cut in [("user_id", u_cut), ("value", v_cut)]:
        sel = ev.filter(F.col(col) > cut).count()
        assert 0 < sel < total * 0.2, (col, sel, total)
        got = spark.read.parquet(hpath).filter(F.col(col) > cut).count()
        assert got == sel
        h_hits, h_files = overlapping(hpath, col, cut)
        assert h_files >= 8
        assert h_hits <= h_files // 2, (col, h_hits, h_files)


def test_deletion_rewrite_prunes_by_footer_stats(spark, sf_dir):
    """G-DELETE-02's economics: with a subject-clustered layout, a
    deletion batch of low-id subjects must rewrite only the file(s)
    whose footer [min,max] can contain them — here ≤2 of 16 — and the
    pruned rewrite must erase exactly the same rows a full rewrite
    would."""
    import glob

    from pyspark.sql import functions as F

    from dask_xgboost_spark.plans.scale import prune_files_by_stats
    from dask_xgboost_spark.scratch import scratch_dir
    from dask_xgboost_spark.sources import load

    ev = load(spark, sf_dir, "events")
    base = scratch_dir("gdpr2_prunetest")
    ev.repartitionByRange(16, "user_id").write.mode("overwrite").parquet(base)
    files = sorted(glob.glob(base + "/*.parquet"))
    assert len(files) == 16

    del_ids = sorted(
        r["user_id"]
        for r in ev.select("user_id").distinct().filter(F.col("user_id") < 10).collect()
    )
    hit, keep = prune_files_by_stats(files, "user_id", del_ids)
    assert len(hit) <= 2, f"pruning failed: {len(hit)} of 16 files hit"
    assert len(hit) + len(keep) == 16

    # correctness of the pruning predicate: no kept file contains a
    # deleted subject
    leaked = (
        spark.read.parquet(*keep)
        .filter(F.col("user_id").isin([int(i) for i in del_ids]))
        .count()
    )
    assert leaked == 0

    # and the hit set really holds every to-be-erased row
    n_in_hit = (
        spark.read.parquet(*hit)
        .filter(F.col("user_id").isin([int(i) for i in del_ids]))
        .count()
    )
    n_total = ev.filter(F.col("user_id") < 10).count()
    assert n_in_hit == n_total

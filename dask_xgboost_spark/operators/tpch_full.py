"""TPC-H completion set — the 10 query shapes not yet in composite.py
(Q7, Q9, Q11, Q15, Q16, Q17, Q18, Q19, Q20, Q22), adapted to the fixture
schema exactly like the existing shapes (no partsupp table → lineitem is
the part↔supplier offer list; no l_shipmode/p_container/c_phone →
equivalent columns stand in; nation names are NATION_n). With these the
engine covers all 22 TPC-H query shapes end-to-end, every one
hash-checked against DuckDB.

Determinism contract (functions/__init__.py): monetary sums ride int64
cents (cents² for price×discount products); averages are derived as
CAST(int64 SUM AS DOUBLE)/COUNT so both engines round identically; no
DECIMAL or raw float aggregate ever reaches an output column.

Reference parity note: the reference engine (dask/dask-xgboost) runs its
analytics through the same dataframe surface these shapes exercise
(README.rst:37-39 workflow); composite.py:1-8 states the coverage model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_xgboost_spark.caching import persist_rollup
from dask_xgboost_spark.functions import cents, sql_cents
from dask_xgboost_spark.plans.scale import bounded_sort
from dask_xgboost_spark.registry import register
from dask_xgboost_spark.sources import load

_REV = f"{sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})"
_QTY = "CAST(l_quantity AS BIGINT)"


def _rev_col():
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


@register(
    "Q-TPCH-07",
    sql="SELECT supp_nation, cust_nation, l_year, "
    "CAST(SUM(rev) AS BIGINT) / 1e4 AS revenue FROM ("
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year, "
    f"{_REV} AS rev "
    "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
    "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) "
    "AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00') shipping "
    "GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year",
)
def q_tpch_07(spark, sf):
    """Volume-shipping shape (TPC-H Q7): trade volume between two nations
    in both directions, by year. The disjunctive nation-pair predicate
    only survives as a whole above both nation joins, but it IMPLIES
    each side's nation is one of the two — so both dim joins are pruned
    to the 2-nation keyset and pushed BELOW the fact joins (the r5
    verdict's early-dim-prune discipline, same as Q-TPCH-05): supplier
    and customer shrink to ~2/N of their rows before lineitem/orders
    ever shuffle, and only the cross-pair disjunction remains above.
    Catalyst cannot derive this itself — it won't split a disjunction
    across two join branches."""
    supp = load(spark, sf, "supplier")
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    pair_nations = load(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    n1 = F.broadcast(pair_nations.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(pair_nations.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    supp_p = supp.join(n1, F.col("s_nationkey") == F.col("n1_key"))
    cust_p = cust.join(n2, F.col("c_nationkey") == F.col("n2_key"))
    # r14: cust_p is a join OUTPUT (no scan stats), so under the default
    # threshold the custkey join planned as SortMergeJoin — two
    # exchanges + two sorts of the fact chain — even though the
    # 2-nation customer slice genuinely fits a broadcast at bench SFs.
    # Footer-stats gate (the pinned Q8 discipline, composite.py): hint
    # broadcast() only when UNFILTERED customer rows × 96 B (strict
    # upper bound on the (c_custkey, c_nationkey, cust_nation)
    # HashedRelation row — the cust_nation STRING pushes the UnsafeRow
    # past the fixed-width 64 B budget; 96 B covers row + long index +
    # page slack, advisor note r14) fit the session threshold; at
    # 100 TB customer rows make the bound refuse and the shuffled join
    # stands — which is the right plan there.
    from dask_xgboost_spark.operators.composite import (
        _footer_rows_fit_broadcast,
    )

    if _footer_rows_fit_broadcast(spark, f"{sf}/customer.parquet", 96):
        cust_p = F.broadcast(cust_p)
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        supp_p.join(li, F.col("s_suppkey") == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust_p, F.col("c_custkey") == orders.o_custkey)
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            _rev_col().alias("rev"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("rev") / 1e4).alias("revenue"))
        # bounded grain (2 nation pairs × ship years): narrow
        # presentation sort, no range Exchange (plans/scale.bounded_sort)
        .transform(bounded_sort, "supp_nation", "cust_nation", "l_year")
    )


@register(
    "Q-TPCH-09",
    sql="SELECT nation, o_year, CAST(SUM(amount) AS BIGINT) / 1e4 AS sum_profit "
    "FROM (SELECT n_name AS nation, "
    "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year, "
    f"{_REV} - {sql_cents('p_retailprice')} * 100 * {_QTY} AS amount "
    "FROM part JOIN lineitem ON p_partkey = l_partkey "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE 'red%') profit "
    "GROUP BY nation, o_year ORDER BY nation, o_year DESC",
)
def q_tpch_09(spark, sf):
    """Product-type-profit shape (TPC-H Q9, adapted: no ps_supplycost →
    p_retailprice×quantity is the cost leg): profit per supplier nation
    per year over 'red' parts. Five-table join; part (filtered) and
    nation broadcast, fact-fact join shuffles once on orderkey. Profit
    stays in exact cents² on both engines."""
    part = F.broadcast(
        load(spark, sf, "part").filter(F.col("p_name").like("red%"))
    )
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    orders = load(spark, sf, "orders")
    nation = F.broadcast(load(spark, sf, "nation"))
    amount = _rev_col() - cents("p_retailprice") * 100 * F.col("l_quantity").cast("long")
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(supp, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount") / 1e4).alias("sum_profit"))
        # bounded grain (≤25 nations × order years): narrow presentation
        # sort, no range Exchange (plans/scale.bounded_sort)
        .transform(bounded_sort, "nation", F.desc("o_year"))
    )


_Q11_SQL = (
    # scale-free threshold: parts above 2x the MEAN part value (TPC-H's
    # own fraction is 0.0001/SF for the same reason — a fixed fraction of
    # the total empties out as the part count grows with SF)
    "SELECT l_partkey AS ps_partkey, "
    f"CAST(SUM({sql_cents('l_extendedprice')} * {_QTY}) AS BIGINT) / 1e2 AS value "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_nationkey % 3 = 1 "
    "GROUP BY l_partkey "
    f"HAVING CAST(SUM({sql_cents('l_extendedprice')} * {_QTY}) AS BIGINT) > ("
    f"SELECT 2.0 * CAST(SUM({sql_cents('l_extendedprice')} * {_QTY}) AS BIGINT) "
    "/ COUNT(DISTINCT l_partkey) "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey WHERE n_nationkey % 3 = 1) "
    "ORDER BY value DESC, ps_partkey"
)


@register("Q-TPCH-11", sql=_Q11_SQL)
def q_tpch_11(spark, sf):
    """Important-stock shape (TPC-H Q11, adapted: lineitem stands in for
    partsupp): per-part offer value from a third of the nations' suppliers
    (n_nationkey % 3 = 1 — a single named nation can be absent at tiny SFs), keeping
    parts above twice the mean per-part value — a grouped aggregate
    HAVING-compared against a scalar subquery over the SAME aggregate
    input (mean-relative so the threshold is scale-free; TPC-H's own
    fraction is 0.0001/SF for the same reason). The part grain is the
    irreducible shuffle here (the shuffle IS the query), but the SQL
    form pays it TWICE — Catalyst plans the scalar subquery as its own
    aggregate over the same joined input and exchange reuse does not
    fire across the differently-pruned branches (measured 40,365
    shuffled rows at sf0.1, 2× the 19,996-part grain). This plan runs
    the per-part aggregate ONCE and derives the threshold from it:
    SUM over the per-part sums is the subquery's SUM exactly (int64
    partial-sum associativity) and COUNT(*) over the part grain is its
    COUNT(DISTINCT l_partkey), in the oracle's exact expression order
    (2.0 * CAST(total AS BIGINT), then / count), broadcast back as one
    row; the comparison stays exact int64 vs double of an int64.
    Deterministic ORDER BY (value DESC, key).

    CALLER CONTRACT (storage): the part-grain rollup stays persist()ed
    past this call — a DataFrame cannot unpersist itself after its
    consumer materializes. The entry is TRACKED
    (``dask_xgboost_spark.caching.persist_rollup``): after collecting
    the result, call ``dask_xgboost_spark.release_rollups()`` to drop
    exactly the package-created cache entries, or
    ``spark.catalog.clearCache()`` as the blunt superset (bench.py and
    tools/shuffle_audit.py do the latter between metered queries)."""
    sup_f = (
        load(spark, sf, "supplier")
        .join(
            F.broadcast(
                load(spark, sf, "nation").filter(F.col("n_nationkey") % 3 == 1)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = cents("l_extendedprice") * F.col("l_quantity").cast("long")
    per_part = persist_rollup(
        load(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(F.broadcast(sup_f), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(val).cast("long").alias("value_c"))
        # referenced twice (threshold + filter); Catalyst's column
        # pruning gives the branches different schemas so exchange
        # reuse does NOT fire — materialize the tiny part-grain rollup
        # once (the Q-TPCH-15 discipline, BASELINE.md §5)
    )
    thr = per_part.agg(
        (
            (F.lit(2.0) * F.sum("value_c").cast("long"))
            / F.count(F.lit(1))
        ).alias("t")
    )
    return (
        per_part.join(F.broadcast(thr), F.col("value_c") > F.col("t"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            (F.col("value_c") / 1e2).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


_Q15_SQL = (
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
    f"CAST(SUM({_REV}) AS BIGINT) AS total_c "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1999-04-01 00:00:00' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_c / 1e4 AS total_revenue "
    "FROM supplier JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_c = (SELECT MAX(total_c) FROM revenue) "
    "ORDER BY s_suppkey"
)


@register("Q-TPCH-15", sql=_Q15_SQL)
def q_tpch_15(spark, sf):
    """Top-supplier shape (TPC-H Q15): quarterly revenue per supplier,
    keep the supplier(s) at the maximum — the view-reused-twice pattern
    (once joined, once under MAX).

    Catalyst INLINES a twice-referenced CTE whose optimized subtrees
    diverge (column pruning gives the join branch (suppkey, total) and
    the MAX branch (total) different schemas), so exchange reuse does
    NOT fire and the lineitem scan+aggregate would run twice (measured:
    0 ReusedExchange, 2 fact scans). The production idiom — called out
    in BASELINE.md §5 — is to materialize the multi-referenced view
    explicitly: the revenue aggregate (one row per supplier, tiny
    relative to the fact table) is cached, both references read the
    InMemoryRelation, and the fact scan+shuffle runs once. The
    max-equality compare is exact int64 cents², so ties are found
    identically in both engines."""
    li = load(spark, sf, "lineitem")
    revenue = persist_rollup(
        li.filter(
            (F.col("l_shipdate") >= "1999-01-01")
            & (F.col("l_shipdate") < "1999-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount")))
            .cast("bigint")
            .alias("total_c")
        )
    )
    best = revenue.agg(F.max("total_c").alias("max_c"))
    sup = load(spark, sf, "supplier")
    return (
        sup.join(revenue, sup.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(best), F.col("total_c") == F.col("max_c"))
        .select(
            "s_suppkey", "s_name",
            (F.col("total_c") / 1e4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "Q-TPCH-16",
    sql="SELECT p_brand, p_type, p_size, "
    "CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' "
    "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
    "AND l_suppkey NOT IN ("
    "SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size "
    "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size",
)
def q_tpch_16(spark, sf):
    """Parts/supplier-relationship shape (TPC-H Q16, adapted: negative
    account balance stands in for the complaints predicate): distinct
    supplier count per (brand, type, size) excluding flagged suppliers.
    NOT IN over a nullable-free key column → Catalyst plans a
    broadcast anti join (null-aware); COUNT(DISTINCT) expands to a
    two-stage partial/final aggregate.

    r15 (tools/ab_tpch16.py @ 801c9f9): the trailing ORDER BY grain is the part
    ATTRIBUTE DOMAIN — |brands| × |types| × |sizes|, generator-fixed
    vocabularies (25 × 6 × 50 at every fixture SF; 25 × 150 × 50 in
    full TPC-H), invariant in fact volume — so the presentation sort is
    bounded_sort-eligible. The r14 screen rejected it as "distinct-pair
    volume scales with suppliers", but that volume flows through the
    dedup/count exchanges BELOW the coalesce point and stays parallel;
    the coalesced segment contains only the final count aggregate,
    whose post-exchange input is ≤ domain-combos × #map-tasks partial
    rows (960 × tasks after the filter here). Measured cardinalities at
    sf0.1: 76,284 filtered rows → 893 output groups."""
    part = F.broadcast(
        load(spark, sf, "part").filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
    )
    li = load(spark, sf, "lineitem")
    flagged = load(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(flagged),
            li.l_suppkey == flagged.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        # bounded grain (part attribute domain, not part count): narrow
        # presentation sort, no range Exchange (plans/scale.bounded_sort)
        .transform(
            bounded_sort, F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


_Q17_SQL = (
    f"SELECT CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) / 7e2 AS avg_yearly "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_brand = 'Brand#3' AND p_type = 'SMALL' "
    "AND CAST(l_quantity AS DOUBLE) < ("
    f"SELECT 0.2 * (CAST(SUM({_QTY}) AS DOUBLE) / COUNT(*)) "
    "FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)"
)


@register("Q-TPCH-17", sql=_Q17_SQL)
def q_tpch_17(spark, sf):
    """Small-quantity-order shape (TPC-H Q17): revenue lost to orders
    below 20% of a part's average quantity — the per-part correlated
    scalar AVG subquery. The oracle states the correlated form;
    Catalyst's own decorrelation aggregates lineitem at the grain of
    EVERY part and only then joins the brand/type-filtered dim — at
    sf0.1 that shuffled 20,003 rows (|parts|, measured by the bench's
    shuffle metric) for a query whose filter keeps 130 parts. This plan
    applies the Q5 keyset-prune discipline instead: the filtered part
    keyset broadcasts into lineitem BELOW the aggregate (the
    correlation predicate l2.l_partkey = p_partkey makes the avg over
    the pruned rows identical to the avg over all rows of those
    parts), so the per-part threshold aggregate — and everything above
    it — runs at the 130-key grain. The average stays CAST(int64 SUM
    AS DOUBLE)/COUNT, multiplied by 0.2 in the oracle's exact
    expression order, so the threshold compare is bit-identical."""
    part_k = (
        load(spark, sf, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    li_f = (
        load(spark, sf, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part_k), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    qty = F.col("l_quantity").cast("long")
    thr = (
        li_f.groupBy("l_partkey")
        .agg(
            (
                F.lit(0.2)
                * (F.sum(qty).cast("double") / F.count(F.lit(1)))
            ).alias("t")
        )
        .withColumnRenamed("l_partkey", "tk")
    )
    return (
        li_f.join(F.broadcast(thr), F.col("l_partkey") == F.col("tk"))
        .filter(F.col("l_quantity").cast("double") < F.col("t"))
        .agg(
            (F.sum(cents("l_extendedprice")).cast("long") / F.lit(7e2)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "Q-TPCH-18",
    sql="SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
    f"CAST(SUM({_QTY}) AS BIGINT) AS total_qty "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_orderkey IN ("
    f"SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM({_QTY}) > 150) "
    "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def q_tpch_18(spark, sf):
    """Large-volume-customer shape (TPC-H Q18): orders whose line
    quantities sum past a threshold, with their customers — the IN
    (grouped HAVING subquery) pattern.

    The naive plan (what the SQL literally states, and what this
    operator ran through r8) semi-joins orders against the HAVING
    rollup, RE-joins lineitem, and RE-aggregates the same quantity sum
    per order. But the output's total_qty IS the rollup's own sum —
    SUM(l_quantity) per order over all of that order's lines, computed
    before the HAVING filter — so the re-join and second aggregate are
    pure waste. This plan inner-joins orders to the FILTERED rollup
    (orderkey is unique on both sides, so inner ≡ semi + recompute) and
    carries total_qty straight through; no output grouping remains
    because the join result is already at order grain. Found via the
    r9 10× shuffle tripwire (the old shape jumped 17,654 → 501,738
    shuffled rows for 10× sf0.01); measured honestly, most of that
    jump is inherent — a max-cardinality grain under random row layout
    defeats map-side combine, so the rollup alone shuffles ~n_lineitem
    partial rows — but the rewrite still deletes the semi-join build,
    the lineitem re-join, and the second aggregation: 176,730 →
    147,236 rows (−17%) at sf0.1 and one full stage chain less at
    every size. Quantity sums are exact int64; ORDER BY ends in the
    unique orderkey so LIMIT 100 is a deterministic top-k
    (TakeOrderedAndProject, no global sort)."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "Q-TPCH-19",
    sql=f"SELECT CAST(SUM({_REV}) AS BIGINT) / 1e4 AS revenue "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity >= 1 AND l_quantity <= 20) "
    "OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 "
    "AND l_quantity >= 10 AND l_quantity <= 30) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 "
    "AND l_quantity >= 20 AND l_quantity <= 50)",
)
def q_tpch_19(spark, sf):
    """Discounted-revenue shape (TPC-H Q19, adapted: p_size ranges stand
    in for container classes): a three-way disjunction mixing columns
    from BOTH join sides. The common-condition extraction matters at
    scale: Catalyst pushes the brand/size disjunction down to the part
    scan and the quantity bounds to the lineitem scan (derived from the
    OR via constraint propagation), so neither side scans full."""
    li = load(spark, sf, "lineitem")
    part = F.broadcast(load(spark, sf, "part"))
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 20)
           & (q >= 10) & (q <= 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 40)
           & (q >= 20) & (q <= 50))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg((F.sum(_rev_col()) / 1e4).alias("revenue"))
    )


@register(
    "Q-TPCH-20",
    # nation predicate covers a FRACTION of nations (n_nationkey % 3 = 0)
    # rather than one name: at sf0.001 only 10 suppliers exist and any
    # single nation can be absent entirely
    sql="SELECT s_name, s_acctbal FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_nationkey % 3 = 0 AND s_suppkey IN ("
    "SELECT l_suppkey FROM lineitem "
    "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') "
    "AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00' "
    f"GROUP BY l_suppkey HAVING SUM({_QTY}) > 50) "
    "ORDER BY s_name",
)
def q_tpch_20(spark, sf):
    """Potential-part-promotion shape (TPC-H Q20, adapted: shipped volume
    stands in for the availqty threshold): suppliers in a third of the
    nations who moved >50 units of 'red' parts in 1999 — nested IN
    subqueries (parts
    inside lineitem inside supplier) → a semi-join chain. The part
    filter broadcasts into the lineitem aggregate; the aggregate's
    supplier set broadcasts into the supplier semi join."""
    supp = load(spark, sf, "supplier")
    nation = F.broadcast(
        load(spark, sf, "nation").filter(F.col("n_nationkey") % 3 == 0)
    )
    red_parts = load(spark, sf, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    movers = (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(movers), supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# body shared by the Spark side and the oracle; the Spark side appends a
# narrow bounded_sort instead of the SQL ORDER BY (5 country codes — see
# plans/scale.bounded_sort), the oracle keeps ORDER BY in its text
_Q22_BODY = (
    "SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, "
    "CAST(SUM(bal_c) AS BIGINT) / 1e2 AS totacctbal FROM ("
    "SELECT SUBSTRING(c_name, LENGTH(c_name) - 1, 2) AS cntrycode, "
    f"{sql_cents('c_acctbal')} AS bal_c "
    "FROM customer WHERE SUBSTRING(c_name, LENGTH(c_name) - 1, 2) "
    "IN ('01', '13', '25', '31', '42') "
    f"AND {sql_cents('c_acctbal')} > ("
    f"SELECT CAST(SUM({sql_cents('c_acctbal')}) AS DOUBLE) / COUNT(*) "
    "FROM customer WHERE c_acctbal > 0.0 "
    "AND SUBSTRING(c_name, LENGTH(c_name) - 1, 2) "
    "IN ('01', '13', '25', '31', '42')) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')"
    ") custsale GROUP BY cntrycode"
)
_Q22_SQL = _Q22_BODY + " ORDER BY cntrycode"


@register("Q-TPCH-22", sql=_Q22_SQL)
def q_tpch_22(spark, sf):
    """Global-sales-opportunity shape (TPC-H Q22, adapted: the customer
    name's trailing digits stand in for the phone country code; every
    fixture customer has SOME order, so "no orders in the last year"
    keeps the anti join load-bearing at every SF): above-average-balance
    customers in selected codes with no recent orders — an uncorrelated
    scalar AVG subquery plus a filtered NOT EXISTS anti join.
    The average threshold is derived from an exact int64 cents sum in
    both engines, so boundary rows never flip. The anti join's build
    side is the DATE-FILTERED orders keyset (8.8% of orders at sf0.1 —
    13,227 keys), whose estimate is scan-accurate (pushed filter on a
    scan), so Catalyst broadcasts it at bench SFs and degrades safely
    to a shuffled anti join when the filtered slice outgrows the
    threshold — the scale-adaptive plan with no gate needed (the §11
    estimate-overshoot flip cannot occur on a scan-sourced build).
    Examined r15, REFUSED: deduping o_custkey below the anti join
    (guide §2.3) would cut the build/shuffle rows only 1.5×
    (13,227 filtered rows → 8,844 distinct custkeys, measured) while
    adding an aggregate exchange and a job at every scale."""
    for t in ("customer", "orders"):
        load(spark, sf, t).createOrReplaceTempView(t)
    return bounded_sort(spark.sql(_Q22_BODY), "cntrycode")

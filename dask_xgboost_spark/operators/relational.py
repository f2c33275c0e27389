"""Relational core operators (SURVEY.md §2C: SCAN/PROJ/FIL/JOIN/AGG/SORT/SET).

Each spec pairs an idiomatic DataFrame-API implementation with the DuckDB
oracle SQL defining its semantics. Spark-first notes per family:

- Scans: native parquet/CSV readers → pushdown + pruning from Catalyst.
- Joins: declared as equi-joins so Catalyst/AQE picks broadcast vs
  shuffled-hash vs sort-merge; small dims (nation/region) are explicitly
  broadcast. The theta self-join carries its equi-key (user_id) so it is
  NOT a cartesian product at scale.
- Aggregations: partial (map-side) aggregation is automatic for
  hash-aggregates; exact-decimal carriers make results order-independent.
- Reference precedent for this surface: README.rst:37-39 (dd.read_csv →
  dataframe preprocessing), core.py:301-303 (column select/drop),
  core.py:562-566 (distinct).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dask_xgboost_spark.functions import (
    EVENTS_US,
    cents,
    charge,
    dec,
    hex_nibbles,
    sql_cents,
    sql_charge,
    sql_dec,
)
from dask_xgboost_spark.operators.asof import asof_join_backward
from dask_xgboost_spark.plans.scale import bounded_sort
from dask_xgboost_spark.registry import register
from dask_xgboost_spark.scratch import scratch_dir
from dask_xgboost_spark.sources import load, read_csv, read_parquet

# --------------------------------------------------------------------------
# SCAN
# --------------------------------------------------------------------------


@register("Q-SCAN-01", sql="SELECT COUNT(*) AS n FROM lineitem")
def q_scan_01(spark, sf):
    """Parquet scan + count (metadata-only at the physical level)."""
    return load(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n"))


NATION_CSV_SCHEMA = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)


@register(
    "Q-SCAN-02",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_02(spark, sf):
    """CSV sink + scan roundtrip (reference: dd.read_csv, README.rst:37)."""
    out = scratch_dir("scan02_csv")
    load(spark, sf, "nation").write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(spark, out, schema=NATION_CSV_SCHEMA).orderBy("n_nationkey")


@register(
    "Q-SCAN-03",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_03(spark, sf):
    """Parquet write/read roundtrip (sink path)."""
    out = scratch_dir("scan03_pq")
    load(spark, sf, "nation").write.mode("overwrite").parquet(out)
    return read_parquet(spark, out).orderBy("n_nationkey")


@register(
    "Q-SCAN-04",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_04(spark, sf):
    """JSON-lines sink + scan roundtrip (schema-explicit read)."""
    out = scratch_dir("scan04_json")
    load(spark, sf, "nation").write.mode("overwrite").json(out)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .json(out)
        .orderBy("n_nationkey")
    )


@register(
    "Q-SCAN-05",
    sql="SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type, COUNT(*) AS n "
    f"FROM {EVENTS_US} e "
    "WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-02 00:00:00' "
    "GROUP BY d, event_type ORDER BY d, event_type",
)
def q_scan_05(spark, sf):
    """Date-partitioned write + partition-pruned read — the table layout
    every time-series fact uses at 100 TB. Events are written
    partitioned by day (hive layout, one directory per date); the
    filtered read lists ONLY the matching directory (PartitionFilters in
    the scan — asserted in tests/test_plans.py::test_partition_pruning
    for the same layout), so a one-day query on a 10-year table touches
    1/3650th of the files."""
    out = scratch_dir("scan05_part")
    ev = load(spark, sf, "events")
    ev.withColumn("d", F.to_date(F.date_trunc("day", "ts"))).write.partitionBy(
        "d"
    ).mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("d") == "2024-01-02")
        .groupBy("d", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # calendar grain (days x event types): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "d", "event_type")
    )


# --------------------------------------------------------------------------
# PROJ
# --------------------------------------------------------------------------


@register(
    "Q-PROJ-01",
    sql="SELECT l_orderkey AS k, l_linenumber AS ln, l_quantity AS q "
    "FROM lineitem ORDER BY k, ln",
)
def q_proj_01(spark, sf):
    """Projection + aliasing (reference: core.py:302 column select)."""
    return (
        load(spark, sf, "lineitem")
        .select(
            F.col("l_orderkey").alias("k"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").alias("q"),
        )
        .orderBy("k", "ln")
    )


@register(
    "Q-PROJ-02",
    sql="SELECT l_orderkey, l_linenumber, "
    f"{sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) AS net_c4, "
    f"{sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) / 1e4 AS net_price "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def q_proj_02(spark, sf):
    """Computed column under the exact fixed-point contract: net price as
    int64 1e-4 units (exact at any scale) plus the derived double.
    (DECIMAL-typed output columns are avoided in hash-mode queries — the
    harness decimal canonicalization differs between engines; int64→double
    is correctly rounded in both. See functions/ fixed-point notes.)"""
    net_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        load(spark, sf, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            net_c4.alias("net_c4"),
            (net_c4 / 1e4).alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# FIL
# --------------------------------------------------------------------------


@register(
    "Q-FIL-01",
    sql="SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem "
    "WHERE l_quantity > 45 AND l_discount BETWEEN 0.05 AND 0.07 "
    "ORDER BY l_orderkey, l_linenumber",
)
def q_fil_01(spark, sf):
    """Comparison + BETWEEN predicates (pushed to the parquet scan)."""
    return (
        load(spark, sf, "lineitem")
        .filter((F.col("l_quantity") > 45) & F.col("l_discount").between(0.05, 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "Q-FIL-02",
    sql="SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
    "WHERE l_returnflag IN ('A','R') GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q_fil_02(spark, sf):
    """IN-list predicate."""
    return (
        load(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        # enum grain (return flags): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "l_returnflag")
    )


@register(
    "Q-FIL-03",
    sql="SELECT p_partkey, p_type FROM part WHERE p_type LIKE 'PROM%' ORDER BY p_partkey",
)
def q_fil_03(spark, sf):
    """LIKE prefix predicate (pushable as StartsWith)."""
    return (
        load(spark, sf, "part")
        .filter(F.col("p_type").like("PROM%"))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey")
    )


@register(
    "Q-FIL-04",
    # the fixture has no physical NULLs, so nullability is introduced
    # in-query (value < 2 → NULL) to make both branches load-bearing
    sql="SELECT event_id, COALESCE(v0, -1.0) AS v, v0 IS NULL AS was_null "
    "FROM (SELECT event_id, CASE WHEN value < 2 THEN NULL ELSE value END AS v0 "
    "FROM events) t WHERE v0 IS NULL OR v0 > 30 ORDER BY event_id",
)
def q_fil_04(spark, sf):
    """IS NULL / COALESCE null handling over events.value."""
    ev = load(spark, sf, "events")
    v0 = F.when(F.col("value") < 2, None).otherwise(F.col("value"))
    return (
        ev.select("event_id", v0.alias("v0"))
        .filter(F.col("v0").isNull() | (F.col("v0") > 30))
        .select(
            "event_id",
            F.coalesce(F.col("v0"), F.lit(-1.0)).alias("v"),
            F.col("v0").isNull().alias("was_null"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# JOIN
# --------------------------------------------------------------------------


@register(
    "Q-JOIN-01",
    sql="SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey "
    "ORDER BY o_orderkey",
)
def q_join_01(spark, sf):
    """Inner equi-join; AQE picks broadcast vs shuffle by runtime stats."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


# Fixed-point revenue: price-cents × (100 - discount-cents) summed as
# int64 (exact, codegen fast path), one float division at the end.
_REVENUE_BY_NATION_SQL = (
    "SELECT n_name, "
    f"CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS BIGINT) "
    "/ 1e4 AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n_name"
)


def _revenue_by_nation(spark, sf, hint_broadcast: bool):
    """r15 dims-first body (the Q5/Q8 discipline, tools/ab_join02.py @ 801c9f9):
    the r1–r14 fact-first order (li ⋈ orders ⋈ customer ⋈ nation) made
    the order-grain ORDERS scan a broadcast build at bench SFs (linear
    growth) and, above any admitting threshold, re-shuffled the
    fact-wide joined intermediate — revenue columns and all — on
    custkey. Here orders(2 cols) ⋈ customer(2 cols) resolve into a
    NARROW fixed-width order-grain map (o_orderkey, c_nationkey) FIRST;
    lineitem (3 columns) then streams through ONE join on orderkey and
    the 25-row nation lookup below the aggregate, so above the gate the
    fact table shuffles exactly once, on orderkey, in 24 B rows. The
    omap broadcast is footer-gated at 48 B/row (join output → no scan
    stats; 2-fixed-field UnsafeRow + LongHashedRelation index), firing
    under the default 10 MB threshold at bench SFs and structurally
    refusing at 100 TB. Inner joins commute and the grouping stays on
    n_name, so the result is structurally identical (oracle parity at
    3 SFs; outputs asserted identical in the A/B at 1×/10×)."""
    from dask_xgboost_spark.operators.composite import (
        _gate_build_or_pin_shuffle,
    )

    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf, "nation")
    if hint_broadcast:
        nation = F.broadcast(nation)
        customer = F.broadcast(customer)
    omap = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_nationkey")
    # on refusal the li⋈omap join is PINNED to a shuffled merge join —
    # a free Catalyst was measured (10× under a 64 MB threshold)
    # flipping the build side onto LINEITEM, a fact-sized
    # HashedRelation rebuilt per execution (8.7 s vs 1.0 s shuffled at
    # 10×; composite._gate_build_or_pin_shuffle)
    omap = _gate_build_or_pin_shuffle(spark, f"{sf}/orders.parquet", 48, omap)
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(omap, li.l_orderkey == omap.o_orderkey)
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg((F.sum(rev) / 1e4).alias("revenue"))
        # bounded grain (≤25 nations): narrow single-partition
        # presentation sort instead of a range Exchange + sampling pass
        .transform(bounded_sort, "n_name")
    )


@register("Q-JOIN-02", sql=_REVENUE_BY_NATION_SQL)
def q_join_02(spark, sf):
    """Multi-way (4-table) join: revenue by nation (bench headliner)."""
    return _revenue_by_nation(spark, sf, hint_broadcast=False)


@register("Q-JOIN-08", sql=_REVENUE_BY_NATION_SQL)
def q_join_08(spark, sf):
    """Same query with explicit broadcast hints on the dimension tables;
    the plan assert (tests/test_plans.py) checks BroadcastHashJoin."""
    return _revenue_by_nation(spark, sf, hint_broadcast=True)


@register(
    "Q-JOIN-03",
    # restricted to big orders so unmatched customers actually exist
    # (every fixture customer has ≥1 order — the unrestricted join would
    # never exercise null preservation)
    sql="SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer "
    "LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o "
    "ON o_custkey = c_custkey GROUP BY c_custkey ORDER BY c_custkey",
)
def q_join_03(spark, sf):
    """Left outer join preserving customers with zero (big) orders."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


# Both fixture key sets cover all 25 nations, so the outer/set queries
# use *filtered* nation sets (rich customers vs rich suppliers) — these
# partially overlap, making unmatched rows on both sides real.
_CN_SQL = "SELECT DISTINCT c_nationkey AS nk FROM customer WHERE c_acctbal > 9900"
_SN_SQL = "SELECT DISTINCT s_nationkey AS nk FROM supplier WHERE s_acctbal > 9500"


def _rich_nation_sets(spark, sf):
    cn = (
        load(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    sn = (
        load(spark, sf, "supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
    )
    return cn, sn


@register(
    "Q-JOIN-04",
    sql=f"WITH cn AS ({_CN_SQL}), sn AS ({_SN_SQL}) "
    "SELECT cn.nk AS c_nk, sn.nk AS s_nk FROM cn FULL JOIN sn ON cn.nk = sn.nk "
    "ORDER BY c_nk NULLS LAST, s_nk NULLS LAST",
)
def q_join_04(spark, sf):
    """Full outer join (symmetric preservation of unmatched keys)."""
    cn, sn = _rich_nation_sets(spark, sf)
    return (
        cn.alias("cn")
        .join(sn.alias("sn"), F.col("cn.nk") == F.col("sn.nk"), "full")
        .select(F.col("cn.nk").alias("c_nk"), F.col("sn.nk").alias("s_nk"))
        .orderBy(F.col("c_nk").asc_nulls_last(), F.col("s_nk").asc_nulls_last())
    )


@register(
    "Q-JOIN-05",
    sql="SELECT c_custkey FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
)
def q_join_05(spark, sf):
    """Left semi join (EXISTS)."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "Q-JOIN-06",
    # every fixture customer has orders, so the anti-join is against
    # urgent orders only — customers without one actually exist
    sql="SELECT c_custkey FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderpriority = '1-URGENT') ORDER BY c_custkey",
)
def q_join_06(spark, sf):
    """Left anti join (NOT EXISTS): customers with no urgent order."""
    customer = load(spark, sf, "customer")
    urgent = load(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, urgent.o_custkey == customer.c_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "Q-JOIN-07",
    sql="SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
)
def q_join_07(spark, sf):
    """Cross join — declared only for small×small inputs (both dims)."""
    region = load(spark, sf, "region")
    nation = load(spark, sf, "nation")
    return region.crossJoin(nation).select("r_name", "n_name").orderBy("r_name", "n_name")


@register(
    "Q-JOIN-09",
    sql=f"SELECT a.user_id, COUNT(*) AS pairs FROM {EVENTS_US} a JOIN {EVENTS_US} b "
    "ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR "
    "GROUP BY a.user_id ORDER BY a.user_id",
)
def q_join_09(spark, sf):
    """Theta/range self-join: event pairs within 1h per user, executed as
    a BINNED equi-join (plans/scale.py::binned_range_join): each 1h
    interval replicates into the hour bins it spans and the join key is
    (user_id, bin), so work scales with true pair density instead of the
    per-user cross product a key-only range join degenerates to. The
    exact range predicate is applied after the equi-join; output is
    identical to the naive form (equivalence-tested in
    tests/test_scale.py)."""
    from dask_xgboost_spark.plans.scale import binned_range_join

    ev = load(spark, sf, "events").select("user_id", "ts")
    intervals = ev.select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
    )
    return (
        binned_range_join(
            ev, intervals, on="user_id", left_ts="ts",
            right_lo="lo", right_hi="hi",
        )
        .filter(F.col("ts") > F.col("lo"))  # exclusive lower bound
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("pairs"))
        .orderBy("user_id")
    )


@register(
    "Q-JOIN-10",
    sql="WITH u AS ("
    f"  SELECT event_id, user_id AS k, ts, 1 AS side, "
    f"         CAST(NULL AS TIMESTAMP) AS pts FROM {EVENTS_US} e1"
    "  UNION ALL"
    f"  SELECT CAST(NULL AS BIGINT), user_id, ts, 0, ts FROM {EVENTS_US} e2 "
    "   WHERE event_type = 'purchase'"
    "), w AS ("
    "  SELECT event_id, side, MAX(pts) OVER ("
    "    PARTITION BY k ORDER BY ts, side "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts"
    "  FROM u) "
    "SELECT event_id, last_purchase_ts FROM w WHERE side = 1 ORDER BY event_id",
)
def q_join_10(spark, sf):
    """As-of join: each event carries its user's most recent purchase at
    or before it (backward, inclusive). Uses the union+running-window
    operator (operators/asof.py) — one shuffle, no pair explosion.
    Semantics additionally property-tested against pandas.merge_asof
    (tests/test_asof_property.py)."""
    ev = load(spark, sf, "events")
    left = ev.select("event_id", F.col("user_id").alias("k"), "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"), F.col("ts").alias("pts")
    )
    out = asof_join_backward(
        left, purchases, on="k", left_ts="ts", right_ts="pts",
        carry={"last_purchase_ts": "pts"},
    )
    return out.select("event_id", "last_purchase_ts").orderBy("event_id")


@register(
    "Q-JOIN-11",
    # nullability is synthesized in-query (value < 5 → NULL band) so the
    # NULL<=>NULL branch is load-bearing: plain equality would drop those
    # rows, null-safe equality groups them
    sql="SELECT band, band_name, COUNT(*) AS n FROM ("
    f"  SELECT CASE WHEN value < 5 THEN NULL ELSE FLOOR(value / 10) END AS band "
    f"  FROM {EVENTS_US} e) ev "
    "JOIN (SELECT unnest([NULL, 0, 1, 2, 3]) AS bband, "
    "      unnest(['missing','b0','b1','b2','b3']) AS band_name) dim "
    "ON ev.band IS NOT DISTINCT FROM dim.bband "
    "GROUP BY band, band_name ORDER BY band NULLS FIRST",
)
def q_join_11(spark, sf):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of being dropped — the join shape for
    dimensions with an explicit 'missing' member."""
    ev = load(spark, sf, "events").select(
        F.when(F.col("value") < 5, None)
        .otherwise(F.floor(F.col("value") / 10))
        .alias("band")
    )
    dim = F.broadcast(
        load(spark, sf, "events")
        .sparkSession.createDataFrame(
            [(None, "missing"), (0, "b0"), (1, "b1"), (2, "b2"), (3, "b3")],
            "bband bigint, band_name string",
        )
    )
    return (
        ev.join(dim, ev.band.eqNullSafe(dim.bband))
        .groupBy("band", "band_name")
        .agg(F.count(F.lit(1)).alias("n"))
        # enum grain (5-member band dim): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, F.col("band").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# AGG
# --------------------------------------------------------------------------


_Q1_QC = sql_cents("l_quantity")
_Q1_PC = sql_cents("l_extendedprice")
_Q1_DC = sql_cents("l_discount")
_Q1_TC = sql_cents("l_tax")


@register(
    "Q-AGG-01",
    sql="SELECT l_returnflag, l_linestatus, "
    f"CAST(SUM({_Q1_QC}) AS BIGINT) / 1e2 AS sum_qty, "
    f"CAST(SUM({_Q1_PC}) AS BIGINT) / 1e2 AS sum_base_price, "
    f"CAST(SUM({_Q1_PC} * (100 - {_Q1_DC})) AS BIGINT) / 1e4 AS sum_disc_price, "
    f"CAST(SUM({_Q1_PC} * (100 - {_Q1_DC}) * (100 + {_Q1_TC})) AS BIGINT) / 1e6 AS sum_charge, "
    f"CAST(SUM({_Q1_QC}) AS BIGINT) / 1e2 / COUNT(*) AS avg_qty, "
    f"CAST(SUM({_Q1_PC}) AS BIGINT) / 1e2 / COUNT(*) AS avg_price, "
    f"CAST(SUM({_Q1_DC}) AS BIGINT) / 1e2 / COUNT(*) AS avg_disc, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
)
def q_agg_01(spark, sf):
    """TPC-H Q1-shape scan-aggregate (bench headliner). Fixed-point int64
    sums (exact + codegen fast path; see functions/ fixed-point notes) —
    the decimal-carrier variant of the same math is Q-PROJ-02/Q-AGG-05."""
    li = load(spark, sf, "lineitem")
    cnt = F.count(F.lit(1))
    qc, pc, dc, tc = (
        cents("l_quantity"),
        cents("l_extendedprice"),
        cents("l_discount"),
        cents("l_tax"),
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qc) / 1e2).alias("sum_qty"),
            (F.sum(pc) / 1e2).alias("sum_base_price"),
            (F.sum(pc * (100 - dc)) / 1e4).alias("sum_disc_price"),
            (F.sum(pc * (100 - dc) * (100 + tc)) / 1e6).alias("sum_charge"),
            (F.sum(qc) / 1e2 / cnt).alias("avg_qty"),
            (F.sum(pc) / 1e2 / cnt).alias("avg_price"),
            (F.sum(dc) / 1e2 / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        # bounded grain (3 flags × 2 statuses): narrow single-partition
        # presentation sort instead of a range Exchange + sampling pass
        .transform(bounded_sort, "l_returnflag", "l_linestatus")
    )


@register(
    "Q-AGG-14",
    sql="SELECT l_returnflag, l_linestatus, "
    f"CAST(CAST(SUM({sql_charge()}) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge_str, "
    "COUNT(*) AS n "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
)
def q_agg_14(spark, sf):
    """Unbounded-scale twin of Q-AGG-01's charge sum: the int64 cents³
    carrier overflows around ~9e7 rows per group (TODO.md), so the
    scale-proof path sums in exact DECIMAL(38,…) — 38 digits, effectively
    unbounded — and renders the result as a STRING (both engines print
    decimals at full scale identically; emitting the DECIMAL cell itself
    would hit the harness's non-portable decimal canonicalization, and
    deriving a double is only exact below 2^53 unscaled). Slower than the
    int64 fast path (BigDecimal leaves codegen's Long fast path) — use it
    when group cardinalities can exceed the int64 bound."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(charge()).cast("decimal(38,6)").cast("string").alias("sum_charge_str"),
            F.count(F.lit(1)).alias("n"),
        )
        # bounded grain (3 flags × 2 statuses): plans/scale.bounded_sort
        .transform(bounded_sort, "l_returnflag", "l_linestatus")
    )


@register(
    "Q-AGG-15",
    sql="SELECT r_name, n_name, "
    "CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n, "
    "COUNT(*) AS n "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY ROLLUP (r_name, n_name) "
    "ORDER BY g_r, g_n, r_name NULLS LAST, n_name NULLS LAST",
)
def q_agg_15(spark, sf):
    """GROUPING() flags disambiguate rollup-generated NULLs from NULL
    data — without them a NULL group key is ambiguous in every
    ROLLUP/CUBE result."""
    customer = load(spark, sf, "customer")
    nation = F.broadcast(load(spark, sf, "nation"))
    region = F.broadcast(load(spark, sf, "region"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_r"),
            F.grouping("n_name").cast("int").alias("g_n"),
            F.count(F.lit(1)).alias("n"),
        )
        # bounded grain (ROLLUP of ≤5 regions × ≤25 nations):
        # plans/scale.bounded_sort
        .transform(
            bounded_sort,
            "g_r",
            "g_n",
            F.col("r_name").asc_nulls_last(),
            F.col("n_name").asc_nulls_last(),
        )
        .select("r_name", "n_name", "g_r", "g_n", "n")
    )


_A16_X = "CAST(l_quantity AS BIGINT)"
_A16_Y = sql_cents("l_discount")


@register(
    "Q-AGG-16",
    sql="SELECT l_returnflag, "
    "CAST((n * sxy - sx * sy) AS DOUBLE) / "
    "(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) "
    "AS corr_qd, n FROM ("
    "SELECT l_returnflag, COUNT(*) AS n, "
    f"CAST(SUM({_A16_X}) AS BIGINT) AS sx, CAST(SUM({_A16_Y}) AS BIGINT) AS sy, "
    f"CAST(SUM({_A16_X} * {_A16_Y}) AS BIGINT) AS sxy, "
    f"CAST(SUM({_A16_X} * {_A16_X}) AS BIGINT) AS sxx, "
    f"CAST(SUM({_A16_Y} * {_A16_Y}) AS BIGINT) AS syy "
    "FROM lineitem GROUP BY l_returnflag) m ORDER BY l_returnflag",
)
def q_agg_16(spark, sf):
    """Pearson correlation via exact integer moments. Native corr() sums
    doubles and is order-DEPENDENT — a different answer per partitioning.
    The deterministic distributed shape: five int64 moment sums (exact in
    any order, map-side combinable) + the closed form evaluated once on
    exact values. Columns are anchored small (quantity integral, discount
    cents ≤ 10) so every moment stays far inside int64 and the final
    int→double conversions are exact."""
    x = F.col("l_quantity").cast("bigint")
    y = cents("l_discount")
    m = (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((n * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
    )
    return m.select(
        "l_returnflag", (num / den).alias("corr_qd"), "n"
    # enum grain (return flags): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    ).transform(bounded_sort, "l_returnflag")


@register(
    "Q-AGG-02",
    sql="SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust FROM orders "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
def q_agg_02(spark, sf):
    """COUNT(DISTINCT) — expands to a two-phase exact distinct aggregate."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
        # enum grain (order priorities): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "o_orderpriority")
    )


@register(
    "Q-AGG-03",
    sql="SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey "
    "HAVING COUNT(*) > 12 ORDER BY o_custkey",
)
def q_agg_03(spark, sf):
    """HAVING = post-aggregation filter."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 12)
        .orderBy("o_custkey")
    )


@register(
    "Q-AGG-04",
    sql="SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n FROM orders "
    "GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ()) "
    "ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST, n",
)
def q_agg_04(spark, sf):
    """GROUPING SETS (via Spark SQL — the DataFrame API exposes only
    rollup/cube). ORDER BY lives Spark-side as a bounded_sort (enum
    grain: priorities × statuses grouping sets); oracle SQL unchanged."""
    load(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())"
    ).transform(
        bounded_sort,
        F.col("o_orderpriority").asc_nulls_last(),
        F.col("o_orderstatus").asc_nulls_last(),
        "n",
    )


@register(
    "Q-AGG-05",
    sql="SELECT r_name, n_name, "
    f"CAST(SUM({sql_cents('c_acctbal')}) AS BIGINT) AS bal_cents, "
    f"CAST(SUM({sql_cents('c_acctbal')}) AS BIGINT) / 1e2 AS bal "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY ROLLUP (r_name, n_name) "
    "ORDER BY r_name NULLS LAST, n_name NULLS LAST",
)
def q_agg_05(spark, sf):
    """ROLLUP region→nation over customer balances (broadcast dims).
    Balances are summed as exact int64 cents (FLOOR(x*100+0.5) rounds
    half-up toward +inf for negative acctbal too, identically in both
    engines) and emitted as cents + derived double — no DECIMAL output
    (harness decimal canonicalization is not cross-engine stable)."""
    customer = load(spark, sf, "customer")
    nation = F.broadcast(load(spark, sf, "nation"))
    region = F.broadcast(load(spark, sf, "region"))
    bal_cents = F.sum(cents("c_acctbal"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(bal_cents.alias("bal_cents"), (bal_cents / 1e2).alias("bal"))
        # enum grain (regions x nations): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, F.col("r_name").asc_nulls_last(), F.col("n_name").asc_nulls_last())
    )


@register(
    "Q-AGG-06",
    sql="SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
    "GROUP BY CUBE (l_returnflag, l_linestatus) "
    "ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST",
)
def q_agg_06(spark, sf):
    """CUBE over returnflag × linestatus."""
    return (
        load(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        # enum grain (returnflag x linestatus): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, F.col("l_returnflag").asc_nulls_last(), F.col("l_linestatus").asc_nulls_last())
    )


@register(
    "Q-AGG-07",
    sql="SELECT o_orderstatus, MIN(o_orderdate) AS min_d, MAX(o_orderdate) AS max_d, "
    "MIN(o_orderpriority) AS min_p, MAX(o_orderpriority) AS max_p FROM orders "
    "GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q_agg_07(spark, sf):
    """MIN/MAX over timestamps and strings (binary collation both engines)."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("min_d"),
            F.max("o_orderdate").alias("max_d"),
            F.min("o_orderpriority").alias("min_p"),
            F.max("o_orderpriority").alias("max_p"),
        )
        # enum grain (order statuses): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "o_orderstatus")
    )


@register("Q-AGG-08", sql=None, mode="tol")
def q_agg_08(spark, sf):
    """approx_count_distinct (HLL++) next to the exact count; the pytest
    check asserts rel-err ≤ 5%. No oracle: HLL sketches are
    engine-specific. At 100 TB the approx path avoids the exact-distinct
    shuffle entirely."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.015).alias("approx_cust"),
            F.countDistinct("o_custkey").alias("exact_cust"),
        )
        # enum grain (order priorities): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "o_orderpriority")
    )


_AGG09_S = f"CAST(SUM({sql_dec('l_quantity')}) AS DOUBLE)"
_AGG09_SS = (
    f"CAST(SUM(CAST({sql_dec('l_quantity')} * {sql_dec('l_quantity')} AS DECIMAL(18,4))) AS DOUBLE)"
)


@register(
    "Q-AGG-09",
    sql=f"SELECT l_returnflag, {_AGG09_S} AS s, {_AGG09_SS} AS ss, COUNT(*) AS n, "
    f"({_AGG09_SS} - {_AGG09_S} * {_AGG09_S} / COUNT(*)) / (COUNT(*) - 1) AS var_samp, "
    f"SQRT(({_AGG09_SS} - {_AGG09_S} * {_AGG09_S} / COUNT(*)) / (COUNT(*) - 1)) AS stddev_samp "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q_agg_09(spark, sf):
    """Sample variance/stddev from exact decimal Σx, Σx² (hash-checkable:
    the float formula runs on bit-identical doubles in both engines).
    l_quantity is integral so the inner DECIMAL(18,4) re-cast is lossless."""
    li = load(spark, sf, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.sum(dec("l_quantity")).cast("double").alias("s"),
        F.sum((dec("l_quantity") * dec("l_quantity")).cast("decimal(18,4)"))
        .cast("double")
        .alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    return g.select(
        "l_returnflag", "s", "ss", "n", var.alias("var_samp"), F.sqrt(var).alias("stddev_samp")
    # enum grain (return flags): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    ).transform(bounded_sort, "l_returnflag")


@register(
    "Q-AGG-11",
    sql="SELECT l_returnflag, "
    "quantile_cont(l_quantity, 0.25) AS p25, "
    "quantile_cont(l_quantity, 0.5) AS median, "
    "quantile_cont(l_quantity, 0.75) AS p75 "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q_agg_11(spark, sf):
    """Exact interpolated percentiles (median/quartiles). Hash-safe here
    because l_quantity is integral and the probe fractions are dyadic, so
    the interpolation arithmetic is exact in both engines. The 100 TB
    path for quantiles is approx_percentile / approxQuantile."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.25).alias("p25"),
            F.percentile("l_quantity", 0.5).alias("median"),
            F.percentile("l_quantity", 0.75).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


@register("Q-AGG-12", sql=None, mode="tol")
def q_agg_12(spark, sf):
    """approx_percentile next to the exact percentile (the 100 TB quantile
    path: a mergeable sketch, no global sort). Tol-checked in tests."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_median"),
            F.percentile("l_quantity", 0.5).alias("exact_median"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "Q-AGG-10",
    sql="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def q_agg_10(spark, sf):
    """DISTINCT rows (reference: class discovery, core.py:561-566)."""
    # enum grain (market segments): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return load(spark, sf, "customer").select("c_mktsegment").distinct().transform(bounded_sort, "c_mktsegment")


@register(
    "Q-AGG-13",
    sql="SELECT o_orderstatus, "
    "string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios, "
    "COUNT(DISTINCT o_orderpriority) AS n_prio "
    "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q_agg_13(spark, sf):
    """String aggregation (listagg/collect_set): distinct priorities per
    status, sorted then comma-joined — sorting before the join makes the
    output order-independent, the only deterministic listagg shape in a
    distributed engine."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("prios"),
            F.countDistinct("o_orderpriority").alias("n_prio"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# SORT
# --------------------------------------------------------------------------


@register(
    "Q-SORT-01",
    sql="SELECT event_id, ROW_NUMBER() OVER (ORDER BY value DESC NULLS LAST, event_id) AS rn "
    f"FROM {EVENTS_US} e ORDER BY event_id",
)
def q_sort_01(spark, sf):
    """Multi-key sort with explicit nulls ordering, made hash-observable
    through a global ROW_NUMBER. (Global window = single-partition sort;
    fine for a declared-semantics query, not a scale path — the scale
    path for global ordering is orderBy, which range-partitions.)"""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("value").desc_nulls_last(), F.col("event_id"))
    return (
        load(spark, sf, "events")
        .select("event_id", F.row_number().over(w).alias("rn"))
        .orderBy("event_id")
    )


@register(
    "Q-SORT-02",
    sql="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
)
def q_sort_02(spark, sf):
    """Top-k: orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver; no global sort at scale."""
    return (
        load(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# --------------------------------------------------------------------------
# SET
# --------------------------------------------------------------------------


@register(
    "Q-SET-01",
    sql="SELECT src, nk, COUNT(*) AS n FROM ("
    "SELECT 'c' AS src, c_nationkey AS nk FROM customer "
    "UNION ALL SELECT 's', s_nationkey FROM supplier) t "
    "GROUP BY src, nk ORDER BY src, nk",
)
def q_set_01(spark, sf):
    """UNION ALL of tagged key sets."""
    c = load(spark, sf, "customer").select(F.lit("c").alias("src"), F.col("c_nationkey").alias("nk"))
    s = load(spark, sf, "supplier").select(F.lit("s").alias("src"), F.col("s_nationkey").alias("nk"))
    # enum grain (2 sources x nations): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return c.unionAll(s).groupBy("src", "nk").agg(F.count(F.lit(1)).alias("n")).transform(bounded_sort, "src", "nk")


@register(
    "Q-SET-02",
    sql="SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY nk",
)
def q_set_02(spark, sf):
    """UNION (distinct)."""
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    # enum grain (nation keys): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return c.union(s).distinct().transform(bounded_sort, "nk")


@register(
    "Q-SET-03",
    sql=f"{_CN_SQL} INTERSECT {_SN_SQL} ORDER BY nk",
)
def q_set_03(spark, sf):
    """INTERSECT (distinct semantics) over partially-overlapping sets."""
    cn, sn = _rich_nation_sets(spark, sf)
    # enum grain (nation keys): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return cn.intersect(sn).transform(bounded_sort, "nk")


@register(
    "Q-SET-04",
    sql=f"{_CN_SQL} EXCEPT {_SN_SQL} ORDER BY nk",
)
def q_set_04(spark, sf):
    """EXCEPT (distinct semantics) over partially-overlapping sets."""
    cn, sn = _rich_nation_sets(spark, sf)
    # enum grain (nation keys): narrow presentation sort, no range
    # Exchange (plans/scale.bounded_sort, r15 rescreen)
    return cn.subtract(sn).transform(bounded_sort, "nk")


@register(
    "Q-SET-05",
    sql="WITH ia AS (SELECT o_custkey AS k FROM orders "
    "INTERSECT ALL SELECT c_custkey FROM customer), "
    "ea AS (SELECT o_custkey AS k FROM orders "
    "EXCEPT ALL SELECT c_custkey FROM customer), "
    "a AS (SELECT k, COUNT(*) AS n_ia FROM ia GROUP BY k), "
    "b AS (SELECT k, COUNT(*) AS n_ea FROM ea GROUP BY k) "
    "SELECT COALESCE(a.k, b.k) AS k, COALESCE(n_ia, 0) AS n_ia, "
    "COALESCE(n_ea, 0) AS n_ea "
    "FROM a FULL JOIN b ON a.k = b.k ORDER BY k",
)
def q_set_05(spark, sf):
    """Bag semantics: INTERSECT ALL / EXCEPT ALL (multiplicity-preserving
    — a customer with n orders keeps n-1 rows under EXCEPT ALL against
    the one-row customer side; plain EXCEPT would keep zero)."""
    ok = load(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    ck = load(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    n_ia = (
        ok.intersectAll(ck).groupBy("k").agg(F.count(F.lit(1)).alias("n_ia"))
    )
    n_ea = ok.exceptAll(ck).groupBy("k").agg(F.count(F.lit(1)).alias("n_ea"))
    return (
        n_ia.join(n_ea, "k", "full")
        .select(
            "k",
            F.coalesce("n_ia", F.lit(0)).alias("n_ia"),
            F.coalesce("n_ea", F.lit(0)).alias("n_ea"),
        )
        .orderBy("k")
    )


@register("Q-AGG-17", sql=None, mode="tol")
def q_agg_17(spark, sf):
    """Mergeable HLL sketches — the 100 TB distinct-count architecture:
    per-group sketches are aggregated once, and the GLOBAL estimate comes
    from hll_union_agg over the stored group sketches — no second scan of
    the fact table, and sketches persist/merge across partitions, days,
    or clusters. Tolerance-checked against exact counts in tests."""
    orders = load(spark, sf, "orders")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_cust"),
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_total")
    )
    return (
        per_group.select(
            "o_orderpriority",
            F.hll_sketch_estimate("sk").alias("approx_cust"),
            "exact_cust",
        )
        .crossJoin(F.broadcast(merged))
        .orderBy("o_orderpriority")
    )


@register(
    "Q-AGG-18",
    # exact median over int64 cents: linear interpolation of two integers
    # is a half-integer, exactly representable, so both engines emit the
    # identical double (never engine-native AVG/MEDIAN over raw doubles)
    sql="SELECT c_mktsegment, "
    f"quantile_cont({sql_cents('c_acctbal')}, 0.5) / 1e2 AS median_bal, "
    "CAST(COUNT(*) AS BIGINT) AS n "
    "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
)
def q_agg_18(spark, sf):
    """Exact grouped median (continuous-interpolation percentile) of
    account balance per market segment. Exact percentiles need a per-group
    sort — fine when group cardinality is bounded (segments); the 100 TB
    path for high-cardinality groups is percentile_approx (Q-AGG-08's
    t-digest-style sketch, mergeable and one-pass)."""
    return (
        load(spark, sf, "customer")
        .groupBy("c_mktsegment")
        .agg(
            (F.expr(f"percentile(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 0.5)") / 1e2).alias("median_bal"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "Q-SCAN-06",
    # schema evolution: an old write lacks a column a later write added;
    # mergeSchema reconciles at read time, old rows surface NULL
    sql="SELECT o_orderkey, o_totalprice, o_orderpriority FROM ("
    "SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority "
    "FROM orders WHERE o_orderkey % 2 = 0 "
    "UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority "
    "FROM orders WHERE o_orderkey % 2 = 1) t ORDER BY o_orderkey",
)
def q_scan_06(spark, sf):
    """Schema-evolution read (mergeSchema): two parquet generations of the
    same table — the older one written before a column existed — are read
    as one frame; old rows carry NULL for the added column. The standard
    lakehouse append-evolution pattern: at 100 TB you never rewrite old
    files to add a column, the reader reconciles footers per file."""
    import os
    import tempfile

    # fixed path + overwrite mode: reruns replace rather than accumulate
    base = os.path.join(tempfile.gettempdir(), "dxs_evo_scan06")
    orders = load(spark, sf, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(base + "/gen=old")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(base + "/gen=new")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base + "/gen=old", base + "/gen=new")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@register("Q-AGG-19", sql=None, mode="tol")
def q_agg_19(spark, sf):
    """Count-min-sketch frequency estimation — the second mergeable
    sketch alongside Q-AGG-17's HLL: per-partition sketches merge
    associatively inside the aggregate, so frequency estimates cost one
    pass and a constant-size result no matter the input scale (the
    1M-row and 100 TB sketch are the same 112 KB). Estimates are
    one-sided: est ≥ exact, est ≤ exact + ε·N w.h.p. — asserted in
    tests/test_golden.py; the registry row carries est vs exact per key
    (rows-only driver check, tol by nature)."""
    ev = load(spark, sf, "events")
    sk = ev.agg(
        F.count_min_sketch("event_type", F.lit(0.001), F.lit(0.99), F.lit(42)).alias("s")
    ).first()["s"]
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(sk))
    # sketch point-queries need the key list driver-side (that is the
    # sketch API), but ONLY the low-cardinality key list crosses the
    # boundary; the exact counts stay a distributed aggregate and the
    # tiny (key, est) frame broadcast-joins back onto it
    exact_df = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact"))
    keys = sorted(  # bounded: the low-cardinality key list (5 event types)
        r["event_type"] for r in exact_df.select("event_type").collect()
    )
    est_df = spark.createDataFrame(
        [(t, int(jcms.estimateCount(t))) for t in keys],
        "event_type string, est bigint",
    )
    return (
        exact_df.join(F.broadcast(est_df), "event_type")
        .select("event_type", "est", F.col("exact").cast("bigint").alias("exact"))
        # bounded grain (event-type enum): plans/scale.bounded_sort
        .transform(bounded_sort, "event_type")
    )


@register(
    "Q-SCAN-07",
    sql="SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key, "
    "MAX(o_orderkey) AS max_key, MAX(epoch_us(o_orderdate)) AS max_od_us "
    "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q_scan_07(spark, sf):
    """CSV source round-trip: orders written as headered CSV, read back
    with an explicit DDL schema (no inferSchema pass — at 100 TB schema
    inference is a full extra scan), aggregated identically to the
    parquet original (oracle). Timestamps travel as epoch-µs int64 —
    the lossless text carrier; bigint/string columns are exact by
    construction."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "dxs_csv_scan07")
    (
        load(spark, sf, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            # o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC
            # (session.py) so the cast is the exact epoch DuckDB sees
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(base)
    )
    back = (
        spark.read.option("header", "true")
        .schema("o_orderkey bigint, o_custkey bigint, o_orderstatus string, od_us bigint")
        .csv(base)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.max("od_us").alias("max_od_us"),
        )
        # enum grain (order statuses): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "o_orderstatus")
    )


@register(
    "Q-SCAN-08",
    sql="SELECT c_mktsegment, COUNT(*) AS n, MIN(c_custkey) AS min_key, "
    "MAX(c_custkey) AS max_key, "
    "CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_c "
    "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
)
def q_scan_08(spark, sf):
    """JSON-lines source round-trip: customer written as newline-delimited
    JSON, read back with an explicit schema, aggregated ≡ the parquet
    original. Jackson serializes doubles shortest-round-trip, so the
    int64-cents balance sum is exact across the text hop; the explicit
    read schema again avoids the inference scan."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "dxs_json_scan08")
    (
        load(spark, sf, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite")
        .json(base)
    )
    back = spark.read.schema(
        "c_custkey bigint, c_name string, c_mktsegment string, c_acctbal double"
    ).json(base)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
            F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")).alias("bal_c"),
        )
        # enum grain (market segments): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "c_mktsegment")
    )


@register(
    "Q-SCAN-09",
    sql="SELECT l_returnflag, COUNT(*) AS n, "
    "CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c, "
    "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_c "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q_scan_09(spark, sf):
    """ORC source round-trip: the lineitem projection written as ORC
    (Spark's second first-class columnar format — binary-identical
    doubles, predicate pushdown and column pruning work the same as
    parquet), read back and aggregated ≡ the parquet original."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "dxs_orc_scan09")
    (
        load(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
        .write.mode("overwrite")
        .orc(base)
    )
    back = spark.read.orc(base)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")).alias("qty_c"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")).alias("price_c"),
        )
        # enum grain (return flags): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "l_returnflag")
    )


@register(
    "Q-SCAN-11",
    sql="SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
)
def q_scan_11(spark, sf):
    """Custom Python Data Source (PySpark 4 ``pyspark.sql.datasource``):
    documents written as JSONL, read back through the pure-Python
    ``pyjsonl`` source (sources/pydatasource.py) ≡ the parquet original.

    This is the engine's extension point for formats Spark lacks — the
    reference's analogue is dask's pluggable per-partition reader
    callables. Scale contract proven by the implementation: the driver
    only LISTS files (one InputPartition each); decoding runs on
    executors, one task per file, results crossing to the JVM as Arrow
    batches, so ingest parallelism tracks file count like a native
    scan."""
    import os
    import tempfile

    from dask_xgboost_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    base = os.path.join(
        tempfile.gettempdir(),
        f"dxs_pysrc_scan11_{os.path.basename(sf.rstrip('/'))}",
    )
    (
        load(spark, sf, "documents")
        .select("doc_id", "lang", "text")
        .write.mode("overwrite")
        .json(base)
    )
    return (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, lang string, text string")
        .option("path", base)
        .load()
        .orderBy("doc_id")
    )


@register(
    "Q-SCAN-12",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_12(spark, sf):
    """XML source round-trip (Spark 4 built-in ``xml`` format — the
    spark-xml package absorbed into core): nation written as XML with
    explicit row tags, read back with an explicit schema (inference
    would scan twice) ≡ the parquet original. XML is a document format,
    not a splittable columnar one — at scale it is an INGEST format:
    read once, land as parquet/ORC, query the columnar copy."""
    import os
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"dxs_xml_scan12_{os.path.basename(sf.rstrip('/'))}",
    )
    (
        load(spark, sf, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(base)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(base)
        .orderBy("n_nationkey")
    )


@register(
    "Q-SCAN-13",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_13(spark, sf):
    """JDBC source/sink round-trip (embedded Derby — the in-JVM database
    Spark ships for its Hive metastore): nation written to a JDBC table,
    read back as a PARTITIONED JDBC scan ≡ the parquet original.

    The read demonstrates the contract that makes JDBC ingest scale:
    ``partitionColumn/lowerBound/upperBound/numPartitions`` split the
    key range into independent WHERE-bounded queries, one per executor
    task — without them a JDBC read is a single connection pulling the
    whole table through one task. (Production systems also push
    ``fetchsize`` and predicate filters; the partition-pruned WHERE
    clauses are visible in the plan.) Round-trip caveat pinned here:
    Derby pads nothing and preserves int/varchar exactly, so the
    hash-check is exact."""
    url = "jdbc:derby:memory:dxs_scan13;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    (
        load(spark, sf, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
        .select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "Q-AGG-20",
    # ord = cents * 1e7 + custkey is a unique int64, monotone in the
    # (acctbal, custkey) lexicographic order (custkey in [0, 1e7)), so
    # arg_max/max_by ties are impossible — the only way these aggregates
    # are deterministic cross-engine.
    sql="WITH b AS (SELECT c_nationkey, c_custkey, "
    f"{sql_cents('c_acctbal')} * 10000000 + c_custkey AS ord FROM customer) "
    "SELECT CAST(c_nationkey AS BIGINT) AS nation, "
    "CAST(arg_max(c_custkey, ord) AS BIGINT) AS top_cust, "
    "CAST(arg_min(c_custkey, ord) AS BIGINT) AS bottom_cust, "
    "CAST(MAX(ord) AS BIGINT) AS max_ord "
    "FROM b GROUP BY c_nationkey ORDER BY nation",
)
def q_agg_20(spark, sf):
    """MAX_BY / MIN_BY (DuckDB arg_max/arg_min): per nation, the customer
    holding the highest / lowest account balance. The ordering key is a
    unique tie-broken int64 (balance cents scaled, custkey added) because
    max_by on a non-unique key is nondeterministic in BOTH engines.

    Scale shape: single map-side-combined hash aggregate carrying
    (key, ord, payload) triples — no window, no sort, no second shuffle;
    the cheapest possible "top-1 per group" plan and the one to prefer
    over row_number()-then-filter when k = 1."""
    b = load(spark, sf, "customer").select(
        "c_nationkey",
        "c_custkey",
        (cents("c_acctbal") * 10000000 + F.col("c_custkey")).alias("ord"),
    )
    return (
        b.groupBy("c_nationkey")
        .agg(
            F.max_by("c_custkey", "ord").cast("long").alias("top_cust"),
            F.min_by("c_custkey", "ord").cast("long").alias("bottom_cust"),
            F.max("ord").cast("long").alias("max_ord"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nation"),
            "top_cust",
            "bottom_cust",
            "max_ord",
        )
        # enum grain (nation keys): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "nation")
    )


@register(
    "Q-SORT-03",
    # default null placement DIFFERS: Spark sorts NULLs first ASC, DuckDB
    # last — explicit NULLS FIRST/LAST on every key is the portable form
    sql="SELECT event_id, CASE WHEN value < 2 THEN NULL ELSE value END AS v "
    "FROM events ORDER BY v DESC NULLS LAST, event_id LIMIT 100",
)
def q_sort_03(spark, sf):
    """Explicit NULL placement in ORDER BY. The engines disagree on the
    default (Spark: NULLS FIRST ascending; DuckDB/Postgres: NULLS LAST),
    so the operator always emits an explicit desc_nulls_last /
    asc_nulls_first — silent default reliance is a portability bug this
    entry pins down. NULLs are synthesized in-query (value < 2) because
    the fixture column has none.

    Scale shape: top-k with limit → TakeOrderedAndProject (per-partition
    heap + driver merge), same as Q-SORT-02 — no global sort."""
    ev = load(spark, sf, "events").select(
        "event_id",
        F.when(F.col("value") < 2, None).otherwise(F.col("value")).alias("v"),
    )
    return ev.orderBy(F.col("v").desc_nulls_last(), "event_id").limit(100)


@register(
    "Q-AGG-21",
    sql="SELECT l_returnflag, "
    "CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk, "
    "CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_discount > 0.05) AS BIGINT) "
    "AS n_disc_supp, "
    "bool_and(l_quantity > 0) AS all_pos, "
    "bool_or(l_discount > 0.09) AS any_deep_disc "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q_agg_21(spark, sf):
    """FILTER-clause conditional aggregates + boolean aggregates
    (count_if / distinct-if / every / any) — the idiomatic way to compute
    many differently-filtered measures in ONE pass instead of N
    self-joined subqueries.

    Scale shape: a single partial+final hash aggregate; every FILTER
    predicate is evaluated map-side, so adding measures adds zero
    shuffles. The DISTINCT-if measure triggers Spark's Expand rewrite —
    still one scan."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).cast("long").alias("n_bulk"),
            F.count_distinct(
                F.when(F.col("l_discount") > 0.05, F.col("l_suppkey"))
            )
            .cast("long")
            .alias("n_disc_supp"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_disc"),
        )
        # enum grain (return flags): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "l_returnflag")
    )


@register(
    "Q-SCAN-10",
    sql="SELECT CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_good, "
    "CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad, "
    "CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN o_orderkey ELSE 0 END) AS BIGINT) "
    "AS sum_key_good FROM orders",
)
def q_scan_10(spark, sf):
    """Corrupt-record-tolerant CSV ingestion, Spark-4 style: under ANSI
    mode (default since 4.0) a malformed numeric field FAILS the scan
    (CAST_INVALID_INPUT) — FAILFAST semantics even in PERMISSIVE mode.
    The auditable ingest path is therefore: read the volatile columns as
    STRING, type them with ``try_cast`` (NULL on malformed), and count
    the quarantine partition explicitly. Every 10th written row carries a
    non-numeric field; the witness row counts good/bad and checksums the
    good keys; the oracle derives the same partition from the clean
    source. At 100 TB ingest, a single bad line must neither kill a
    6-hour job (ANSI FAILFAST) nor silently vanish (DROPMALFORMED) —
    try_cast + quarantine counts is the mode that scales operationally.

    Scale shape: map-only parse, one 1-row aggregate; the quarantined
    lines can be routed to a reject sink from the same scan."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "dxs_csv_scan10")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey"),
        # keep both branches STRING: under ANSI coercion a bigint branch
        # would force-cast the 'XX' literal and fail the write
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("XX")).otherwise(
            F.col("o_custkey").cast("string")
        ),
        F.col("o_orderstatus"),
    )
    load(spark, sf, "orders").select(line.alias("value")).write.mode(
        "overwrite"
    ).text(base)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey_raw string, o_orderstatus string"
        )
        .csv(base)
        .withColumn("o_custkey", F.col("o_custkey_raw").try_cast("bigint"))
    )
    bad = F.col("o_custkey").isNull() & F.col("o_custkey_raw").isNotNull()
    return back.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(~bad, F.col("o_orderkey")).otherwise(0))
        .cast("long")
        .alias("sum_key_good"),
    )


@register(
    "Q-AGG-22",
    sql="SELECT l_returnflag, l_linestatus, "
    "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, "
    "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) "
    "AS rev_cents "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) "
    "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
)
def q_agg_22(spark, sf):
    """CUBE grouping — all 2^k margin combinations in one pass
    (complements Q-AGG-15's ROLLUP, which only emits the k+1 prefix
    margins). GROUPING() flags disambiguate cube-generated NULLs from
    data NULLs, exactly as in the rollup twin.

    Scale shape: Catalyst's Expand rewrite replicates each input row
    once per grouping set BEFORE the partial aggregate, so the cost is
    (2^k)·scan map-side and still ONE shuffle — no k-fold self-union.
    Keep k small (here 2 → 4 sets); at 100 TB a wide cube should be a
    rollup or explicit GROUPING SETS of the margins actually read."""
    li = load(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)))
            .cast("long")
            .alias("rev_cents"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "rev_cents"
        )
        # bounded grain (CUBE of 3 flags × 2 statuses + margins):
        # plans/scale.bounded_sort
        .transform(
            bounded_sort,
            "g_rf",
            "g_ls",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "Q-JOIN-12",
    sql="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS n1, b.p_name AS n2,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
     AND a.p_name < b.p_name
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY n1, n2
    """,
)
def q_join_12(spark, sf):
    """Blocked fuzzy self-join (record linkage): distinct part names
    paired when edit distance ≤ 2, WITHOUT the all-pairs cross join.

    Blocking: equi-join on (first char, length band) with each left row
    replicated into its band and both neighbors (multi-probe). Bands are
    width-3, and edit distance ≤ 2 bounds the length difference by 2, so
    a true pair can never sit more than one band apart — the blocking is
    EXACT for this radius (no recall loss) while the first-char key is
    the standard lossy prefix-block every linkage pipeline accepts (a
    first-character edit escapes any prefix scheme); the oracle states
    the same contract. Scale shape: shuffle on the compact block key,
    levenshtein only within blocks — cost Σ|block|², not n²."""
    names = load(spark, sf, "part").select("p_name").distinct()
    band = F.floor(F.length("p_name") / 3).cast("int")
    left = names.select(
        "p_name",
        F.substring("p_name", 1, 1).alias("c0"),
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("blk"),
    )
    right = names.select(
        F.col("p_name").alias("p_name_r"),
        F.substring("p_name", 1, 1).alias("c0"),
        band.alias("blk"),
    )
    return (
        left.join(right, ["c0", "blk"])
        .filter(F.col("p_name") < F.col("p_name_r"))
        .withColumn("dist", F.levenshtein("p_name", "p_name_r").cast("int"))
        .filter(F.col("dist") <= 2)
        .select(
            F.col("p_name").alias("n1"),
            F.col("p_name_r").alias("n2"),
            "dist",
        )
        .distinct()
        .orderBy("n1", "n2")
    )


@register(
    "Q-SCAN-14",
    # ground truth derives from the planting rule, not from parsing:
    # doc_id % 17 == 0 lines are written truncated (unparseable)
    sql="SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 17 <> 0) AS BIGINT) AS n_good, "
    " CAST(COUNT(*) FILTER (WHERE doc_id % 17 = 0) AS BIGINT) AS n_bad, "
    " CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN n_chars END) AS BIGINT) AS chars_good "
    "FROM documents",
)
def q_scan_14(spark, sf):
    """Corrupt-record quarantine on JSON ingestion: malformed lines land
    in ``columnNameOfCorruptRecord`` instead of killing the job or
    silently vanishing — the PERMISSIVE-mode contract that makes raw
    crawl/log ingestion auditable (CSV-cast twin: Q-SCAN-10's ANSI
    try_cast quarantine). Corruption is planted deterministically
    (doc_id % 17 lines written truncated), the file is round-tripped
    through a REAL text write + JSON read, and the good/bad accounting
    must match the planting rule — proving corrupt rows are neither
    dropped nor double-counted.

    Scale shape: the corrupt column is populated per-partition during
    the ordinary parallel scan — no extra pass; quarantined rows filter
    to a dead-letter sink with a plain predicate."""
    import tempfile

    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    line = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "n_chars":')),
    ).otherwise(F.to_json(F.struct("doc_id", "n_chars")))
    out = scratch_dir("scan14_quar") + "/docs"
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("doc_id bigint, n_chars bigint, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
    )
    return parsed.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).cast("bigint").alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).cast("bigint").alias("n_bad"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars"))).cast("bigint").alias("chars_good"),
    )


_BITMAP_SQL = (
    "SELECT event_type, bitmap_count(bitmap_or_agg(b)) AS n_users FROM ("
    "  SELECT event_type, bitmap_bucket_number(user_id + 1) AS bn, "
    "         bitmap_construct_agg(bitmap_bit_position(user_id + 1)) AS b "
    "  FROM events GROUP BY event_type, bn) t "
    "GROUP BY event_type ORDER BY event_type"
)


@register(
    "Q-AGG-23",
    sql="SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY event_type ORDER BY event_type",
)
def q_agg_23(spark, sf):
    """Bitmap-accelerated EXACT distinct count (Spark 4 bitmap aggregate
    family): ids map to (bucket, bit-position), per-bucket bitmaps build
    map-side via ``bitmap_construct_agg``, merge associatively via
    ``bitmap_or_agg``, and ``bitmap_count`` reads the cardinality. The
    result is exactly COUNT(DISTINCT) — the oracle — but the
    intermediate state is a MERGEABLE fixed-width bitmap per (group,
    bucket): unlike raw COUNT(DISTINCT)'s shuffle of every distinct
    value, bitmap partial state is bounded by the id range, and unlike
    HLL (Q-AGG-17) it is exact. This is the materialized-view /
    pre-aggregation shape for distinct counts: store per-segment
    bitmaps, OR them at query time across any segment combination —
    distinct counts over arbitrary slices without rescanning facts."""
    load(spark, sf, "events").createOrReplaceTempView("events")
    out = spark.sql(_BITMAP_SQL)
    return bounded_sort(
        # bounded grain (event-type enum): plans/scale.bounded_sort
        out.select("event_type", F.col("n_users").cast("bigint")),
        "event_type",
    )


_BLOOM_M_BITS = 1 << 16   # 65536 bits = 1024 int64 words (8 KB broadcast)
_BLOOM_SEEDS = (7, 131, 977)


@register(
    "Q-JOIN-13",
    sql="SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
def q_join_13(spark, sf):
    """Bloom-filter semi-join reduction (runtime-filter pattern, built
    from public column algebra): the selective dimension side (one
    market segment's custkeys) is folded into a 65536-bit Bloom filter
    by a distributed aggregate — k=3 positions per key via xxhash64
    tuple-hashing, per-word ``bit_or`` partial aggregation — and the 8 KB
    word array ships to every fact task as a literal, where a map-side
    bit-test drops ~96% of fact rows BEFORE the shuffle join. The exact
    join then removes the Bloom's false positives, so the result is
    byte-identical to the plain join (the oracle runs the plain join).

    Scale shape: this is the hand-rolled form of what engines call
    runtime filtering / sideways information passing, and it matters
    exactly when the dim side is too large to broadcast-join but its
    KEY SET still compresses into a few KB of bitmap: the fact table is
    filtered at scan-site cost, and the shuffle moves only rows that
    can match (modulo fpr ≈ 0.2% here). The filter build is one
    O(dim) aggregate producing ≤ 1024 bounded rows — the only
    driver-side collect, bounded by the CONSTANT filter width, never by
    data. The exact join is deliberately hinted shuffle-hash (not
    broadcast) to model the big-dim regime the technique exists for."""
    m = _BLOOM_M_BITS
    cust = load(spark, sf, "customer")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    pos = F.explode(
        F.array(*[
            F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(s)), F.lit(m))
            for s in _BLOOM_SEEDS
        ])
    ).alias("p")
    words = (
        keys.select(pos)
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()  # bounded by m/64 = 1024 rows (filter width, not data)
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["bits"]

    orders = load(spark, sf, "orders").withColumn("__bloom", F.lit(arr))
    probe = " AND ".join(
        f"((element_at(__bloom, CAST(pmod(xxhash64(o_custkey, {s}), {m}) / 64 AS INT) + 1) "
        f">> CAST(pmod(xxhash64(o_custkey, {s}), {m}) % 64 AS INT)) & 1) = 1"
        for s in _BLOOM_SEEDS
    )
    prefiltered = orders.filter(F.expr(probe)).drop("__bloom")
    return (
        prefiltered.join(
            keys.hint("shuffle_hash"),
            prefiltered.o_custkey == keys.c_custkey,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("rev_c"),
        )
        # enum grain (order priorities): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "o_orderpriority")
    )


@register(
    "Q-AGG-24",
    # deterministic mode: highest count wins, LOWEST value breaks ties —
    # both engines state the tie-break explicitly (Spark's built-in
    # mode() and DuckDB's mode() are both tie-nondeterministic)
    sql="WITH c AS (SELECT user_id, event_type, COUNT(*) AS n "
    " FROM events GROUP BY user_id, event_type), "
    "r AS (SELECT user_id, event_type, n, "
    " ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk "
    " FROM c) "
    "SELECT user_id, event_type AS modal_type, CAST(n AS BIGINT) AS n "
    "FROM r WHERE rk = 1 ORDER BY user_id",
)
def q_agg_24(spark, sf):
    """Exact grouped MODE (most frequent value per key) with a stated
    tie-break — per user, the event type they perform most, lowest
    type name winning ties. Both engines' built-in ``mode()`` leave
    ties engine-defined, so a reproducible pipeline must state the
    rule; this formulation (count rollup → max_by on the (n, value)
    ordering) makes it part of the contract.

    Scale shape: the only fact-sized shuffle is the (key, value) count
    rollup, map-side combined; the winner pick is ``max_by`` over the
    ALREADY-AGGREGATED (key, value, n) table — a second, much smaller
    aggregate, not a window over facts. The struct ordering encodes
    (n DESC, value ASC) via negated count, keeping the whole pick one
    associative aggregate that AQE can split on skewed keys."""
    c = (
        load(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # max_by with an ordering struct: greatest (n, reversed(event_type));
    # string reversal for ASC-on-ties has no clean encoding, so use
    # min_by on (-n, event_type) — lexicographic struct comparison gives
    # highest n first, then lowest type
    return (
        c.groupBy("user_id")
        .agg(
            F.min_by(
                F.struct(F.col("event_type").alias("modal_type"), F.col("n")),
                F.struct((-F.col("n")).alias("neg"), F.col("event_type")),
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.modal_type").alias("modal_type"),
            F.col("m.n").cast("bigint").alias("n"),
        )
        .orderBy("user_id")
    )


@register(
    "Q-JOIN-14",
    # is_special derives from epoch-day % 3 (engine-neutral, Q-DATE-08
    # discipline), so the oracle needs no calendar table
    sql="SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS val_c "
    "FROM events "
    "WHERE (CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01') % 3 = 0 "
    "GROUP BY d ORDER BY d",
)
def q_join_14(spark, sf):
    """Runtime-derived partition pruning on a star join: the fact table
    is stored partitioned by day, the filter lives on a separate
    CALENDAR dimension (is_special days), so the fact's partition
    filter is only knowable at runtime — static pruning cannot apply.

    Engine-behavior note (measured on this Spark build): Catalyst's
    automatic DPP rule does NOT insert a DynamicPruningExpression for
    this shape here — verified with the canonical catalog-table repro,
    optimized and physical plans both lack it. The portable equivalent
    is done EXPLICITLY: the qualifying day list is fetched from the
    filtered dimension (one calendar-BOUNDED driver fetch — |days|
    rows, never fact-sized) and applied as a static partition
    predicate, so the scan's PartitionFilters carries the IN-list and
    only qualifying directories are listed/read (asserted in
    tests/test_plans.py::test_q_join_14_prunes_partitions). This
    two-step "semi-join reduction by hand" is exactly what DPP
    automates; doing it explicitly costs one extra tiny job and works
    on every build.

    Scale shape: fact scan reads |special days|/|days| of the data;
    the dim fetch is calendar-sized; the subsequent join still runs
    (pruning is an optimization, not a semantics change)."""
    import os

    base = scratch_dir("dpp_fact")
    ev = load(spark, sf, "events")
    (
        ev.withColumn("d", F.to_date(F.date_trunc("day", "ts")))
        .write.partitionBy("d")
        .mode("overwrite")
        .parquet(base)
    )
    cal_path = os.path.join(scratch_dir("dpp_cal"), "calendar")
    (
        ev.select(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
        .withColumn(
            "is_special",
            F.pmod(
                F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")), F.lit(3)
            )
            == 0,
        )
        .write.mode("overwrite")
        .parquet(cal_path)
    )
    fact = spark.read.parquet(base)
    cal = spark.read.parquet(cal_path).filter(F.col("is_special")).select("d")
    # runtime-derived static partition predicate: calendar-bounded fetch
    special_days = [r["d"] for r in cal.collect()]
    return (
        fact.filter(F.col("d").isin(special_days))
        .join(cal, "d")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("val_c"),
        )
        # calendar grain (days): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "d")
    )


@register(
    "Q-AGG-25",
    # weighted median, lower-median convention: smallest value whose
    # cumulative weight reaches half the total — integer weights and
    # cents values make the pick exact; ties on value are pre-merged by
    # the (group, value) rollup so ordering is total
    sql="WITH g AS (SELECT l_returnflag AS grp, "
    " CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v, "
    " CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w "
    " FROM lineitem GROUP BY grp, v), "
    "c AS (SELECT grp, v, w, "
    " CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v "
    "   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw, "
    " CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS tw FROM g) "
    "SELECT grp, CAST(MIN(v) AS BIGINT) AS wmedian_c, "
    " CAST(MAX(tw) AS BIGINT) AS total_w "
    "FROM c WHERE 2 * cw >= tw GROUP BY grp ORDER BY grp",
)
def q_agg_25(spark, sf):
    """Exact grouped WEIGHTED median (quantity-weighted price): the
    smallest value whose cumulative weight reaches half the group's
    total — the robust central-price statistic unweighted median
    (Q-AGG-18) can't express when rows carry multiplicities. No engine
    has a built-in weighted median; the relational form is
    engine-neutral and exact with integer weights + cents values.

    Scale shape: the fact table collapses FIRST to (group, value)
    weight sums — one map-combined shuffle, cardinality = distinct
    prices per group, not rows; the cumulative window and the pick run
    on that collapsed table. For truly high-cardinality value domains
    the production path is bucketed pre-aggregation to fixed-point
    bins (Q-AGG-12's approx-quantile shape) — stated trade, same as
    the exact-median operator documents."""
    from pyspark.sql import Window

    g = (
        load(spark, sf, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("grp"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("v"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    )
    wcum = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy("grp")
    c = g.select(
        "grp",
        "v",
        F.sum("w").over(wcum).cast("bigint").alias("cw"),
        F.sum("w").over(wtot).cast("bigint").alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(
            F.min("v").cast("bigint").alias("wmedian_c"),
            F.max("tw").cast("bigint").alias("total_w"),
        )
        .orderBy("grp")
    )


_SALT_BUCKETS = 8


@register(
    "Q-JOIN-15",
    sql="SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)"
    " * length(e.event_type)) AS BIGINT) AS weighted_c "
    f"FROM {EVENTS_US} e GROUP BY e.event_type ORDER BY e.event_type",
)
def q_join_15(spark, sf):
    """Salted skew join — the manual remedy when a shuffle join's key
    distribution is pathological (a handful of hot keys owning most
    rows, here event_type over the whole fact table): the fact side
    gets a deterministic salt (event_id mod 8), the dimension side is
    replicated once per salt value (map-only explode, no join), and
    the join key becomes (key, salt) — each hot key now spreads across
    8 reducers instead of melting one. The oracle states the UNSALTED
    semantics, so the hash check proves the salting transform is
    output-invariant, which is the part people get wrong (forgetting
    to replicate the dim to EVERY salt silently drops rows).

    Honesty at this scale: a 5-row dim would broadcast and no salting
    would be needed — the join is hinted shuffle_hash to make the
    pattern load-bearing (same discipline as Q-JOIN-13's bloom lever).
    Production triggers: AQE's skew-join split handles SORT-MERGE skew
    automatically (proven in tests/test_plans.py); explicit salting is
    for the cases AQE can't re-plan — aggregations keyed on the hot
    column and non-splittable join types."""
    ev = load(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_c"),
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])),
        )
    )
    fact = ev.withColumn("salt", (F.col("event_id") % _SALT_BUCKETS).cast("int"))
    return (
        fact.hint("shuffle_hash")
        .join(dim, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v_c") * F.col("weight")).cast("bigint").alias("weighted_c"),
        )
        # enum grain (event types): narrow presentation sort, no range
        # Exchange (plans/scale.bounded_sort, r15 rescreen)
        .transform(bounded_sort, "event_type")
    )


_CODECS = ("none", "snappy", "gzip", "zstd")

_SCAN15_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS codec, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum, "
    "CAST(SUM(l_orderkey) AS BIGINT) AS key_sum FROM lineitem"
    for c in _CODECS
) + " ORDER BY codec"


@register("Q-SCAN-15", sql=_SCAN15_SQL)
def q_scan_15(spark, sf):
    """Parquet compression-codec matrix: the same projection written
    under none/snappy/gzip/zstd and read back — every codec must
    round-trip byte-exactly (the oracle recomputes each codec row from
    the source table). The file suffixes prove the codec actually
    applied (asserted here, not just configured).

    Scale shape / codec doctrine at 100 TB: snappy (the default) for
    hot data — cheapest CPU per byte; zstd for warm/cold — ~30-50%
    smaller at moderate CPU, and the usual right answer when the
    bottleneck is object-store bandwidth or capacity cost; gzip only
    for legacy readers (zstd dominates it on both axes); uncompressed
    only when the medium compresses below (rare). Codec is per-column-
    chunk metadata, so readers mix freely — changing the table default
    never requires a rewrite."""
    import glob as _glob
    import os

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    out = []
    for codec in _CODECS:
        d = scratch_dir(f"codec_{codec}")
        li.write.mode("overwrite").option("compression", codec).parquet(d)
        files = _glob.glob(os.path.join(d, "*.parquet"))
        suffix = {"none": ".parquet", "snappy": ".snappy.parquet",
                  "gzip": ".gz.parquet", "zstd": ".zstd.parquet"}[codec]
        assert files and all(f.endswith(suffix) for f in files), (
            codec, files[:2]
        )
        if codec == "none":
            # '.parquet' alone proves nothing (every codec's files end
            # with it); prove UNcompressed from the column-chunk footer
            # metadata, where codec actually lives (ADVICE r6 low)
            import pyarrow.parquet as _pq

            # union over ALL part files: byte-range splits beyond the
            # source's single row group produce EMPTY parts (0 row
            # groups), and glob order can put one first — reading only
            # files[0] asserted over an empty set under exactly that
            # layout (r8 shuffle-audit session, maxPartitionBytes-
            # dependent). Empty parts carry no codec and prove nothing.
            comps = {
                md.row_group(g).column(i).compression
                for f in files
                for md in (_pq.ParquetFile(f).metadata,)
                for g in range(md.num_row_groups)
                for i in range(md.num_columns)
            }
            assert comps == {"UNCOMPRESSED"}, comps
        back = spark.read.parquet(d)
        out.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("qty_sum"),
                F.sum("l_orderkey").cast("bigint").alias("key_sum"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    # materialized: each codec dir is per-tag scratch a later call wipes
    return res.orderBy("codec").localCheckpoint()


@register(
    "Q-SCAN-16",
    sql="SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(event_id) AS BIGINT) AS id_sum "
    f"FROM {EVENTS_US} e WHERE event_type IN ('click', 'view') "
    "GROUP BY event_type ORDER BY event_type",
)
def q_scan_16(spark, sf):
    """Directory-TREE ingestion: ``recursiveFileLookup`` walks an
    arbitrarily nested layout (landing zones organized by
    team/date/source, no hive ``key=`` convention) and
    ``pathGlobFilter`` admits only matching leaf files — here a tree
    of per-type subdirectories where only ``click``/``view`` parquet
    files pass the glob, proven by the oracle's IN filter. The glob
    filters at LISTING time (files never opened), which is the cheap
    layer of skipping below footer stats.

    Scale shape: listing a deep tree is driver/metadata work — at
    object-store scale, prefer fewer deeper prefixes and push listing
    into the store's prefix API (or a manifest, G-STATS-01); the glob
    then costs nothing extra. The data plan is an ordinary pruned
    scan."""
    import os

    base = scratch_dir("tree_scan")
    ev = load(spark, sf, "events")
    for etype in ("click", "view", "purchase", "error"):
        (
            ev.filter(F.col("event_type") == etype)
            .write.mode("overwrite")
            .parquet(os.path.join(base, "landing", f"team_{etype}", "batch1"))
        )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(base, "landing"))
    )
    # glob admits every parquet leaf; the type restriction rides on the
    # directory choice: read only the click/view subtrees
    back_cv = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(
            os.path.join(base, "landing", "team_click"),
            os.path.join(base, "landing", "team_view"),
        )
    )
    assert back.count() > back_cv.count()  # full tree vs filtered subtrees
    return (
        back_cv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
        .localCheckpoint()
    )


@register(
    "Q-SCAN-17",
    sql="SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(1 AS BIGINT) AS n_files, "
    "CAST(0 AS BIGINT) AS n_path_mismatch "
    "FROM events GROUP BY d ORDER BY d",
)
def q_scan_17(spark, sf):
    """Hidden ``_metadata`` file-provenance columns — per-row lineage
    with NO schema cost: after a day-partitioned write, the read-back
    attaches ``_metadata.file_path``, and the query (a) rolls up rows
    and distinct files per day and (b) cross-checks that the partition
    directory encoded in every row's file_path agrees with the row's
    own partition value (n_path_mismatch must be 0 — the oracle pins
    it). This is the debugging/lineage primitive behind "which file
    did this bad row come from" and per-file quarantine; repartition
    on the partition column before the write makes file counts
    deterministic (one file per day, pinned by the oracle too).

    Scale shape: _metadata is populated by the scan itself (constant
    per row-group, no join against a listing); the rollup shuffles the
    bounded (day) key space. Q-SCAN-05 proves partition PRUNING on
    this layout; this proves row→file ATTRIBUTION."""
    out = scratch_dir("scan17_meta")
    ev = load(spark, sf, "events").withColumn(
        "d", F.to_date(F.date_trunc("day", "ts"))
    )
    ev.repartition("d").write.partitionBy("d").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).select(
        "d",
        F.col("_metadata.file_path").alias("fp"),
        F.regexp_extract(F.col("_metadata.file_path"), "d=([^/]+)/", 1).alias(
            "dir_d"
        ),
    )
    res = (
        back.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("fp").cast("bigint").alias("n_files"),
            F.sum(
                F.when(
                    F.col("dir_d") != F.date_format("d", "yyyy-MM-dd"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_path_mismatch"),
        )
        .orderBy("d")
    )
    return res.localCheckpoint()


@register(
    "Q-AGG-26",
    sql="WITH ranked AS ("
    "  SELECT c_mktsegment, c_name, "
    "  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c, "
    "  ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
    "    ORDER BY CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) DESC, "
    "             c_custkey) AS rnk "
    "  FROM customer) "
    "SELECT c_mktsegment, "
    "  string_agg(c_name, '|' ORDER BY rnk) AS top_names, "
    "  string_agg(CAST(bal_c AS VARCHAR), '|' ORDER BY rnk) "
    "    AS top_bals_c, "
    "  CAST(MAX(bal_c) AS BIGINT) AS best_bal_c "
    "FROM ranked WHERE rnk <= 3 "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment",
)
def q_agg_26(spark, sf):
    """ORDERED top-k array materialization per group — the serving-
    layer precompute ("top 3 accounts per segment as a ready-to-render
    list") that collapses a rank query into ONE ordered-list row per
    key, the shape a key-value cache or feature store ingests
    directly. Spark has no ordered collect_list, so determinism comes
    from collecting (rank, value) STRUCTS and sort_array-ing them
    (struct order = field order) before projecting the payload —
    the portable idiom for DuckDB's list(x ORDER BY y).

    The ordered lists are FINAL-PROJECTED to '|'-joined canonical
    strings in both engines (array_join here, string_agg ORDER BY in
    the oracle): the verification harness canonicalizes results with
    a plain pandas sort, which cannot hash ndarray cells — raw
    array<…> output columns crash it (r7 driver row). Identical
    semantics, hash-safe carrier; tests/test_driver_window.py gates
    every window-eligible entry against Array/Map output columns.

    Scale shape: rank truncation runs per-key BEFORE any collection,
    so each group contributes exactly k rows to the aggregate — list
    cells are bounded at k·|payload| regardless of group size (an
    UNBOUNDED collect_list is the anti-pattern this entry avoids)."""
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("c_mktsegment").orderBy(
        bal.desc(), "c_custkey"
    )
    ranked = (
        load(spark, sf, "customer")
        .select(
            "c_mktsegment",
            "c_name",
            bal.alias("bal_c"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rnk", "c_name"))
                    ),
                    lambda s: s["c_name"],
                ),
                "|",
            ).alias("top_names"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rnk", "bal_c"))
                    ),
                    lambda s: s["bal_c"].cast("string"),
                ),
                "|",
            ).alias("top_bals_c"),
            F.max("bal_c").cast("bigint").alias("best_bal_c"),
        )
        .orderBy("c_mktsegment")
    )


_A27_M = 64  # HLL register count (p = 6 index bits)
_A27_W = 56  # rank-domain bits: 14 hex nibbles
# bucket: 2 hex chars = 8 uniform bits, % 64 exactly uniform (256 ≡ 0
# mod 64); rank domain: the NEXT 14 chars (disjoint bits — index and
# rank must be independent), rank = (W - bitlen(w)) + 1 with w = 0
# mapping to W + 1, computed exactly via LENGTH(BIN(w)) — both engines
# render minimal binary with no leading zeros ('0' for 0, length 1,
# which is why the zero case is split out).
_A27_BUCKET = f"({hex_nibbles('hx', 1, 2)} % {_A27_M})"
_A27_WBITS = hex_nibbles("hx", 3, 14)
_A27_RANK = (
    f"CASE WHEN w = 0 THEN {_A27_W + 1} "
    f"ELSE {_A27_W + 1} - LENGTH(BIN(w)) END"
)


@register(
    "Q-AGG-27",
    sql="WITH h AS ("
    "  SELECT o_orderpriority, md5(CAST(o_custkey AS VARCHAR)) AS hx"
    "  FROM orders), "
    "b AS ("
    f"  SELECT o_orderpriority, {_A27_BUCKET} AS bucket, {_A27_WBITS} AS w"
    "  FROM h), "
    "r AS ("
    f"  SELECT o_orderpriority, bucket, MAX({_A27_RANK}) AS reg"
    "  FROM b GROUP BY o_orderpriority, bucket), "
    "r2 AS ("
    "  SELECT *, MAX(reg) OVER (PARTITION BY o_orderpriority) AS rmax"
    "  FROM r), "
    "g AS ("
    "  SELECT o_orderpriority, "
    "    CAST(COUNT(*) AS BIGINT) AS n_regs, "
    "    CAST(SUM(reg) AS BIGINT) AS sum_reg, "
    "    CAST(MAX(reg) AS BIGINT) AS max_reg, "
    "    CAST(SUM((bucket + 1) * reg) AS BIGINT) AS reg_checksum, "
    "    CAST(SUM(CAST(POWER(2, rmax - reg) AS BIGINT)) AS BIGINT) "
    "      AS harm_present "
    "  FROM r2 GROUP BY o_orderpriority), "
    "e AS ("
    "  SELECT o_orderpriority, "
    "    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cust "
    "  FROM orders GROUP BY o_orderpriority) "
    f"SELECT g.o_orderpriority, CAST({_A27_M} AS BIGINT) AS m, n_regs, "
    f"  CAST({_A27_M} - n_regs AS BIGINT) AS zero_regs, sum_reg, max_reg, "
    f"  harm_present + ({_A27_M} - n_regs) "
    "    * CAST(POWER(2, max_reg) AS BIGINT) AS harm_num, "
    "  reg_checksum, exact_cust "
    "FROM g JOIN e ON g.o_orderpriority = e.o_orderpriority "
    "ORDER BY g.o_orderpriority",
)
def q_agg_27(spark, sf):
    """Hash-mode HLL twin (the L-DEDUP-14 / L-SIM-14 move applied to
    Q-AGG-08/17's sketch tier): the HyperLogLog MECHANISM — uniform
    hash → 6-bit register index → leading-zero rank of the disjoint
    56-bit remainder → MAX-merge per register — materialized as an
    explicit 64-register table per group and oracle-pinned to the row.
    Spark's own hll_sketch_agg stays tol-checked (Q-AGG-17: its binary
    sketch is engine-specific by nature); this twin proves the
    engine-neutral construction end-to-end: register count, zero-
    register count, Σreg, max rank, a position-weighted register
    checksum (any single register diverging fails the hash), and the
    harmonic-mean numerator Σ_j 2^(R−reg_j) carried as an EXACT int64
    (R = max rank ≤ 57; n_regs ≥ 1 so at most 63 zero registers
    contribute 2^R ≤ 2^57 each, present registers contribute
    2^(R−reg) ≤ 2^56 apiece since reg ≥ 1, and the register attaining
    R contributes exactly 1 — harm_num ≤ (127 − n_regs)·2^56 + 1
    ≤ 126·2^56 + 1 < 2^63) from which the estimator
    α_m·m²·2^R/harm_num is pure post-arithmetic — accuracy vs
    exact_cust is asserted in tests/test_golden.py.

    Scale shape: registers are insensitive to duplicates (MAX of equal
    ranks), so NO distinct pass is needed — one map-combined
    groupBy(group, bucket) over the raw fact keeps partial state at
    |groups|·64 rows per map task no matter the input size; the window
    runs on the |groups|·64-row register table, never the fact. This
    is the architecture that replaces exact-distinct shuffles at
    100 TB, here with every intermediate checkable."""
    orders = load(spark, sf, "orders").withColumn(
        "hx", F.md5(F.col("o_custkey").cast("string"))
    )
    b = orders.select(
        "o_orderpriority",
        F.expr(_A27_BUCKET).alias("bucket"),
        F.expr(_A27_WBITS).alias("w"),
    )
    r = b.groupBy("o_orderpriority", "bucket").agg(
        F.max(F.expr(_A27_RANK)).alias("reg")
    )
    rmax = F.max("reg").over(Window.partitionBy("o_orderpriority"))
    g = (
        r.withColumn("rmax", rmax)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_regs"),
            F.sum("reg").cast("bigint").alias("sum_reg"),
            F.max("reg").cast("bigint").alias("max_reg"),
            F.sum((F.col("bucket") + 1) * F.col("reg"))
            .cast("bigint")
            .alias("reg_checksum"),
            F.sum(
                F.pow(F.lit(2.0), F.col("rmax") - F.col("reg")).cast("bigint")
            )
            .cast("bigint")
            .alias("harm_present"),
        )
    )
    e = (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("exact_cust"))
    )
    return (
        g.join(e, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.lit(_A27_M).cast("bigint").alias("m"),
            "n_regs",
            (F.lit(_A27_M) - F.col("n_regs")).cast("bigint").alias("zero_regs"),
            "sum_reg",
            "max_reg",
            (
                F.col("harm_present")
                + (F.lit(_A27_M) - F.col("n_regs"))
                * F.pow(F.lit(2.0), F.col("max_reg")).cast("bigint")
            )
            .cast("bigint")
            .alias("harm_num"),
            "reg_checksum",
            "exact_cust",
        )
        .orderBy("o_orderpriority")
    )


_A28_D = 4  # count-min rows (independent hash functions)
_A28_W = 32  # counters per row: 8 hex chars = 32 uniform bits, % 32 uniform
_A28_KEYS = 16  # point-query keys: custkey 0..15 (bounded by design)
# per-row hash: md5 of "key#row" — one md5 per (key, row), uniform mod 32
_A28_BUCKET = f"({hex_nibbles('hx2', 1, 8)} % {_A28_W})"


@register(
    "Q-AGG-28",
    sql="WITH kc AS ("
    "  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt"
    "  FROM orders GROUP BY o_custkey), "
    "rows_d AS (SELECT UNNEST([0, 1, 2, 3]) AS r), "
    "counters AS ("
    "  SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM ("
    f"    SELECT r, {_A28_BUCKET} AS bucket, cnt FROM ("
    "      SELECT r, md5(CAST(k AS VARCHAR) || '#' || CAST(r AS VARCHAR))"
    "        AS hx2, cnt FROM kc CROSS JOIN rows_d)) "
    "  GROUP BY r, bucket), "
    "q AS (SELECT UNNEST(range(16)) AS k), "
    "qb AS ("
    f"  SELECT k, r, {_A28_BUCKET} AS bucket FROM ("
    "    SELECT k, r, md5(CAST(k AS VARCHAR) || '#' || CAST(r AS VARCHAR))"
    "      AS hx2 FROM q CROSS JOIN rows_d)), "
    "est AS ("
    "  SELECT qb.k, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est FROM qb "
    "  LEFT JOIN counters c ON qb.r = c.r AND qb.bucket = c.bucket "
    "  GROUP BY qb.k) "
    "SELECT CAST(est.k AS BIGINT) AS k, "
    "  CAST(COALESCE(kc.cnt, 0) AS BIGINT) AS exact, est.est, "
    "  CAST(est.est - COALESCE(kc.cnt, 0) AS BIGINT) AS overcount "
    "FROM est LEFT JOIN kc ON est.k = kc.k ORDER BY k",
)
def q_agg_28(spark, sf):
    """Hash-mode count-min-sketch twin of Q-AGG-19 (completing the
    sketch tier's mechanism proofs: HLL → Q-AGG-27, CMS → here): d=4
    hash rows × w=32 counters built from md5-uniform bucket hashes,
    point estimate = MIN over rows of the landed counter. With ~1.5k
    distinct custkeys crammed into 32 buckets the collision mass is
    real, so the one-sided error is LOAD-BEARING: every output row
    carries overcount = est − exact ≥ 0, including keys with NO
    orders at all (exact 0, est > 0 — the sketch never underestimates,
    even for absent keys), and the hash check pins every counter-join
    outcome exactly. Q-AGG-19's engine-native sketch keeps its tol
    check; this is the engine-neutral construction.

    Scale shape: counters build from the KEY-GRAIN aggregate (one
    map-combined groupBy), not a ×d fact explosion — the d×w expansion
    touches |keys| rows, and the counter table is d·w = 128 rows
    regardless of scale. Point queries are a bounded 16-key literal
    frame joined against the broadcast counter table. The exact
    counterparts re-derive from the same key-grain expression with the
    key predicate applied: Catalyst pushes ``k < 16`` through the
    groupBy to the scan (verified: DataFilters carries it), so the
    second pass reads ONE column with footer-stats pruning under a
    key-clustered layout — and its result is ≤16 rows into a
    broadcast either way."""
    kc = (
        load(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    rows_d = F.explode(
        F.array([F.lit(i) for i in range(_A28_D)])
    ).alias("r")
    hx2 = F.md5(
        F.concat(
            F.col("k").cast("string"), F.lit("#"), F.col("r").cast("string")
        )
    )
    bucket_expr = F.expr(_A28_BUCKET)
    counters = (
        kc.select("k", "cnt", rows_d)
        .withColumn("hx2", hx2)
        .select("r", bucket_expr.alias("bucket"), "cnt")
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    q = spark.range(_A28_KEYS).select(F.col("id").alias("k"))
    qb = (
        q.select("k", rows_d)
        .withColumn("hx2", hx2)
        .select("k", "r", bucket_expr.alias("bucket"))
    )
    # LEFT join + COALESCE(c, 0): a queried key landing in a counter
    # cell no key hashed into must see 0 (the textbook CMS estimate on
    # sparse counter tables), not vanish from the MIN — at fixture SFs
    # all d·w cells are occupied so results are unchanged, but the
    # construction must hold for sparse data too.
    est = (
        qb.join(F.broadcast(counters), ["r", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("bigint").alias("est"))
    )
    exact_q = kc.filter(F.col("k") < _A28_KEYS)
    return (
        est.join(F.broadcast(exact_q), "k", "left")
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("exact"),
            "est",
            (F.col("est") - F.coalesce("cnt", F.lit(0)))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("k")
    )


_A29_W = 2_097_152  # histogram bucket width in cents (2^21 ≈ $21k)
_A29_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


@register(
    "Q-AGG-29",
    sql="WITH c AS ("
    f"  SELECT o_orderpriority AS g, {_A29_CENTS} AS cents FROM orders), "
    "h AS ("
    f"  SELECT g, cents // {_A29_W} AS b, CAST(COUNT(*) AS BIGINT) AS cnt"
    f"  FROM c GROUP BY g, cents // {_A29_W}), "
    "w AS ("
    "  SELECT g, b, cnt, "
    "    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY b) AS BIGINT) AS cum, "
    "    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n, "
    "    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n_buckets "
    "  FROM h), "
    "s AS ("
    "  SELECT g, MIN(b) AS b FROM w WHERE cum >= (n + 1) // 2 GROUP BY g), "
    "f AS ("
    "  SELECT w.* FROM w JOIN s ON w.g = s.g AND w.b = s.b), "
    "e AS ("
    "  SELECT o_orderpriority AS g, "
    f"    CAST(2 * quantile_cont({_A29_CENTS}, 0.5) AS BIGINT) AS exact_x2c"
    "  FROM orders GROUP BY o_orderpriority) "
    "SELECT f.g AS o_orderpriority, n, n_buckets, "
    "  CAST(f.b AS BIGINT) AS bucket_p50, cnt AS cnt_p50, "
    f"  CAST(f.b * {_A29_W} + "
    f"    (((n + 1) // 2 - (cum - cnt)) * {_A29_W}) // cnt AS BIGINT) "
    "    AS est_cents, "
    "  exact_x2c "
    "FROM f JOIN e ON f.g = e.g ORDER BY o_orderpriority",
)
def q_agg_29(spark, sf):
    """Hash-mode QUANTILE sketch twin — completes the sketch tier's
    mechanism proofs (cardinality → Q-AGG-27, frequency → Q-AGG-28,
    quantile → here, each next to its tol-mode engine-native sibling,
    Q-AGG-12 for this one): a mergeable equi-width histogram — fixed
    bucket boundaries, so per-partition/per-increment count vectors
    merge by plain addition — with the median read off the cumulative
    counts and interpolated inside the landing bucket in EXACT int64
    arithmetic (integer floor division, offset·width // count). Every
    carrier is oracle-pinned: per-group row count, occupied-bucket
    count, the landing bucket, its count, the interpolated estimate in
    cents, and the exact continuous median alongside (×2 cents, a
    half-integer carried losslessly per the Q-AGG-18 discipline). The
    deterministic guarantee — the rank-⌈n/2⌉ value LIES IN bucket_p50,
    so the discrete-median error is bounded by one bucket width, no
    probability involved — plus estimate accuracy vs the continuous
    median is asserted in tests/test_golden.py.

    Scale shape: one map-combined groupBy at (group, bucket) grain —
    partial state is |groups|·|buckets| per map task regardless of
    input size (the same property that makes the histogram mergeable
    across days or clusters); the cumulative window runs on the tiny
    histogram, partitioned by group, never on the fact."""
    orders = load(spark, sf, "orders")
    cents_c = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    h = (
        orders.select(
            F.col("o_orderpriority").alias("g"), cents_c.alias("cents")
        )
        .withColumn("b", F.expr(f"cents DIV {_A29_W}"))
        .groupBy("g", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    by_g = Window.partitionBy("g")
    cum_w = by_g.orderBy("b")
    w = h.select(
        "g",
        "b",
        "cnt",
        F.sum("cnt").over(cum_w).cast("bigint").alias("cum"),
        F.sum("cnt").over(by_g).cast("bigint").alias("n"),
        F.count(F.lit(1)).over(by_g).cast("bigint").alias("n_buckets"),
    )
    s = (
        w.filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .groupBy("g")
        .agg(F.min("b").alias("b"))
    )
    f = w.join(s, ["g", "b"])
    e = orders.groupBy(F.col("o_orderpriority").alias("g")).agg(
        (2 * F.expr(f"percentile({_A29_CENTS}, 0.5)"))
        .cast("bigint")
        .alias("exact_x2c")
    )
    est = F.expr(
        f"b * {_A29_W} + (((n + 1) DIV 2 - (cum - cnt)) * {_A29_W}) DIV cnt"
    )
    return (
        f.join(e, "g")
        .select(
            F.col("g").alias("o_orderpriority"),
            "n",
            "n_buckets",
            F.col("b").cast("bigint").alias("bucket_p50"),
            F.col("cnt").alias("cnt_p50"),
            est.cast("bigint").alias("est_cents"),
            "exact_x2c",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "Q-SCAN-18",
    sql="SELECT doc_id, lang, md5(text) AS text_md5 "
    "FROM documents ORDER BY doc_id",
)
def q_scan_18(spark, sf):
    """Custom Python Data Source WRITER (Spark 4 ``DataSourceWriter``)
    — the write-side twin of Q-SCAN-11's reader, completing the
    extension point's third leg (batch read / stream read / batch
    WRITE): documents go out through the pure-Python ``pyjsonl`` sink
    and come back through the pure-Python reader, content digests ≡
    the parquet original. The writer is TRANSACTIONAL (the same WAP
    discipline as G-AUDIT-01): tasks stage ``.staged`` files invisible
    to the reader and return them as commit messages; ``commit()``
    renames all-or-nothing on the driver; ``abort()`` unstages — a
    failed or speculative task can never publish partial data.

    Scale shape: each task streams its own partition to its own file
    (no driver data path); commit is O(files) renames. Python encode is
    the slow path by design — this sink is for formats/APIs Spark has
    no native writer for."""
    from dask_xgboost_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    out = scratch_dir("pyjsonl_sink")
    (
        load(spark, sf, "documents")
        .select("doc_id", "lang", "text")
        .write.format("pyjsonl")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, lang string, text string")
        .option("path", out)
        .load()
    )
    return (
        back.select("doc_id", "lang", F.md5("text").alias("text_md5"))
        .orderBy("doc_id")
        .localCheckpoint()
    )


_JOIN16_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT c.event_id, c.user_id, c.ts, MAX(p.pts) AS bts
  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pts <= c.ts
  GROUP BY c.event_id, c.user_id, c.ts),
bf AS (
  SELECT b.event_id, b.ts, b.bts, MIN(p.pts) AS fts
  FROM b LEFT JOIN p ON p.user_id = b.user_id AND p.pts >= b.ts
  GROUP BY b.event_id, b.ts, b.bts),
sel AS (
  SELECT event_id,
         CASE WHEN bts IS NOT NULL
              THEN epoch_us(ts) - epoch_us(bts) END AS bgap,
         CASE WHEN fts IS NOT NULL
              THEN epoch_us(fts) - epoch_us(ts) END AS fgap
  FROM bf),
fl AS (
  SELECT event_id, bgap, fgap,
         (bgap IS NOT NULL AND bgap <= 7200000000) AS bok,
         (fgap IS NOT NULL AND fgap <= 7200000000) AS fok
  FROM sel)
SELECT event_id,
       CAST(CASE WHEN bok AND (NOT fok OR bgap <= fgap) THEN bgap
                 WHEN fok THEN fgap END AS BIGINT) AS asof_gap_us,
       CASE WHEN bok AND (NOT fok OR bgap <= fgap) THEN 'b'
            WHEN fok THEN 'f' END AS asof_side
FROM fl ORDER BY event_id
"""


@register("Q-JOIN-16", sql=_JOIN16_SQL)
def q_join_16(spark, sf):
    """NEAREST as-of join (``merge_asof(direction='nearest')`` parity,
    completing the as-of family beyond Q-JOIN-10's backward form):
    every click attaches its closest purchase for the user in EITHER
    direction within a 2-hour tolerance — the "what conversion is this
    interaction about" attachment where the purchase can precede OR
    follow the click. Equidistant candidates resolve backward
    (pandas' rule); distances are exact epoch-µs int64.

    Scale shape (operators/asof.py::asof_join_nearest): one shuffle on
    the user key; backward and forward candidates come from two window
    passes over that single partitioning — never the (click ×
    purchase) pair materialization the oracle's didactic LEFT-JOIN
    form implies (that form is quadratic per key and exists here only
    because oracle clarity beats oracle performance)."""
    from dask_xgboost_spark.operators.asof import asof_join_nearest

    ev = load(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    out = asof_join_nearest(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="pts",
        tolerance_us=7_200_000_000,
    )
    return out.select("event_id", "asof_gap_us", "asof_side").orderBy("event_id")


_JOIN17_SQL = f"""
WITH s AS (SELECT event_id, user_id, ts FROM {EVENTS_US} e
           WHERE event_type = 'signup'),
p AS (SELECT user_id, ts, {sql_cents('value')} AS val_c FROM {EVENTS_US} e
      WHERE event_type = 'purchase')
SELECT s.event_id,
       CAST(COUNT(p.ts) AS BIGINT) AS n_purch,
       CAST(COALESCE(SUM(p.val_c), 0) AS BIGINT) AS val_sum_c
FROM s LEFT JOIN p
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 7 DAY
GROUP BY s.event_id ORDER BY s.event_id
"""


@register("Q-JOIN-17", sql=_JOIN17_SQL)
def q_join_17(spark, sf):
    """BANDED temporal interval join (point-in-range): each signup
    opens a 7-day window; count/sum the same user's purchases inside
    it. The oracle states the semantics as the textbook inequality
    join — which Spark can only execute as a per-user row-pairing —
    while the operator BANDS it: the interval side explodes into its
    ≤8 covered day-buckets, the point side maps to its one bucket, and
    the join becomes a plain equi-join on (user_id, day) with the
    exact range predicate applied as a cheap post-filter. Same rows
    out (each point has exactly one bucket, so no pair can match
    twice); unmatched signups rejoin with zero counts for the LEFT
    semantics.

    Scale shape: the 100 TB difference between an inequality join
    (BNLJ or per-key quadratic pairing) and an equi-join shuffle with
    a bounded ×(window_days+1) fan-out on the SMALL side only.
    Bucket granularity trades fan-out vs post-filter selectivity —
    pick it near the window length, the standard range-join recipe
    (same discipline as the geo grid join, plans/scale.py
    ::binned_range_join)."""
    ev = load(spark, sf, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        cents("value").cast("long").alias("val_c"),
    )
    win_end = F.col("ts") + F.expr("INTERVAL 7 DAY")
    s_banded = s.withColumn(
        "day", F.explode(F.sequence(F.to_date("ts"), F.to_date(win_end)))
    )
    p_banded = p.withColumn("day", F.to_date("pts"))
    matched = (
        s_banded.join(p_banded, ["user_id", "day"])
        .filter(
            (F.col("pts") >= F.col("ts"))
            & (F.col("pts") < F.col("ts") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purch"),
            F.sum("val_c").cast("long").alias("val_sum_c"),
        )
    )
    return (
        s.select("event_id")
        .join(matched, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_purch", F.lit(0)).cast("long").alias("n_purch"),
            F.coalesce("val_sum_c", F.lit(0)).cast("long").alias("val_sum_c"),
        )
        .orderBy("event_id")
    )

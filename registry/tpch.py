"""TPC-H-style join and aggregation queries in integer money arithmetic
(cents and ppm), so every sum and division is cross-engine exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import query
from registry.plans import hash_exchanges, nodes


# integer money arithmetic shared by the TPC-H-style queries (mirrored
# literally in the oracles): cents + ppm keep every product in int64 and
# every division a deterministic floor — cross-engine bit-exact, where
# double SUMs would be fold-order-dependent
_PRICE_C = "cast(round(l_extendedprice * 100) as bigint)"
_DISC_PPM = "cast(round(l_discount * 1000000) as bigint)"
_TAX_PPM = "cast(round(l_tax * 1000000) as bigint)"
_DISC_PRICE_C = f"div({_PRICE_C} * (1000000 - {_DISC_PPM}), 1000000)"
_CHARGE_C = f"div({_DISC_PRICE_C} * (1000000 + {_TAX_PPM}), 1000000)"


@query("tpch_pricing_summary", oracle="""
            WITH s AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(round(l_quantity) AS BIGINT) AS qty,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                     CAST(round(l_discount * 1000000) AS BIGINT) AS disc_ppm,
                     CAST(round(l_tax * 1000000) AS BIGINT) AS tax_ppm
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(qty) AS BIGINT) AS sum_qty,
                   CAST(SUM(price_c) AS BIGINT) AS sum_base_c,
                   CAST(SUM((price_c * (1000000 - disc_ppm)) // 1000000)
                        AS BIGINT) AS sum_disc_c,
                   CAST(SUM((((price_c * (1000000 - disc_ppm)) // 1000000)
                             * (1000000 + tax_ppm)) // 1000000)
                        AS BIGINT) AS sum_charge_c,
                   COUNT(*) AS n_rows,
                   (1000 * CAST(SUM(qty) AS BIGINT)) // COUNT(*)
                     AS avg_qty_milli
            FROM s GROUP BY 1, 2
        """)
def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary over lineitem: per (returnflag,
    linestatus), quantity/price/discounted/charged totals in exact integer
    cents. ONE map-side-combinable groupBy over a pruned scan with the
    shipdate filter pushed down — the canonical wide-scan aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("cast(sum(cast(round(l_quantity) as bigint)) as bigint)").alias(
                "sum_qty"
            ),
            F.expr(f"cast(sum({_PRICE_C}) as bigint)").alias("sum_base_c"),
            F.expr(f"cast(sum({_DISC_PRICE_C}) as bigint)").alias("sum_disc_c"),
            F.expr(f"cast(sum({_CHARGE_C}) as bigint)").alias("sum_charge_c"),
            F.count("*").alias("n_rows"),
        )
        .withColumn("avg_qty_milli", F.expr("div(1000 * sum_qty, n_rows)"))
    )


@query("tpch_top_orders", pins=(
    ("dimension sides broadcast; no cartesian/nested-loop join",
     lambda p: nodes(p, "BroadcastHashJoin") >= 2
     and "CartesianProduct" not in p
     and "BroadcastNestedLoopJoin" not in p),
    ("at most one wide exchange beyond the joins (the revenue "
     "groupBy; at bench sf even orders broadcasts)",
     lambda p: hash_exchanges(p) <= 2),
    ("top-10 runs as TakeOrdered, never a full sort",
     lambda p: "TakeOrderedAndProject" in p),
    ("revenue aggregation is map-side partial",
     lambda p: "partial_sum" in p),
    ("date filters push to the scans",
     lambda p: "PushedFilters: [IsNotNull(l_shipdate)" in p
     or "GreaterThan(l_shipdate" in p),
), oracle="""
            SELECT l.l_orderkey,
                   substr(CAST(o.o_orderdate AS VARCHAR), 1, 10) AS order_date,
                   o.o_orderpriority,
                   CAST(SUM((CAST(round(l.l_extendedprice * 100) AS BIGINT)
                             * (1000000 - CAST(round(l.l_discount * 1000000)
                                              AS BIGINT))) // 1000000)
                        AS BIGINT) AS revenue_c
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-01'
              AND l.l_shipdate > TIMESTAMP '1998-06-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue_c DESC, l.l_orderkey LIMIT 10
        """)
def q_tpch_top_orders(spark, sf_dir):
    """TPC-H Q3-style shipping-priority top-10: BUILDING-segment customers,
    orders placed before / lines shipped after the cutoff, by discounted
    revenue. Plan: the segment-filtered customer KEY projection broadcasts
    (never shuffles the fact side), lineitem joins orders on the natural
    orderkey co-partition, the revenue groupBy reuses that partitioning,
    and the top-10 is a TakeOrdered."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_mktsegment = 'BUILDING'")
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < cutoff
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"cast(sum({_DISC_PRICE_C}) as bigint)").alias("revenue_c"))
        .select(
            "l_orderkey",
            F.expr("substr(cast(o_orderdate as string), 1, 10)").alias(
                "order_date"
            ),
            "o_orderpriority",
            "revenue_c",
        )
        .orderBy(F.desc("revenue_c"), "l_orderkey")
        .limit(10)
    )


@query("tpch_regional_revenue", pins=(
    ("all five dimension chains broadcast (region->nation->supplier "
     "and customer): the only wide work is lineitem x orders",
     lambda p: nodes(p, "BroadcastHashJoin") >= 4
     and "CartesianProduct" not in p),
    ("at most one wide exchange beyond the joins",
     lambda p: hash_exchanges(p) <= 2),
    ("revenue aggregation is map-side partial",
     lambda p: "partial_sum" in p),
), oracle="""
            SELECT n.n_name,
                   CAST(SUM((CAST(round(l.l_extendedprice * 100) AS BIGINT)
                             * (1000000 - CAST(round(l.l_discount * 1000000)
                                              AS BIGINT))) // 1000000)
                        AS BIGINT) AS revenue_c,
                   COUNT(*) AS n_lineitems
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """)
def q_tpch_regional_revenue(spark, sf_dir):
    """TPC-H Q5-style local-supplier revenue by nation for one region and
    order year: a SIX-table join where every dimension chain (region ->
    nation -> supplier, plus customer) broadcasts, so the only wide work is
    lineitem x orders on orderkey; the customer/supplier nation-match
    condition rides the broadcast joins."""
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/nation.parquet"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            spark.read.parquet(f"{sf_dir}/region.parquet").where(
                "r_name = 'ASIA'"
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.expr(f"cast(sum({_DISC_PRICE_C}) as bigint)").alias("revenue_c"),
            F.count("*").alias("n_lineitems"),
        )
    )


@query("tpch_late_orders", pins=(
    ("existence probe plans as a SEMI join (LeftSemi), never "
     "join+distinct",
     lambda p: "LeftSemi" in p),
    ("no cartesian: the date inequality rides the equi-join",
     lambda p: "CartesianProduct" not in p),
    ("priority counts are map-side partial",
     lambda p: "partial_count" in p),
), oracle="""
            SELECT o.o_orderpriority, COUNT(*) AS n_late_orders
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
            GROUP BY 1
        """)
def q_tpch_late_orders(spark, sf_dir):
    """TPC-H Q4-style order-priority check, the SEMI-join shape: count
    orders per priority having AT LEAST ONE line shipped > 90 days after
    the order date. The existence probe is a left-semi join on orderkey —
    one bit per order crosses the join, the lineitem side is never
    duplicated into the aggregate (the EXISTS-subquery plan, not a
    join+distinct)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + interval 90 days")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


@query("tpch_inactive_customers", pins=(
    ("absence probe plans as an ANTI join (LeftAnti), never "
     "outer-join + null-filter",
     lambda p: "LeftAnti" in p),
    ("no cartesian anywhere", lambda p: "CartesianProduct" not in p),
), oracle="""
            SELECT c.c_mktsegment,
                   COUNT(*) AS n_customers,
                   CAST(SUM(CASE WHEN NOT EXISTS (
                     SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderdate >= TIMESTAMP '2000-01-01'
                       AND o.o_orderdate < TIMESTAMP '2001-01-01')
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive
            FROM customer c GROUP BY 1
        """)
def q_tpch_inactive_customers(spark, sf_dir):
    """Churn query, the ANTI-join shape: per market segment, how many
    customers placed NO order in the window (plus the segment's total).
    NOT EXISTS plans as LeftAnti on custkey — the complement of
    tpch_late_orders' semi probe; together they pin both existence
    shapes the engine must never rewrite into join+distinct."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    inactive = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).groupBy("c_mktsegment").agg(F.count("*").alias("n_inactive"))
    totals = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    return totals.join(inactive, "c_mktsegment", "left").select(
        "c_mktsegment",
        "n_customers",
        F.expr("coalesce(n_inactive, 0L)").alias("n_inactive"),
    )

"""Analytic operator suite over the TPC-H-ish star schema.

The reference implements NO relational operators (SURVEY.md §2.7) — joins,
sorts, top-k, grouping sets, distinct aggregates are exactly what the Spark
engine adds "for free" and must exercise at scale.  Each query here is an
operator-coverage probe with a DuckDB oracle twin:

- scan + filter + aggregate (pricing summary — pushdown/pruning showcase)
- 3-way and 6-way shuffle joins with selective filters (Catalyst join order)
- broadcast hash join on small dims (explicit broadcast hint)
- left-semi / left-anti joins (EXISTS / NOT EXISTS)
- window top-k per group (rank inside partition)
- ROLLUP grouping sets
- distinct aggregates
- outer-join + re-aggregation distribution
- argmin per group as ONE hash aggregate over (value, key) structs (Q2)
- disjunctive nation-pair / OR-of-ANDs predicates with residual pushdown (Q7, Q19)
- conditional-sum ratios with exact decimal accumulation (Q8, Q14)
- per-group aggregate filtered against a broadcast global scalar (Q11)
- correlated AVG decorrelated via join-back (Q17) — window-form twin in
  parts_above_brand_avg
- HAVING on a fact aggregate probing dims with a tiny key set (Q18)
- global top-k as TakeOrderedAndProject, never a full sort (Q3, Q10, Q18)
- EXISTS + NOT-EXISTS pair decorrelated to one per-order aggregate (Q21)

Scale posture: filters are written against raw columns (pushed to parquet),
dimension sides of joins stay broadcast-able, and no query collects more than
an aggregated result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_pekko_streams_example_spark.functions.numeric import (
    davg,
    dcast,
    dsum,
    sql_davg,
    sql_dcast,
    sql_dsum,
)
from pulsar_pekko_streams_example_spark.plans.registry import register
from pulsar_pekko_streams_example_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Q1-style pricing summary — scan + filter + wide aggregate
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
    doc="Pricing summary report: predicate pushdown to parquet + 8-aggregate "
    "hash agg; the flagship analytic scan shape.",
    tags=("tpch", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q3-style shipping priority — 3-way join + top-k sort
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey AS orderkey,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               o.o_orderpriority AS orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, orderkey
        LIMIT 10
        """,
    doc="Shipping priority: selective dim filter, two shuffle joins (customer "
    "side broadcast-able), aggregate, global top-10 sort with deterministic "
    "tiebreak.",
    tags=("tpch", "join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l = (load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem"))
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5-style local supplier volume — 6-way join
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name AS nation,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1
        """,
    doc="Local supplier volume: 6-table join tree; region/nation/supplier are "
    "broadcast dims, the fact join shuffles once on orderkey.",
    tags=("tpch", "join"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, s, n, r = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Window top-k per group
# ---------------------------------------------------------------------------
@register(
    "top3_parts_per_brand",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
          FROM part
        ) t WHERE rnk <= 3
        """,
    doc="Top-k per group: rank window inside partition — the §2.7 'sorts/limits/"
    "top-k' surface; scales as one shuffle on the partition key.",
    tags=("window", "topk"),
)
def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        p.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


# ---------------------------------------------------------------------------
# ROLLUP grouping sets
# ---------------------------------------------------------------------------
@register(
    "rollup_order_priority",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS orderpriority,
               COUNT(*) AS orders,
               {sql_dsum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
    doc="ROLLUP grouping sets over orders (status → priority hierarchy) with "
    "labelled subtotal rows.",
    tags=("agg", "rollup"),
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("orders"), dsum("o_totalprice").alias("total_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Distinct aggregates
# ---------------------------------------------------------------------------
@register(
    "distinct_counts_per_flag",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS suppliers,
               COUNT(DISTINCT l_partkey) AS parts,
               COUNT(DISTINCT l_orderkey) AS orders,
               COUNT(*) AS line_items
        FROM lineitem GROUP BY l_returnflag
        """,
    doc="Multi-column distinct aggregation (expand + two-phase agg in Spark).",
    tags=("agg",),
)
def distinct_counts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("suppliers"),
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_orderkey").alias("orders"),
        F.count(F.lit(1)).alias("line_items"),
    )


# ---------------------------------------------------------------------------
# Anti-join: customers with no orders
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS customers
        FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
        """,
    doc="Left-anti join (NOT EXISTS) — the L4 reconciliation shape on the star "
    "schema.  Restricted to urgent orders so the anti side is non-empty at "
    "every scale factor (every customer has some order in this data).",
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customers"))
    )


# ---------------------------------------------------------------------------
# Semi-join with correlated inequality (Q4-style order priority check)
# ---------------------------------------------------------------------------
@register(
    "late_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
        """,
    doc="Left-semi join with correlated inequality predicate (EXISTS): orders "
    "having at least one line shipped after the order date.",
    tags=("join", "semi"),
)
def late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, l = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("orders"))
    )


# ---------------------------------------------------------------------------
# Broadcast hash join on a small dimension
# ---------------------------------------------------------------------------
@register(
    "brand_revenue",
    oracle=f"""
        SELECT p.p_brand,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               COUNT(*) AS line_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        """,
    doc="Fact⨝dim with explicit broadcast hint — at 100 TB `part` stays far "
    "below the broadcast threshold relative to lineitem; no fact shuffle "
    "for the join (only for the final small agg).",
    tags=("join", "broadcast"),
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q13-style distribution: outer join + re-aggregation
# ---------------------------------------------------------------------------
@register(
    "customer_order_distribution",
    oracle="""
        SELECT order_count, COUNT(*) AS customers
        FROM (
          SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        ) t
        GROUP BY order_count
        """,
    doc="Left-outer join + double aggregation (orders-per-customer histogram).",
    tags=("join", "agg"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(F.count(F.lit(1)).alias("customers"))


# ---------------------------------------------------------------------------
# Scalar global aggregate (min/max/count over dates)
# ---------------------------------------------------------------------------
@register(
    "order_date_bounds",
    oracle="""
        SELECT CAST(MIN(o_orderdate) AS DATE) AS first_order,
               CAST(MAX(o_orderdate) AS DATE) AS last_order,
               COUNT(*) AS orders,
               COUNT(DISTINCT o_custkey) AS customers
        FROM orders
        """,
    doc="Global scalar aggregate — partial-agg/combine shape, no group keys.",
    tags=("agg",),
)
def order_date_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_orderdate").cast("date").alias("first_order"),
        F.max("o_orderdate").cast("date").alias("last_order"),
        F.count(F.lit(1)).alias("orders"),
        F.countDistinct("o_custkey").alias("customers"),
    )


# ---------------------------------------------------------------------------
# Ranking windows: customer spend deciles (ntile + percent_rank)
# ---------------------------------------------------------------------------
@register(
    "customer_spend_deciles",
    oracle=f"""
        WITH spend AS (
          SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend
          FROM orders GROUP BY o_custkey
          HAVING spend IS NOT NULL
        ),
        ranked AS (
          SELECT o_custkey, spend,
                 ntile(10) OVER (ORDER BY spend, o_custkey) AS decile
          FROM spend
        )
        SELECT CAST(decile AS INT) AS decile,
               COUNT(*) AS customers,
               CAST(MIN(spend) AS DOUBLE) AS min_spend,
               CAST(MAX(spend) AS DOUBLE) AS max_spend
        FROM ranked GROUP BY decile
        """,
    doc="ntile decile ranking over per-customer spend (deterministic "
    "tie-break on custkey so both engines bucket identically); the "
    "global-sort window is the one shape that cannot shard — at 100 TB "
    "swap ntile for approx percentile boundaries + a broadcast bucket join.",
    tags=("window", "rank", "exact-audit"),
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    o = load_table(spark, sf_dir, "orders")
    # dsum is total: a customer whose every price is garbage aggregates to
    # NULL spend and carries no rankable magnitude — excluded in BOTH
    # engines (NULLs sort first in Spark ASC but last in DuckDB)
    spend = (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("spend"))
        .filter(F.col("spend").isNotNull())
    )
    w = Window.orderBy(F.col("spend").asc(), F.col("o_custkey").asc())
    ranked = spend.withColumn("decile", F.ntile(10).over(w).cast("int"))
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("customers"),
        F.min("spend").alias("min_spend"),
        F.max("spend").alias("max_spend"),
    )


# The scale-safe variant of customer_spend_deciles: the ntile global-sort
# window is replaced by a 256-bin fixed-width histogram — deterministic
# integer/double arithmetic both engines reproduce bit-for-bit.
_DECILE_BINS = 256


@register(
    "customer_spend_deciles_approx",
    oracle=f"""
        WITH spend AS (
          SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend
          FROM orders GROUP BY o_custkey
          HAVING spend IS NOT NULL
        ),
        stats AS (SELECT MIN(spend) AS mn, MAX(spend) AS mx, COUNT(*) AS n FROM spend),
        binned AS (
          SELECT o_custkey, spend,
                 CASE WHEN mx = mn THEN 0
                      ELSE LEAST({_DECILE_BINS - 1},
                                 CAST(FLOOR((spend - mn) * {_DECILE_BINS}.0 / (mx - mn)) AS INT))
                 END AS bin
          FROM spend, stats
        ),
        hist AS (SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
        cum AS (
          SELECT h.bin, COALESCE(SUM(h2.cnt), 0) AS cum_before
          FROM hist h LEFT JOIN hist h2 ON h2.bin < h.bin GROUP BY h.bin
        ),
        dec AS (
          SELECT bin, CAST(1 + (cum_before * 10) // n AS INT) AS decile
          FROM cum, stats
        )
        SELECT decile, COUNT(*) AS customers,
               CAST(MIN(spend) AS DOUBLE) AS min_spend,
               CAST(MAX(spend) AS DOUBLE) AS max_spend
        FROM binned JOIN dec USING (bin)
        GROUP BY decile
        """,
    doc="Scale path for decile ranking (the fix customer_spend_deciles' doc "
    "names): per-customer spend buckets into a 256-bin fixed-width histogram "
    "(global min/max/count = one scalar agg, broadcast back), cumulative "
    "counts map each bin to a decile, and customers bucket-join the ≤256-row "
    "map — NO single-partition global-sort window anywhere, so the plan "
    "shards at any corpus size.  Bin edges and decile assignment are pure "
    "integer/double arithmetic, so the oracle reproduces them exactly; "
    "deciles are approximate only in that a bin's customers share a decile.",
    tags=("window", "rank", "approx", "scale-variant", "scale-default"),
)
def customer_spend_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    o = load_table(spark, sf_dir, "orders")
    # dsum is total: a customer whose every price is garbage aggregates to
    # NULL spend and carries no rankable magnitude — excluded in BOTH
    # engines (NULLs sort first in Spark ASC but last in DuckDB)
    spend = (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("spend"))
        .filter(F.col("spend").isNotNull())
    )
    stats = spend.agg(
        F.min("spend").alias("mn"),
        F.max("spend").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = spend.join(F.broadcast(stats)).withColumn(
        "bin",
        F.expr(
            f"CASE WHEN mx = mn THEN 0 ELSE LEAST({_DECILE_BINS - 1}, "
            f"CAST(FLOOR((spend - mn) * {_DECILE_BINS}.0 / (mx - mn)) AS INT)) END"
        ),
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    h2 = hist.select(F.col("bin").alias("bin2"), F.col("cnt").alias("cnt2"))
    cum = (
        hist.join(F.broadcast(h2), F.col("bin2") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(F.coalesce(F.sum("cnt2"), F.lit(0)).alias("cum_before"))
    )
    dec = cum.join(F.broadcast(stats.select("n"))).select(
        "bin", F.expr("CAST(1 + (cum_before * 10) div n AS INT)").alias("decile")
    )
    return (
        binned.join(F.broadcast(dec), "bin")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.min("spend").alias("min_spend"),
            F.max("spend").alias("max_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Set operators: EXCEPT ALL / INTERSECT on key sets
# ---------------------------------------------------------------------------
@register(
    "custkey_set_ops",
    oracle="""
        WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
        building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        only_ordered AS (SELECT k FROM with_orders EXCEPT SELECT k FROM building),
        both_sets AS (SELECT k FROM with_orders INTERSECT SELECT k FROM building)
        SELECT (SELECT COUNT(*) FROM only_ordered) AS ordered_not_building,
               (SELECT COUNT(*) FROM both_sets) AS ordered_and_building
        """,
    doc="EXCEPT / INTERSECT set semantics (the L4 reconciliation diff as a "
    "first-class operator, part4/WorkloadManagementService.scala:44-50): "
    "Spark plans both as hash joins (left-anti / left-semi) after distinct.",
    tags=("setop",),
)
def custkey_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("k")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    only_ordered = with_orders.exceptAll(building).agg(
        F.count(F.lit(1)).alias("ordered_not_building")
    )
    both_sets = with_orders.intersect(building).agg(
        F.count(F.lit(1)).alias("ordered_and_building")
    )
    # one plan, no driver-side counts: two scalar aggregates cross-joined
    return only_ordered.crossJoin(both_sets)


# ---------------------------------------------------------------------------
# Correlated scalar aggregate: parts priced above their brand's average
# ---------------------------------------------------------------------------
@register(
    "parts_above_brand_avg",
    oracle=f"""
        WITH pa AS (
          SELECT p_brand, p_retailprice,
                 CAST(SUM({sql_dcast('p_retailprice')})
                        OVER (PARTITION BY p_brand) AS DOUBLE)
                   / COUNT(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
          FROM part
        )
        SELECT p_brand, COUNT(*) AS above_avg_parts
        FROM pa WHERE p_retailprice > brand_avg
        GROUP BY p_brand
        """,
    doc="Correlated scalar aggregate (price > per-brand average) decorrelated "
    "into a single window pass — one shuffle on brand instead of a "
    "re-aggregating self-join.",
    tags=("window", "subquery"),
)
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    # dcast: one 1e35 garbage price must not abort the whole window pass
    pa = p.withColumn(
        "brand_avg",
        (F.sum(dcast(F.col("p_retailprice"))).over(w).cast("double"))
        / F.count("p_retailprice").over(w),
    )
    return (
        pa.filter(F.col("p_retailprice") > F.col("brand_avg"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("above_avg_parts"))
    )


# ---------------------------------------------------------------------------
# Q2-style: argmin join-back — cheapest part per (brand, type)
# ---------------------------------------------------------------------------
@register(
    "q2_cheapest_part_per_type",
    oracle="""
        SELECT p_brand, p_type, p_partkey, p_retailprice
        FROM (
          SELECT p_brand, p_type, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand, p_type
                                    ORDER BY p_retailprice, p_partkey) AS rn
          FROM part
        ) t WHERE rn = 1
        """,
    doc="Q2's min-cost-supplier shape on the available schema: the argmin per "
    "group computed as ONE partial/final MIN aggregate over (price, key) "
    "structs — map-side combinable, no rank window, no join-back.  (Struct "
    "buffers aren't hash-aggregable so Spark plans a SortAggregate; the sort "
    "keys are the 150 group keys, not the data.)  The oracle uses the "
    "implementation-independent rank-window formulation.",
    tags=("tpch", "agg", "argmin"),
)
def q2_cheapest_part_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    m = (
        p.groupBy("p_brand", "p_type")
        .agg(
            F.min(
                F.struct(
                    F.col("p_retailprice").alias("price"),
                    F.col("p_partkey").alias("key"),
                )
            ).alias("m")
        )
    )
    return m.select(
        "p_brand",
        "p_type",
        F.col("m.key").alias("p_partkey"),
        F.col("m.price").alias("p_retailprice"),
    )


# ---------------------------------------------------------------------------
# Q7-style: nation trade volume with OR'd nation-pair predicate
# ---------------------------------------------------------------------------
@register(
    "q7_nation_trade_volume",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS ship_year,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
        """,
    doc="Q7 volume shipping: 6-table join with a disjunctive nation-pair "
    "predicate.  The nation filter collapses to an IN-pair before the fact "
    "joins (Catalyst pushes it through the broadcast dims), so the lineitem "
    "scan is the only large input.",
    tags=("tpch", "join"),
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, l, o, c, n = (
        load_table(spark, sf_dir, t)
        for t in ("supplier", "lineitem", "orders", "customer", "nation")
    )
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8-style: market share (conditional-sum ratio) per order year
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
               {sql_dsum("CASE WHEN n1.n_name = 'NATION_1' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
                 / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS mkt_share
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1
        """,
    doc="Q8 market share: NATION_1 suppliers' revenue share of the ASIA "
    "customer market per order year — a conditional-sum ratio where both "
    "sums accumulate exactly (decimal) so the final double division is "
    "deterministic across engines and partitionings.",
    tags=("tpch", "join", "ratio"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, s, n, r = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk2"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .join(F.broadcast(r), F.col("rk2") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0)))
                / dsum(rev)
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q10-style: returned-item revenue top 20
# ---------------------------------------------------------------------------
@register(
    "q10_returned_item_revenue",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               c.c_acctbal, n.n_name AS nation
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2, 4, 5
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
        """,
    doc="Q10 returned-item report: selective fact filter (returnflag pushed "
    "to the scan), two shuffle joins + broadcast nation, global top-20 with "
    "deterministic tiebreak (TakeOrderedAndProject — no full sort).",
    tags=("tpch", "join", "topk"),
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, n = (
        load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem", "nation")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11-style: aggregate filtered against a global scalar subquery
# ---------------------------------------------------------------------------
@register(
    "q11_nation_balance_concentration",
    oracle=f"""
        WITH per_nation AS (
          SELECT n.n_name, {sql_dsum('s.s_acctbal')} AS balance
          FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
          GROUP BY n.n_name
        )
        SELECT n_name, balance FROM per_nation
        WHERE balance > (SELECT {sql_dsum('s_acctbal')} * 0.045 FROM supplier)
        """,
    doc="Q11 'important stock' shape: per-group aggregate kept only when it "
    "exceeds a fraction of the GLOBAL aggregate — the scalar subquery becomes "
    "a broadcast cross-join of a 1-row aggregate, so the comparison never "
    "shuffles the grouped side.",
    tags=("tpch", "agg", "subquery"),
)
def q11_nation_balance_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("s_acctbal").alias("balance"))
    )
    total = s.agg((dsum("s_acctbal") * F.lit(0.045)).alias("threshold"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("balance") > F.col("threshold"))
        .select("n_name", "balance")
    )


# ---------------------------------------------------------------------------
# Q14-style: promo revenue ratio over a date window
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue_ratio",
    oracle=f"""
        SELECT {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS promo_revenue,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
               100.0 * {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
                 / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        """,
    doc="Q14 promo revenue: date-windowed fact scan (range pushed to parquet "
    "row groups), broadcast part join, conditional-sum percentage with exact "
    "decimal accumulation.",
    tags=("tpch", "join", "ratio"),
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dsum(promo).alias("promo_revenue"),
            dsum(rev).alias("total_revenue"),
            (F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Q17-style: small-quantity revenue vs per-part average (decorrelated join-back)
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle=f"""
        WITH brand_lines AS (
          SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_brand = 'Brand#1'
        ),
        part_avg AS (
          SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
          FROM brand_lines GROUP BY l_partkey
        )
        SELECT {sql_dsum('b.l_extendedprice')} / 7.0 AS avg_yearly,
               COUNT(*) AS small_lines
        FROM brand_lines b JOIN part_avg a ON b.l_partkey = a.l_partkey
        WHERE b.l_quantity < 0.2 * a.avg_qty
        """,
    doc="Q17 small-quantity order revenue: the correlated per-part AVG is "
    "decorrelated into a small per-part aggregate joined BACK to the lines "
    "(broadcast — one row per part), the alternative decorrelation to "
    "parts_above_brand_avg's window form.  Exact decimal avg makes the "
    "0.2×avg threshold comparison engine-portable.",
    tags=("tpch", "join", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    brand_lines = (
        l.join(F.broadcast(p.filter(F.col("p_brand") == "Brand#1")), l.l_partkey == p.p_partkey)
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    part_avg = brand_lines.groupBy("l_partkey").agg(davg("l_quantity").alias("avg_qty"))
    return (
        brand_lines.join(F.broadcast(part_avg), ["l_partkey"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("small_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q18-style: large-volume customers (HAVING on fact agg, join back to dims)
# ---------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle=f"""
        WITH big AS (
          SELECT l_orderkey, {sql_dsum('l_quantity')} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING {sql_dsum('l_quantity')} > 300
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               o.o_totalprice, b.sum_qty
        FROM big b
        JOIN orders o   ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 20
        """,
    doc="Q18 large-volume customers: the HAVING aggregate runs fact-side "
    "first (map-side combinable sum per orderkey), and only qualifying "
    "orderkeys — a tiny set at any scale — join back to orders/customer, so "
    "the dims see a broadcast-size probe.",
    tags=("tpch", "agg", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer")
    )
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q19-style: disjunctive multi-attribute predicate (OR-of-ANDs pushdown)
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               COUNT(*) AS line_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 1 AND 15)
           OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 11 AND 25
               AND l.l_quantity BETWEEN 10 AND 25)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 26 AND 50
               AND l.l_quantity BETWEEN 20 AND 35)
        """,
    doc="Q19 discounted revenue: an OR-of-ANDs predicate spanning both join "
    "sides.  Catalyst derives the single-side residuals (brand/size prune "
    "the part scan, quantity range prunes the fact scan) before the "
    "broadcast join evaluates the full disjunction.",
    tags=("tpch", "join", "pushdown"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(11, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(26, 50)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q21-style: sole late supplier in multi-supplier orders (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "q21_sole_late_supplier",
    oracle="""
        WITH late AS (
          SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
          FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
          WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
            )
            AND NOT EXISTS (
              SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
            )
        )
        SELECT n.n_name, COUNT(*) AS waiting_orders
        FROM late t
        JOIN supplier s ON t.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """,
    doc="Q21 'suppliers who kept orders waiting': the correlated "
    "EXISTS/NOT-EXISTS pair is decorrelated into a two-level aggregation — "
    "per (order, supplier) late-flag first, then per order (supplier count, "
    "late count, THE late supplier via conditional max) — ONE lineitem scan "
    "and two shrinking hash aggs; no count-distinct Expand, no second scan, "
    "no semi join (measured 11.5s → 7.9s warm solo at sf0.1).  Oracle keeps "
    "the textbook EXISTS formulation.",
    tags=("tpch", "join", "subquery"),
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, s, n = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "supplier", "nation")
    )
    # level 1 runs BEFORE the orders join: a supplier is late iff its LAST
    # ship date beats the deadline, so max(l_shipdate) per (order, supplier)
    # carries everything the flag needs — the fact side shrinks ~4x before
    # any join, and only the reduced rows meet the orders table
    per_supp = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("max_ship")
    )
    per_supp = (
        per_supp.join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("max_ship") > F.expr("o_orderdate + INTERVAL 60 DAYS")).alias("late"),
        )
    )
    # level 2: per order — supplier count, late-supplier count, and (for the
    # n_late==1 survivors) the identity of that sole late supplier
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("long")).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("l_suppkey"),
    )
    sole = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("waiting_orders"))
    )


# ---------------------------------------------------------------------------
# Q6-style: forecast revenue change — the pure pushdown probe
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
               COUNT(*) AS qualifying_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
        """,
    doc="Q6 forecast revenue: every predicate is a raw-column comparison, so "
    "the ENTIRE filter reaches the parquet scan (PushedFilters) and row "
    "groups outside the date range never leave disk — at 100 TB this query "
    "is I/O-bound on the surviving fraction, nothing else.",
    tags=("tpch", "agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("qualifying_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q9-style: product-line profit by supplier nation and year
# (adapted: the schema has no partsupp, so profit = discounted revenue)
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS profit
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY nation, o_year
        """,
    doc="Q9 product profit (partsupp-free adaptation): 5-way join where only "
    "orders co-shuffles with the fact on orderkey; part/supplier/nation stay "
    "broadcast.  The part name LIKE filters the fact EARLY through the "
    "broadcast join, so the orderkey shuffle carries only matching lines.",
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, s, n, p = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "supplier", "nation", "part")
    )
    return (
        l.join(F.broadcast(p.filter(F.col("p_name").like("%widget%"))),
               F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q12-style: shipping-latency buckets vs order priority
# (adapted: no l_shipmode column — latency class plays its role)
# ---------------------------------------------------------------------------
@register(
    "q12_ship_latency_priority",
    oracle="""
        SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                    WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'medium'
                    ELSE 'slow' END AS latency_class,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               -- NOT the complement via NOT IN: a NULL priority makes
               -- NOT IN yield NULL (counted 0) while the engine's
               -- when(high).otherwise(1) counts it low — same single
               -- predicate, inverted branches, so NULL lands in ELSE=low
               -- identically in both engines (round-7 sweep finding)
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
        GROUP BY latency_class
        """,
    doc="Q12 shipmode/priority shape on the available schema: fact-fact join "
    "on orderkey with a derived bucketing key and conditional counts — one "
    "shuffle for the join, map-side partials for the aggregate (3 groups).",
    tags=("tpch", "join", "agg"),
)
def q12_ship_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, l = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    latency = (
        F.when(delay <= 30, "fast").when(delay <= 90, "medium").otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(latency.alias("latency_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q15-style: top supplier by quarterly revenue (view + global max)
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """,
    doc="Q15 top supplier: the revenue 'view' is computed ONCE and reused for "
    "both the max scalar and the equality filter (self-referencing scalar "
    "subquery becomes a broadcast 1-row cross join); exact decimal "
    "accumulation makes the double equality deterministic cross-engine.",
    tags=("tpch", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, s = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16-style: supplier variety per part segment
# (adapted: lineitem is the part↔supplier bridge — no partsupp table)
# ---------------------------------------------------------------------------
@register(
    "q16_part_supplier_variety",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        GROUP BY p.p_brand, p.p_type, p.p_size
        """,
    doc="Q16 supplier-variety shape via the lineitem bridge: negated "
    "predicates (<>, NOT LIKE) stay pushable on the broadcast dim; COUNT "
    "DISTINCT over the join result is the two-phase partial-distinct "
    "aggregate — the shuffle carries (brand,type,size,suppkey) pairs, "
    "already deduplicated map-side, never raw lines.",
    tags=("tpch", "join", "distinct"),
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, l = load_table(spark, sf_dir, "part"), load_table(spark, sf_dir, "lineitem")
    dim = p.filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    return (
        l.join(F.broadcast(dim), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20-style: suppliers with significant volume in a part class
# (adapted: shipped quantity from lineitem replaces partsupp availqty)
# ---------------------------------------------------------------------------
@register(
    "q20_prolific_suppliers",
    oracle="""
        SELECT s.s_name, s.s_acctbal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
          AND s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_name LIKE 'small%'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l.l_suppkey
            HAVING SUM(l.l_quantity) > 50
          )
        """,
    doc="Q20 shape: IN over an aggregated subquery becomes a left-semi join "
    "against a HAVING-filtered per-supplier aggregate — the fact side "
    "reduces to ~|suppliers| rows BEFORE touching the supplier dim, and the "
    "part filter broadcasts into the fact scan.  Quantities are whole "
    "numbers, so the double SUM is exact in both engines.",
    tags=("tpch", "join", "semi", "subquery"),
)
def q20_prolific_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s, n = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier", "nation")
    )
    prolific = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(
            F.broadcast(p.filter(F.col("p_name").like("small%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        s.join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(prolific, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Q22-style: dormant high-balance customers per nation
# (adapted: nation replaces the phone country code)
# ---------------------------------------------------------------------------
@register(
    "q22_dormant_customer_balance",
    oracle=f"""
        SELECT n.n_name AS cntry, COUNT(*) AS numcust,
               {sql_dsum('c.c_acctbal')} AS totacctbal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
            SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          )
        GROUP BY cntry
        """,
    doc="Q22 'global sales opportunity' shape: scalar AVG broadcast as a "
    "1-row cross join, NOT EXISTS as a left-anti join on custkey (dormant = "
    "no order in the final ~2.5 years — the date filter pushes into the "
    "orders scan), nation dim broadcast.  The anti-join probes orders with "
    "only the (already balance-filtered) customer side shuffling.",
    tags=("tpch", "join", "anti", "subquery"),
)
def q22_dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, n, o = (
        load_table(spark, sf_dir, t) for t in ("customer", "nation", "orders")
    )
    global_avg = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(global_avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# FULL OUTER join: nations heavy on customers vs heavy on suppliers
# ---------------------------------------------------------------------------
@register(
    "nation_participation_full_outer",
    oracle="""
        WITH c AS (
          SELECT c_nationkey AS nk, COUNT(*) AS customers
          FROM customer GROUP BY 1 HAVING COUNT(*) >= 60
        ),
        s AS (
          SELECT s_nationkey AS nk, COUNT(*) AS suppliers
          FROM supplier GROUP BY 1 HAVING COUNT(*) >= 4
        )
        SELECT COALESCE(c.nk, s.nk) AS nationkey,
               COALESCE(customers, 0) AS customers,
               COALESCE(suppliers, 0) AS suppliers
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
        """,
    doc="FULL OUTER join (completes the join-type surface next to inner/"
    "left/semi/anti/cross): customer-heavy nations against supplier-heavy "
    "nations, COALESCE reconciling the one-sided rows.  Both inputs are "
    "HAVING-filtered aggregates, so each side genuinely contributes "
    "unmatched keys.",
    tags=("join", "full-outer", "added-r2"),
)
def nation_participation_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = (
        customer.groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("customers"))
        .filter(F.col("customers") >= 60)
    )
    s = (
        supplier.groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
        .filter(F.col("suppliers") >= 4)
    )
    return c.join(s, F.col("c_nk") == F.col("s_nk"), "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("customers", F.lit(0)).alias("customers"),
        F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
    )


# ---------------------------------------------------------------------------
# SQL-string API: ONE ANSI-portable text runs on Spark AND the oracle
# ---------------------------------------------------------------------------
# The revenue summand is guarded the way functions/numeric.dcast is, but in
# ONE text both engines accept: a NaN/±Inf revenue line contributes NULL
# (DuckDB's plain CAST aborts on -Inf -> DECIMAL; TRY_CAST still errors on
# NaN/Inf there, hence the explicit finiteness CASE), and a finite
# out-of-envelope value (>= 1e32) nulls via TRY_CAST in both engines —
# round-7 sweep finding.
# The summand is a named constant so tests/test_properties.py can property-
# check the exact per-row text (totality + cross-engine parity on hostile
# doubles) without re-deriving it; _PORTABLE_SQL's composed text is byte-
# identical to the pre-refactor literal.
# The THEN branch pre-quantizes with pure IEEE double ops (round-16, the
# functions/numeric.py _q6 contract): both engines convert double ->
# DECIMAL(38,6) differently at 6-decimal representation ties, so the value
# lands on the 6-decimal grid BEFORE the cast.  floor() returns BIGINT in
# Spark and DOUBLE in DuckDB; the /1e6 normalizes both to DOUBLE, keeping
# this one SQL text portable across engines.
_PORTABLE_REVENUE_SUMMAND = """TRY_CAST(
             CASE WHEN NOT isnan(l_extendedprice * (1 - l_discount))
                   AND abs(l_extendedprice * (1 - l_discount)) < CAST('Infinity' AS DOUBLE)
                  THEN CASE WHEN abs(l_extendedprice * (1 - l_discount)) < 9000000000.0
                            THEN floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5) / 1e6
                            ELSE l_extendedprice * (1 - l_discount) END END
             AS DECIMAL(38,6))"""

_PORTABLE_SQL = (
    """
    SELECT l_returnflag,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           COUNT(*) AS items,
           CAST(SUM("""
    + _PORTABLE_REVENUE_SUMMAND
    + """) AS DOUBLE)
             AS revenue
    FROM {table}
    WHERE l_shipdate >= CAST('1998-01-01' AS TIMESTAMP)
    GROUP BY l_returnflag, CAST(date_trunc('month', l_shipdate) AS DATE)
"""
)


@register(
    "sql_api_monthly_returns",
    oracle=_PORTABLE_SQL.format(table="lineitem"),
    doc="The spark.sql() entry path: the registry's only query built from "
    "SQL TEXT instead of the DataFrame DSL — and the text is ANSI-portable "
    "enough that the IDENTICAL string is the DuckDB oracle (shared "
    "date_trunc, decimal-exact SUM, explicit casts).  Registers a prefixed "
    "temp view (idempotent, so concurrent FAIR-pool clients can race "
    "on it harmlessly) and hands the text to Catalyst, which plans it "
    "exactly like the DSL queries — same pushdown, same codegen.",
    tags=("sql-api", "aggregation", "added-r2"),
)
def sql_api_monthly_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("sqlapi_lineitem")
    return spark.sql(_PORTABLE_SQL.format(table="sqlapi_lineitem"))

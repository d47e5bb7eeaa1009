"""Join-family queries — one per join type the reference supports
(SURVEY.md §2.4: INNER/LEFT/RIGHT/FULL/SEMI/ANTI/MARK/SINGLE, cross,
positional, range/theta, as-of).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myduckdb_spark.catalog import load_table
from myduckdb_spark.functions.compat import dsum, dsum_sql
from myduckdb_spark.operators.ordering import sorted_tiny
from myduckdb_spark.operators.joins import (
    asof_join,
    mark_join,
    positional_join,
    single_join,
    theta_join,
)
from myduckdb_spark.queries import register


@register(
    "join_left_outer_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_big_orders
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
    tags=("join",),
)
def join_left_outer_counts(spark, sf_dir):
    """LEFT OUTER join preserving unmatched probe rows (reference
    physical_hash_join.cpp LEFT semantics): customers with zero big
    orders appear with count 0."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
    FROM (SELECT * FROM nation WHERE n_nationkey < 15) n
    FULL OUTER JOIN (SELECT * FROM supplier WHERE s_nationkey >= 10) s
      ON n.n_nationkey = s.s_nationkey
    ORDER BY n.n_nationkey NULLS LAST, s.s_suppkey NULLS LAST
    """,
    tags=("join",),
)
def join_full_outer(spark, sf_dir):
    """FULL OUTER join with unmatched rows on both sides."""
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    supplier = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") >= 10)
    return (
        nation.join(supplier, nation.n_nationkey == supplier.s_nationkey, "full")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy(
            F.col("n_nationkey").asc_nulls_last(), F.col("s_suppkey").asc_nulls_last()
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    tags=("join", "semi"),
)
def join_semi(spark, sf_dir):
    """SEMI join (EXISTS). Spark left_semi = the reference's JoinType::SEMI."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
    tags=("join", "anti"),
)
def join_anti(spark, sf_dir):
    """ANTI join (NOT EXISTS). Spark left_anti = the reference's ANTI."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_mark_in_subquery",
    oracle="""
    SELECT c_custkey,
           c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000) AS mark
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("join", "mark"),
)
def join_mark_in_subquery(spark, sf_dir):
    """MARK join: the existence-flag column the reference plans for
    `x IN (subquery)` (JoinType::MARK, physical_am_us_join.cpp:288-302),
    with NULL-aware IN semantics."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    marked = mark_join(cust, orders.select("o_custkey"), "c_custkey", "o_custkey", "mark")
    return marked.select("c_custkey", "mark").orderBy("c_custkey")


@register(
    "join_single_scalar_subquery",
    oracle="""
    SELECT n_nationkey, n_name,
           (SELECT r_name FROM region r WHERE r.r_regionkey = n.n_regionkey) AS r_name
    FROM nation n
    ORDER BY n_nationkey
    """,
    tags=("join", "single"),
)
def join_single_scalar_subquery(spark, sf_dir):
    """SINGLE join: scalar subquery, must raise on multi-match (reference
    JoinType::SINGLE). region_key→region is 1:1 so the guard passes."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    out = single_join(nation, region, on="n_regionkey", value_cols=["r_name"])
    return out.select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")


@register(
    "join_cross_product",
    oracle="""
    SELECT r_name, x.l_linestatus
    FROM region CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem) x
    ORDER BY r_name, l_linestatus
    """,
    tags=("join", "cross"),
)
def join_cross_product(spark, sf_dir):
    """CROSS_PRODUCT (reference physical_cross_product.cpp:146)."""
    region = load_table(spark, sf_dir, "region")
    statuses = load_table(spark, sf_dir, "lineitem").select("l_linestatus").distinct()
    return region.crossJoin(statuses).select("r_name", "l_linestatus").orderBy(
        "r_name", "l_linestatus"
    )


@register(
    "join_positional",
    oracle="""
    WITH l AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS pos FROM region),
         r AS (SELECT et AS event_type, row_number() OVER (ORDER BY et) AS pos
               FROM (SELECT DISTINCT event_type AS et FROM events))
    SELECT l.r_name, r.event_type
    FROM l FULL OUTER JOIN r ON l.pos = r.pos
    ORDER BY coalesce(l.pos, r.pos)
    """,
    tags=("join", "positional"),
)
def join_positional(spark, sf_dir):
    """POSITIONAL join (reference physical_positional_join.cpp:196):
    row-aligned zip of two ordered relations, padded FULL-outer."""
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    etypes = load_table(spark, sf_dir, "events").select("event_type").distinct()
    out = positional_join(
        region, etypes, left_order=["r_regionkey"], right_order=["event_type"]
    )
    return out.select("r_name", "event_type")


@register(
    "join_range_theta",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_lines,
           {dsum_sql('l.l_quantity', 'qty')}
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    tags=("join", "range", "float_bench"),
)
def join_range_theta(spark, sf_dir):
    """Equi + range predicates — the reference's PIECEWISE_MERGE_JOIN /
    IE_JOIN territory (physical_iejoin.cpp). Spark evaluates the range
    conditions as join residual filters on the hash join — same semantics,
    and the equi key keeps it a hash join (no BNLJ)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 60 DAY"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_quantity", "qty"))
        # one row per order status — enum-domain group key (§2.4)
        .transform(sorted_tiny, "o_orderstatus")
    )


@register(
    "join_asof_purchase_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
           CAST(c.value AS DOUBLE) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    ORDER BY p.event_id
    """,
    tags=("join", "asof"),
)
def join_asof_purchase_click(spark, sf_dir):
    """ASOF join (reference physical_asof_join.cpp): for each purchase,
    the latest click by the same user at-or-before the purchase. Union +
    window-fill implementation — one sort on (user_id, ts), no N²."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        purchases, clicks, on="ts", by=["user_id"], allow_exact_match=True
    )
    return out.select("event_id", "user_id", "ts", "click_ts", "click_value")

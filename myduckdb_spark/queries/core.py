"""Core relational queries — TPC-H-shaped (the reference's own benchmark
suite, extension/tpch/) adapted to the driver's star schema, plus the two
fork-signature query shapes (sql_files/sml.sql, sql_files/big.sql).

Each query is the full scan→filter→join→aggregate→sort→limit pipeline the
reference executes; on Spark the same plan compiles to pushed-down parquet
scans, broadcast/shuffled joins chosen by size, partial+final hash
aggregation and TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myduckdb_spark.catalog import load_table
from myduckdb_spark.catalog import maybe_broadcast as _mb
from myduckdb_spark.functions.compat import davg, davg_sql, dsum, dsum_sql, revenue_col
from myduckdb_spark.catalog import table_row_count
from myduckdb_spark.operators.groupjoin import group_join
from myduckdb_spark.operators.joins import amus_join
from myduckdb_spark.operators.ordering import sorted_small, sorted_tiny
from myduckdb_spark.queries import register


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 'sum_qty')},
           {dsum_sql('l_extendedprice', 'sum_base_price')},
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {davg_sql('l_quantity', 'avg_qty')},
           {davg_sql('l_extendedprice', 'avg_price')},
           {davg_sql('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "tpch", "float_bench"),
)
def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1: wide groupBy aggregation. Reference plans this as
    HASH_GROUP_BY (physical_hash_aggregate.cpp); Spark runs partial+final
    hash agg with the filter pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # returnflag×linestatus is an enum-domain group set (a handful of
        # rows at ANY scale) — single-task sort, no range exchange (§2.4)
        .transform(sorted_tiny, "l_returnflag", "l_linestatus")
    )


@register(
    "q03_top_revenue_orders",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "aggregate", "tpch", "float_bench"),
)
def q03_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join → agg → top-k. The customer dim filter
    makes it broadcast-able; orderBy+limit plans as TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "aggregate", "tpch", "float_bench"),
)
def q05_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way snowflake join. Dims (region/nation/supplier/
    customer) broadcast; only orders⋈lineitem shuffles — the plan that
    survives 1000 executors."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(supplier, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            _mb(customer, sf_dir, "customer"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(_mb(nation, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(_mb(region, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
        # one row per nation of one region at ANY scale (§2.4)
        .transform(sorted_tiny, F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("aggregate", "filter", "tpch", "float_bench"),
)
def q06_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure filter + ungrouped aggregate (reference
    UNGROUPED_AGGREGATE, physical_ungrouped_aggregate.cpp). All four
    predicates push to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "aggregate", "tpch", "float_bench"),
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: fact-fact join + dim broadcast + grouped top-k."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(customer, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_mb(nation, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "groupjoin_order_items",
    oracle=f"""
    SELECT o.o_orderkey, o.o_totalprice, agg.n_items, agg.total_qty
    FROM orders o
    JOIN (
      SELECT l_orderkey, COUNT(*) AS n_items,
             {dsum_sql('l_quantity', 'total_qty')}
      FROM lineitem GROUP BY l_orderkey
    ) agg ON o.o_orderkey = agg.l_orderkey
    ORDER BY o.o_orderkey
    """,
    tags=("groupjoin", "fork", "float_bench"),
)
def groupjoin_order_items(spark, sf_dir):
    """The fork's GroupJoin motivating shape (sql_files/sml.sql query 03:
    join + group-by-count). Executed through the group_join rewrite:
    aggregate the build side BEFORE the join (physical_group_join.cpp
    semantics, realized as the reduced-build plan)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    out = group_join(
        orders,
        li,
        keys=[("o_orderkey", "l_orderkey")],
        aggs=[
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", "total_qty"),
        ],
        how="inner",
    )
    # result is one row per order: below the small-sort cap a single-
    # partition exchange sorts it in one task and skips the range
    # exchange's bounds-sampling re-execution of the join stage (§2.4);
    # above the cap (footer row count scales with the data) → range sort
    return sorted_small(
        out.select("o_orderkey", "o_totalprice", "n_items", "total_qty"),
        "o_orderkey",
        est_rows=table_row_count(sf_dir, "orders"),
    )


@register(
    "amus_theta_join",
    oracle="""
    SELECT n_name, r_name
    FROM nation, region
    WHERE n_regionkey <> r_regionkey
    ORDER BY n_name, r_name
    """,
    tags=("join", "theta", "fork"),
)
def amus_theta_join(spark, sf_dir):
    """The fork's AM_US motivating shape (sql_files/big.sql: theta <> join
    over small inputs). Both sides are under the reference's
    am_us_join_threshold=100, so amus_join broadcasts the smaller side and
    Spark picks BroadcastNestedLoopJoin — no shuffle."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    out = amus_join(nation, region, F.col("n_regionkey") != F.col("r_regionkey"))
    # no exchange sits below the join, so sorted_tiny's coalesce(1) would
    # pull the nation scan into the one sort task; at most nation×region
    # rows (footer counts) take the single-partition exchange instead
    n_nat, n_reg = (table_row_count(sf_dir, t) for t in ("nation", "region"))
    est = None if n_nat is None or n_reg is None else n_nat * n_reg
    return sorted_small(out.select("n_name", "r_name"), "n_name", "r_name", est_rows=est)

"""TPC-H q02-q22 — the reference's full benchmark suite (extension/tpch/
dbgen/answers ships golden answers for q01-q22; queries as table functions
in extension/tpch/tpch_extension.cpp:104-170), adapted to the driver's
reduced star schema (no partsupp table; lineitem lacks commitdate/
receiptdate/shipmode/shipinstruct — those predicates are substituted with
semantically-equivalent shapes over the available columns; every query
keeps its defining plan shape: the joins, subquery patterns, and aggregate
structure of the original).

q01/q03/q05/q06/q10 live in queries/core.py.

Scale notes (100 TB discipline): dimension tables (region/nation/supplier/
customer/part and any per-key aggregate whose cardinality is dimension-
bounded) are broadcast; only fact⋈fact joins shuffle, always on the same
key (orderkey or partkey) so AQE can reuse the exchange; scalar subqueries
become 1-row broadcast cross joins, never driver-side collects.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from myduckdb_spark.catalog import load_table, table_row_count
from myduckdb_spark.catalog import maybe_broadcast as _mb
from myduckdb_spark.functions.compat import DEC, davg_sql, dsum, dsum_sql, revenue_col
from myduckdb_spark.operators.ordering import sorted_small
from myduckdb_spark.queries import register

_REV_SQL = "l_extendedprice * (1 - l_discount)"


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "q02_best_supplier_per_nation",
    oracle="""
    SELECT s_name, n_name, CAST(s_acctbal AS DOUBLE) AS acctbal
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (
        SELECT max(s2.s_acctbal)
        FROM supplier s2 WHERE s2.s_nationkey = n_nationkey
      )
    ORDER BY acctbal DESC, n_name, s_name
    """,
    tags=("join", "subquery", "tpch"),
)
def q02_best_supplier_per_nation(spark, sf_dir):
    """TPC-H Q2 shape (correlated scalar-max subquery; partsupp-less):
    per-nation max-acctbal supplier within one region. The correlated
    subquery decorrelates to groupBy(max) + equi-join — the same rewrite
    DuckDB's FlattenDependentJoins performs (reference
    src/planner/subquery/flatten_dependent_join.cpp)."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    mx = sup.groupBy(F.col("s_nationkey").alias("mx_nationkey")).agg(
        F.max("s_acctbal").alias("mx_acctbal")
    )
    return (
        sup.join(_mb(nat, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(_mb(reg, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(
            F.broadcast(mx),
            (F.col("s_nationkey") == F.col("mx_nationkey"))
            & (F.col("s_acctbal") == F.col("mx_acctbal")),
        )
        .select("s_name", "n_name", F.col("s_acctbal").alias("acctbal"))
        .orderBy(F.col("acctbal").desc(), "n_name", "s_name")
    )


@register(
    "q04_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "subquery", "tpch"),
)
def q04_order_priority_check(spark, sf_dir):
    """TPC-H Q4: EXISTS correlated subquery → left-semi join with a mixed
    equi + range condition (commitdate<receiptdate substituted by
    l_shipdate>o_orderdate). Reference plans EXISTS as a MARK/SEMI hash
    join (plan_comparison_join.cpp); Spark: shuffled semi join on
    orderkey with the range predicate as a post-probe filter."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q07_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {dsum_sql(_REV_SQL, 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice, l_discount
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "aggregate", "tpch"),
)
def q07_volume_shipping(spark, sf_dir):
    """TPC-H Q7: two nation aliases + disjunctive cross-nation predicate.
    li⋈orders is the only shuffle; supplier/customer/nation broadcast."""
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") <= _ts("1997-12-31"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(sup, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_mb(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_mb(n1, sf_dir, "nation"), F.col("s_nationkey") == F.col("n1_key"))
        .join(_mb(n2, sf_dir, "nation"), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q08_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_dec ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM(volume_dec) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST({_REV_SQL} AS DECIMAL(18,6)) AS volume_dec,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "aggregate", "tpch"),
)
def q08_market_share(spark, sf_dir):
    """TPC-H Q8: national market share = conditional-sum / sum. Both sums
    accumulate in decimal (order-independent), one double division at the
    end — bit-exact vs the oracle."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_regionkey"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") <= _ts("1997-12-31"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast(DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(_mb(sup, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_mb(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_mb(n1, sf_dir, "nation"), F.col("c_nationkey") == F.col("n1_key"))
        .join(_mb(reg, sf_dir, "region"), F.col("n1_regionkey") == F.col("r_regionkey"))
        .join(_mb(n2, sf_dir, "nation"), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue_col().alias("volume_dec"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume_dec")).otherwise(zero))
                .cast("double")
                / F.sum("volume_dec").cast("double")
            )
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q09_product_type_profit",
    oracle=f"""
    SELECT nation, o_year,
           {dsum_sql('l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity', 'sum_profit')}
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice, l_discount, p_retailprice, l_quantity
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("join", "aggregate", "tpch"),
)
def q09_product_type_profit(spark, sf_dir):
    """TPC-H Q9: profit per nation/year. ps_supplycost (no partsupp table)
    substituted by 0.5*p_retailprice — identical expression shape on both
    sides, decimal-accumulated."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(_mb(sup, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_mb(nat, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    SELECT l_partkey, {dsum_sql('l_extendedprice', 'part_value')}
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) >
      (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) * 0.02 FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("aggregate", "subquery", "tpch"),
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (partsupp→lineitem): per-key value filtered against
    a global-aggregate scalar subquery. The scalar becomes a 1-row
    broadcast cross join — no driver collect, works at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(dsum("l_extendedprice", "part_value"))
    total = li.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") * F.lit(0.02)).alias("__thr")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__thr"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("join", "aggregate", "tpch"),
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12: conditional counts per group (l_shipmode→l_linestatus).
    The CASE-sum is a map-side partial aggregate — one shuffle of 2
    longs per group."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "aggregate", "tpch"),
)
def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13: left-outer join with an ON-clause residual predicate,
    then a histogram of per-customer counts (two cascaded aggregations;
    the second input is |customer| rows → cheap)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST({_REV_SQL} AS DECIMAL(18,6))
                                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM(CAST({_REV_SQL} AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("join", "aggregate", "tpch"),
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14: promo revenue share. part broadcasts; single ungrouped
    aggregate with conditional decimal sums."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-03-01")) & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = revenue_col()
    zero = F.lit(0).cast(DEC)
    return (
        li.join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, {dsum_sql(_REV_SQL, 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue0
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
    ORDER BY s_suppkey
    """,
    tags=("join", "subquery", "cte", "tpch"),
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: CTE reuse + scalar-max subquery. The revenue CTE is
    built once (supplier-cardinality rows) and reused for both the max
    and the join — the materialized-CTE pattern (reference
    physical_cte.cpp)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue_col()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(_mb(sup, sf_dir, "supplier"), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("join", "aggregate", "subquery", "tpch"),
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (partsupp→lineitem): COUNT(DISTINCT) per part
    attribute with a NOT IN exclusion subquery. NOT IN over a non-null key
    column = left_anti join (Catalyst's null-aware anti join handles the
    general case; s_suppkey is non-null here and in the reference's
    data)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad_sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        # bad_sup is a filtered SUBSET of supplier (|rows| ≤ |supplier|,
        # narrower columns) → gating the hint on the supplier table's
        # on-disk size is a conservative upper bound; above the cap AQE
        # picks the strategy from runtime sizes (guide §3.1)
        .join(_mb(bad_sup, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#12'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
    tags=("join", "subquery", "tpch"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: correlated scalar-avg subquery → per-partkey aggregate
    joined back (decorrelation). The per-part avg table has |part|
    cardinality → broadcast; avg is decimal-sum/count (exact) so the
    0.2*avg threshold compares bit-identically."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.lit(0.2)
            * (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity"))
        ).alias("__thr")
    )
    return (
        li.join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        # per_part has ≤ |part| rows (one per distinct l_partkey) and two
        # narrow columns → the part table's on-disk size is a conservative
        # bound for the hint; above the cap AQE decides (guide §3.1)
        .join(_mb(per_part, sf_dir, "part"), F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           {dsum_sql('l_quantity', 'total_qty')}
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("join", "aggregate", "subquery", "tpch"),
)
def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18: IN subquery with HAVING → semi join against a grouped
    aggregate. Both shuffles key on l_orderkey — AQE reuses the
    exchange."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("__sq"))
        .filter(F.col("__sq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(big, F.col("l_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_mb(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {dsum_sql(_REV_SQL, 'revenue')}
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
        OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
        OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30))
    """,
    tags=("join", "filter", "tpch"),
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19: disjunction of conjunctive predicate groups as the join
    residual — the reference's filter_combiner extracts the common
    p_partkey equi-key and leaves the OR as a post-join filter; Spark's
    broadcast hash join does exactly the same."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#14") & sz.between(1, 25) & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#16") & sz.between(1, 35) & (q >= 20) & (q <= 30))
    )
    return (
        li.join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
    )


@register(
    "q20_excess_inventory_suppliers",
    oracle="""
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 50
      )
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
    ORDER BY s_name
    """,
    tags=("join", "subquery", "tpch"),
)
def q20_excess_inventory_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (partsupp-less): nested IN subquery with grouped
    HAVING → semi join chain. The inner aggregate is supplier-cardinality
    → broadcast semi join, no extra shuffle on the supplier side."""
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    qualifying = (
        li.join(_mb(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("__sq"))
        .filter(F.col("__sq") > 50)
    )
    out = (
        sup.join(_mb(nat, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        # qualifying has ≤ |supplier| rows (grouped by l_suppkey, 2 narrow
        # columns) → gate the hint on the supplier table's on-disk size;
        # above the cap AQE decides (guide §3.1)
        .join(_mb(qualifying, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_acctbal").alias("acctbal"))
    )
    # at most one row per supplier (footer count): single-partition sort,
    # no range exchange re-running the semi-join stage (§2.4)
    return sorted_small(out, "s_name", est_rows=table_row_count(sf_dir, "supplier"))


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
      AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("join", "subquery", "tpch"),
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21: the sole-blocking-supplier pattern — EXISTS + NOT EXISTS
    self-joins on the fact table (receiptdate>commitdate substituted by
    l_returnflag='R'). Semi + anti self-joins, all keyed on l_orderkey so
    the three lineitem shuffles co-partition."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").alias("l3")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
        .join(orders, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(_mb(sup, sf_dir, "supplier"), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(_mb(nat, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "q22_global_sales_opportunity",
    oracle=f"""
    SELECT cntrycode, count(*) AS numcust, {dsum_sql('c_acctbal', 'totacctbal')}
    FROM (
      SELECT c_nationkey AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_nationkey IN (10, 13, 17, 18, 20, 21, 23)
        AND c_acctbal > (
          SELECT {davg_sql('c_acctbal', 'a')}
          FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey IN (10, 13, 17, 18, 20, 21, 23)
        )
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("join", "subquery", "aggregate", "tpch"),
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22: scalar-avg subquery + NOT EXISTS anti join (phone
    country code substituted by c_nationkey). The avg is a 1-row
    broadcast; the anti join shuffles on custkey."""
    keys = [10, 13, 17, 18, 20, 21, 23]
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(keys))
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("c_acctbal")).alias("__avg")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )

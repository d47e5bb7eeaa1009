"""Aggregation queries — the reference's HASH_GROUP_BY surface
(SURVEY.md §2.5): DISTINCT aggregates, FILTER clause, ordered aggregates,
GROUPING SETS/ROLLUP/CUBE, the statistical/holistic function inventory.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from myduckdb_spark.catalog import load_table
from myduckdb_spark.catalog import maybe_broadcast as _mb
from myduckdb_spark.functions.compat import DEC, dsum, dsum_sql
from myduckdb_spark.operators.ordering import sorted_tiny
from myduckdb_spark.queries import register


@register(
    "agg_distinct_and_filter",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           {dsum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("aggregate",),
)
def agg_distinct_and_filter(spark, sf_dir):
    """DISTINCT aggregate (reference distinct_aggregate_data.cpp) +
    per-aggregate FILTER clause (BoundAggregateExpression::filter)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            dsum("o_totalprice", "total_price"),
        )
        # enum-domain group keys → bounded result at any scale (§2.4)
        .transform(sorted_tiny, "o_orderpriority")
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n, {dsum_sql('o_totalprice', 'total')}
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
    tags=("aggregate", "groupingsets", "float_bench"),
)
def agg_rollup(spark, sf_dir):
    """ROLLUP with grouping_id (reference plans GROUPING SETS as multiple
    groupings in one HASH_GROUP_BY; bind_select_node.cpp:512)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "total"),
        )
        # status×priority rollup — enum-domain group keys (§2.4)
        .transform(sorted_tiny, "gid", "o_orderstatus", "o_orderpriority")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    tags=("aggregate", "groupingsets"),
)
def agg_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        # flag×status cube — enum-domain group keys (§2.4)
        .transform(sorted_tiny, "gid", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
    tags=("aggregate", "groupingsets"),
)
def agg_grouping_sets(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        # enum-domain grouping sets (§2.4)
        .transform(
            sorted_tiny,
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


@register(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           ARG_MIN(o_orderkey, o_totalprice) AS cheapest_order,
           ARG_MAX(o_orderkey, o_totalprice) AS priciest_order
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("aggregate",),
)
def agg_min_max_by(spark, sf_dir):
    """min/max over any type + arg_min/arg_max (reference
    arg_min_max.cpp → Spark min_by/max_by)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_string_agg_ordered",
    oracle="""
    SELECT r.r_name, STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    tags=("aggregate", "ordered"),
)
def agg_string_agg_ordered(spark, sf_dir):
    """Ordered aggregate (reference sorted_aggregate_function.cpp):
    string_agg(x ORDER BY y) → sort the collected list, then join."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(_mb(region, sf_dir, "region"), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


@register(
    "agg_stats_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS qx,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cy
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(cy AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sy,
             CAST(SUM(CAST(qx * cy AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sxy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (sxx - sx*sx/n) / (n - 1) AS var_qty,
           (sxy - sx*sy/n) / (n - 1) AS covar_qty_price
    FROM s ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_stats_exact(spark, sf_dir):
    """Variance/covariance computed from exact integer moments — the
    order-independent formulation of the reference's algebraic aggregates
    (stddev.cpp, covar.cpp). Quantities/prices scale to exact BIGINTs
    (qty integral, price 2-decimal cents) so every sum is bit-identical
    across engines; double→DECIMAL casts of large products are NOT
    (see agg_regression). Native F.var_samp/F.covar_samp are exercised
    in tests; this query is the hash-exact variant."""
    li = load_table(spark, sf_dir, "lineitem")
    qx = F.round(F.col("l_quantity")).cast("bigint")
    cy = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    s = li.select("l_returnflag", qx.alias("qx"), cy.alias("cy")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qx").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum((F.col("qx") * F.col("qx")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        (F.sum(F.col("cy").cast("decimal(38,0)")).cast("double") / 100).alias("sy"),
        (F.sum((F.col("qx") * F.col("cy")).cast("decimal(38,0)")).cast("double") / 100).alias("sxy"),
    )
    return s.select(
        "l_returnflag",
        "n",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias(
            "var_qty"
        ),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias(
            "covar_qty_price"
        ),
    ).orderBy("l_returnflag")


@register(
    "agg_median_quantile",
    oracle="""
    SELECT l_returnflag,
           MEDIAN(l_quantity) AS med_qty,
           QUANTILE_CONT(l_quantity, 0.25) AS q25,
           QUANTILE_CONT(l_quantity, 0.90) AS q90
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregate", "holistic"),
)
def agg_median_quantile(spark, sf_dir):
    """Exact interpolated quantiles (reference holistic/quantile.cpp →
    Spark percentile, which is exact sort-based)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("med_qty"),
            F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
            F.percentile("l_quantity", F.lit(0.90)).alias("q90"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ), ranked AS (
      SELECT lang, source, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rn
      FROM counts
    )
    SELECT lang, source AS mode_source, n AS mode_count FROM ranked WHERE rn = 1
    ORDER BY lang
    """,
    tags=("aggregate", "holistic"),
)
def agg_mode_deterministic(spark, sf_dir):
    """MODE with deterministic tie-break (reference mode.cpp is
    first-encountered on ties — not reproducible; both sides here break
    ties by value so the oracle matches)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("mode_source"), F.col("n").alias("mode_count"))
        .orderBy("lang")
    )


@register(
    "agg_bool_bit",
    oracle="""
    SELECT n_regionkey,
           BOOL_AND(n_nationkey % 2 = 0) AS all_even,
           BOOL_OR(n_nationkey > 20) AS any_gt20,
           BIT_AND(n_nationkey) AS band,
           BIT_OR(n_nationkey) AS bor,
           BIT_XOR(n_nationkey) AS bxor
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("aggregate",),
)
def agg_bool_bit(spark, sf_dir):
    """bool_and/bool_or (reference bool.cpp) + bit aggregates (bitagg.cpp)."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.bool_and(F.col("n_nationkey") % 2 == 0).alias("all_even"),
            F.bool_or(F.col("n_nationkey") > 20).alias("any_gt20"),
            F.bit_and("n_nationkey").alias("band"),
            F.bit_or("n_nationkey").alias("bor"),
            F.bit_xor("n_nationkey").alias("bxor"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_collect_histogram",
    oracle="""
    SELECT lang,
           array_to_string(LIST_SORT(LIST(DISTINCT source)), ',') AS sources,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("aggregate", "nested"),
)
def agg_collect_histogram(spark, sf_dir):
    """LIST/array_agg (reference nested/list.cpp → collect_list/collect_set).

    The collected list is serialized with array_join on both sides — the
    driver's canonicalizer cannot hash list cells."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


@register(
    "agg_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_ok, TRUE AS median_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregate", "approx"),
)
def agg_approx(spark, sf_dir):
    """Approximate aggregates (reference approx_count.cpp HyperLogLog,
    approximate_quantile.cpp T-Digest). Sketch internals differ between
    engines by design, so the driver-checked output carries error-bound
    assertions computed in-query: HLL estimate within 15% of the exact
    distinct count (HLL rsd default 5%), approx median inside the exact
    [p48, p52] band (accuracy=1000 bounds rank error at 1/1000). A
    sketch regression flips a boolean and hash-fails the row."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").cast("bigint").alias("exact_parts"),
            F.approx_count_distinct("l_partkey").alias("ap"),
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("am"),
            F.expr("percentile(l_extendedprice, 0.48)").alias("lo"),
            F.expr("percentile(l_extendedprice, 0.52)").alias("hi"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("ap") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.15
            ).alias("hll_ok"),
            ((F.col("am") >= F.col("lo")) & (F.col("am") <= F.col("hi"))).alias(
                "median_ok"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_regression",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS qx,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cy
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(cy AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sy,
             CAST(SUM(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(cy * cy AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS syy,
             CAST(SUM(CAST(qx * cy AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sxy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS regr_count,
           sx / n AS regr_avgx,
           sy / n AS regr_avgy,
           sxx - sx*sx/n AS regr_sxx,
           syy - sy*sy/n AS regr_syy,
           sxy - sx*sy/n AS regr_sxy,
           (sxy - sx*sy/n) / (sxx - sx*sx/n) AS regr_slope,
           sy / n - (sxy - sx*sy/n) / (sxx - sx*sx/n) * (sx / n) AS regr_intercept,
           ((sxy - sx*sy/n) * (sxy - sx*sy/n)) / ((sxx - sx*sx/n) * (syy - sy*sy/n)) AS regr_r2
    FROM m ORDER BY l_returnflag
    """,
    tags=("aggregate", "regression"),
)
def agg_regression(spark, sf_dir):
    """regr_* regression aggregates (reference src/core_functions/aggregate/
    regression/regr_slope.cpp et al., registered in function_list.cpp):
    y = l_extendedprice regressed on x = l_quantity per return flag.

    Computed from EXACT integer moments on both sides: quantities are
    integral and prices have 2 decimals, so round(x), round(100·y) are
    exactly representable BIGINTs, their products are exact integers, and
    the DECIMAL(38,0) sums are bit-identical across engines. (A
    double→DECIMAL(p,s) cast of large products is NOT cross-engine
    stable — Spark converts through the double's shortest decimal
    representation, DuckDB through a different rounding, diverging near
    the 17th significant digit — measured on this exact query.) The
    native streaming F.regr_* forms are registered in
    functions/registry.py and tolerance-tested against these values in
    tests/test_functions.py. Map-side partial sums → one shuffle of 6
    numbers per group: scale-safe at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    qx = F.round(F.col("l_quantity")).cast("bigint")
    cy = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.select("l_returnflag", qx.alias("qx"), cy.alias("cy")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qx").cast("decimal(38,0)")).cast("double").alias("sx"),
        (F.sum(F.col("cy").cast("decimal(38,0)")).cast("double") / 100).alias("sy"),
        F.sum((F.col("qx") * F.col("qx")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        (F.sum((F.col("cy") * F.col("cy")).cast("decimal(38,0)")).cast("double") / 10000).alias("syy"),
        (F.sum((F.col("qx") * F.col("cy")).cast("decimal(38,0)")).cast("double") / 100).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cxx = F.col("sxx") - sx * sx / n
    cyy = F.col("syy") - sy * sy / n
    cxy = F.col("sxy") - sx * sy / n
    return m.select(
        "l_returnflag",
        n.alias("regr_count"),
        (sx / n).alias("regr_avgx"),
        (sy / n).alias("regr_avgy"),
        cxx.alias("regr_sxx"),
        cyy.alias("regr_syy"),
        cxy.alias("regr_sxy"),
        (cxy / cxx).alias("regr_slope"),
        (sy / n - (cxy / cxx) * (sx / n)).alias("regr_intercept"),
        ((cxy * cxy) / (cxx * cyy)).alias("regr_r2"),
    ).orderBy("l_returnflag")


@register(
    "agg_mad_topk",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med_qty FROM lineitem GROUP BY l_returnflag
    ), mad AS (
      SELECT l.l_returnflag, median(abs(l.l_quantity - m.med_qty)) AS mad_qty
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      GROUP BY l.l_returnflag
    ), cnt AS (
      SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_linenumber) AS rk
      FROM lineitem GROUP BY l_returnflag, l_linenumber
    )
    SELECT mad.l_returnflag, mad.mad_qty, cnt.l_linenumber AS top_linenumber,
           cnt.n AS top_count, cnt.rk AS rank
    FROM mad JOIN cnt ON mad.l_returnflag = cnt.l_returnflag
    WHERE cnt.rk <= 3
    ORDER BY mad.l_returnflag, cnt.rk
    """,
    tags=("aggregate", "holistic"),
)
def agg_mad_topk(spark, sf_dir):
    """Holistic aggregates: mad (reference holistic/mad.cpp = median of
    absolute deviations from the median, composed from two exact
    percentile passes) and top-k by frequency (reference
    holistic/approx_top_k.cpp — computed EXACTLY here via groupBy-count +
    window, which is also the scale path: the count groupBy is map-side
    partial, the window partitions by the outer group key).

    l_quantity is integral-valued, so median interpolation ((a+b)/2) is
    exact in double on both engines — hash-safe."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty")
    )
    mad = (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.expr("percentile(abs(l_quantity - med_qty), 0.5)").alias("mad_qty"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "l_linenumber")
    cnt = (
        li.groupBy("l_returnflag", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )
    return (
        mad.join(cnt, "l_returnflag")
        .select(
            "l_returnflag",
            "mad_qty",
            F.col("l_linenumber").alias("top_linenumber"),
            F.col("n").alias("top_count"),
            F.col("rk").alias("rank"),
        )
        .orderBy("l_returnflag", "rank")
    )

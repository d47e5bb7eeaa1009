"""Physical-plan quality gates — the 100 TB discipline, asserted.

Correctness tests prove WHAT each operator computes; these prove the
plan Catalyst picks is the one that survives a 1000-executor scale-up:
filters reach the parquet scan, unused columns are pruned, small
dimensions broadcast, hot paths stay inside whole-stage codegen, and
pre-aggregation runs map-side before the shuffle.
"""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from myduckdb_spark.catalog import load_table
from myduckdb_spark.operators.groupjoin import group_join

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = load_table(spark, SF, "lineitem").filter(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_quantity"
    )
    scan = df._jdf.queryExecution().sparkPlan().toString()
    # predicate pushed into the scan (zone-map analog) …
    assert "PushedFilters: [" in scan and "LessThan(l_quantity" in scan
    # … and column pruning: ReadSchema carries only the 2 referenced cols
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_small_dim_join_broadcasts(spark):
    nation = load_table(spark, SF, "nation")
    cust = load_table(spark, SF, "customer")
    plan = _plan(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    assert "BroadcastHashJoin" in plan, "25-row dim must broadcast, not shuffle"


def test_agg_is_two_phase_partial_final(spark):
    li = load_table(spark, SF, "lineitem")
    plan = _plan(li.groupBy("l_returnflag").agg(F.sum("l_quantity")))
    # map-side combine before the exchange (reference: thread-local
    # partial HTs in radix_partitioned_hashtable.cpp) — Spark shows two
    # HashAggregate nodes around one Exchange
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_hot_path_stays_in_codegen(spark):
    li = load_table(spark, SF, "lineitem")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev"))
    )
    q.collect()  # AQE shows the final plan only after execution
    plan = _plan(q)
    # '*(n)' marks a WholeStageCodegen span; the scan→filter→partial-agg
    # pipeline must be inside one
    assert "*(1) HashAggregate" in plan and "*(1) Filter" in plan


def test_dedup_shingling_stays_in_codegen(spark, sf_dir):
    """dedup_minhash_lsh shingles every document with one regex pass: a
    higher-order-function lambda (transform over sequence) runs on
    Catalyst's interpreted eval path, and regressing to it more than
    doubles the shingle build."""
    from myduckdb_spark.queries import queries

    df = queries()["dedup_minhash_lsh"](spark, sf_dir)
    # the cached shingle projection shows inside the InMemoryRelation
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    spark.catalog.clearCache()
    assert "regexp_extract_all" in plan
    assert "lambdafunction" not in plan.lower()


def test_group_join_rewrite_prunes_probe_shuffle(spark):
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    fused = group_join(
        orders, li, keys=[("o_orderkey", "l_orderkey")],
        aggs=[F.sum("l_quantity").alias("qty")],
    )
    plan = _plan(fused)
    # the aggregate must run on the BUILD side before the join (the
    # GROUP_JOIN fusion), so the plan is Join(HashAggregate(lineitem)),
    # not HashAggregate(Join(...)): after the join there is no further
    # aggregate over the joined width
    join_pos = min(p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"), plan.find("ShuffledHashJoin")) if p >= 0)
    assert "HashAggregate" in plan[join_pos:], "aggregate should be below the join (build side)"


def test_topk_uses_take_ordered(spark):
    li = load_table(spark, SF, "lineitem")
    plan = _plan(li.orderBy(F.col("l_extendedprice").desc()).limit(5))
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT must not global-sort"


def test_session_scale_configs(spark):
    # AQE (runtime re-plan + skew-join splitting) must be on, and shuffle
    # partitions sized to the session's core count (conftest uses 8)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == int(
        spark.sparkContext.defaultParallelism
    )


def test_regression_aggregates_partial_final(spark):
    """agg_regression's moment sums must pre-aggregate map-side: the plan
    shows partial + final HashAggregate pairs, and only one shuffle
    (Exchange) between them — 6 numbers per group cross the wire."""
    from myduckdb_spark.queries import queries

    df = queries()["agg_regression"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange") <= 3, plan  # agg + sort + AQE reads
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2, plan


def test_tableinout_is_arrow_batched(spark):
    """The TABLEINOUT path must run mapInPandas (Arrow batches), not a
    row-at-a-time python UDF."""
    from myduckdb_spark.queries import queries

    df = queries()["tableinout_normalize"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, "row-at-a-time python UDF in hot path"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the join key with equal
    bucket counts must join with ZERO Exchange operators — the durable
    form of the reference's partitioned hash join at cluster scale."""
    from myduckdb_spark.io import read_table, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10_000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(10_000).selectExpr("id AS k", "id * 3 AS vb")
        write_bucketed(a, "bk_a", "k", n_buckets=8, sort_cols="k")
        write_bucketed(b, "bk_b", "k", n_buckets=8, sort_cols="k")
        joined = read_table(spark, "bk_a").join(read_table(spark, "bk_b"), "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_session_warehouse_is_outside_the_checkout(spark):
    """The bucketed tables above are saved under the session's warehouse
    dir, which the test session keeps out of the checkout."""
    repo = Path(__file__).resolve().parents[1]
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not Path(warehouse).resolve().is_relative_to(repo), warehouse


def test_limit_percent_no_full_cache(spark, sf_dir):
    """LIMIT n% must not materialize its input: no InMemoryRelation in the
    plan (the count pass is metadata/column-pruned, the TakeOrdered pass
    streams the source — caching 100% to emit 1% is the scale cost)."""
    from myduckdb_spark.operators.topk import limit_percent

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = limit_percent(li, [F.col("l_orderkey")], 1.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert "TakeOrderedAndProject" in plan


def test_no_registered_query_uses_pandas_udaf(spark, sf_dir):
    """Grouped-agg pandas UDAFs ship whole groups to Python (no partial
    aggregation) — the documented escape hatch must stay OFF every
    registered query path. Asserts no AggregateInPandas in any plan."""
    from myduckdb_spark.queries import queries

    offenders = []
    for name, builder in queries().items():
        try:
            plan = builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception:
            continue  # a build error is another test's business
        if "AggregateInPandas" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_plan_sweep_gate(spark, sf_dir):
    """tools/plan_sweep.py as a CI gate (VERDICT r9 #6): every registered
    query's physical plan must stay free of scale anti-patterns —
    zero row-at-a-time Python (BatchEvalPython), zero CartesianProduct,
    Python-worker nodes (MapInArrow included) only at the ARROW_OK sites,
    no ``Coalesce 1`` (sorted_tiny) reaching a scan without an exchange
    between them, and a bounded shuffle-exchange count (a shuffle-count
    regression fails here, not in a later bench run)."""
    from myduckdb_spark.queries import queries
    from tools.plan_sweep import coalesced_scans, python_nodes, shuffle_exchanges

    ARROW_OK = {
        "fn_json_battery", "tableinout_normalize", "multimodal_features",
        # similarity top-k: the exact scoring kernel switches to an
        # Arrow/numpy mapInArrow (bit-identical to the JVM HOF — see
        # pipeline/similarity.py) once the expected pair count crosses
        # the gate; at this sweep's SF the JVM path runs, but the node
        # is intended wherever it appears
        "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
        "sim_lsh_recall",
    }
    # worst legitimate shuffle counts at this SF: sim_topk_lsh 17,
    # sim_topk_ivf 13, sim_lsh_recall 12, dedup_minhash_lsh and
    # join_positional (zipWithIndex) 7 — more shuffles is a plan regression
    MAX_EXCHANGES = 17
    bad = []
    for name, builder in queries().items():
        try:
            df = builder(spark, sf_dir)
        except Exception as e:  # build needs fixtures this sweep lacks
            bad.append((name, f"build error: {e}"))
            continue
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            bad.append((name, "BatchEvalPython"))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if name not in ARROW_OK and python_nodes(plan):
            bad.append((name, "unexpected Python boundary"))
        if coalesced_scans(plan):
            bad.append((name, "single-task scan under Coalesce 1"))
        n_ex = shuffle_exchanges(plan)
        if n_ex > MAX_EXCHANGES:
            bad.append((name, f"{n_ex} shuffle exchanges"))
        spark.catalog.clearCache()
    assert not bad, bad


def test_no_ungated_broadcast_on_table_cardinality_side():
    """Every F.broadcast hint in the query builders must sit on a
    provably-bounded side (scalar subquery results, enum-domain group
    keys, literal VALUES). Table/dim sides must route through
    catalog.maybe_broadcast (on-disk size gate) — a hard hint overrides
    AQE forever and OOMs at 100 TB (VERDICT r9 #1)."""
    import glob
    import os
    import re

    # (basename, argument) — each verified bounded:
    #   q02 `mx`: max per (nation, part-class) over a filtered dim — ≤ dim
    #   q11 `total`: 1-row scalar;  q15 `mx`: 1-row scalar
    #   q22 `avg_bal`: 1-row scalar; agg `med`: one row per returnflag
    #   setops `v`: literal VALUES bucket table
    ALLOWED = {
        ("tpch_full.py", "mx"),
        ("tpch_full.py", "total"),
        ("tpch_full.py", "avg_bal"),
        ("aggregates.py", "med"),
        ("setops_misc.py", "v"),
    }
    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "myduckdb_spark", "queries",
    )
    offenders = []
    for path in glob.glob(os.path.join(qdir, "*.py")):
        for i, line in enumerate(open(path), 1):
            m = re.search(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z_0-9]*)", line)
            if m and (os.path.basename(path), m.group(1)) not in ALLOWED:
                offenders.append(f"{os.path.basename(path)}:{i} {m.group(1)}")
    assert not offenders, offenders


def test_query_loop_releases_tracked_caches(spark, sf_dir):
    """A session looping over registered queries must not accumulate
    cache entries: builders persist() intermediates via
    cacheutil.persist_tracked, and the next builder invocation releases
    them (VERDICT r9 #7). After building+running a persisting query and
    then building any other query, the cache manager must be empty."""
    from myduckdb_spark.queries import queries

    q = queries()
    spark.catalog.clearCache()
    for name in ("dedup_minhash_lsh", "sim_topk_lsh", "text_token_stats"):
        df = q[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
    # building the next query releases the previous one's persists; the
    # last builder (text_token_stats) persists nothing itself
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "tracked caches must be released on the next builder invocation"
    )


def test_lsh_verify_broadcast_is_conditional(spark, monkeypatch):
    """Above the doc budget, LSH pair-verification must re-attach doc
    payloads with SHUFFLE joins: an unconditional broadcast hint would
    OOM the driver at 100 TB (AQE cannot override an explicit hint).
    Below budget the broadcast fast path stays."""
    from myduckdb_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(i, ("abcdefgh"[i % 3:] + "xyzw") * 3) for i in range(12)],
        "doc_id long, text string",
    )
    # force the banded path (no all-pairs early exit) + over-budget docs
    monkeypatch.setattr(dedup, "_ALLPAIRS_MAX_DOCS", 0)
    monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_DOCS", 0)
    out = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    # the HINT is the scale hazard (AQE may still broadcast tiny runtime
    # stats — that's fine; it re-plans at real scale). Assert on the
    # analyzed plan, where an explicit F.broadcast shows as ResolvedHint.
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, "over-budget verify must not hint"
    # below budget the hint applies
    monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_DOCS", 1_000_000)
    out2 = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    plan2 = out2._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan2, "in-budget verify should hint broadcast"


def _float_bench_names() -> list[str]:
    from myduckdb_spark import queries as q

    q.queries()  # imports every query module
    return sorted(n for n, d in q.REGISTRY.items() if "float_bench" in d.tags)


@pytest.mark.parametrize("name", _float_bench_names())
def test_bench_float_variant_is_derived(spark, sf_dir, name):
    """bench_queries() derives a tagged query's float variant from its
    registered pair: the builder under compat.float_mode() loses every
    decimal(18,6) cast, the oracle goes through compat.float_sql(), and
    untagged queries keep their exact pair."""
    from myduckdb_spark import queries as q
    from myduckdb_spark.functions.compat import float_sql

    def analyzed(builder) -> str:
        # JSON: the string form truncates wide plans
        return builder(spark, sf_dir)._jdf.queryExecution().analyzed().toJSON()

    bq = q.bench_queries()
    exact = q.REGISTRY[name]
    build, oracle = bq[name]
    assert "decimal(18,6)" not in analyzed(build)
    assert "decimal(18,6)" in analyzed(exact.builder)
    assert oracle == float_sql(exact.oracle)
    assert "DECIMAL(18,6)" not in oracle
    untagged = [d for d in q.REGISTRY.values() if "float_bench" not in d.tags]
    assert untagged and all(bq[d.name] == (d.builder, d.oracle) for d in untagged)

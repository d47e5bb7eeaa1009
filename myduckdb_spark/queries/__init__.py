"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 gets a named entry:
a builder ``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible)
an equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` exposes
this registry to the driver; ``tools/check.py`` runs the same comparison
locally.

Column-name discipline: every computed column is aliased identically in
the Spark builder and the oracle SQL (the driver sorts columns by name
before hashing values).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from myduckdb_spark.cacheutil import release_tracked
from myduckdb_spark.functions.compat import float_mode, float_sql

Builder = Callable[[SparkSession, str], DataFrame]


def _scoped(fn: Builder) -> Builder:
    """Release the PREVIOUS query's tracked persists before building the
    next one (cacheutil): callers build → materialize → build → …, so by
    the time the next builder runs, earlier caches have no reader. Keeps
    cache usage bounded in a session looping over the whole registry."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_tracked()
        return fn(spark, sf_dir)

    return build


@dataclass
class QueryDef:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, _scoped(fn), oracle, tags)
        return fn  # direct module-level callers keep the unscoped builder

    return deco


def _float_builder(fn: Builder) -> Builder:
    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        with float_mode():
            return fn(spark, sf_dir)

    return build


def bench_queries() -> dict[str, tuple[Builder, str | None]]:
    """(builder, duckdb oracle) per query for bench.py. A query tagged
    ``float_bench`` comes back as its float variant: the builder run under
    compat.float_mode() and the oracle through compat.float_sql(), so both
    engines sum plain doubles — what a user writes. Every other query is
    its registered exact pair. Correctness always runs the exact pair."""
    _load_all()
    out = {}
    for n in _ordered_names():
        q = REGISTRY[n]
        if "float_bench" in q.tags:
            out[n] = (_float_builder(q.builder), float_sql(q.oracle))
        else:
            out[n] = (q.builder, q.oracle)
    return out


# The correctness driver verifies a 50-query window of the registry in
# registration order, so queries() yields highest-priority entries first:
# queries needing a (re-)verification this round — entries whose
# implementation or oracle changed since their last green row, then the
# queries whose last green driver row is oldest so every registered
# query re-verifies on a rotating schedule.
R10_PRIORITY = (
    # the 19 query paths TOUCHED by round-10 optimizations (single-
    # partition final sorts, size-gated derived-set broadcast hints,
    # tracked-cache persists) — every one must re-prove strict-green
    "q01_pricing_summary", "q05_local_supplier_volume",
    "groupjoin_order_items", "amus_theta_join",
    "agg_distinct_and_filter", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "join_range_theta", "win_qualify_topk",
    "dedup_minhash_lsh", "sim_topk_bruteforce", "sim_topk_lsh",
    "sim_topk_ivf", "sim_lsh_recall", "text_token_stats",
    "q16_supplier_part_counts", "q17_small_quantity_revenue",
    "q20_excess_inventory_suppliers",
    # then the queries whose last green driver row is OLDEST (the r8
    # window; r9 verified the other half) — 31 of them fit the 50 slots,
    # ordered with the TPC-H/pipeline paths first; the 12 that overflow
    # are untouched-code r8-green rows that age one more round
    "q02_best_supplier_per_nation", "q04_order_priority_check",
    "q07_volume_shipping", "q08_market_share", "q09_product_type_profit",
    "q11_important_parts", "q13_customer_order_distribution",
    "q14_promo_effect", "q15_top_supplier", "q18_large_volume_customers",
    "q19_discounted_revenue", "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
    "join_asof_purchase_click", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_embedding_cosine", "decontam_ngram_overlap",
    "pii_scrub_counts", "text_quality_scores", "text_lang_id_confusion",
    "text_fingerprint", "text_repetition_stats", "multimodal_features",
    "fn_datetime_battery", "fn_json_battery", "fn_list_battery",
    "fn_timetz_battery", "fn_union_battery", "dml_roundtrip",
)


def _ordered_names() -> list[str]:
    names = list(REGISTRY)
    prio = [n for n in R10_PRIORITY if n in names]
    return prio + [n for n in names if n not in set(prio)]


def queries() -> dict[str, Builder]:
    _load_all()
    return {n: REGISTRY[n].builder for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {n: REGISTRY[n].oracle for n in _ordered_names() if REGISTRY[n].oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (side-effect: registration)."""
    global _LOADED
    if _LOADED:
        return
    from myduckdb_spark.queries import (  # noqa: F401
        aggregates,
        core,
        functions_battery,
        join_family,
        pipeline_ops,
        setops_misc,
        storage_dml,
        tpch_full,
        windows,
    )

    _LOADED = True

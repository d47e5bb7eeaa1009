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
    for n, q in REGISTRY.items():
        if "float_bench" in q.tags:
            out[n] = (_float_builder(q.builder), float_sql(q.oracle))
        else:
            out[n] = (q.builder, q.oracle)
    return out


def queries() -> dict[str, Builder]:
    _load_all()
    return {n: q.builder for n, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}


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

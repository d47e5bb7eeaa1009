"""Oracle-exactness helpers.

Summing doubles is order-dependent, and Spark's partial/final aggregation
order differs run-to-run and engine-to-engine — so any query whose result
is hash-compared against DuckDB computes money/ratio aggregates over
DECIMAL casts (exact, associative, order-independent) and casts the final
value back to DOUBLE. The per-row double arithmetic inside the cast is
written with identical operator order on both sides, so the doubles match
bit-for-bit before the cast.

This mirrors what the reference itself does: DuckDB's SUM over DECIMAL
accumulates in HUGEINT/int128 (src/core_functions/aggregate/distributive/
sum.cpp) — exact, order-independent.

The bench times what a user writes instead: plain double sums on both
engines. Two devices derive that float variant from the exact pair, so
this module stays the only place that knows the decimal cast:

* ``float_mode()`` — a scoped context; builders run under it get
  ``dsum``/``davg``/``revenue_col`` without the ``decimal(18,6)`` cast.
* ``float_sql(text)`` — rewrites the text ``dsum_sql``/``davg_sql`` emit,
  ``CAST(SUM(CAST(<e> AS DECIMAL(18,6))) AS DOUBLE)``, back to ``SUM(<e>)``.
"""

from __future__ import annotations

import contextlib
import contextvars
import re
from typing import Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"

_FLOAT = contextvars.ContextVar("compat_float", default=False)


@contextlib.contextmanager
def float_mode() -> Iterator[None]:
    """Build plain double aggregates (no decimal cast) inside the block."""
    token = _FLOAT.set(True)
    try:
        yield
    finally:
        _FLOAT.reset(token)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str) -> Column:
    """Exact SUM of a double column via decimal accumulation."""
    if _FLOAT.get():
        return F.sum(_c(col)).alias(alias)
    return F.sum(_c(col).cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum, one double division."""
    c = _c(col)
    if _FLOAT.get():
        return (F.sum(c) / F.count(c)).alias(alias)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def davg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


_DSUM_SQL_RE = re.compile(r"CAST\(SUM\(CAST\((.+?) AS DECIMAL\(18,6\)\)\) AS DOUBLE\)")


def float_sql(text: str) -> str:
    """The float variant of an oracle written with dsum_sql/davg_sql."""
    return _DSUM_SQL_RE.sub(r"SUM(\1)", text)


def revenue_col() -> Column:
    """l_extendedprice * (1 - l_discount), decimal-cast per row."""
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return rev if _FLOAT.get() else rev.cast(DEC)

"""CREATE MACRO surface — scalar and table macros.

The reference's macros are lazily-expanded expression templates, NOT
functions: a scalar macro body is an expression tree substituted at bind
time (reference src/include/duckdb/function/scalar_macro_function.hpp:21,
binder src/planner/binder/expression/bind_macro_expression.cpp), and a
table macro is a parameterized subquery template
(table_macro_function.hpp:21). The faithful Spark mapping is therefore
*textual/expression template expansion at plan-build time* — not
spark.udf.register, which would create an opaque (and slow, Python-boxed)
UDF where the reference has a transparent, optimizer-visible expression.

Two registration surfaces per macro kind:

* Python/DataFrame path: ``scalar_macro`` returns a callable producing a
  ``Column`` (usable in select/filter/agg); ``table_macro`` a callable
  producing a ``DataFrame``.
* SQL front door: ``myduckdb_spark.sql.sql()`` expands registered macro
  call sites in the query text before handing it to spark.sql — same
  bind-time-expansion semantics as the reference binder.

Macros expand recursively (a macro body may call other macros): one pass
rewrites each call site once, and ``expand_macros`` repeats on a changed
text up to 16 levels deep, so a cycle — a macro calling itself included —
raises RecursionError.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_IDENT = re.compile(r"^[A-Za-z_]\w*$")


@dataclass
class _ScalarMacro:
    params: list[str]
    body: str  # SQL expression template over the params
    defaults: dict[str, str] = field(default_factory=dict)


@dataclass
class _TableMacro:
    params: list[str]
    body: str | None  # SQL SELECT template; None for Python-only macros
    fn: Callable[..., DataFrame] | None = None


_SCALAR: dict[str, _ScalarMacro] = {}
_TABLE: dict[str, _TableMacro] = {}


def _subst(body: str, params: list[str], args: list[str], defaults: dict[str, str]) -> str:
    """Substitute parameter names with argument text, whole-token only,
    outside string literals and comments (the reference binder substitutes
    expression trees — whole-token textual substitution is the text-level
    analog)."""
    if len(args) < len([p for p in params if p not in defaults]) or len(args) > len(params):
        raise ValueError(f"macro expects {len(params)} args, got {len(args)}")
    from myduckdb_spark.sql import _sub_code

    binding = dict(defaults)
    binding.update(dict(zip(params, args)))
    # single simultaneous pass: sequential per-param substitution would
    # re-substitute a parameter name appearing inside another argument's text
    alt = r"\b(" + "|".join(re.escape(p) for p in binding) + r")\b"
    return _sub_code(alt, lambda m: f"({binding[m.group(1)]})", body)


def create_macro(name: str, params: list[str], body: str, **defaults: str) -> Callable[..., Column]:
    """CREATE MACRO name(params...) AS body  (scalar).

    ``body`` is a SQL expression over ``params``. Returns a Python callable
    (Column args or SQL fragments) producing a Column; also registers the
    macro for SQL-front-door expansion.

    >>> add_tax = create_macro("add_tax", ["amount", "rate"], "amount * (1 + rate)", rate="0.08")
    >>> df.select(add_tax(F.col("price")))
    """
    if not _IDENT.match(name):
        raise ValueError(f"bad macro name: {name}")
    _SCALAR[name.lower()] = _ScalarMacro(params, body, defaults)

    def call(*args: Column | str) -> Column:
        texts = [a._jc.toString() if isinstance(a, Column) else str(a) for a in args]
        return F.expr(expand_macros(_subst(body, params, texts, defaults)))

    call.__name__ = name
    return call


def create_table_macro(
    name: str,
    params: list[str],
    body: str | None = None,
    fn: Callable[..., DataFrame] | None = None,
) -> Callable[..., DataFrame] | None:
    """CREATE MACRO name(params...) AS TABLE body  (table macro).

    ``body`` is a SQL SELECT template (SQL-front-door expandable); ``fn``
    is the Python path: a function (spark, *args) -> DataFrame. Either or
    both may be given.
    """
    if not _IDENT.match(name):
        raise ValueError(f"bad macro name: {name}")
    _TABLE[name.lower()] = _TableMacro(params, body, fn)
    return fn


def drop_macro(name: str) -> None:
    _SCALAR.pop(name.lower(), None)
    _TABLE.pop(name.lower(), None)


def macro_names() -> list[str]:
    return sorted(set(_SCALAR) | set(_TABLE))


def expand_macros(text: str, _depth: int = 0) -> str:
    """Expand registered macro call sites in SQL text (bind-time expansion,
    reference bind_macro_expression.cpp). Table macros expand to a
    parenthesized subquery usable in FROM. Recursion capped at 16 levels
    (the reference errors on recursive macros at bind time too)."""
    if _depth > 16:
        raise RecursionError("macro expansion exceeded depth 16 (cycle?)")
    from myduckdb_spark.sql import _rewrite_calls  # shared balanced-paren engine

    out = text
    for nm, m in _SCALAR.items():
        out = _rewrite_calls(out, nm, lambda a, m=m: _subst(m.body, m.params, a, m.defaults))
    for nm, t in _TABLE.items():
        if t.body is None:
            continue
        out = _rewrite_calls(
            out, nm, lambda a, t=t, nm=nm: "(" + _subst(t.body, t.params, a, {}) + ")"
        )
    if out != text:
        out = expand_macros(out, _depth + 1)
    return out


def run_table_macro(spark, name: str, *args) -> DataFrame:
    """Invoke a table macro by name (Python path)."""
    t = _TABLE.get(name.lower())
    if t is None:
        raise KeyError(f"no table macro {name}")
    if t.fn is not None:
        return t.fn(spark, *args)
    texts = [a if isinstance(a, str) else repr(a) for a in args]
    return spark.sql(expand_macros(_subst(t.body, t.params, texts, {})))

"""DuckDB type names: the one table that maps them to Spark storage types.

Columns are stored in Spark types; a DuckDB type name is only what the
engine reports. ``TYPES`` has one row per DuckDB type (name as
LogicalType::ToString prints it, aliases, Spark storage type, integer
range, numeric precision, and whether storage loses the name).
``spark_ddl`` maps a DuckDB type to Spark (a consumer that needs another
Spark type passes an override at its call site); ``duck_name`` renders a
Spark type as DuckDB names it, and SQL typeof() reaches it through the
``__duck_typename`` helper registered here.

Declared name first: the catalog registry (``infoschema.COLUMN_META``)
keeps each declared column's name, and every surface that names a
column's type (typeof, DESCRIBE, PRAGMA table_info, information_schema,
duckdb_columns(), EXPORT DATABASE) reads it before it renders the Spark
type. TIME is the microsecond convention: stored as BIGINT µs since
midnight, it reports BIGINT everywhere. INTERVAL, STRUCT(...) and
MAP(...) have no row; declaring a column with them fails.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class DuckType(NamedTuple):
    name: str                          # DuckDB's spelling
    aliases: tuple[str, ...]           # other spellings DuckDB accepts
    spark: str                         # Spark storage type (DDL)
    range: tuple[int, int] | None      # integer value range
    precision: tuple[int, int] | None  # information_schema (precision, scale)
    erased: bool                       # the storage type loses the name


def _signed(bits: int) -> tuple[int, int]:
    return -(2 ** (bits - 1)), 2 ** (bits - 1) - 1


# Row order is the order of the typeof() name map the SQL translator emits.
TYPES: tuple[DuckType, ...] = (
    DuckType("INTEGER", ("INT", "INT4", "INT32", "SIGNED"), "INT", _signed(32), (32, 0), False),
    DuckType("BIGINT", ("INT8", "INT64", "LONG"), "BIGINT", _signed(64), (64, 0), False),
    DuckType("SMALLINT", ("INT2", "INT16", "SHORT"), "SMALLINT", _signed(16), (16, 0), False),
    DuckType("TINYINT", ("INT1",), "TINYINT", _signed(8), (8, 0), False),
    DuckType("VARCHAR", ("TEXT", "STRING", "CHAR", "BPCHAR"), "STRING", None, None, False),
    DuckType("DOUBLE", ("FLOAT8",), "DOUBLE", None, (53, 0), False),
    DuckType("FLOAT", ("FLOAT4", "REAL"), "FLOAT", None, (24, 0), False),
    DuckType("BOOLEAN", ("BOOL", "LOGICAL"), "BOOLEAN", None, None, False),
    DuckType("DATE", (), "DATE", None, None, False),
    DuckType("TIMESTAMP", ("DATETIME",), "TIMESTAMP_NTZ", None, None, False),
    DuckType("TIMESTAMP WITH TIME ZONE", ("TIMESTAMPTZ",), "TIMESTAMP_LTZ", None, None, False),
    DuckType("BLOB", ("BYTEA", "BINARY", "VARBINARY"), "BINARY", None, None, False),
    # bare DECIMAL; DECIMAL(p,s) spells its own Spark type
    DuckType("DECIMAL", ("NUMERIC",), "DECIMAL(18,3)", None, None, False),
    DuckType("HUGEINT", ("INT128",), "DECIMAL(38,0)", (-(2 ** 127 - 1), 2 ** 127 - 1),
             (128, 0), True),
    DuckType("UTINYINT", (), "SMALLINT", (0, 2 ** 8 - 1), None, True),
    DuckType("USMALLINT", (), "INT", (0, 2 ** 16 - 1), None, True),
    DuckType("UINTEGER", (), "BIGINT", (0, 2 ** 32 - 1), None, True),
    DuckType("UBIGINT", (), "DECIMAL(20,0)", (0, 2 ** 64 - 1), None, True),
    DuckType("UHUGEINT", (), "DECIMAL(38,0)", (0, 2 ** 128 - 1), None, True),
    DuckType("UUID", (), "STRING", None, None, True),
    DuckType("JSON", (), "STRING", None, None, True),
    DuckType("TIME", (), "BIGINT", None, None, False),  # reports BIGINT
)

_BY_SPELLING = {s: r for r in TYPES for s in (r.name, *r.aliases)}

# the names whose storage type loses them: only these need the registry
ERASED: frozenset[str] = frozenset(r.name for r in TYPES if r.erased)

# Spark typeof()/simpleString name -> DuckDB name for the types that
# render back (Spark prints TIMESTAMP_LTZ as "timestamp"). VOID types an
# untyped NULL; VARIANT carries the JSON values read_json infers
# (io.py _schema_with_variants).
SPARK_NAMES: dict[str, str] = {}
for _r in TYPES:
    if not _r.erased and "(" not in _r.spark:
        SPARK_NAMES.setdefault(
            "timestamp" if _r.spark == "TIMESTAMP_LTZ" else _r.spark.lower(), _r.name
        )
SPARK_NAMES.update({"void": '"NULL"', "variant": "JSON"})

_DECIMAL = re.compile(r"(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", re.I)
_ARRAY = re.compile(r"(.*?)\s*\[\s*\d*\s*\]", re.S)
_SIZED = re.compile(r"(VARCHAR|CHAR|BPCHAR|TEXT|STRING)\s*\(\s*\d+\s*\)")  # caps ignored


def lookup(duck_type: str) -> DuckType | None:
    """The row of a scalar DuckDB type spelling (any case), or None."""
    t = " ".join(duck_type.split()).upper()
    m = _SIZED.fullmatch(t)
    if m:
        t = m.group(1)
    return _BY_SPELLING.get("DECIMAL" if _DECIMAL.fullmatch(t) else t)


def _walk(duck_type: str, leaf, array) -> str:
    """Map a DuckDB type spelling: ``T[]`` (and fixed ``T[n]``) through
    ``array``, DECIMAL(p,s) to itself, a row through ``leaf``; a spelling
    with no row comes back as written."""
    t = " ".join(duck_type.split())
    m = _ARRAY.fullmatch(t)
    if m:
        return array(_walk(m.group(1), leaf, array))
    m = _DECIMAL.fullmatch(t)
    if m:
        p, s = int(m.group(1)), int(m.group(2) or 0)
        if not 1 <= p <= 38 or s > p:
            raise ValueError(f"invalid DECIMAL type: {duck_type!r}")
        return f"DECIMAL({p},{s})"
    row = lookup(t)
    return t if row is None else leaf(row)


def spark_ddl(duck_type: str, overrides: dict[str, str] | None = None) -> str:
    """The Spark DDL type of a DuckDB type spelling (``INT8`` → ``BIGINT``,
    ``UTINYINT[]`` → ``ARRAY<SMALLINT>``); ``overrides`` maps a DuckDB name
    to the Spark type one consumer needs instead."""
    return _walk(duck_type, lambda r: (overrides or {}).get(r.name, r.spark), "ARRAY<{}>".format)


def canonical(duck_type: str) -> str:
    """DuckDB's own spelling of a DuckDB type (``INT8`` → ``BIGINT``,
    ``NUMERIC`` → ``DECIMAL(18,3)``, ``TIMESTAMPTZ[]`` →
    ``TIMESTAMP WITH TIME ZONE[]``)."""
    return _walk(duck_type, lambda r: r.spark if r.name == "DECIMAL" else r.name, "{}[]".format)


def declared_name(duck_type: str) -> str:
    """The name the catalog registry keeps for a column declared as
    ``duck_type``: DuckDB's spelling where the storage type loses it, else
    the storage type rendered (so TIME reports BIGINT)."""
    name = canonical(duck_type)
    return name if name.replace("[]", "") in ERASED else duck_name(spark_ddl(duck_type))


def column_type(declared: str | None, spark_type: str) -> str:
    """The DuckDB name of a column stored as ``spark_type``: its declared
    name while that still maps to the storage type (an ALTER TABLE may
    have changed the column since), else the storage type rendered."""
    rendered = duck_name(spark_type)
    if declared and duck_name(spark_ddl(declared)) == rendered:
        return declared
    return rendered


def numeric_precision(duck_name: str) -> tuple[int | None, int | None]:
    """information_schema numeric (precision, scale) of a DuckDB name."""
    m = _DECIMAL.fullmatch(duck_name)
    if m:
        return int(m.group(1)), int(m.group(2) or 0)
    row = _BY_SPELLING.get(duck_name)
    return (row and row.precision) or (None, None)


def _split_top(s: str) -> list[str]:
    """Split on top-level commas (angle/paren nesting aware)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def duck_name(t: str | None) -> str | None:
    """Render a Spark type (simpleString or DDL spelling) as DuckDB names it."""
    if t is None:
        return None
    t = t.strip()
    low = t.lower()
    if low.startswith("array<") and t.endswith(">"):
        return f"{duck_name(t[6:-1])}[]"
    if low.startswith("map<") and t.endswith(">"):
        kv = _split_top(t[4:-1])
        if len(kv) == 2:
            return f"MAP({duck_name(kv[0])}, {duck_name(kv[1])})"
        return t.upper()
    if low.startswith("struct<") and t.endswith(">"):
        fields = [f.partition(":") for f in _split_top(t[7:-1]) if f.strip()]
        return "STRUCT(" + ", ".join(
            f"{n.strip().strip('`')} {duck_name(ft)}" for n, _, ft in fields
        ) + ")"
    if low.startswith("decimal"):
        return "DECIMAL" + t[len("decimal"):].replace(" ", "")
    if low.startswith("time("):  # Spark TIME carries precision
        return "TIME"
    return SPARK_NAMES.get("timestamp" if low == "timestamp_ltz" else low, t.upper())


_REGISTERED: set[int] = set()


def register_typename_udf(spark) -> None:
    """Idempotent per-session registration of ``__duck_typename``."""
    if id(spark) in _REGISTERED:
        return
    from myduckdb_spark.functions.udf import create_scalar_function

    def _udf(s):
        return s.map(duck_name)

    create_scalar_function(spark, "__duck_typename", _udf, "string")
    _REGISTERED.add(id(spark))

"""DuckDB JSON extension parity: json_structure / json_type /
json_transform (reference extension/json/json_functions/json_structure.cpp,
json_type.cpp, json_transform.cpp).

Spark-first mapping:

* ``json_transform(j, structure)`` — the structure argument is a JSON
  document describing the target type (``{"a": "INTEGER"}``); it is
  static per query, so it compiles to ``from_json`` with the equivalent
  Spark DDL schema (``structure_to_ddl``). ``from_json``'s lenient
  semantics match DuckDB's non-strict transform exactly (uncastable
  scalar -> NULL field, extra object keys ignored — verified live).
  Scalar roots (``'"2023-01-02"'::JSON`` transformed to ``"DATE"``)
  compile to ``CAST(get_json_object(j, '$') AS ...)`` since Spark's
  from_json requires a container root.
* ``json_structure(j)`` / ``json_type(j[, path])`` are inherently
  per-row recursive type inference — no Spark expression computes them,
  so they run as Arrow-batched pandas UDFs (the sanctioned slow path)
  over Python's json parser, implementing DuckDB's merge lattice:
  NULL merges into anything, UBIGINT < BIGINT < DOUBLE widen, any other
  conflict collapses to "JSON" (verified live against DuckDB on nested
  object/array corpora).

At 100 TB both UDFs stream Arrow batches through Python workers with no
shuffle and no state — embarrassingly parallel, bounded memory.
"""

from __future__ import annotations

import json
import re

from myduckdb_spark.functions import typenames

_NUMERIC = {"UBIGINT", "BIGINT", "DOUBLE"}


def _structure(v):
    """Nested python descriptor: dict / [elem] / type-name string."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        return "UBIGINT" if v >= 0 else "BIGINT"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "VARCHAR"
    if isinstance(v, list):
        merged = "NULL"
        for e in v:
            merged = _merge(merged, _structure(e))
        return [merged]
    # dict — key order preserved (DuckDB reports first-seen order); an
    # EMPTY object is the JSON top element (verified live: '{}' -> "JSON")
    if not v:
        return "JSON"
    return {k: _structure(x) for k, x in v.items()}


def _merge(a, b):
    """DuckDB's structure merge lattice (json_structure.cpp): NULL is the
    bottom element; unsigned->signed->double widens; object keys merge
    per-key; everything else conflicts to the JSON top element."""
    if a == "NULL":
        return b
    if b == "NULL":
        return a
    if a == b:
        return a
    if isinstance(a, str) and isinstance(b, str):
        if a in _NUMERIC and b in _NUMERIC:
            return "DOUBLE" if "DOUBLE" in (a, b) else "BIGINT"
        return "JSON"
    if isinstance(a, dict) and isinstance(b, dict):
        keys = list(a) + [k for k in b if k not in a]
        return {k: _merge(a.get(k, "NULL"), b.get(k, "NULL")) for k in keys}
    if isinstance(a, list) and isinstance(b, list):
        return [_merge(a[0], b[0])]
    return "JSON"


def _loads(s: str):
    """json.loads with DuckDB's yyjson leniency for bare nan/inf tokens
    (Python only accepts NaN/Infinity): retry with tokens normalized
    outside double-quoted spans."""
    try:
        return json.loads(s)
    except ValueError:
        parts = re.split(r'("(?:[^"\\]|\\.)*")', s)
        for i in range(0, len(parts), 2):  # even indexes = outside strings
            parts[i] = re.sub(r"(?<![\w.])nan(?![\w.])", "NaN", parts[i])
            parts[i] = re.sub(r"(?<![\w.])-?inf(?:inity)?(?![\w.])",
                              lambda m: ("-" if m.group(0).startswith("-") else "")
                              + "Infinity", parts[i])
        return json.loads("".join(parts))


def json_structure_py(s: str | None) -> str | None:
    if s is None:
        return None
    try:
        v = _loads(s)
    except (ValueError, TypeError):
        return None
    return json.dumps(_structure(v), separators=(",", ":"))


_PATH_TOKEN = re.compile(r"\.(\w+)|\.\"((?:[^\"\\]|\\.)*)\"|\[(\d+)\]")


def _resolve_path(v, path: str):
    """Subset of DuckDB's path forms: ``$.a.b[0]``, JSON pointer
    ``/a/b/0``, or a bare key. Missing path -> sentinel (NULL result)."""
    _MISS = object()
    if path is None or path == "" or path == "$":
        return v
    if path.startswith("$"):
        pos = 1
        while pos < len(path):
            m = _PATH_TOKEN.match(path, pos)
            if m is None:
                return _MISS
            if m.group(3) is not None:
                if not isinstance(v, list) or int(m.group(3)) >= len(v):
                    return _MISS
                v = v[int(m.group(3))]
            else:
                key = m.group(1) or m.group(2)
                if not isinstance(v, dict) or key not in v:
                    return _MISS
                v = v[key]
            pos = m.end()
        return v
    if "/" in path:
        # JSON-pointer spelling — the leading '/' is optional in DuckDB
        # ('ab/c' traverses ab then c; 'a/b' on {"a/b":1} misses)
        segs = path.split("/")
        if segs and segs[0] == "":
            segs = segs[1:]
        for seg in segs:
            if isinstance(v, list) and seg.isdigit() and int(seg) < len(v):
                v = v[int(seg)]
            elif isinstance(v, dict) and seg in v:
                v = v[seg]
            else:
                return _MISS
        return v
    # bare key: a literal single-key lookup ('.', '[' are not special —
    # '{"a.b":1}' -> 'a.b' finds the "a.b" key)
    if isinstance(v, dict) and path in v:
        return v[path]
    return _MISS


def json_type_py(s: str | None, path: str | None = "$") -> str | None:
    """Two-arg json_type: a NULL path is NULL out (DuckDB two-arg
    semantics); the SQL front door passes '$' for the one-arg form."""
    if s is None or path is None:
        return None
    try:
        v = _loads(s)
    except (ValueError, TypeError):
        return None
    if path != "$":
        v = _resolve_path(v, path)
        if v.__class__ is object:  # missing-path sentinel
            return None
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        return "UBIGINT" if v >= 0 else "BIGINT"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "VARCHAR"
    return "ARRAY" if isinstance(v, list) else "OBJECT"


# ------------------------------------------------------------------ DDL

# Spark has no column type for these: a structure field of one of them
# holds DuckDB's text (NULL: nothing) as STRING (documented divergence;
# the DDL's TIME is microsecond BIGINT, which json text never is)
_TEXT_TYPES = ("TIME", "TIMETZ", "INTERVAL", "NULL")


def _ddl(s) -> str:
    """Spark DDL of a structure document: from_json's schema and the
    transform UDF's return type."""
    if isinstance(s, dict):
        inner = ", ".join(f"`{k}`: {_ddl(v)}" for k, v in s.items())
        return f"STRUCT<{inner}>"
    if isinstance(s, list):
        if len(s) != 1:
            raise ValueError(f"array structure needs exactly one element: {s!r}")
        return f"ARRAY<{_ddl(s[0])}>"
    name = _canon_scalar(s)
    if name in _TEXT_TYPES:
        return "STRING"
    if name.startswith("TIMESTAMP"):
        # the converters return naive datetimes (offsets folded to UTC)
        return "TIMESTAMP_NTZ"
    if typenames.lookup(name) is None:
        raise ValueError(f"unknown DuckDB type in json structure: {s!r}")
    return typenames.spark_ddl(name)


def structure_to_ddl(structure_json: str) -> tuple[str, bool]:
    """Parse a DuckDB json_transform structure document into a Spark DDL
    type string. Returns (ddl, is_container): scalar roots can't go
    through from_json and need the CAST(get_json_object(...)) form."""
    v = json.loads(structure_json)
    return _ddl(v), isinstance(v, (dict, list))


# --------------------------------------------------------- json_transform
#
# DuckDB's json_transform (json_transform.cpp) does ELEMENT-WISE lenient
# casts that Spark's from_json cannot express: bool -> 1, JSON number ->
# int via round-half-even, string -> int via the VARCHAR cast (half away
# from zero, hex, exponent), per-element NULL on mismatch inside arrays,
# object targets absorbing non-object inputs as all-NULL structs, range
# guards on unsigned/narrow integers, UUID validation + lowercasing.
# The structure document is a query constant (DuckDB binds it constant
# too), so each distinct structure compiles ONCE into a specialized
# Arrow-batched pandas UDF whose return type is the structure's Spark
# schema. Parsing JSON per row in Python is the sanctioned slow path —
# DuckDB also parses per row; the stream is embarrassingly parallel.

from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal, InvalidOperation

_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)
_DATE_RE = re.compile(r"^\s*(\d{1,6})-(\d{1,2})-(\d{1,2})(?:[ T].*)?\s*$")
_TIME_RE = re.compile(r"^\s*(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?\s*$")


class _TransformError(ValueError):
    """Raised by strict transforms (json_transform_strict) on cast failure."""


def _canon_scalar(name) -> str:
    """DuckDB's name for a structure type spelling (typenames.canonical:
    ``INT`` → ``INTEGER``, ``NUMERIC`` → ``DECIMAL(18,3)``)."""
    return typenames.canonical(str(name).upper())


def _dumps(v) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _str_to_int(s: str):
    """DuckDB VARCHAR->integer cast: whitespace, sign, 0x hex, decimal
    with fraction/exponent rounded HALF AWAY FROM ZERO ('2.5' -> 3)."""
    t = s.strip()
    m = re.fullmatch(r"[+-]?0[xX][0-9a-fA-F]+", t)
    if m:
        neg = t.startswith("-")
        n = int(t.lstrip("+-"), 16)
        return -n if neg else n
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return int(Decimal(t).to_integral_value(rounding=ROUND_HALF_UP))
    except (InvalidOperation, ValueError):
        return None


def _parse_timestamp(s: str):
    """Parse DuckDB-accepted timestamp text to a naive datetime (offset
    forms normalize to UTC, matching the engine's string->TIMESTAMP cast)."""
    from datetime import date as _date
    from datetime import datetime as _dt
    from datetime import timezone as _tz

    t = s.strip()
    if _DATE_RE.fullmatch(t) and len(t) <= 10:
        try:
            y, mo, d = (int(x) for x in t.split("-"))
            return _dt(y, mo, d)
        except ValueError:
            return None
    try:
        dt = _dt.fromisoformat(t.replace(" ", "T", 1))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(_tz.utc).replace(tzinfo=None)
    return dt


def compile_transform(structure, strict: bool):
    """Compile a parsed structure document into fn(parsed_json) -> value.

    Non-strict failures yield None (DuckDB json_transform); strict mode
    raises _TransformError (json_transform_strict / from_json_strict).
    JSON null input is a LEGITIMATE None for every target — never an
    error, even in strict mode."""

    def fail(msg):
        if strict:
            raise _TransformError(msg)
        return None

    if isinstance(structure, list):
        if len(structure) != 1:
            raise ValueError(f"array structure needs one element: {structure!r}")
        elem = compile_transform(structure[0], strict)

        def _arr(v):
            if v is None:
                return None
            if not isinstance(v, list):
                return fail(f"expected ARRAY, got {_dumps(v)}")
            return [elem(e) for e in v]

        return _arr

    if isinstance(structure, dict):
        fields = {k: compile_transform(sub, strict) for k, sub in structure.items()}

        def _obj(v):
            if v is None:
                return None
            if not isinstance(v, dict):
                # DuckDB: non-object input -> object with all-NULL fields
                # (verified live: json_transform('[1,2]','{"a":"INTEGER"}')
                # = {'a': None}); strict errors
                if strict:
                    raise _TransformError(f"expected OBJECT, got {_dumps(v)}")
                v = {}
            return {k: f(v.get(k)) for k, f in fields.items()}

        return _obj

    name = _canon_scalar(structure)
    row = typenames.lookup(name)
    if name.startswith("DECIMAL("):
        prec, scale = typenames.numeric_precision(name)
        q = Decimal(1).scaleb(-scale)
        limit = Decimal(10) ** (prec - scale)

        def _dec(v):
            if v is None:
                return None
            if isinstance(v, bool):
                v = 1 if v else 0
            if isinstance(v, (int, float)):
                try:
                    d = Decimal(str(v)).quantize(q, rounding=ROUND_HALF_UP)
                except (InvalidOperation, ValueError):
                    return fail(f"cannot cast {v!r} to DECIMAL")
            elif isinstance(v, str):
                try:
                    d = Decimal(v.strip()).quantize(q, rounding=ROUND_HALF_UP)
                except (InvalidOperation, ValueError):
                    return fail(f"cannot cast {v!r} to DECIMAL")
            else:
                return fail(f"cannot cast {_dumps(v)} to DECIMAL")
            if abs(d) >= limit:
                return fail(f"{d} out of DECIMAL({prec},{scale}) range")
            return d

        return _dec

    if row and row.range:
        lo, hi = row.range
        wide = row.spark.startswith("DECIMAL")

        def _int(v):
            if v is None:
                return None
            if isinstance(v, bool):
                n = int(v)
            elif isinstance(v, int):
                n = v
            elif isinstance(v, float):
                if v != v or v in (float("inf"), float("-inf")):
                    return fail(f"cannot cast {v!r} to {name}")
                n = round(v)  # round-half-even, matching DuckDB's
                # double->int cast (verified live: 2.5 -> 2, 3.5 -> 4)
            elif isinstance(v, str):
                n = _str_to_int(v)
                if n is None:
                    return fail(f"cannot cast {v!r} to {name}")
            else:
                return fail(f"cannot cast {_dumps(v)} to {name}")
            if n < lo or n > hi:
                return fail(f"{n} out of {name} range")
            return Decimal(n) if wide else n

        return _int

    if name in ("FLOAT", "DOUBLE"):
        def _flt(v):
            if v is None:
                return None
            if isinstance(v, bool):
                x = 1.0 if v else 0.0
            elif isinstance(v, (int, float)):
                x = float(v)
            elif isinstance(v, str):
                try:
                    x = float(v.strip())
                except ValueError:
                    return fail(f"cannot cast {v!r} to {name}")
            else:
                return fail(f"cannot cast {_dumps(v)} to {name}")
            if name == "FLOAT":
                import struct as _struct

                x = _struct.unpack("f", _struct.pack("f", x))[0]
            return x

        return _flt

    if name == "BOOLEAN":
        def _bool(v):
            if v is None:
                return None
            if isinstance(v, bool):
                return v
            if isinstance(v, (int, float)):
                return v != 0
            if isinstance(v, str):
                t = v.strip().lower()
                if t in ("true", "t", "1", "yes", "y"):
                    return True
                if t in ("false", "f", "0", "no", "n"):
                    return False
                return fail(f"cannot cast {v!r} to BOOLEAN")
            return fail(f"cannot cast {_dumps(v)} to BOOLEAN")

        return _bool

    if name == "VARCHAR":
        return lambda v: (
            None if v is None else (v if isinstance(v, str) else _dumps(v))
        )

    if name == "JSON":
        return lambda v: None if v is None else _dumps(v)

    if name == "NULL":
        return lambda v: None

    if name == "BLOB":
        def _blob(v):
            if v is None:
                return None
            s = v if isinstance(v, str) else _dumps(v)
            return s.encode("utf-8")

        return _blob

    if name == "UUID":
        def _uuid(v):
            if v is None:
                return None
            if isinstance(v, str) and _UUID_RE.fullmatch(v.strip()):
                return v.strip().lower()
            return fail(f"cannot cast {_dumps(v)} to UUID")

        return _uuid

    if name == "DATE":
        from datetime import date as _date

        def _d(v):
            if v is None:
                return None
            if isinstance(v, str):
                m = _DATE_RE.fullmatch(v)
                if m:
                    try:
                        return _date(*(int(g) for g in m.groups()))
                    except ValueError:
                        pass
            return fail(f"cannot cast {_dumps(v)} to DATE")

        return _d

    if name in ("TIMESTAMP", "TIMESTAMP_S", "TIMESTAMP_MS", "TIMESTAMP_NS",
                "TIMESTAMP WITH TIME ZONE"):
        unit = name

        def _ts(v):
            if v is None:
                return None
            if isinstance(v, str):
                dt = _parse_timestamp(v)
                if dt is not None:
                    if unit == "TIMESTAMP_S":
                        dt = dt.replace(microsecond=0)
                    elif unit == "TIMESTAMP_MS":
                        dt = dt.replace(
                            microsecond=dt.microsecond - dt.microsecond % 1000
                        )
                    return dt
            return fail(f"cannot cast {_dumps(v)} to {unit}")

        return _ts

    if name in ("TIME", "TIMETZ"):
        def _t(v):
            if v is None:
                return None
            if isinstance(v, str):
                m = _TIME_RE.fullmatch(v)
                if m:
                    h, mi, s = int(m.group(1)), int(m.group(2)), int(m.group(3))
                    if h < 24 and mi < 60 and s < 60:
                        out = f"{h:02d}:{mi:02d}:{s:02d}"
                        if m.group(4) and int(m.group(4)):
                            out += ("." + m.group(4).ljust(6, "0")).rstrip("0")
                        return out
            return fail(f"cannot cast {_dumps(v)} to TIME")

        return _t

    if name == "INTERVAL":
        return lambda v: (
            v if isinstance(v, str) else
            (None if v is None else fail(f"cannot cast {_dumps(v)} to INTERVAL"))
        )

    raise ValueError(f"unknown type in json structure: {structure!r}")


# translate() populates this; the SQL front door registers the UDFs it
# finds referenced in the translated text. name -> (structure_doc, strict)
TRANSFORM_SPECS: dict[str, tuple[str, bool]] = {}


def make_transform_spec(structure_doc: str, strict: bool) -> tuple[str, str, bool]:
    """Validate a structure document, record a UDF spec for it, and
    return (udf_name, spark_ddl, root_is_struct). Raises ValueError on an
    invalid document (mirrors DuckDB's bind error)."""
    import hashlib

    parsed = json.loads(structure_doc)
    compile_transform(parsed, strict)  # validate types now, at "bind" time
    ddl = _ddl(parsed)
    h = hashlib.md5(
        (("S" if strict else "N") + structure_doc).encode()
    ).hexdigest()[:10]
    name = f"__jt_{h}"
    TRANSFORM_SPECS[name] = (structure_doc, strict)
    return name, ddl, isinstance(parsed, dict)


# ------------------------------------------------- json_extract wildcards
#
# DuckDB paths support wildcards and from-the-end indexes Spark's
# variant_get cannot express: `$.*` (all object values), `[*]` (all array
# elements), `[#-1]` / `[-1]` (from the end), `[#]` (array length — always
# out of range). A path WITH a wildcard returns LIST(JSON) — one element
# per match, JSON null matches becoming SQL NULL elements; without, a
# single JSON value (missing path or JSON null -> SQL NULL). Reference
# extension/json/json_common.cpp (JSONCommon::GetPath* / wildcard read).

_EXT_TOKEN = re.compile(
    r"\.\*"
    r"|\[\s*\*\s*\]"
    r"|\.([\w ]+)"
    r"|\.\"((?:[^\"\\]|\\.)*)\""
    r"|\[\s*(#\s*-\s*\d+|-?\d+|#)\s*\]"
)


def _tokenize_ext_path(path: str):
    """Tokenize a $-path into ('wild_obj'|'wild_arr'|('key',k)|('idx',i))
    entries; ('idx', None) = the always-out-of-range [#] form. Returns
    None when the path doesn't parse."""
    toks = []
    pos = 1  # past '$'
    while pos < len(path):
        m = _EXT_TOKEN.match(path, pos)
        if m is None:
            return None
        if m.group(0) == ".*":
            toks.append("wild_obj")
        elif m.group(0).startswith("[") and "*" in m.group(0):
            toks.append("wild_arr")
        elif m.group(1) is not None or m.group(2) is not None:
            # quoted keys unescape only \" and \\ — other backslashes are
            # literal key characters ($."\"du\ck\"" finds key "du\ck")
            key = (m.group(1) if m.group(1) is not None
                   else re.sub(r'\\(["\\])', r"\1", m.group(2)))
            toks.append(("key", key))
        else:
            idx = m.group(3).replace(" ", "")
            if idx == "#":
                toks.append(("idx", None))
            elif idx.startswith("#-"):
                toks.append(("idx", -int(idx[2:])))
            else:
                toks.append(("idx", int(idx)))
        pos = m.end()
    return toks


def path_has_wildcard(path: str) -> bool:
    return ".*" in path or re.search(r"\[\s*\*\s*\]", path) is not None


_MISS = object()


def _walk_ext(v, toks, i, out):
    if i == len(toks):
        out.append(v)
        return
    t = toks[i]
    if t == "wild_obj":
        if isinstance(v, dict):
            for x in v.values():
                _walk_ext(x, toks, i + 1, out)
    elif t == "wild_arr":
        if isinstance(v, list):
            for x in v:
                _walk_ext(x, toks, i + 1, out)
    elif t[0] == "key":
        if isinstance(v, dict) and t[1] in v:
            _walk_ext(v[t[1]], toks, i + 1, out)
    else:  # ('idx', n)
        if isinstance(v, list):
            n = t[1]
            if n is None:
                return  # [#] = index len -> out of range
            if n < 0:
                n += len(v)
            if 0 <= n < len(v):
                _walk_ext(v[n], toks, i + 1, out)


def _render_json(v, text: bool):
    if v is None:
        return None
    if text and isinstance(v, str):
        return v
    return _dumps(v)


def json_extract_py(j, path, text: bool = False):
    """Single-valued extraction for non-wildcard paths ($-paths with
    from-the-end indexes, '/' pointers, bare keys, bare array indexes) —
    also the runtime fallback for NON-CONSTANT path arguments."""
    if j is None or path is None:
        return None
    try:
        v = _loads(j)
    except (ValueError, TypeError):
        return None
    path = str(path)
    if path.startswith("$"):
        toks = _tokenize_ext_path(path)
        if toks is None:
            return None
        out = []
        _walk_ext(v, toks, 0, out)
        return _render_json(out[0], text) if out else None
    r = _resolve_path(v, path)
    if r is _MISS or r.__class__ is object:
        # bare integer path = 0-based array index (json_common.cpp)
        t = path.strip()
        if re.fullmatch(r"-?\d+", t) and isinstance(v, list):
            n = int(t)
            if n < 0:
                n += len(v)
            if 0 <= n < len(v):
                return _render_json(v[n], text)
        return None
    return _render_json(r, text)


def json_extract_multi_py(j, path, text: bool = False):
    """Wildcard extraction: LIST of per-match JSON values (SQL NULL
    elements for JSON null matches); [] when nothing matches."""
    if j is None or path is None:
        return None
    try:
        v = _loads(j)
    except (ValueError, TypeError):
        return None
    toks = _tokenize_ext_path(str(path)) if str(path).startswith("$") else None
    if toks is None:
        return None
    out = []
    _walk_ext(v, toks, 0, out)
    return [_render_json(x, text) for x in out]


# ------------------------------------------------------------------ UDFs

_REGISTERED: set[int] = set()


def register_json_udfs(spark) -> None:
    """Idempotent per-session registration of the pandas-UDF pair."""
    if id(spark) in _REGISTERED:
        return
    from myduckdb_spark.functions.udf import create_scalar_function

    def _structure_udf(s):
        return s.map(json_structure_py)

    def _type_udf(s, p):
        return s.combine(p, json_type_py)

    create_scalar_function(spark, "json_structure", _structure_udf, "string")
    create_scalar_function(spark, "json_type", _type_udf, "string")
    _REGISTERED.add(id(spark))


def _value_to_json_text(v) -> str:
    """Render an arbitrary engine value as DuckDB's x::JSON cast does
    (compact containers, quoted temporals, 'true'/'false')."""
    import datetime

    import numpy as np

    if v is None:
        return "null"
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return json.dumps(float(v))
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return f'"{v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()}"'
    if isinstance(v, np.ndarray):
        if np.issubdtype(v.dtype, np.floating):
            # Arrow hands an INT array containing NULLs over as float64
            # with NaN holes — restore null/integral rendering
            return "[" + ",".join(
                "null" if x != x
                else (str(int(x)) if float(x).is_integer()
                      else json.dumps(float(x)))
                for x in v.tolist()
            ) + "]"
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value_to_json_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{json.dumps(str(k), ensure_ascii=False)}:{_value_to_json_text(x)}"
            for k, x in v.items()
        ) + "}"
    return json.dumps(str(v), ensure_ascii=False)


def json_cast_py(v, try_form: bool):
    """x::JSON for non-literal operands: VARCHAR validates + passes the
    original text through; containers/scalars serialize compactly."""
    if v is None:
        return None
    if isinstance(v, str):
        try:
            _loads(v)
            return v
        except (ValueError, TypeError):
            if try_form:
                return None
            raise _TransformError(f"malformed JSON: {v!r}")
    try:
        if v != v:  # float NaN
            return None if try_form else _raise_nan()
    except (TypeError, ValueError):
        pass
    return _value_to_json_text(v)


def _raise_nan():
    raise _TransformError("cannot cast NaN to JSON")


def _json_contained(t, c) -> bool:
    """MySQL-style local containment (json_contains.cpp JSONContains):
    candidate object ⊆ target object per key, candidate array ⊆ target
    array element-wise, scalar candidate matches a scalar or any element
    of a target array."""
    if isinstance(c, dict):
        return isinstance(t, dict) and all(
            k in t and _json_contained(t[k], v) for k, v in c.items()
        )
    if isinstance(c, list):
        return isinstance(t, list) and all(
            any(_json_contained(te, e) for te in t) for e in c
        )
    if isinstance(t, list):
        return any(_json_contained(te, c) for te in t)
    return type(t) is type(c) and t == c


def json_contains_py(j, needle):
    """json_contains(haystack, needle): local containment at any node of
    the haystack (the reference searches the whole document tree)."""
    if j is None or needle is None:
        return None
    try:
        h, n = _loads(j), _loads(needle)
    except (ValueError, TypeError):
        return None

    def walk(t) -> bool:
        if _json_contained(t, n):
            return True
        if isinstance(t, dict):
            return any(walk(v) for v in t.values())
        if isinstance(t, list):
            return any(walk(e) for e in t)
        return False

    return walk(h)


def json_keys_multi_py(j, paths):
    """json_keys(j, ['p1', 'p2']): one key-list per path."""
    if j is None or paths is None:
        return None
    return [json_keys_py(j, p) for p in paths]


def json_keys_py(j, path="$"):
    """json_keys(j[, path]): keys of the object at path; [] for
    non-objects (json_keys.cpp)."""
    if j is None or path is None:
        return None
    try:
        v = _loads(j)
    except (ValueError, TypeError):
        return None
    p = str(path)
    if not p.startswith("$"):
        # bare key / pointer forms route through the $-grammar
        p = "$" + "".join(
            f"[{seg}]" if seg.isdigit() else f".{seg}"
            for seg in p[1:].split("/")
        ) if p.startswith("/") else f"$.{p}"
    toks = _tokenize_ext_path(p)
    if toks is None:
        return None
    out = []
    _walk_ext(v, toks, 0, out)
    if not out:
        return None
    v = out[0]
    return list(v.keys()) if isinstance(v, dict) else []


def json_minify_py(j):
    """json(x) / json minify: compact re-serialization PRESERVING key
    order (Spark's variant round-trip alphabetizes keys — wrong); a JSON
    null document yields SQL NULL."""
    if j is None:
        return None
    try:
        v = _loads(j if isinstance(j, str) else _value_to_json_text(j))
    except (ValueError, TypeError):
        return None
    return None if v is None else _dumps(v)


def json_merge_patch_py(a, b):
    """RFC 7386 merge patch (json_merge_patch.cpp): a null PATCH yields
    SQL NULL; null keys delete; non-object patches replace wholesale."""
    if b is None:
        return None

    def merge(t, p):
        if not isinstance(p, dict):
            return p
        # key order matches the reference: target keys NOT in the patch
        # first, then patch keys in patch order (verified live:
        # {"a":1,"b":2} + {"a":3,"c":4} -> {"b":2,"a":3,"c":4})
        t = t if isinstance(t, dict) else {}
        r = {k: v for k, v in t.items() if k not in p}
        for k, pv in p.items():
            if pv is None:
                continue
            r[k] = merge(t.get(k), pv)
        return r

    try:
        pa = _loads(a) if a is not None else None
        pb = _loads(b)
    except (ValueError, TypeError):
        return None
    return _dumps(merge(pa, pb))


def json_group_structure_py(series) -> str:
    """Aggregate structure merge over a group of JSON documents
    (json_structure.cpp merge lattice, the group form)."""
    merged = "NULL"
    for s in series:
        if s is None:
            continue
        try:
            merged = _merge(merged, _structure(_loads(s)))
        except (ValueError, TypeError):
            continue
    return json.dumps(merged, separators=(",", ":"))


def json_extract_list_py(j, paths, text: bool = False):
    """Many-path form json_extract(j, ['$.a', '$.b']): one result slot
    per path (json_extract.cpp many-path bind)."""
    if j is None or paths is None:
        return None
    return [json_extract_py(j, p, text) for p in paths]


_EXTRACT_UDFS = {
    "__jx_one": ("string", False, json_extract_py),
    "__jx_one_text": ("string", True, json_extract_py),
    "__jx_multi": ("array<string>", False, json_extract_multi_py),
    "__jx_multi_text": ("array<string>", True, json_extract_multi_py),
    "__jx_list": ("array<string>", False, json_extract_list_py),
    "__jx_list_text": ("array<string>", True, json_extract_list_py),
}

_MARKED: set[tuple[int, str]] = set()


def register_marked_udfs(spark, translated: str) -> None:
    """Register every __jt_* transform and __jx_* extract UDF the
    translated SQL references (idempotent per session+name)."""
    import pandas as pd

    from myduckdb_spark.functions.udf import create_scalar_function

    _SIMPLE_UDFS = {
        "__json_contains": (json_contains_py, "boolean"),
        "__json_keys": (json_keys_py, "array<string>"),
        "__json_keys_multi": (json_keys_multi_py, "array<array<string>>"),
        "__json_merge2": (json_merge_patch_py, "string"),
    }
    if "__json_minify" in translated and \
            (id(spark), "__json_minify") not in _MARKED:
        def _u_minify(s):
            return pd.Series(
                [json_minify_py(x) for x in s], index=s.index,
                dtype="object",
            )

        create_scalar_function(spark, "__json_minify", _u_minify, "string")
        _MARKED.add((id(spark), "__json_minify"))
    for name, (fn, ddl) in _SIMPLE_UDFS.items():
        if name not in translated or (id(spark), name) in _MARKED:
            continue

        def _mk2(fn):
            def _u(a, b):
                return pd.Series(
                    [fn(x, y) for x, y in zip(a, b)],
                    index=a.index, dtype="object",
                )

            return _u

        create_scalar_function(spark, name, _mk2(fn), ddl)
        _MARKED.add((id(spark), name))
    if "__json_group_structure" in translated and \
            (id(spark), "__json_group_structure") not in _MARKED:
        from myduckdb_spark.functions.udf import create_aggregate_function

        create_aggregate_function(
            spark, "__json_group_structure", json_group_structure_py,
            "string",
        )
        _MARKED.add((id(spark), "__json_group_structure"))

    for name in set(re.findall(r"__json_cast(?:_try)?", translated)):
        key = (id(spark), name)
        if key in _MARKED:
            continue

        def _mk_cast(try_form):
            def _u(s):
                return pd.Series(
                    [json_cast_py(x, try_form) for x in s],
                    index=s.index, dtype="object",
                )

            return _u

        create_scalar_function(
            spark, name, _mk_cast(name.endswith("_try")), "string"
        )
        _MARKED.add(key)

    for name in set(
        re.findall(r"__jx_(?:one|multi|list)(?:_text)?", translated)
    ):
        key = (id(spark), name)
        if key in _MARKED:
            continue
        ddl, text_mode, fn = _EXTRACT_UDFS[name]

        def _mk(fn, text_mode):
            def _u(j, p):
                return pd.Series(
                    [fn(a, b, text_mode) for a, b in zip(j, p)],
                    index=j.index, dtype="object",
                )

            return _u

        create_scalar_function(spark, name, _mk(fn, text_mode), ddl)
        _MARKED.add(key)

    for name in set(re.findall(r"__jt_[0-9a-f]{10}", translated)):
        key = (id(spark), name)
        if key in _MARKED or name not in TRANSFORM_SPECS:
            continue
        doc, strict = TRANSFORM_SPECS[name]
        parsed = json.loads(doc)
        fn = compile_transform(parsed, strict)
        ddl = _ddl(parsed)

        def _mk_apply(fn, strict):
            def _apply(x):
                if x is None:
                    return None
                try:
                    v = _loads(x)
                except (ValueError, TypeError):
                    if strict:
                        raise _TransformError(f"malformed JSON: {x!r}")
                    return None
                return fn(v)

            return _apply

        _apply = _mk_apply(fn, strict)
        if isinstance(parsed, dict):
            # struct-rooted pandas UDFs return a DataFrame (one column per
            # field). A pandas frame can't carry a NULL struct row — the
            # SQL rewrite guards NULL/'null' inputs with CASE before the
            # call, so every row here transforms to a full field dict.
            def _mk_struct(_apply, cols):
                def _u(s):
                    rows = []
                    for x in s:
                        r = _apply(x)
                        rows.append(r if isinstance(r, dict)
                                    else {k: None for k in cols})
                    return pd.DataFrame(rows, columns=cols, index=s.index)

                return _u

            _u = _mk_struct(_apply, list(parsed.keys()))
        else:
            def _mk_scalar(_apply):
                def _u(s):
                    return pd.Series(
                        [_apply(x) for x in s], index=s.index, dtype="object"
                    )

                return _u

            _u = _mk_scalar(_apply)

        create_scalar_function(spark, name, _u, ddl)
        _MARKED.add(key)

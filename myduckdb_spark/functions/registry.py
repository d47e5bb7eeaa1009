"""DuckDB-name → Spark-expression function registry.

The reference registers 382 scalar function sets
(src/core_functions/function_list.cpp:51-428) plus always-on built-ins
(src/function/scalar/). This registry maps each DuckDB name onto the
equivalent Spark Column expression so engine users (and the SQL front
door's rewriter) can call DuckDB names directly. Spark natives are used
wherever they exist (JVM codegen); the rest are composed expressions —
no Python UDFs anywhere in this file.

Usage:
    from myduckdb_spark.functions.registry import fn
    df.select(fn("list_transform")(F.col("xs"), lambda x: x + 1))
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

REGISTRY: dict[str, Callable[..., Column]] = {}


def _reg(*names: str):
    def deco(f):
        for n in names:
            REGISTRY[n] = f
        return f

    return deco


def fn(name: str) -> Callable[..., Column]:
    return REGISTRY[name.lower()]


def has(name: str) -> bool:
    return name.lower() in REGISTRY


def _c(x) -> Column:
    return x if isinstance(x, Column) else (F.col(x) if isinstance(x, str) else F.lit(x))


# --- string (reference src/core_functions/scalar/string/, src/function/scalar/string/) ---
_reg("upper", "ucase")(lambda s: F.upper(_c(s)))
_reg("lower", "lcase")(lambda s: F.lower(_c(s)))
# DuckDB's concat skips NULLs (Spark's concat propagates them)
_reg("concat")(lambda *cs: F.concat_ws("", *[_c(x) for x in cs]))
_reg("concat_ws")(lambda sep, *cs: F.concat_ws(sep, *[_c(x) for x in cs]))
_reg("contains")(lambda s, t: _c(s).contains(t))
_reg("starts_with", "prefix")(lambda s, p: _c(s).startswith(p))
_reg("suffix", "ends_with")(lambda s, p: _c(s).endswith(p))
_reg("like_escape")(lambda s, p: _c(s).like(p))
_reg("regexp_matches")(lambda s, p: _c(s).rlike(p))
def _regexp_replace(s, p, r, flags=None):
    """DuckDB semantics (re_functions.cpp): 3-arg replaces the FIRST
    match only; the 'g' flag replaces all (Spark's only behavior), 'i'
    prepends case-insensitivity."""
    c = _c(s)
    pat = f"(?i){p}" if flags and "i" in flags else p
    if flags and "g" in flags:
        return F.regexp_replace(c, pat, r)
    pos = F.regexp_instr(c, F.lit(pat))
    m = F.regexp_extract(c, pat, 0)
    head = c.substr(F.lit(1), pos - 1)
    tail = c.substr(pos + F.length(m), F.length(c))
    return F.when(pos == 0, c).otherwise(
        F.concat(head, F.regexp_replace(m, pat, r), tail)
    )


_reg("regexp_replace")(_regexp_replace)
_reg("regexp_extract")(lambda s, p, i=0: F.regexp_extract(_c(s), p, i))
_reg("regexp_extract_all")(lambda s, p, i=0: F.expr(f"regexp_extract_all({_sql(s)}, '{p}', {i})"))
_reg("regexp_split_to_array", "string_split_regex", "str_split_regex")(
    lambda s, p: F.split(_c(s), p)
)
_reg("string_split", "str_split", "string_to_array")(lambda s, sep: F.split(_c(s), _lit_regex_escape(sep)))
_reg("substring", "substr")(lambda s, pos, ln=None: F.substring(_c(s), pos, ln if ln is not None else 2147483647))
_reg("left")(lambda s, n: F.expr(f"left({_sql(s)}, {n})"))
_reg("right")(lambda s, n: F.expr(f"right({_sql(s)}, {n})"))
_reg("length", "len", "char_length", "character_length")(lambda s: F.length(_c(s)))
_reg("strlen")(lambda s: F.octet_length(_c(s)))
_reg("bit_length")(lambda s: F.bit_length(_c(s)))
_reg("trim")(lambda s, ch=None: F.trim(_c(s)) if ch is None else F.expr(f"trim(BOTH '{ch}' FROM {_sql(s)})"))
_reg("ltrim")(lambda s, ch=None: F.ltrim(_c(s)) if ch is None else F.expr(f"trim(LEADING '{ch}' FROM {_sql(s)})"))
_reg("rtrim")(lambda s, ch=None: F.rtrim(_c(s)) if ch is None else F.expr(f"trim(TRAILING '{ch}' FROM {_sql(s)})"))
_reg("lpad")(lambda s, n, p=" ": F.lpad(_c(s), n, p))
_reg("rpad")(lambda s, n, p=" ": F.rpad(_c(s), n, p))
_reg("repeat")(lambda s, n: F.repeat(_c(s), n))
_reg("replace")(lambda s, a, b: F.replace(_c(s), F.lit(a), F.lit(b)))
_reg("reverse")(lambda s: F.reverse(_c(s)))
_reg("split_part")(lambda s, sep, i: F.split_part(_c(s), F.lit(sep), F.lit(i)))
_reg("instr", "strpos", "position")(lambda s, sub: F.instr(_c(s), sub))
_reg("ascii")(lambda s: F.ascii(_c(s)))
# chr must handle full Unicode codepoints (reference chr.cpp); Spark's
# char() wraps at 256, so decode the codepoint as one UTF-32BE unit.
_reg("chr")(
    lambda i: F.decode(
        F.to_binary(F.lpad(F.hex(_c(i)), 8, "0"), F.lit("hex")), "UTF-32"
    )
)
_reg("printf", "format")(lambda fmt, *cs: F.format_string(fmt, *[_c(x) for x in cs]))
_reg("md5")(lambda s: F.md5(_c(s).cast("binary")))
_reg("sha1")(lambda s: F.sha1(_c(s).cast("binary")))
_reg("sha256")(lambda s: F.sha2(_c(s).cast("binary"), 256))
# Spark's base64 MIME-chunks at 76 chars (legacy JVM encoder) — the
# reference emits one unbroken string (blob/base64.test)
_reg("to_base64", "base64")(
    lambda b: F.regexp_replace(F.base64(_c(b)), "\r\n", "")
)
_reg("from_base64")(lambda s: F.unbase64(_c(s)))
_reg("hex", "to_hex")(lambda x: F.hex(_c(x)))
_reg("unhex", "from_hex")(lambda s: F.unhex(_c(s)))
_reg("to_base")(lambda n, b: F.conv(_c(n).cast("string"), 10, b))
_reg("translate")(lambda s, frm, to: F.translate(_c(s), frm, to))
_reg("levenshtein", "editdist3")(lambda a, b: F.levenshtein(_c(a), _c(b)))
_reg("initcap")(lambda s: F.initcap(_c(s)))
_reg("strip_accents")(lambda s: F.expr(f"translate({_sql(s)}, 'áàâäéèêëíìîïóòôöúùûüñç', 'aaaaeeeeiiiioooouuuunc')"))
_reg("nfc_normalize")(lambda s: _c(s))  # Spark strings are UTF-8; NFC no-op shim
_reg("url_encode")(lambda s: F.url_encode(_c(s)))
_reg("url_decode")(lambda s: F.url_decode(_c(s)))
_reg("format_bytes")(lambda n: F.expr(
    f"CASE WHEN {_sql(n)} >= 1073741824 THEN concat(round({_sql(n)}/1073741824.0, 1), ' GiB')"
    f" WHEN {_sql(n)} >= 1048576 THEN concat(round({_sql(n)}/1048576.0, 1), ' MiB')"
    f" WHEN {_sql(n)} >= 1024 THEN concat(round({_sql(n)}/1024.0, 1), ' KiB')"
    f" ELSE concat({_sql(n)}, ' bytes') END"
))
# similarity metrics beyond levenshtein: composed JVM expressions
_reg("jaccard")(lambda a, b: _char_set_jaccard(a, b))
_reg("hamming", "mismatches")(lambda a, b: F.expr(
    f"size(filter(zip_with(split({_sql(a)}, ''), split({_sql(b)}, ''), (x, y) -> x <> y), v -> v))"
))


def _char_set_jaccard(a, b) -> Column:
    sa = F.array_distinct(F.split(_c(a), ""))
    sb = F.array_distinct(F.split(_c(b), ""))
    return F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb))


def _lit_regex_escape(sep: str) -> str:
    import re

    return re.escape(sep)


def _sql(x) -> str:
    """Render a column reference for F.expr composition."""
    if isinstance(x, Column):
        return x._jc.toString()
    return str(x)


# --- date/time (reference src/core_functions/scalar/date/) ---
_reg("date_part", "datepart", "extract")(lambda part, ts: F.date_part(F.lit(part), _c(ts)))
_reg("year")(lambda ts: F.year(_c(ts)))
_reg("month")(lambda ts: F.month(_c(ts)))
_reg("day")(lambda ts: F.dayofmonth(_c(ts)))
_reg("hour")(lambda ts: F.hour(_c(ts)))
_reg("minute")(lambda ts: F.minute(_c(ts)))
_reg("second")(lambda ts: F.second(_c(ts)))
# DuckDB dayofweek/weekday: 0=Sunday..6=Saturday; Spark's dayofweek is
# 1=Sunday..7=Saturday — shift so the DuckDB-name contract holds.
_reg("dayofweek", "weekday")(lambda ts: (F.dayofweek(_c(ts)) - F.lit(1)).cast("int"))
# DuckDB isodow: 1=Monday..7=Sunday.
_reg("isodow")(
    lambda ts: F.when(F.dayofweek(_c(ts)) == 1, F.lit(7))
    .otherwise(F.dayofweek(_c(ts)) - 1)
    .cast("int")
)
_reg("dayofyear")(lambda ts: F.dayofyear(_c(ts)))
_reg("week", "weekofyear")(lambda ts: F.weekofyear(_c(ts)))
_reg("quarter")(lambda ts: F.quarter(_c(ts)))
# epoch(ts) is DOUBLE seconds in the reference (fractional seconds kept;
# src/core_functions/scalar/date/epoch.cpp)
_reg("epoch")(lambda ts: (
    F.unix_micros(_c(ts).cast("timestamp_ltz")).cast("double") / 1000000.0
))
_reg("epoch_ms")(lambda ts: F.unix_millis(_c(ts).cast("timestamp_ltz")))
# timestamp_ltz: unix_micros needs an instant; the session default
# timestamp type is NTZ (session TZ pinned UTC, so same instant)
_reg("epoch_us")(lambda ts: F.unix_micros(_c(ts).cast("timestamp_ltz")))
_reg("epoch_ns")(lambda ts: (
    F.unix_micros(_c(ts).cast("timestamp_ltz")) * F.lit(1000).cast("bigint")
))
_reg("date_trunc", "datetrunc")(lambda part, ts: F.date_trunc(part, _c(ts)))
_reg("date_diff", "datediff")(lambda part, a, b: F.timestampdiff(part, _c(a), _c(b)))
_reg("date_add")(lambda d, n: F.date_add(_c(d), n))
_reg("date_sub")(lambda part, a, b: F.timestampdiff(part, _c(b), _c(a)))
_reg("age")(lambda a, b=None: F.expr(
    f"make_interval(0, 0, 0, datediff({_sql(a)}, {_sql(b) if b is not None else 'current_date()'}), 0, 0, 0)"
))
_reg("make_date")(lambda y, m, d: F.make_date(_c(y), _c(m), _c(d)))
_reg("make_timestamp")(lambda *a: F.make_timestamp(*[_c(x) for x in a]))
_reg("strftime")(lambda ts, fmt: F.date_format(_c(ts), _strf_to_java(fmt)))
_reg("strptime")(lambda s, fmt: F.to_timestamp(_c(s), _strf_to_java(fmt)))
_reg("to_timestamp")(lambda secs: F.timestamp_seconds(_c(secs)))
_reg("current_date", "today")(lambda: F.current_date())
_reg("now", "get_current_timestamp", "transaction_timestamp")(lambda: F.current_timestamp())
_reg("last_day")(lambda d: F.last_day(_c(d)))
_reg("time_bucket")(
    lambda width, ts: F.window(_c(ts), width).getField("start")
)


def _strf_to_java(fmt: str) -> str:
    """C strftime → Java SimpleDateFormat-ish (subset the tests use)."""
    table = {
        "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
        "%S": "ss", "%y": "yy", "%j": "DDD", "%b": "MMM", "%B": "MMMM",
        "%a": "EEE", "%A": "EEEE", "%I": "hh", "%p": "a", "%f": "SSSSSS",
        "%g": "SSS", "%%": "%",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


# --- math (reference src/core_functions/scalar/math/numeric.cpp) ---
for name, sfn in [
    ("abs", F.abs), ("sign", F.signum), ("ceil", F.ceil), ("ceiling", F.ceil),
    ("floor", F.floor), ("exp", F.exp), ("ln", F.log), ("log2", F.log2),
    ("log10", F.log10), ("sqrt", F.sqrt), ("cbrt", F.cbrt), ("sin", F.sin),
    ("cos", F.cos), ("tan", F.tan), ("asin", F.asin), ("acos", F.acos),
    ("atan", F.atan), ("sinh", F.sinh), ("cosh", F.cosh), ("tanh", F.tanh),
    ("asinh", F.asinh), ("acosh", F.acosh), ("atanh", F.atanh),
    ("degrees", F.degrees), ("radians", F.radians), ("factorial", F.factorial),
    ("bit_count", F.bit_count), ("isnan", F.isnan),
]:
    _reg(name)(lambda c, _s=sfn: _s(_c(c)))
_reg("round")(lambda c, d=0: F.round(_c(c), d))
_reg("trunc")(lambda c: _c(c).cast("long"))
_reg("pow", "power")(lambda a, b: F.pow(_c(a), _c(b)))
_reg("mod")(lambda a, b: _c(a) % _c(b))
_reg("fmod")(lambda a, b: _c(a) % _c(b))
_reg("pi")(lambda: F.lit(3.141592653589793))
_reg("atan2")(lambda y, x: F.atan2(_c(y), _c(x)))
# one-argument log is base 10 in DuckDB; log(b, x) is base b
_reg("log")(lambda b, x=None: F.log10(_c(b)) if x is None else F.log(float(b), _c(x)))
def _missing(name: str):
    def raiser(*_a, **_k):
        raise NotImplementedError(
            f"'{name}' has no Spark intrinsic; documented gap (SURVEY.md §7)"
        )

    return raiser


_reg("gamma")(_missing("gamma"))
_reg("lgamma")(_missing("lgamma"))
# Euclid via bounded fold (64 steps bounds any pair of 64-bit ints)
_reg("gcd", "greatest_common_divisor")(lambda a, b: F.expr(
    f"aggregate(sequence(1, 64), named_struct('a', CAST(abs({_sql(a)}) AS BIGINT),"
    f" 'b', CAST(abs({_sql(b)}) AS BIGINT)),"
    f" (acc, i) -> IF(acc.b = 0, acc, named_struct('a', acc.b, 'b', acc.a % acc.b)),"
    f" acc -> acc.a)"
))
_reg("even")(lambda x: (F.ceil(_c(x) / 2) * 2))
_reg("isinf")(lambda x: _c(x).isin(float("inf"), float("-inf")))
_reg("isfinite")(lambda x: ~(F.isnan(_c(x)) | _c(x).isin(float("inf"), float("-inf"))))
_reg("nextafter")(lambda a, b: _c(a))  # shim: no Spark intrinsic; documented gap
_reg("greatest")(lambda *cs: F.greatest(*[_c(x) for x in cs]))
_reg("least")(lambda *cs: F.least(*[_c(x) for x in cs]))
_reg("random")(lambda: F.rand())
_reg("setseed")(lambda s: F.lit(None))  # session-seed: use F.rand(seed) at call sites
_reg("xor")(lambda a, b: _c(a).bitwiseXOR(_c(b)))

# --- list/array (reference src/core_functions/scalar/list/; Spark HOFs 1:1) ---
_reg("list_value", "list_pack", "array_value")(lambda *cs: F.array(*[_c(x) for x in cs]))
_reg("list_extract", "list_element", "array_extract", "element_at")(
    lambda l, i: F.element_at(_c(l), i)
)
# DuckDB's bounds are 1-based and inclusive; Spark's slice takes a length
_reg("array_slice", "list_slice")(
    lambda l, a, b: F.slice(_c(l), _c(a), _c(b) - _c(a) + 1)
)
_reg("list_concat", "list_cat", "array_concat")(lambda *ls: F.concat(*[_c(x) for x in ls]))
_reg("list_contains", "array_contains", "list_has")(lambda l, v: F.array_contains(_c(l), v))
_reg("list_position", "list_indexof", "array_position")(lambda l, v: F.array_position(_c(l), v))
_reg("flatten")(lambda l: F.flatten(_c(l)))
_reg("list_sort", "array_sort")(lambda l: F.array_sort(_c(l)))
_reg("list_reverse_sort")(lambda l: F.reverse(F.array_sort(_c(l))))
_reg("list_distinct", "array_distinct")(lambda l: F.array_distinct(_c(l)))
_reg("list_unique")(lambda l: F.size(F.array_distinct(_c(l))))
_reg("list_transform", "array_transform", "apply", "list_apply")(
    lambda l, f: F.transform(_c(l), f)
)
_reg("list_filter", "array_filter")(lambda l, f: F.filter(_c(l), f))
_reg("list_reduce", "array_reduce", "reduce")(
    lambda l, f, init=None: F.aggregate(_c(l), _c(init) if init is not None else F.lit(None), f)
)
def _list_aggregate_col(l, aggname: str) -> Column:
    nn = f"filter({_sql(l)}, x -> x IS NOT NULL)"
    total = f"aggregate({{}}, CAST(0 AS DOUBLE), (a, x) -> a + x)"
    exprs = {
        "sum": total.format(_sql(l)),
        "min": f"array_min({_sql(l)})",
        "max": f"array_max({_sql(l)})",
        "avg": f"try_divide({total.format(nn)}, size({nn}))",
    }
    if aggname not in exprs:
        raise ValueError(f"list_aggregate: unsupported aggregate {aggname!r}")
    return F.expr(exprs[aggname])


_reg("list_aggregate", "list_aggr", "aggregate")(_list_aggregate_col)
_reg("list_zip", "array_zip")(lambda *ls: F.arrays_zip(*[_c(x) for x in ls]))
_reg("list_resize")(lambda l, n, v=None: F.expr(
    f"transform(sequence(1, {n}), i -> if(i <= size({_sql(l)}), {_sql(l)}[i-1], {('NULL' if v is None else repr(v))}))"
))
_reg("range", "generate_series")(lambda a, b=None, s=1: F.sequence(
    _c(a) if b is not None else F.lit(0),
    (_c(b) if b is not None else _c(a)) - (0 if b is not None else 1),
    F.lit(s),
))
_reg("list_min")(lambda l: F.array_min(_c(l)))
_reg("list_max")(lambda l: F.array_max(_c(l)))
def _list_sum_col(l) -> Column:
    # same element-type-dispatched fold as the SQL front door (NULL on
    # empty/all-NULL, exact integer accumulation, double for floats)
    from myduckdb_spark.sql import _list_sum_sql

    return F.expr(_list_sum_sql(_sql(l)))


_reg("list_sum")(_list_sum_col)
_reg("array_length", "len_list", "cardinality")(lambda l: F.size(_c(l)))
_reg("list_append", "array_append", "array_push_back")(lambda l, v: F.array_append(_c(l), v))
_reg("list_prepend", "array_prepend", "array_push_front")(lambda l, v: F.array_prepend(_c(l), v))
_reg("array_intersect", "list_intersect")(lambda a, b: F.array_intersect(_c(a), _c(b)))
_reg("list_union")(lambda a, b: F.array_union(_c(a), _c(b)))
_reg("list_has_any", "array_has_any")(lambda a, b: F.arrays_overlap(_c(a), _c(b)))
_reg("list_has_all", "array_has_all")(lambda a, b: F.size(F.array_except(_c(b), _c(a))) == 0)
# vector distance family (reference list_distance.cpp / array_functions.cpp)
_reg("list_inner_product", "list_dot_product")(lambda a, b: F.expr(
    f"aggregate(zip_with({_sql(a)}, {_sql(b)}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
))
_reg("list_distance")(lambda a, b: F.sqrt(F.expr(
    f"aggregate(zip_with({_sql(a)}, {_sql(b)}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *"
    f" (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)))
_reg("list_cosine_similarity")(lambda a, b: _cosine(a, b))
_reg("list_cosine_distance")(lambda a, b: F.lit(1.0) - _cosine(a, b))


def _cosine(a, b) -> Column:
    from myduckdb_spark.pipeline.dedup import cosine_sim_expr

    return cosine_sim_expr(_sql(a), _sql(b))


# --- map (reference src/core_functions/scalar/map/) ---
_reg("map")(lambda ks, vs: F.map_from_arrays(_c(ks), _c(vs)))
_reg("map_extract")(lambda m, k: F.element_at(_c(m), k))
_reg("map_entries")(lambda m: F.map_entries(_c(m)))
_reg("map_keys")(lambda m: F.map_keys(_c(m)))
_reg("map_values")(lambda m: F.map_values(_c(m)))
_reg("map_from_entries")(lambda l: F.map_from_entries(_c(l)))
_reg("map_concat")(lambda *ms: F.map_concat(*[_c(x) for x in ms]))
_reg("map_contains", "map_contains_key")(lambda m, k: F.map_contains_key(_c(m), k))

# --- struct / union emulation (reference struct_pack.cpp, union_*.cpp) ---
_reg("struct_pack", "row")(lambda **kw: F.struct(*[_c(v).alias(k) for k, v in kw.items()]))
_reg("struct_extract")(lambda s, f: _c(s).getField(f))
_reg("struct_insert")(lambda s, **kw: _c(s).withField(*next(iter(kw.items()))))
_reg("union_value")(lambda **kw: F.struct(
    F.lit(next(iter(kw))).alias("tag"), *[_c(v).alias(k) for k, v in kw.items()]
))
_reg("union_tag")(lambda u: _c(u).getField("tag"))
_reg("union_extract")(lambda u, tag: _c(u).getField(tag))

# --- json (reference extension/json/) ---
_reg("json_extract", "json_extract_path")(lambda j, p: F.get_json_object(_c(j), _duck_jsonpath(p)))
_reg("json_extract_string", "json_extract_path_text")(
    lambda j, p: F.get_json_object(_c(j), _duck_jsonpath(p))
)
_reg("json_array_length")(lambda j: F.json_array_length(_c(j)))
_reg("json_keys")(lambda j: F.json_object_keys(_c(j)))
_reg("json_valid")(lambda j: F.get_json_object(_c(j), "$").isNotNull())
def _json_structure_col(j) -> Column:
    # recursive per-row type inference (json_structure.cpp) — pandas UDF
    # via functions/jsonx.py; registered lazily on the active session
    from pyspark.sql import SparkSession

    from myduckdb_spark.functions.jsonx import register_json_udfs

    register_json_udfs(SparkSession.getActiveSession())
    return F.call_udf("json_structure", _c(j))


def _json_type_col(j, path=None) -> Column:
    from pyspark.sql import SparkSession

    from myduckdb_spark.functions.jsonx import register_json_udfs

    register_json_udfs(SparkSession.getActiveSession())
    p = F.lit("$") if path is None else _c(path)
    return F.call_udf("json_type", _c(j), p)


def _json_transform_col(j, structure) -> Column:
    # structure is a per-query constant (DuckDB binds it constant too:
    # json_transform.cpp) -> compiles to from_json with a DDL schema
    from myduckdb_spark.functions.jsonx import structure_to_ddl

    ddl, container = structure_to_ddl(structure)
    if container:
        return F.from_json(_c(j), ddl)
    return F.get_json_object(_c(j), "$").cast(ddl)


_reg("json_structure")(_json_structure_col)
_reg("json_type", "json_typeof")(_json_type_col)
_reg("json_transform", "json_transform_strict")(_json_transform_col)
_reg("to_json")(lambda c: F.to_json(_c(c)))
_reg("from_json")(lambda j, schema: F.from_json(_c(j), schema))
_reg("json_merge_patch")(lambda a, b: F.expr(
    f"to_json(map_concat(from_json({_sql(a)}, 'map<string,string>'), from_json({_sql(b)}, 'map<string,string>')))"
))


def _duck_jsonpath(p: str) -> str:
    """DuckDB '$.a.b' or JSON-pointer '/a/b/0' → Spark '$.a.b[0]'
    (numeric pointer segments index arrays)."""
    if p.startswith("/"):
        out = "$"
        for seg in p[1:].split("/"):
            out += f"[{seg}]" if seg.isdigit() else f".{seg}"
        return out
    return p


# --- generic (reference src/core_functions/scalar/generic/, casts) ---
_reg("coalesce")(lambda *cs: F.coalesce(*[_c(x) for x in cs]))
_reg("nullif")(lambda a, b: F.nullif(_c(a), _c(b)))
_reg("ifnull")(lambda a, b: F.coalesce(_c(a), _c(b)))
_reg("if", "iif")(lambda c, a, b: F.when(_c(c), _c(a)).otherwise(_c(b)))
_reg("typeof")(lambda c: F.expr(f"typeof({_sql(c)})"))
_reg("hash")(lambda *cs: F.xxhash64(*[_c(x) for x in cs]))
_reg("uuid", "gen_random_uuid")(lambda: F.expr("uuid()"))
_reg("try_cast")(lambda c, t: _c(c).try_cast(t))
_reg("cast")(lambda c, t: _c(c).cast(t))
_reg("constant_or_null")(lambda v, c: F.when(_c(c).isNull(), F.lit(None)).otherwise(_c(v)))
_reg("least_common_multiple", "lcm")(
    lambda a, b: (F.abs(_c(a) * _c(b)) / REGISTRY["gcd"](a, b)).cast("bigint")
)
_reg("stats")(lambda c: F.lit("see df.summary()"))
_reg("encode")(lambda s: F.encode(_c(s), "UTF-8"))
_reg("decode")(lambda b: F.decode(_c(b), "UTF-8"))
_reg("ord")(lambda s: F.ascii(_c(s)))


# --- regression aggregates (reference src/core_functions/aggregate/
# regression/regr_*.cpp, registered in function_list.cpp) — 1:1 Spark
# natives (Spark 3.4+). These are AGGREGATE expressions: use inside
# df.agg(...)/groupBy().agg(...). ---
_reg("regr_count")(lambda y, x: F.regr_count(_c(y), _c(x)))
_reg("regr_avgx")(lambda y, x: F.regr_avgx(_c(y), _c(x)))
_reg("regr_avgy")(lambda y, x: F.regr_avgy(_c(y), _c(x)))
_reg("regr_slope")(lambda y, x: F.regr_slope(_c(y), _c(x)))
_reg("regr_intercept")(lambda y, x: F.regr_intercept(_c(y), _c(x)))
_reg("regr_r2")(lambda y, x: F.regr_r2(_c(y), _c(x)))
_reg("regr_sxx")(lambda y, x: F.regr_sxx(_c(y), _c(x)))
_reg("regr_syy")(lambda y, x: F.regr_syy(_c(y), _c(x)))
_reg("regr_sxy")(lambda y, x: F.regr_sxy(_c(y), _c(x)))


# --- bitstring family (reference src/core_functions/scalar/bit/
# bitstring.cpp). DuckDB's BIT type is emulated as a '0'/'1' string
# (SURVEY §1.2); integer bit ops are native. ---
_reg("bitstring")(lambda s, n: F.lpad(_c(s), n, "0"))
_reg("get_bit")(
    lambda b, i: F.substring(_c(b), _c(i) + 1 if isinstance(i, Column) else i + 1, 1).cast("int")
)
_reg("set_bit")(lambda b, i, v: F.concat(
    F.substring(_c(b), 1, i), F.lit(str(v)), F.expr(f"substring({_sql(b)}, {i + 2})")
))
_reg("bit_position")(lambda sub, b: F.instr(_c(b), sub))
_reg("bitstring_len")(lambda b: F.length(_c(b)))

# --- enum family (reference src/core_functions/scalar/enum/
# enum_functions.cpp). Spark has no enum type; an enum is a registered
# ordered value list (string storage + dictionary metadata, SURVEY §1.2),
# and the enum functions are metadata lookups producing literals. ---
_ENUMS: dict[str, list[str]] = {}


def create_enum(name: str, values: list[str]) -> None:
    """CREATE TYPE name AS ENUM (values...)."""
    _ENUMS[name.lower()] = list(values)


def enum_values(name: str) -> list[str]:
    return list(_ENUMS[name.lower()])


_reg("enum_first")(lambda e: F.lit(_ENUMS[str(e).lower()][0]))
_reg("enum_last")(lambda e: F.lit(_ENUMS[str(e).lower()][-1]))
_reg("enum_range")(lambda e: F.array(*[F.lit(v) for v in _ENUMS[str(e).lower()]]))
_reg("enum_range_boundary")(lambda e, lo, hi: F.array(*[
    F.lit(v) for v in _ENUMS[str(e).lower()][
        _ENUMS[str(e).lower()].index(lo) : _ENUMS[str(e).lower()].index(hi) + 1
    ]
]))
_reg("enum_code")(lambda e, v: F.array_position(
    F.array(*[F.lit(x) for x in _ENUMS[str(e).lower()]]), _c(v)
).cast("int") - 1)


# --- interval constructors (reference src/core_functions/scalar/date/
# to_interval.cpp) → make_interval components. INTERVAL maps to Spark's
# interval types (SURVEY §1.2); TIME maps to the micros-since-midnight
# BIGINT convention. ---
_reg("to_years")(lambda n: F.make_interval(years=_c(n)))
_reg("to_months")(lambda n: F.make_interval(months=_c(n)))
_reg("to_days")(lambda n: F.make_interval(days=_c(n)))
_reg("to_hours")(lambda n: F.make_interval(hours=_c(n)))
_reg("to_minutes")(lambda n: F.make_interval(mins=_c(n)))
_reg("to_seconds")(lambda n: F.make_interval(secs=_c(n).cast("double")))
_reg("to_milliseconds")(lambda n: F.make_interval(secs=(_c(n) / 1000.0)))
_reg("to_microseconds")(lambda n: F.make_interval(secs=(_c(n) / 1000000.0)))
_reg("make_time")(lambda h, m, s: (
    (_c(h).cast("bigint") * 3600_000_000)
    + (_c(m).cast("bigint") * 60_000_000)
    + (_c(s).cast("double") * 1_000_000).cast("bigint")
))


# --- round-3 long-tail fills (reference string/bar.cpp, parse_path.cpp,
# jaro_winkler in string similarity family, date part extras, generic
# version/current_setting) ---
_reg("bar")(lambda x, mn, mx, width=80: F.expr(
    # reference bar(): ▇-bar of width proportional to (x-mn)/(mx-mn)
    f"repeat('█', CAST(greatest(least(({_sql(x)} - {mn}) / ({mx} - {mn}), 1.0), 0.0) * {width} AS INT))"
))
_reg("parse_path")(lambda p, sep="/": F.split(_c(p), _lit_regex_escape(sep)))
_reg("parse_filename")(lambda p, trim_ext=False, sep="/": (
    F.element_at(F.split(F.regexp_replace(_c(p), r"\.[^./\\]+$", ""), _lit_regex_escape(sep)), -1)
    if trim_ext
    else F.element_at(F.split(_c(p), _lit_regex_escape(sep)), -1)
))
_reg("parse_dirname")(lambda p, sep="/": F.expr(
    f"array_join(slice(split({_sql(p)}, '{sep}'), 1, greatest(size(split({_sql(p)}, '{sep}')) - 1, 0)), '{sep}')"
))
_reg("cot")(lambda x: F.lit(1.0) / F.tan(_c(x)))
_reg("isoyear")(lambda d: F.expr(f"extract(YEAROFWEEK FROM {_sql(d)})"))
_reg("era")(lambda d: F.when(F.year(_c(d)) > 0, 1).otherwise(0))
_reg("timezone")(lambda: F.expr("current_timezone()"))
_reg("julian")(lambda d: (
    F.datediff(_c(d).cast("date"), F.lit("2000-01-01").cast("date")) + F.lit(2451544.5)
))
_reg("to_centuries")(lambda n: F.make_interval(years=_c(n) * 100))
_reg("current_setting")(lambda name: F.lit(None).cast("string"))
_reg("txid_current")(lambda: F.lit(0).cast("bigint"))
_reg("version")(lambda: F.expr("version()"))
_reg("list_negative_inner_product", "list_negative_dot_product")(lambda a, b: -REGISTRY["list_inner_product"](a, b))
_reg("array_distance")(lambda a, b: REGISTRY["list_distance"](a, b))


# jaro/damerau need per-pair dynamic programming — no codegen-expression
# form exists, so they resolve to the Arrow-batched pandas UDFs that
# functions/udf.py::register_string_metrics registers (call it once per
# session; verified value-equal to DuckDB's native functions in tests).
# jaro_similarity is plain Jaro (no prefix boost) in the reference
# (src/core_functions/scalar/string/jaro_winkler.cpp:10); only the
# *_winkler names carry the boosted metric.
_reg("jaro_winkler_similarity", "jaro_winkler")(
    lambda a, b: F.call_udf("jaro_winkler_similarity", _c(a), _c(b))
)
_reg("jaro_similarity")(
    lambda a, b: F.call_udf("jaro_similarity", _c(a), _c(b))
)
_reg("damerau_levenshtein")(
    lambda a, b: F.call_udf("damerau_levenshtein", _c(a), _c(b))
)


# --- pattern matching (reference src/function/scalar/string/like.cpp,
# regexp.cpp; glob in like.cpp's glob kernel) ---
_reg("like")(lambda s, p: _c(s).like(p))
_reg("ilike")(lambda s, p: _c(s).ilike(p))
_reg("not_like")(lambda s, p: ~_c(s).like(p))
_reg("glob")(lambda s, p: _c(s).rlike(
    "^" + "".join(
        ".*" if ch == "*" else "." if ch == "?" else
        ch if ch.isalnum() else "\\" + ch
        for ch in p
    ) + "$"
))
_reg("regexp_full_match", "similar_to")(lambda s, p: _c(s).rlike(f"^(?:{p})$"))


# --- TIME WITH TIME ZONE family (reference dtime_tz_t, time.hpp;
# test/sql/types/time/test_time_tz.test) — registered from the
# dedicated module to keep the packing constants in one place ---
from myduckdb_spark.functions.timetz import register_timetz as _register_timetz  # noqa: E402

_register_timetz()

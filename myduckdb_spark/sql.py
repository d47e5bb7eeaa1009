"""SQL front door (reference EP1: parser→binder→optimizer→executor,
SURVEY.md §3 — all replaced by spark.sql).

``sql()`` registers the catalog views and runs the text through Spark SQL
after a dialect-translation pass, ``translate()``, for the DuckDB-isms that
appear in the reference's test corpus (reference parser surface:
src/parser/parser.cpp:190, transformer under src/parser/transform/).

The translator is text-level but *token-aware*, not blind regex. Every
pass rests on the lexer section at the top of this module, the one place
that knows where string literals and comments are:

* ``_code_mask(text)`` — one ``_LITERAL`` scan per text, giving an O(1)
  "is this position code?" lookup; nothing inside a literal or comment is
  ever rewritten;
* ``_code_matches(pattern, text)`` / ``_sub_code(pattern, repl, text)`` —
  ``re.finditer`` / ``re.sub`` restricted to matches that start in code;
* ``_matching(text, i)`` — the balanced ``()`` / ``[]`` / ``{}`` scanner,
  forward from an opener or backward from a closer;
* ``_split_args(text, sep, nest)`` — split on a separator at bracket
  depth 0; ``_depth_profile(text)`` — paren depth before each character;
* ``_rewrite_calls(text, name, fn)`` — rewrite each call site
  ``name(args)`` once from its parsed argument list, right to left, so
  nested calls and commas in subexpressions are handled.

``translate()`` expands macros and then runs ``_PASSES``, one ordered
table. An entry is either a text step, a function ``text -> text``, or a
call rule, a ``(call name, handler)`` pair. A call rule rewrites each site
once and never rescans its own output, so a handler may emit a call of its
own name (``any_value(x)`` → ``any_value(x, true)``). The loop skips a call
rule whose name is not among the text's call tokens.

Order is the one contract between entries: a rule sees every earlier
rule's output. Where a rule emits a call that a *later* rule would rewrite
again, it emits a placeholder name instead (``__rr_all``, ``__substr``,
``__isnan``, ``__tjm``), and a ``_sub_code`` step right after that later
rule renames it back, in code only.

The JSON arrow rewrite distinguishes ``j -> '$.k'`` from a lambda arrow
(``x -> 'y'`` inside transform/filter/...) by locating lambda-header
arrows inside higher-order-function arguments and leaving exactly those
alone — Spark SQL itself accepts ``->`` lambdas.
"""

from __future__ import annotations

import os
import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from myduckdb_spark import infoschema as ischema
from myduckdb_spark.catalog import TABLES, register_views
from myduckdb_spark.functions import typenames

# ------------------------------------------------------------------ lexer
#
# Every pass asks two questions of a statement: is this position code, or
# inside a string literal or comment? And where does this bracket close?
# Both are answered here, from one literal scan per text.

_LITERAL = re.compile(r"'(?:[^']|'')*'|--[^\n]*|/\*.*?\*/", re.S)


def _code_mask(text: str) -> bytearray:
    """One byte per position of ``text``, plus a trailing 0 for
    ``len(text)``: 0 in code, 2 at the first character of a string literal
    or comment, 1 inside the rest of it."""
    mask = bytearray(len(text) + 1)
    for m in _LITERAL.finditer(text):
        a, b = m.span()
        mask[a:b] = b"\x02" + b"\x01" * (b - a - 1)
    return mask


def _code_matches(pattern, text: str, flags: int = 0, pos: int = 0,
                  endpos: int | None = None, mask: bytearray | None = None):
    """Matches of ``pattern`` in ``text[pos:endpos]`` that start in code."""
    if mask is None:
        mask = _code_mask(text)
    rx = re.compile(pattern, flags)
    for m in rx.finditer(text, pos, len(text) if endpos is None else endpos):
        if not mask[m.start()]:
            yield m


def _sub_code(pattern, repl, text: str, flags: int = 0) -> str:
    """``re.sub`` over the matches that start in code; matches inside
    literals and comments are kept as they are."""
    mask = _code_mask(text)

    def sub(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    return re.compile(pattern, flags).sub(sub, text)


_BRACKETS = {
    "(": ("(", ")", 1), "[": ("[", "]", 1), "{": ("{", "}", 1),
    ")": (")", "(", -1), "]": ("]", "[", -1), "}": ("}", "{", -1),
}


def _matching(text: str, i: int, mask: bytearray | None = None) -> int:
    """Index of the bracket balancing the one at ``text[i]``: scans forward
    from an opener ``( [ {``, backward from a closer ``) ] }``, counting
    only that bracket kind and skipping literals and comments. -1 if
    unbalanced."""
    opener, closer, step = _BRACKETS[text[i]]
    if mask is None:
        mask = _code_mask(text)
    depth = 0
    while 0 <= i < len(text):
        if not mask[i]:
            c = text[i]
            if c == opener:
                depth += 1
            elif c == closer:
                depth -= 1
                if depth == 0:
                    return i
        i += step
    return -1


def _split_args(text: str, sep: str = ",", nest: str = "([",
                mask: bytearray | None = None) -> list[str]:
    """Split ``text`` on ``sep`` where no bracket of ``nest`` is open,
    outside literals and comments. ``mask`` is ``_code_mask(text)``."""
    if mask is None:
        mask = _code_mask(text)
    closers = "".join(_BRACKETS[c][1] for c in nest)
    parts, depth, start = [], 0, 0
    for i, c in enumerate(text):
        if mask[i]:
            continue
        if c in nest:
            depth += 1
        elif c in closers:
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return parts


def _depth_profile(text: str, mask: bytearray | None = None) -> list[int]:
    """Paren depth BEFORE each character, literals and comments skipped."""
    if mask is None:
        mask = _code_mask(text)
    depths, d = [], 0
    for i, c in enumerate(text):
        depths.append(d)
        if mask[i]:
            continue
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
    return depths


def _rewrite_calls(text: str, name: str, fn) -> str:
    """Rewrite each call site ``name(args...)`` once, to ``fn(args)``; a
    site where ``fn`` returns None stays. Sites are taken right to left,
    so an inner call is rewritten before the call around it and every
    site still to do keeps its position. The replacement text is never
    scanned again, so ``fn`` may emit a ``name(...)`` call itself."""
    mask = _code_mask(text)
    sites = list(_code_matches(rf"\b{name}\s*\(", text, re.I, mask=mask))
    for m in reversed(sites):
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        if close_idx < 0:
            continue
        args = _split_args(text[open_idx + 1 : close_idx],
                           mask=mask[open_idx + 1 : close_idx])
        rep = fn([a.strip() for a in args])
        if rep is None:
            continue
        text = text[: m.start()] + rep + text[close_idx + 1 :]
        mask = _code_mask(text)
    return text


_NUMERIC_TYPE_RE = (
    r"U?(?:TINY|SMALL|BIG|HUGE)?INT(?:EGER)?(?:[0-9]+)?|DOUBLE|FLOAT[48]?|"
    r"REAL|DEC(?:IMAL)?(?:\s*\([^)]*\))?|NUMERIC(?:\s*\([^)]*\))?"
)


def _is_numeric_arg(a: str) -> bool:
    """Syntactic test: does this SQL expression look numerically typed?
    Used to pick the construction overload of epoch_ms/to_timestamp
    (numeric -> timestamp) vs the extraction one (timestamp -> numeric).
    Column references (untypable at rewrite time) default to False — the
    extraction direction, which is the overwhelmingly common column case."""
    s = a.strip()
    if re.fullmatch(r"[-+0-9eE. \t()*/%]+", s) and re.search(r"[0-9]", s):
        return True
    if re.search(rf"::\s*(?:{_NUMERIC_TYPE_RE})\s*$", s, re.I):
        return True
    if re.match(
        rf"CAST\s*\(.*\bAS\s+(?:{_NUMERIC_TYPE_RE})\s*\)\s*$", s, re.I | re.S
    ):
        return True
    return False


# ------------------------------------------------------ arrow vs lambda

_HOFS = (
    "transform|filter|reduce|aggregate|exists|forall|zip_with|map_filter|"
    "map_zip_with|transform_keys|transform_values|array_sort|"
    "list_transform|list_filter|list_reduce"
)
_HOF_CALL = re.compile(rf"\b(?:{_HOFS})\s*\(", re.I)
_LAMBDA_HEADER = re.compile(r"^\s*(?:\(\s*\w+(?:\s*,\s*\w+)*\s*\)|\w+)\s*(->)")


def _lambda_arrow_positions(text: str, mask: bytearray) -> set[int]:
    """Positions of arrows that introduce a lambda body inside a known
    higher-order function's argument — the only arrows that must survive
    the JSON-operator rewrite."""
    banned: set[int] = set()
    for m in _code_matches(_HOF_CALL, text, mask=mask):
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        if close_idx < 0:
            continue
        s = open_idx + 1  # start offset of each top-level argument
        for arg in _split_args(text[s:close_idx], mask=mask[s:close_idx]):
            hm = _LAMBDA_HEADER.match(text[s:close_idx])
            if hm:
                banned.add(s + hm.start(1))
            s += len(arg) + 1
    return banned


def _rewrite_json_arrows(text: str) -> str:
    """``j -> 'path'`` / ``j ->> 'path'`` (json extract operators). The
    LHS is grabbed as a full operand (identifier, call, string literal,
    parenthesized/CASE expression) so casts and chains compose:
    ``'{...}'::JSON -> '/a/0' ->> 'b'``. Iterates until no eligible
    arrow remains, collapsing chains left to right."""
    while True:
        mask = _code_mask(text)
        banned = _lambda_arrow_positions(text, mask)
        replaced = False
        for m in _code_matches(r"->>|->", text, mask=mask):
            if m.start() in banned:
                continue
            # quoted path, or integer RHS = 0-based array index with
            # negatives from the end ('[1,2,3]'::JSON -> 1 = 2)
            rm = re.match(
                r"\s*'([^']*)'|\s*(-?\d+)(?![\w.])", text[m.end():]
            )
            dyn = None
            if not rm:
                # non-constant RHS (a column / simple call): resolve the
                # path at runtime in the python extractor (live oracle:
                # j -> k with k VARCHAR/BIGINT — test_json_arrow_expr)
                rm = re.match(
                    r"\s*([A-Za-z_][\w.]*(?:\([^()]*\))?)(?!\s*')",
                    text[m.end():],
                )
                if not rm or rm.group(1).upper() in (
                    "AND", "OR", "NOT", "THEN", "ELSE", "END", "FROM",
                    "WHERE", "AS", "IS", "IN", "CASE", "WHEN",
                ):
                    continue
                dyn = rm.group(1)
            try:
                st = _operand_start(text, m.start(), mask)
                # walk back over ::TYPE cast suffixes to the real operand
                # ('{...}'::JSON -> 'a' casts the literal, not "JSON")
                while True:
                    head = text[:st].rstrip()
                    if not head.endswith("::"):
                        break
                    st = _operand_start(text, len(head) - 2, mask)
            except ValueError:
                continue
            lhs = text[st:m.start()].strip()
            if not lhs:
                continue
            suffix = "_text" if m.group(0) == "->>" else ""
            if dyn is not None:
                # list-of-paths RHS keeps the LIST(JSON) extract form
                fn = ("__jx_list" if re.match(
                    r"(array|list_value|list_pack)\s*\(", dyn, re.I
                ) else "__jx_one")
                text = (
                    text[:st] + f"{fn}{suffix}({lhs}, {dyn})"
                    + text[m.end() + rm.end():]
                )
                replaced = True
                break
            path = rm.group(1) if rm.group(1) is not None else rm.group(2)
            if re.fullmatch(r"-?\d+", path):
                path = f"$[{path}]"
            elif not path.startswith("$") and (
                "/" in path or not re.fullmatch(r"\w+", path)
            ):
                # pointer spelling (leading '/' optional) or a literal
                # bare key with special chars ('a.b', 'a[0]', 'a b' are
                # single-key lookups, live oracle) — python extractor,
                # path passed verbatim
                text = (
                    text[:st] + f"__jx_one{suffix}({lhs}, '{path}')"
                    + text[m.end() + rm.end():]
                )
                replaced = True
                break
            elif not path.startswith("$"):
                path = f"$.{path}"
            if ".*" in path or re.search(r"\[\s*\*\s*\]", path):
                # wildcard paths return LIST(JSON) (json_common.cpp)
                repl = f"__jx_multi{suffix}({lhs}, '{path}')"
            elif re.search(r"\[\s*(#|-)", path) or re.search(r'\."', path):
                # from-the-end indexes and quoted keys (spaces, slashes,
                # escapes inside the key) — python extractor
                repl = f"__jx_one{suffix}({lhs}, '{path}')"
            elif m.group(0) == "->":
                # -> returns JSON (strings stay quoted, json_functions.cpp);
                # Spark 4's VARIANT extraction round-trips exact JSON.
                # DuckDB quotes odd keys as $."a.b"; Spark's variant path
                # wants bracket form $['a.b']
                vpath = re.sub(
                    r'\."((?:[^"])*)"', lambda q: f"['{q.group(1)}']", path
                )
                repl = (
                    f"nullif(to_json(try_variant_get(try_parse_json("
                    f"{lhs}), '{vpath}')), 'null')"
                )
            else:
                repl = f"get_json_object({lhs}, '{path}')"
            text = text[:st] + repl + text[m.end() + rm.end():]
            replaced = True
            break
        if not replaced:
            return text


# ------------------------------------------------------------- name rules

# simple name→name (call sites only, outside literals)
_STRF_CODES = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH", "I": "hh",
    "M": "mm", "S": "ss", "f": "SSSSSS", "g": "SSS", "p": "a", "j": "DDD",
    "b": "MMM", "h": "MMM", "B": "MMMM", "a": "EEE", "A": "EEEE",
    "-d": "d", "-m": "M", "-H": "H", "-M": "m", "-S": "s", "-j": "D",
    "-I": "h",
}
# %-y (two-digit year, no pad) has no Java pattern — special-cased in
# _strftime as year(x) % 100


def _strf_literal_to_java(fmt: str) -> str | None:
    """C strftime format literal → Spark DateTimeFormatter pattern, with
    Java-quoting of literal text. None when a code has no mapping."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            chunk = "".join(lit)
            if re.search(r"[A-Za-z']", chunk):
                out.append("'" + chunk.replace("'", "''") + "'")
            else:
                out.append(chunk)
            lit.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            code = fmt[i + 1 : i + 2]
            if code == "-":
                code = fmt[i + 1 : i + 3]
            if code == "%":
                lit.append("%")
                i += 2
                continue
            if code not in _STRF_CODES:
                return None
            flush()
            out.append(_STRF_CODES[code])
            i += 1 + len(code)
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


def _escape_literal_backslashes(text: str) -> str:
    """Double backslashes inside single-quoted literals (comments and
    the rest of the text untouched)."""
    if "\\" not in text:
        return text
    out = []
    last = 0
    for m in _LITERAL.finditer(text):
        seg = m.group(0)
        out.append(text[last : m.start()])
        out.append(seg.replace("\\", "\\\\") if seg.startswith("'") else seg)
        last = m.end()
    out.append(text[last:])
    return "".join(out)


_NAME_RULES = {
    "list_transform": "transform",
    "list_filter": "filter",
    "list_reduce": "reduce",
    "list_concat": "concat",
    "list_cat": "concat",
    "list_value": "array",
    "list_pack": "array",
    "list_reverse": "reverse",
    "list_min": "array_min",
    "list_max": "array_max",
    "array_length": "size",
    "list_has_any": "arrays_overlap",
    "array_to_string": "array_join",
    "json_extract_string": "get_json_object",
    "regexp_matches": "rlike",
}

# DuckDB type spellings translate() renames to their Spark type as bare
# words. 128-bit widths widen to the engine's carriers. Unsigned types are
# handled inside the cast rewrite with RANGE GUARDS — a bare rename would
# silently accept out-of-range values. Spellings that double as column
# names (TEXT, JSON, LONG, ...) are left alone.
_TYPE_RENAMES = {
    t: typenames.spark_ddl(t).lower()
    for t in ("int1", "int2", "int4", "int8", "float4", "float8", "logical",
              "bytea", "blob", "varbinary", "hugeint", "uhugeint")
}
_TYPE_RENAME_RE = re.compile(
    rf"\b({'|'.join(_TYPE_RENAMES)})\b(?!\s*\()", re.I
)

_LISTY = re.compile(
    r"^\s*\[|\b(split|string_split\w*|string_to_array|regexp_extract_all|sequence|"
    r"array\w*|collect_list|collect_set|list_\w+|map_keys|map_values|transform|"
    r"filter|slice|flatten|json_keys|__json_keys\w*|__jx_multi\w*|"
    r"__jx_list\w*)\s*\(",
    re.I,
)


# ---------------------------------------------------------------- QUALIFY

_QUALIFY = re.compile(r"\bQUALIFY\b", re.I)
_SELECT = re.compile(r"\bSELECT\b(\s+DISTINCT\b)?", re.I)
_Q_TERM = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|WINDOW)\b", re.I)
_AS_ALIAS = re.compile(r"\bAS\s+([A-Za-z_]\w*)\s*$", re.I)
_BARE_COL = re.compile(r"^[A-Za-z_][\w.]*$")


def _rewrite_qualify(text: str) -> str:
    """Hoist ``QUALIFY <pred>`` (reference binder
    src/planner/binder/query_node/bind_select_node.cpp) into
    window-projection + filter: the owning SELECT list gains a
    ``(<pred>) AS __qualify`` column (window functions are legal in a
    select list), and an outer SELECT of the original output names filters
    on it. Requires every select-list item to be a bare column or carry an
    ``AS`` alias — the shape of the reference's QUALIFY corpus."""
    while True:
        mask = _code_mask(text)
        depths = _depth_profile(text, mask)
        qm = next(_code_matches(_QUALIFY, text, mask=mask), None)
        if qm is None:
            return text
        qd = depths[qm.start()]
        sel = None
        for sm in _code_matches(_SELECT, text, mask=mask):
            if sm.start() < qm.start() and depths[sm.start()] == qd:
                sel = sm
        if sel is None:
            raise ValueError("QUALIFY without owning SELECT")
        # end of this query block: first ')' dropping below qd, else EOS
        end = len(text)
        for i in range(qm.end(), len(text)):
            if not mask[i] and text[i] == ")" and depths[i] == qd:
                end = i
                break
        # predicate runs to the first same-depth terminator clause
        pred_end = end
        for tm in _code_matches(_Q_TERM, text, pos=qm.end(), endpos=end, mask=mask):
            if depths[tm.start()] == qd:
                pred_end = tm.start()
                break
        pred = text[qm.end() : pred_end].strip()
        tail = text[pred_end:end]
        # select list spans from after SELECT [DISTINCT] to the same-depth FROM
        from_m = None
        for fm in _code_matches(r"\bFROM\b", text, re.I, mask=mask):
            if sel.end() < fm.start() < qm.start() and depths[fm.start()] == qd:
                from_m = fm
                break
        if from_m is None:
            raise ValueError("QUALIFY SELECT without FROM")
        items = [a.strip() for a in _split_args(text[sel.end() : from_m.start()])]
        names = []
        auto_aliased = list(items)
        for i, it in enumerate(items):
            am = _AS_ALIAS.search(it)
            if am:
                names.append(am.group(1))
            elif _BARE_COL.match(it):
                names.append(it.split(".")[-1])
            elif it == "*":
                raise ValueError("QUALIFY with SELECT * needs explicit columns")
            else:
                # expression without an alias: auto-name it (the value
                # canon maps columns positionally when names differ)
                names.append(f"__q{i}")
                auto_aliased[i] = f"{it} AS __q{i}"
        items = auto_aliased
        # the reference binder applies DISTINCT *after* QUALIFY
        # (bind_select_node.cpp) — so strip it from the inner projection
        # (which carries the extra __qualify column) and dedupe the outer
        # projection of the original output columns instead.
        distinct = " DISTINCT" if sel.group(1) else ""
        inner = (
            "SELECT "
            + ", ".join(items)
            + f", ({pred}) AS __qualify "
            + text[from_m.start() : qm.start()]
        )
        new_block = (
            f"SELECT{distinct} "
            + ", ".join(names)
            + f" FROM ({inner}) __qt WHERE __qualify "
            + tail
        )
        text = text[: sel.start()] + new_block + text[end:]


_DISTINCT_ON = re.compile(r"\bDISTINCT\s+ON\s*\(", re.I)


def _rewrite_distinct_on(text: str) -> str:
    """DuckDB ``SELECT DISTINCT ON (keys) cols ... [ORDER BY o]`` → keep the
    first row per key combination in ORDER BY order (reference transformer
    src/parser/transform/statement/transform_select_node.cpp): rewritten to
    a row_number()-over-keys projection filtered to 1 — the same plan the
    reference builds. Select-list items must be bare columns or aliased
    (as with QUALIFY)."""
    while True:
        mask = _code_mask(text)
        # rewrite the RIGHTMOST occurrence first: a DISTINCT ON nested in
        # a select-item subquery must be expanded before the outer one
        # splices that item's text into its PARTITION BY
        ms = list(_code_matches(_DISTINCT_ON, text, mask=mask))
        m = ms[-1] if ms else None
        if m is None:
            return text
        depths = _depth_profile(text, mask)
        keys_close = _matching(text, m.end() - 1, mask)
        keys = text[m.end() : keys_close].strip()
        qd = depths[m.start()]
        end = len(text)
        for i in range(keys_close, len(text)):
            if not mask[i] and text[i] == ")" and depths[i] == qd:
                end = i
                break
        # FROM at the same depth bounds the select list
        from_m = None
        for fm in _code_matches(r"\bFROM\b", text, re.I, mask=mask):
            if keys_close < fm.start() < end and depths[fm.start()] == qd:
                from_m = fm
                break
        if from_m is None:
            raise ValueError("DISTINCT ON without FROM")
        items = [a.strip() for a in _split_args(text[keys_close + 1 : from_m.start()])]
        names = []
        exprs = []  # the item's expression without its alias
        for idx, it in enumerate(items):
            am = _AS_ALIAS.search(it)
            if it == "*":
                # DISTINCT ON (k) *: project everything back out except
                # the helper rank (Spark 4 star-EXCEPT)
                names.append("* EXCEPT (__don)")
                exprs.append(it)
            elif am:
                names.append(am.group(1))
                exprs.append(it[: am.start()].strip())
            elif _BARE_COL.match(it):
                names.append(it.split(".")[-1])
                exprs.append(it)
            else:
                # computed item without an alias: auto-alias (the value
                # set is what the comparison target checks, not the name)
                names.append(f"__dn{idx}")
                exprs.append(it)
                items[idx] = f"{it} AS __dn{idx}"
        # positional keys (DISTINCT ON (1) — reference transform_select_node
        # resolves select-list ordinals) → the item's expression
        keys = ", ".join(
            exprs[int(k) - 1] if re.fullmatch(r"\d+", k.strip()) else k
            for k in _split_args(keys)
        )
        # optional same-depth ORDER BY orders within each key partition
        ob = None
        for om in _code_matches(r"\bORDER\s+BY\b", text, re.I, mask=mask):
            if from_m.end() < om.start() < end and depths[om.start()] == qd:
                ob = om
                break
        if ob is not None:
            lim = next(
                (
                    lm
                    for lm in _code_matches(r"\bLIMIT\b", text, re.I, mask=mask)
                    if ob.end() < lm.start() < end and depths[lm.start()] == qd
                ),
                None,
            )
            order = text[ob.end() : lim.start() if lim else end].strip()
            body = text[from_m.start() : ob.start()]
            # the outer result can only be ordered by PROJECTED columns;
            # if the ORDER BY references others (legal in DuckDB, which
            # orders pre-projection) the outer ordering is dropped — row
            # order of a DISTINCT ON result is then unspecified, as in SQL
            order_ids = {
                re.match(r"[A-Za-z_][\w.]*", it.strip()).group(0).split(".")[-1]
                for it in _split_args(order)
                if re.match(r"[A-Za-z_][\w.]*", it.strip())
            }
            keep_outer = order_ids <= set(names)
            tail = (" " + text[ob.start() : end]) if keep_outer else (
                " " + text[lim.start() : end] if lim else ""
            )
        else:
            order = keys
            body = text[from_m.start() : end]
            tail = ""
        # owning SELECT: last same-depth, non-literal SELECT before the
        # DISTINCT ON token (case-insensitive — rfind("SELECT") missed
        # lowercase sources and then spliced at -1, looping forever)
        sel_start = None
        for sm in _code_matches(r"\bSELECT\b", text, re.I, mask=mask):
            if sm.start() < m.start() and depths[sm.start()] == qd:
                sel_start = sm.start()
        if sel_start is None:
            raise ValueError("DISTINCT ON without owning SELECT")
        # pin DuckDB's default NULLS LAST inside the window order (Spark
        # defaults to NULLS FIRST on ASC — a different row would win)
        worder = ", ".join(
            o if re.search(r"\bNULLS\s+(FIRST|LAST)\b", o, re.I) else o + " NULLS LAST"
            for o in (x.strip() for x in _split_args(order))
        )
        inner = (
            "SELECT "
            + ", ".join(items)
            + f", row_number() OVER (PARTITION BY {keys} ORDER BY {worder}) AS __don "
            + body
        )
        new_block = "SELECT " + ", ".join(names) + f" FROM ({inner}) __dt WHERE __don = 1" + tail
        text = text[:sel_start] + new_block + text[end:]


_W_EXCLUDE = re.compile(r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*", re.I)
_ORDER_SUFFIX = re.compile(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$", re.I)


def _exclude_expansion(fn: str, arg: str, spec: str, mode: str) -> str:
    """Expand ``fn(arg) OVER (spec EXCLUDE mode)`` into the subtraction
    pattern of operators/window_ex.py (reference window_expression.hpp:63):
    frame aggregate minus the excluded rows' contribution, with peer rows
    keyed on order-by VALUE equality. Exact for sum/count/avg whenever
    every excluded row lies inside the frame — the same eligibility rule
    agg_exclude enforces on the DataFrame path."""
    if mode == "no others":
        return f"{fn}({arg}) OVER ({spec})"
    if fn not in ("sum", "count", "avg"):
        raise NotImplementedError(
            f"window EXCLUDE front-door rewrite supports sum/count/avg, got {fn}"
        )
    if re.match(r"DISTINCT\b", arg, re.I):
        raise NotImplementedError(
            "EXCLUDE with DISTINCT aggregates is not subtraction-expressible"
        )
    part = re.search(
        r"\bPARTITION\s+BY\s+(.*?)(?=\bORDER\s+BY\b|\bROWS\b|\bRANGE\b|\bGROUPS\b|$)",
        spec, re.I | re.S,
    )
    order = re.search(
        r"\bORDER\s+BY\s+(.*?)(?=\bROWS\b|\bRANGE\b|\bGROUPS\b|$)", spec, re.I | re.S
    )
    frame = re.search(r"\b(ROWS|RANGE|GROUPS)\b(.*)$", spec, re.I | re.S)

    if frame:
        ftype = frame.group(1).lower()
        if ftype == "groups":
            raise NotImplementedError("GROUPS frames are not supported")
        fspec = frame.group(2).strip()
        bm = re.match(r"BETWEEN\s+(.+?)\s+AND\s+(.+)$", fspec, re.I | re.S)
        lo, hi = (bm.group(1), bm.group(2)) if bm else (fspec, "CURRENT ROW")

        def side(b: str) -> int:
            b = b.strip().upper()
            return 0 if b == "CURRENT ROW" else (-1 if b.endswith("PRECEDING") else 1)

        straddle = side(lo) <= 0 <= side(hi)
        unbounded = (
            lo.strip().upper() == "UNBOUNDED PRECEDING"
            and hi.strip().upper() == "UNBOUNDED FOLLOWING"
        )
    else:
        # default frame: whole partition without ORDER BY, else
        # RANGE UNBOUNDED PRECEDING..CURRENT ROW (peers included at the
        # boundary — subtraction stays exact)
        ftype, straddle = "range", True
        unbounded = order is None
    exact = (
        (mode == "current row" and straddle)
        or unbounded
        or (ftype == "range" and straddle)
    )
    if not exact:
        raise NotImplementedError(
            f"EXCLUDE {mode.upper()} under a bounded {ftype.upper()} frame needs "
            "the frame-materialization path (operators/window_ex.agg_exclude)"
        )

    pkeys = [a.strip() for a in _split_args(part.group(1))] if part else []
    if order:
        pkeys += [
            _ORDER_SUFFIX.sub("", o.strip()) for o in _split_args(order.group(1))
        ]
    wspec = f"({spec})"
    pspec = "(PARTITION BY " + ", ".join(pkeys) + ")" if pkeys else "()"
    star = arg.strip() == "*"
    fs, ps = f"SUM({arg}) OVER {wspec}", f"SUM({arg}) OVER {pspec}"
    fc, pc = f"COUNT({arg}) OVER {wspec}", f"COUNT({arg}) OVER {pspec}"
    cur = "1" if star else f"(CASE WHEN ({arg}) IS NOT NULL THEN 1 ELSE 0 END)"
    if mode == "current row":
        c = f"({fc} - {cur})"
        s = f"(CASE WHEN ({arg}) IS NULL THEN {fs} ELSE {fs} - ({arg}) END)"
    elif mode == "group":
        c = f"({fc} - {pc})"
        s = f"COALESCE({fs} - {ps}, {fs})"
    else:  # ties: peers out, self stays
        c = f"({fc} - {pc} + {cur})"
        s = (
            f"(CASE WHEN ({arg}) IS NULL THEN COALESCE({fs} - {ps}, {fs})"
            f" ELSE {fs} - {ps} + ({arg}) END)"
        )
    if fn == "count":
        return c
    if fn == "sum":
        return f"(CASE WHEN {c} > 0 THEN {s} ELSE NULL END)"
    return f"(CASE WHEN {c} > 0 THEN CAST({s} AS DOUBLE) / {c} ELSE NULL END)"


_ANYALL = re.compile(r"(=|<>|!=|<=|>=|<|>)\s*(ANY|SOME|ALL)\s*\(", re.I)


def _operand_start(text: str, end: int, mask: bytearray) -> int:
    """Start offset of the simple operand ending at ``end`` (exclusive):
    a parenthesized expression (with optional function name), a possibly
    qualified identifier, a number, or a string literal. ``mask`` is
    ``_code_mask(text)``."""
    i = end
    while i > 0 and text[i - 1].isspace():
        i -= 1
    if i > 0 and text[i - 1] == ")":
        j = _matching(text, i - 1, mask)
        fm = re.search(r"([A-Za-z_]\w*)\s*$", text[:j])
        # a preceding word is a function name unless it's a keyword
        # (`SELECT (1+1)^2` — the paren expression stands alone)
        if fm and fm.group(1).upper() not in _UNARY_KEYWORDS:
            return fm.start(1)
        return j
    m = re.search(r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*|\d+(?:\.\d+)?|'[^']*')\s*$", text[:i])
    if m is None:
        raise ValueError("cannot locate ANY/ALL left operand")
    if m.group(1).startswith("'"):
        # typed literal (`TIMESTAMP '...'`, `DATE '...'`): the type keyword
        # is part of the operand
        tm = re.search(
            r"\b(DATE|TIME|TIMESTAMP|TIMESTAMPTZ|INTERVAL)\s*$", text[: m.start(1)], re.I
        )
        if tm:
            return tm.start(1)
    if m.group(1).upper() == "END":
        # operand is a CASE expression — walk back to its matching CASE
        depth_case = 1
        for km in reversed(list(_code_matches(
                r"\b(CASE|END)\b", text[: m.start(1)], re.I, mask=mask))):
            depth_case += 1 if km.group(1).upper() == "END" else -1
            if depth_case == 0:
                return km.start()
        raise ValueError("unbalanced CASE/END before operand")
    return m.start(1)


def _operand_end(text: str, start: int, mask: bytearray) -> int:
    """End offset (exclusive) of the simple operand starting at ``start``:
    optional unary sign, then a call/identifier/number/literal/paren
    expression, then optional ::type cast suffixes. ``mask`` is
    ``_code_mask(text)``."""
    i = start
    n = len(text)
    while i < n and text[i].isspace():
        i += 1
    if i < n and text[i] in "+-":
        i += 1
        while i < n and text[i].isspace():
            i += 1
    if i < n and text[i] == "(":
        i = _matching(text, i, mask) + 1
    else:
        m = re.match(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*|\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|'[^']*'", text[i:])
        if m is None:
            raise ValueError(f"cannot locate operand at {text[i:i+30]!r}")
        i += m.end()
        j = i
        while j < n and text[j].isspace():
            j += 1
        if j < n and text[j] == "(":  # function call
            i = _matching(text, j, mask) + 1
    # ::type suffix binds tighter than the power operator (ARRAY<...>
    # forms appear once _rewrite_array_types has run)
    while True:
        m = re.match(
            r"\s*::\s*\w+(?:\s*<[^<>]*(?:<[^<>]*>[^<>]*)*>)?"
            r"(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?",
            text[i:],
        )
        if m is None:
            return i
        i += m.end()


# Names the typeof()/scan registry bind accepts: the types whose Spark
# carrier erases the declared name (typenames.ERASED), plus TIME, which
# reaches a scan only from the CSV sniffer's STRING-carrier demotion
# (io.py _fix_time_columns); DDL TIME is the µs-BIGINT convention.
# COPY TO parquet persists these names as field metadata so a file scan
# round-trips them (the reference parquet writer keeps its own logical
# types natively).
_REGISTRY_BOUND = typenames.ERASED | {"TIME"}


# DuckDB name -> Spark typeof() name, for UNION member bind-time matching
_TYPEOF_NAMES = {v: k for k, v in typenames.SPARK_NAMES.items()}


def _rewrite_union_casts(text: str) -> str:
    """``x::UNION(a T1, b T2)`` / ``CAST(x AS UNION(...))`` — the UNION
    carrier is STRUCT{tag, members...} with EVERY member present so
    union_tag/union_extract/to_json work after the cast (reference
    union_cast.cpp). A tagged carrier input widens into the new member
    set; a NULL literal becomes a typed NULL struct; any other operand
    binds its member by Spark-type match via typeof() — constant per
    query, so the CASE dispatch collapses statically, mirroring the
    reference's bind-time member resolution."""
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(r"(::\s*|\bAS\s+)UNION\s*\(", text, re.I, mask=mask), None)
        if m is None:
            return text
        close = _matching(text, m.end() - 1, mask)
        members = []
        ok = True
        for part in _split_args(text[m.end():close]):
            pm = re.match(r"\s*(\w+)\s+(.+?)\s*$", part, re.S)
            if not pm:
                ok = False
                break
            members.append(
                (pm.group(1), typenames.spark_ddl(pm.group(2).strip().upper()))
            )
        if not ok or not members:
            return text  # not a UNION type spec after all
        if m.group(1).strip() == "::":
            op_start = _operand_start(text, m.start(), mask)
            operand = text[op_start:m.start()].strip()
            lo, hi = op_start, close + 1
        else:
            # CAST(x AS UNION(...)): walk back to the enclosing CAST(
            j = m.start()
            depth = 0
            while j > 0:
                j -= 1
                if mask[j]:
                    continue
                if text[j] == ")":
                    depth += 1
                elif text[j] == "(":
                    if depth == 0:
                        break
                    depth -= 1
            km = re.search(r"(TRY_)?CAST\s*$", text[:j], re.I)
            if not km:
                return text
            operand = text[j + 1 : m.start()].strip()
            operand = re.sub(r"\s+AS\s*$", "", operand, flags=re.I)
            end = close + 1
            while end < len(text) and text[end].isspace():
                end += 1
            if end >= len(text) or text[end] != ")":
                return text
            lo, hi = km.start(), end + 1
        text = text[:lo] + _union_cast_expr(operand, members) + text[hi:]


def _union_cast_expr(operand: str, members: list[tuple[str, str]]) -> str:
    struct_ddl = "STRUCT<tag: STRING, " + ", ".join(
        f"`{n}`: {t}" for n, t in members
    ) + ">"
    if re.fullmatch(r"NULL", operand, re.I):
        return f"CAST(NULL AS {struct_ddl})"
    cm = re.match(
        r"named_struct\s*\(\s*'tag'\s*,\s*'(\w+)'\s*,", operand, re.I
    )
    if cm and operand.endswith(")"):
        # tagged carrier in: widen to the target member set
        inner = _split_args(operand[operand.index("(") + 1 : -1])
        vals = {}
        for i in range(2, len(inner) - 1, 2):
            km = re.fullmatch(r"\s*'(\w+)'\s*", inner[i])
            if km:
                vals[km.group(1)] = inner[i + 1]
        fields = ", ".join(
            f"'{n}', CAST({vals[n]} AS {t})" if n in vals
            else f"'{n}', CAST(NULL AS {t})"
            for n, t in members
        )
        return f"named_struct('tag', '{cm.group(1)}', {fields})"
    # arbitrary operand: bind the member whose Spark type matches
    spellings = [_TYPEOF_NAMES.get(typenames.duck_name(t)) for _, t in members]
    conds = [f"typeof({operand}) = '{s}'" if s else None for s in spellings]
    tag_whens = " ".join(
        f"WHEN {c} THEN '{n}'"
        for (n, _), c in zip(members, conds) if c
    )
    tag = f"CASE {tag_whens} ELSE '{members[0][0]}' END"
    others = [c for c in conds[1:] if c]
    fields = []
    for i, ((n, t), c) in enumerate(zip(members, conds)):
        if i == 0:
            cond = c or "false"
            if others:
                cond = f"({cond}) OR NOT ({' OR '.join(others)})"
            else:
                cond = "true"
        else:
            cond = c or "false"
        fields.append(
            f"'{n}', CASE WHEN {cond} THEN TRY_CAST({operand} AS {t}) END"
        )
    return f"named_struct('tag', {tag}, {', '.join(fields)})"


def _bracket_is_index(text: str, i: int) -> bool:
    """True when the ``[`` at i follows an operand (indexing/slicing),
    False when it opens a list literal (follows a keyword, operator,
    comma, or start of text)."""
    j = i - 1
    while j >= 0 and text[j].isspace():
        j -= 1
    if j < 0:
        return False
    ch = text[j]
    if ch in ")]'\"":
        return True
    if ch.isalnum() or ch == "_":
        wm = re.search(r"([A-Za-z_]\w*)$", text[: j + 1])
        if wm and wm.group(1).upper() in _UNARY_KEYWORDS | {
            "FROM", "JOIN", "GROUP", "USING", "ARRAY", "UNION", "INTERSECT",
            "EXCEPT", "OVER", "PARTITION",
        }:
            return False
        return True
    return False


_ARRAY_TYPE_WORDS = (
    "tinyint|smallint|integer|bigint|hugeint|utinyint|usmallint|uinteger|"
    "ubigint|int[1248]?|varchar|text|string|bpchar|char|double|float[48]?|"
    "real|boolean|bool|logical|date|timestamptz|timestamp|timetz|time|"
    "interval|blob|bytea|binary|uuid|json|decimal|numeric"
)
_ARRAY_TYPE = re.compile(
    rf"\b((?:{_ARRAY_TYPE_WORDS})(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
    r"((?:\s*\[\s*\d*\s*\])+)",
    re.I,
)


def _rewrite_array_types(text: str) -> str:
    """DuckDB's postfix array type syntax — ``INT[]``, ``VARCHAR[][]``,
    fixed-size ``INT[3]`` (reference src/parser/transform/helpers/
    transform_typename.cpp) — becomes Spark's ``ARRAY<...>``. Fixed-size
    bounds drop (Spark arrays are unbounded). Runs before the bracket
    rewrites so ``[]`` is never mistaken for a list literal. A string
    literal cast to an array type parses the string (DuckDB VectorStringCast)
    — Spark needs from_json for that, handled here for the literal case.

    A type word followed by brackets is only a TYPE in type positions —
    ``date[1]`` in a SELECT list is indexing a column named ``date``
    (DuckDB's parser agrees: T[...] is a type only in type contexts).
    Guards: never rewrite a qualified reference (``t.date[2]``); rewrite
    the digit-bracket (fixed-size) form only when the match sits in a type
    position — after ``::``, after ``AS`` (CAST), or after a plain
    identifier (a column name in DDL / RETURNS position). Empty ``[]`` is
    never valid indexing, so it rewrites anywhere except after ``.``."""

    # keywords that put the NEXT token in expression (operand) position —
    # a type word after one of these followed by [digits] is indexing
    _EXPR_KEYWORDS = {
        "SELECT", "WHERE", "BY", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
        "ELSE", "CASE", "HAVING", "SET", "IN", "DISTINCT", "ALL", "LIKE",
        "ILIKE", "GLOB", "BETWEEN", "IS", "FROM", "JOIN", "USING", "LIMIT",
        "OFFSET", "VALUES", "UNION", "INTERSECT", "EXCEPT", "OVER",
        "PARTITION", "ASC", "DESC", "NULLS", "ESCAPE", "EXISTS", "ANY",
        "SOME", "QUALIFY", "RETURNING", "IF", "COALESCE", "NULLIF",
    }

    def _type_position(start: int, fixed_size: bool) -> bool:
        before = text[:start].rstrip()
        if before.endswith("."):
            return False  # qualified column reference, never a type
        if not fixed_size:
            return True  # empty [] is never valid indexing
        if before.endswith("::"):
            return True
        wm = re.search(r"([A-Za-z_]\w*)$", before)
        if not wm:
            return False  # operand position (after '(' ',' operator, start)
        word = wm.group(1).upper()
        if word == "AS":
            return True  # CAST(... AS T[3])  /  column alias can't be indexed
        # a plain identifier before a type word = DDL column def / RETURNS;
        # an expression-introducing keyword = operand position (indexing)
        return word not in _EXPR_KEYWORDS

    def repl(m: re.Match) -> str:
        fixed = bool(re.search(r"\[\s*\d", m.group(2)))
        if not _type_position(m.start(), fixed):
            return m.group(0)
        out = m.group(1)
        for _ in range(m.group(2).count("[")):
            out = f"ARRAY<{out}>"
        return out

    out = _sub_code(_ARRAY_TYPE, repl, text)
    if out == text:
        return text

    # '...'::ARRAY<T> and CAST('...' AS ARRAY<T>) → from_json (the only
    # statically-recognizable string→list casts)
    # guard on the TYPE token's position (the match itself starts at a
    # string literal, which is of course inside a literal span)
    angle = r"ARRAY\s*<[^<>]*(?:<[^<>]*>[^<>]*)*>"

    def _jsonify(lit: str) -> str:
        # DuckDB's list-cast text allows bare NULL in any case; JSON only
        # knows lowercase null
        return re.sub(r"\bNULL\b", "null", lit, flags=re.I)

    mask = _code_mask(out)
    out = re.sub(
        rf"('(?:[^']|'')*')\s*::\s*({angle})",
        lambda m: m.group(0)
        if mask[m.start(2)]
        else f"from_json({_jsonify(m.group(1))}, '{m.group(2)}')",
        out,
        flags=re.I,
    )
    mask = _code_mask(out)
    out = re.sub(
        rf"\bCAST\s*\(\s*('(?:[^']|'')*')\s+AS\s+({angle})\s*\)",
        lambda m: m.group(0)
        if mask[m.start(2)]
        else f"from_json({_jsonify(m.group(1))}, '{m.group(2)}')",
        out,
        flags=re.I,
    )
    return out


def _rewrite_bracket_lists(text: str) -> str:
    """DuckDB's ``[1, 2, 3]`` list literals → ``array(...)`` (Spark has no
    bracket literal). A ``[`` preceded by an operand is INDEXING and is
    left for _rewrite_index_brackets."""
    while True:
        mask = _code_mask(text)
        # a '[' after an operand is indexing, not a list literal
        site = next((b.start() for b in _code_matches(r"\[", text, mask=mask)
                     if not _bracket_is_index(text, b.start())), -1)
        if site < 0:
            return text
        close = _matching(text, site, mask)
        if close < 0:
            return text
        inner = text[site + 1 : close]
        text = text[:site] + f"array({inner})" + text[close + 1 :]


def _rewrite_struct_braces(text: str) -> str:
    """DuckDB ``{'k': v, ...}`` struct literals → named_struct('k', v, ...);
    ``MAP {'k': v}`` → map('k', v, ...)."""
    mask = _code_mask(text)
    for b in _code_matches(r"\{", text, mask=mask):
        i = b.start()
        close = _matching(text, i, mask)
        if close < 0:
            continue
        inner = _rewrite_struct_braces(text[i + 1 : close])
        rest = _rewrite_struct_braces(text[close + 1 :])
        head = text[:i]
        is_map = bool(re.search(r"\bMAP\s*$", head, re.I))
        if is_map:
            head = re.sub(r"\bMAP\s*$", "", head, flags=re.I)
        pairs = []
        for part in _split_args(inner, nest="([{"):
            km = re.match(r"^\s*('(?:[^']|'')*'|\"[^\"]*\"|\w+)\s*:\s*(.+)$", part, re.S)
            if not km:
                return text[:i] + "{" + inner + "}" + rest  # not a struct literal
            raw_key, val = km.group(1), km.group(2).strip()
            key = raw_key if raw_key.startswith("'") else "'" + raw_key.strip('"') + "'"
            # MAP keys keep their own type (int keys stay ints);
            # named_struct field names are always strings
            pairs.append((raw_key if is_map else key, val))
        if is_map:
            ks = ", ".join(k for k, _ in pairs)
            vs = ", ".join(v for _, v in pairs)
            return head + f"map_from_arrays(array({ks}), array({vs}))" + rest
        args = ", ".join(f"{k}, {v}" for k, v in pairs)
        return head + f"named_struct({args})" + rest
    return text


def _rewrite_json_dot_syntax(text: str) -> str:
    """DuckDB's JSON dot syntax — ``json(x).a[0]."q key"`` /
    ``x::JSON.a`` / ``(x::JSON).a`` — captured BEFORE the 1-based
    index-bracket rewrite would mangle the trailing ``[n]`` segments
    (json_functions.cpp dot operator). Emits __jx_one over the JSON
    value; plain json(...)/::JSON forms without a chain are left for
    the later cast rewrites."""
    scan = 0
    while True:
        mask = _code_mask(text)
        m = next(
            (c for c in _code_matches(r"\bjson\s*\(", text, re.I, pos=scan, mask=mask)
             if not re.search(r"[.$]$|::\s*$", text[: c.start()])),
            None,
        )
        if m is None:
            break
        close = _matching(text, m.end() - 1, mask)
        if close < 0:
            break
        dm = re.match(_DOT_CHAIN, text[close + 1:])
        if not dm:
            scan = m.end()
            continue
        path = "$" + re.sub(r'\s*([.\[\]])\s*', r"\1", dm.group(1))
        inner = text[m.end():close]
        text = (
            text[: m.start()]
            + f"__jx_one(__json_minify({inner}), '{path}')"
            + text[close + 1 + dm.end():]
        )
    while True:
        mask = _code_mask(text)
        hit = None
        for mm in _code_matches(r"::\s*JSON\b", text, re.I, mask=mask):
            after = text[mm.end():]
            pm = re.match(r"\s*\)", after)
            wrapped = False
            if pm and re.match(_DOT_CHAIN, after[pm.end():]):
                wrapped = True
                dm = re.match(_DOT_CHAIN, after[pm.end():])
                chain_off = mm.end() + pm.end()
            else:
                dm = re.match(_DOT_CHAIN, after)
                chain_off = mm.end()
            if not dm:
                continue
            hit = (mm, dm, chain_off, wrapped)
            break
        if hit is None:
            return text
        mm, dm, chain_off, wrapped = hit
        try:
            st = _operand_start(text, mm.start(), mask)
        except ValueError:
            return text
        lo = st
        if wrapped:
            head = text[:st].rstrip()
            if not head.endswith("("):
                return text
            lo = len(head) - 1
        operand = text[st:mm.start()].strip()
        path = "$" + re.sub(r'\s*([.\[\]])\s*', r"\1", dm.group(1))
        text = (
            text[:lo]
            + f"__jx_one(({operand})::JSON, '{path}')"
            + text[chain_off + dm.end():]
        )


def _rewrite_index_brackets(text: str) -> str:
    """DuckDB list/map indexing and slicing are 1-based
    (src/core_functions/scalar/list/ array_slice.cpp): ``a[i]`` →
    try_element_at (1-based, NULL out of bounds — Spark's bare ``a[i]``
    is 0-based) and ``a[i:j]`` → slice(a, i, j-i+1)."""
    while True:
        mask = _code_mask(text)
        found = next((b.start() for b in _code_matches(r"\[", text, mask=mask)
                      if _bracket_is_index(text, b.start())), -1)
        if found < 0:
            return text
        close = _matching(text, found, mask)
        if close < 0:
            return text
        inner = text[found + 1 : close]
        start = _operand_start(text, found, mask)
        operand = text[start:found].strip()
        parts = _split_args(inner, ":", "([{")
        if len(parts) == 1:
            idx = inner.strip()
            if re.fullmatch(r"'(?:[^']|'')*'", idx):
                # a STRING-literal subscript can only hit a MAP (lists
                # index by integer; Spark-side struct['f'] never reaches
                # here analyzable) — and DuckDB's map subscript returns
                # the LIST of matching values ([], [v], [NULL]), not the
                # scalar (map.cpp map_extract;
                # copy/parquet/struct_column_reader_skip.test)
                repl = (
                    f"transform(filter(map_entries({operand}), "
                    f"__e -> __e.key <=> {idx}), __e -> __e.value)"
                )
            else:
                # DuckDB list[0] yields NULL; Spark's try_element_at
                # raises on 0
                repl = (
                    f"(CASE WHEN TRY_CAST(({idx}) AS BIGINT) = 0 THEN NULL "
                    f"ELSE try_element_at({operand}, {idx}) END)"
                )
        elif len(parts) == 2:
            # negative bounds count from the end (-1 = last element,
            # array_slice.cpp); 0 behaves as 1; bounds clamp to the list
            lo = parts[0].strip() or "1"
            hi = parts[1].strip() or f"size({operand})"
            rlo = (
                f"greatest(CASE WHEN ({lo}) < 0 "
                f"THEN size({operand}) + ({lo}) + 1 ELSE ({lo}) END, 1)"
            )
            rhi = (
                f"least(CASE WHEN ({hi}) < 0 "
                f"THEN size({operand}) + ({hi}) + 1 ELSE ({hi}) END, "
                f"size({operand}))"
            )
            repl = (
                f"(CASE WHEN ({lo}) IS NULL OR ({hi}) IS NULL THEN NULL "
                f"ELSE slice({operand}, {rlo}, greatest({rhi} - {rlo} + 1, 0)) END)"
            )
        else:
            return text
        text = text[:start] + repl + text[close + 1 :]


def _rewrite_table_functions(text: str) -> str:
    """FROM-position generate_series/unnest → lateral explode subqueries
    (reference table functions src/function/table/range.cpp,
    physical_unnest.cpp); scalar generate_series → sequence."""
    # multi-unnest zip FIRST — the comma-TVF pass below would otherwise
    # absorb a second select-list UNNEST into a correlated subquery
    text = _rewrite_multi_unnest(text)

    scan_from = 0
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(
            r"\b(FROM|JOIN|,)\s*(generate_series|unnest|range)\s*\(",
            text, re.I, pos=scan_from, mask=mask,
        ), None)
        if m is None:
            break
        kw, fn = m.group(1), m.group(2).lower()
        open_idx = m.end() - 1
        close = _matching(text, open_idx, mask)
        if close < 0:
            break
        if kw == ",":
            # a comma only introduces a TVF in the FROM clause — a
            # select-list `, UNNEST(x) alias` stays a generator item.
            # Clause test: the nearest preceding SELECT/FROM keyword at
            # this paren depth decides.
            depths = _depth_profile(text, mask)
            d = depths[m.start()]
            last_kw = None
            for km in _code_matches(r"\b(SELECT|FROM)\b", text[: m.start()], re.I, mask=mask):
                if depths[km.start()] == d:
                    last_kw = km.group(1).upper()
            if last_kw != "FROM":
                scan_from = m.end()
                continue
        args = [a.strip() for a in _split_args(text[open_idx + 1 : close])]
        if fn == "range":
            # temporal range TVF (range.cpp): EXCLUSIVE stop bound over
            # timestamp sequences — Spark's native integer range TVF
            # keeps every other case
            if len(args) != 3 or not any(
                re.search(r"\b(INTERVAL|TIMESTAMP\w*|DATE)\b|::", a, re.I)
                for a in args
            ):
                scan_from = m.end()
                continue
            seq = f"sequence({', '.join(args)})"
            sub = (
                f"(SELECT explode(filter({seq}, "
                f"__rx -> __rx != ({args[1]}))) AS range)"
            )
        elif fn == "generate_series":
            seq = f"sequence(0, {args[0]})" if len(args) == 1 else f"sequence({', '.join(args)})"
            sub = f"(SELECT explode({seq}) AS generate_series)"
        else:
            sub = f"(SELECT explode({args[0]}) AS unnest)"
        text = text[: m.start(1) + len(kw)] + " " + sub + text[close + 1 :]
    # DATE literal ± INTERVAL yields TIMESTAMP in the reference
    # (interval arithmetic, src/common/types/interval.cpp); Spark keeps
    # DATE for year/month intervals
    text = re.sub(
        r"\bDATE\s*('[^']*')(\s*[+-]\s*)(?=INTERVAL\b)",
        lambda mm: f"CAST(DATE {mm.group(1)} AS TIMESTAMP){mm.group(2)}",
        text,
        flags=re.I,
    )
    # same promotion for the postfix-cast spelling: expr::DATE ± INTERVAL
    # (the double cast keeps ::DATE's truncation before promoting)
    text = re.sub(
        r"::\s*DATE\b(\s*[+-]\s*)(?=INTERVAL\b)",
        r"::DATE::TIMESTAMP\1",
        text,
        flags=re.I,
    )
    # scalar positions: generate_series(...) → sequence(...)
    def gs(args: list[str]):
        if len(args) == 1:
            return f"sequence(0, {args[0]})"
        return f"sequence({', '.join(args)})"

    text = _rewrite_calls(text, "generate_series", gs)
    # select-list unnest → explode (single-arg basic form)
    text = _rewrite_calls(
        text, "unnest", lambda a: f"explode({a[0]})" if len(a) == 1 else None
    )
    return text


def _rewrite_multi_unnest(text: str) -> str:
    """Several ``UNNEST(e)`` items in ONE select list zip POSITIONALLY in
    the reference (physical_unnest.cpp: one row per index up to the
    longest list, shorter lists NULL-padded; a NULL list pads
    throughout). Spark's multiple generators would cross-product —
    rewrite to a single explode over an index-aligned struct sequence.
    Only the plain shape (every unnest a top-level select item, optional
    alias) is handled; other shapes keep the single-generator path."""
    sel_m = re.match(r"^\s*SELECT\s+", text, re.I)
    if sel_m is None:
        return text
    mask = _code_mask(text)
    depths = _depth_profile(text, mask)
    fm = next((f for f in _code_matches(r"\bFROM\b", text, re.I, mask=mask)
               if depths[f.start()] == 0), None)
    if fm:
        sel_end = fm.start()
    else:
        # no FROM: the select list still ends where a top-level
        # ORDER BY / LIMIT / OFFSET tail begins
        sel_end = next(
            (c.start() for c in _code_matches(
                r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", text, re.I, mask=mask)
             if depths[c.start()] == 0),
            len(text),
        )
    items = [a.strip() for a in _split_args(text[sel_m.end(): sel_end])]
    un = []
    for i, it in enumerate(items):
        im = re.match(
            r"^UNNEST\s*\((.*)\)(?:\s+(?:AS\s+)?(\w+))?$", it, re.I | re.S
        )
        if im:
            # require the call's parens to close where the regex says
            inner = im.group(1)
            if inner.count("(") != inner.count(")"):
                return text
            un.append((i, inner.strip(), im.group(2) or f"unnest_{i}"))
    if len(un) < 2 or len(un) != len(
        [1 for it in items if re.match(r"^UNNEST\s*\(", it, re.I)]
    ):
        return text
    arrs = [f"coalesce(({e}), array())" for _i, e, _n in un]
    g = f"greatest({', '.join(f'size({a})' for a in arrs)})"
    fields = ", ".join(
        f"try_element_at({a}, __ui) AS {n}"
        for a, (_i, _e, n) in zip(arrs, un)
    )
    gen = (
        f"explode(CASE WHEN {g} < 1 THEN array() ELSE "
        f"transform(sequence(1, {g}), __ui -> struct({fields})) END) AS __uz"
    )
    inner_items = []
    outer_items = []
    un_idx = {i: n for i, _e, n in un}
    extra = 0
    for i, it in enumerate(items):
        if i in un_idx:
            outer_items.append(f"__uz.{un_idx[i]} AS {un_idx[i]}")
        else:
            am = re.search(r"\bAS\s+(\w+)\s*$", it, re.I)
            name = am.group(1) if am else f"__uc{extra}"
            if not am:
                it = f"{it} AS {name}"
                extra += 1
            inner_items.append(it)
            outer_items.append(name)
    tail = (text[fm.start():] if fm
            else "FROM (SELECT 1) " + text[sel_end:])
    # ORDER BY / LIMIT / OFFSET apply to the UNNESTED output rows (the
    # reference's LIMIT bounds rows after the unnest, and ordering after
    # explode is not preserved) — split them off to the outer SELECT
    outer_tail = ""
    t_mask = _code_mask(tail)
    t_depths = _depth_profile(tail, t_mask)
    cut = next(
        (c.start() for c in _code_matches(
            r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", tail, re.I, mask=t_mask)
         if t_depths[c.start()] == 0),
        None,
    )
    if cut is not None:
        tail, outer_tail = tail[:cut], " " + tail[cut:]
    inner = "SELECT " + ", ".join(inner_items + [gen]) + " " + tail
    return ("SELECT " + ", ".join(outer_items)
            + f" FROM ({inner}) __ut" + outer_tail)


_POSITIONAL_JOIN = re.compile(
    r"\b(\w+)\s+POSITIONAL\s+JOIN\s+(\w+)\b", re.I
)


def _rewrite_positional_join(text: str) -> str:
    """``A POSITIONAL JOIN B`` (reference physical_positional_join.cpp:
    zip rows by position, pad the shorter side with NULLs) → full outer
    join on per-side row numbers. Without the rewrite Spark parses
    POSITIONAL as a table alias and silently produces a cross join.
    Row order = scan order (monotonically_increasing_id), the same
    table-order contract the reference relies on."""
    while True:
        m = next(_code_matches(_POSITIONAL_JOIN, text), None)
        if m is None:
            return text
        a, b = m.group(1), m.group(2)
        num = "row_number() OVER (ORDER BY monotonically_increasing_id()) AS __pos"
        repl = (
            f"(SELECT * EXCEPT (__pos) FROM "
            f"(SELECT *, {num} FROM {a}) "
            f"FULL OUTER JOIN (SELECT *, {num} FROM {b}) USING (__pos)) {a}_{b}"
        )
        text = text[: m.start()] + repl + text[m.end():]


def _rewrite_distinct_window(text: str) -> str:
    """``agg(DISTINCT x) OVER w`` — Spark rejects DISTINCT window
    aggregates; the reference evaluates them (physical_window.cpp
    distinct aggregates). count → size(collect_set() OVER w);
    sum/avg → fold of collect_set() OVER w (DECIMAL accumulation so
    integer sums render like DuckDB's); min/max → DISTINCT dropped."""
    while True:
        mask = _code_mask(text)
        m = None
        for cand in _code_matches(r"\b(\w+)\s*\(\s*DISTINCT\b", text, re.I, mask=mask):
            open_idx = text.index("(", cand.end(1))
            close = _matching(text, open_idx, mask)
            if close < 0:
                continue
            om = re.match(r"\s*OVER\s*\(", text[close + 1 :], re.I)
            if not om:
                continue
            over_open = close + 1 + om.end() - 1
            over_close = _matching(text, over_open, mask)
            if over_close < 0:
                continue
            m = (cand, open_idx, close, over_open, over_close)
            break
        if m is None:
            return text
        cand, open_idx, close, over_open, over_close = m
        fname = cand.group(1).lower()
        arg = re.sub(r"^\s*DISTINCT\b", "", text[open_idx + 1 : close], flags=re.I).strip()
        spec = text[over_open + 1 : over_close]
        cset = f"collect_set({arg}) OVER ({spec})"
        if fname == "count":
            repl = f"size({cset})"
        elif fname == "sum":
            # same type-dispatched fold as list_sum (collect_set already
            # drops NULLs; Spark computes the identical window expression
            # once, so the repeats cost nothing extra)
            repl = _list_sum_sql(cset)
        elif fname == "avg":
            repl = (
                f"CASE WHEN size({cset}) = 0 THEN NULL "
                f"ELSE CAST(({_list_sum_sql(cset)}) / size({cset}) AS DOUBLE) END"
            )
        elif fname in ("min", "max"):
            repl = f"{fname}({arg}) OVER ({spec})"
        else:
            # unsupported holistic distinct-window — leave for Spark's error
            return text
        text = text[: cand.start()] + repl + text[over_close + 1 :]


def _rewrite_window_filter(text: str) -> str:
    """``agg(x) FILTER (WHERE p) OVER w`` → ``agg(CASE WHEN p THEN x END)
    OVER w`` — Spark supports FILTER on plain aggregates but not on
    window aggregates; the reference evaluates both
    (bound_window_expression.hpp filter_expr)."""
    while True:
        mask = _code_mask(text)
        m = None
        for cand in _code_matches(r"\bFILTER\s*\(\s*WHERE\b", text, re.I, mask=mask):
            f_open = text.index("(", cand.start())
            f_close = _matching(text, f_open, mask)
            if f_close < 0 or not re.match(r"\s*OVER\b", text[f_close + 1 :], re.I):
                continue
            m = (cand, f_open, f_close)
            break
        if m is None:
            return text
        cand, f_open, f_close = m
        pred = text[f_open + 1 : f_close]
        pred = re.sub(r"^\s*WHERE\b", "", pred, flags=re.I).strip()
        call_start = _operand_start(text, cand.start(), mask)
        call = text[call_start : cand.start()].strip()
        cm = re.match(r"(?s)^(\w+)\s*\((.*)\)$", call)
        if cm is None:
            return text
        fname, argtext = cm.group(1), cm.group(2).strip()
        args = [a.strip() for a in _split_args(argtext)] if argtext else []
        if fname.lower() == "count" and (argtext == "*" or not args):
            new_call = f"count(CASE WHEN {pred} THEN 1 END)"
        elif len(args) == 1:
            new_call = f"{fname}(CASE WHEN {pred} THEN {args[0]} END)"
        else:
            return text
        text = text[:call_start] + new_call + " " + text[f_close + 1 :].lstrip()


# JSON dot-syntax member chain: .key / ."quoted key" / [n] / [#-n]
_DOT_CHAIN = r'((?:\s*(?:\.\s*(?:\w+|"[^"]+")|\[\s*#?\s*-?\d+\s*\]))+)'

# integer type spellings -> typenames row: casts to them round like the
# reference's. Unsigned casts also range-guard into their wider Spark
# carrier (numeric_cast.hpp bounds); out-of-range is NULL under TRY_CAST
# and an error under CAST, exactly like the reference. The bit-width
# spellings (INT32, ...) are left to Spark, and so is UHUGEINT: its
# DECIMAL(38,0) carrier cannot hold its range.
_INT_CASTS = {
    s.lower(): r
    for r in typenames.TYPES if r.range and r.name != "UHUGEINT"
    for s in (r.name, *r.aliases) if not re.fullmatch(r"INT\d\d+", s)
}
_UNSIGNED = {s: r for s, r in _INT_CASTS.items() if r.range[0] == 0}
_COLON_INT = re.compile(
    rf"::\s*({'|'.join(_INT_CASTS)}|varchar|text|bpchar|decimal|numeric)"
    r"\b(?!\s*\()",
    re.I,
)


def _round_cast(expr: str, typ: str, kw: str) -> str:
    """DuckDB's numeric→integer casts ROUND (Spark truncates) — and the
    rounding mode differs by source type: FLOAT/DOUBLE use rint (half to
    even, std::nearbyint in src/common/operator/cast_operators), DECIMAL
    and strings round half away from zero. typeof() dispatches at
    runtime (constant-folded for literals); non-numeric inputs fall back
    to the plain cast via COALESCE."""
    # The CASE embeds the operand several times; a nondeterministic
    # operand (random(), uuid()) would evaluate each copy independently
    # and mix branches — skip the rounding rewrite there (plain cast)
    if re.search(r"\b(random|uuid|gen_random_uuid|rand|randn)\s*\(", expr, re.I):
        return f"{kw}(({expr}) AS {typ})"
    # NOTE: no outer parens — `IN (SELECT (CASE ...))` trips a Spark
    # parser quirk (SELECT parsed as a function); CASE...END is already
    # a self-delimited primary expression
    return (
        f"CASE WHEN typeof(({expr})) IN ('float', 'double') "
        f"THEN {kw}(rint(CAST(({expr}) AS DOUBLE)) AS {typ}) "
        f"ELSE COALESCE({kw}(ROUND(TRY_CAST(({expr}) AS DECIMAL(38,10))) AS {typ}), "
        f"{kw}(({expr}) AS {typ})) END"
    )


def _rewrite_int_casts(text: str) -> str:
    """Apply _round_cast to every CAST/TRY_CAST(... AS <inttype>) site.
    Single descending pass (never rescans its own output)."""
    mask = _code_mask(text)
    for m in _code_matches(r"\b(TRY_)?CAST\s*\(", text, re.I, mask=mask):
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        if close_idx < 0:
            continue
        inner = _rewrite_int_casts(text[open_idx + 1 : close_idx])
        rest = _rewrite_int_casts(text[close_idx + 1 :])
        head = text[: m.start()]
        kw = "TRY_CAST" if m.group(1) else "CAST"
        am = re.match(r"(?s)^(.*)\s+AS\s+(\w+)\s*$", inner, re.I)
        # DuckDB's unbounded string type names need Spark's STRING (only
        # safe to rewrite here, INSIDE a cast — `text` is also a common
        # column name). Spark renders >4-digit years with a '+' prefix
        # which DuckDB's VARCHAR cast never emits — strip it (the
        # lookahead keeps '+'-prefixed ordinary strings intact).
        # ±infinity timestamp/date literals: DuckDB pins them to the
        # type's min/max (src/common/types/timestamp.cpp); Spark has no
        # infinite temporal values
        if am and am.group(2).lower() in ("timestamp", "datetime", "date"):
            lit = am.group(1).strip().lower()
            is_date = am.group(2).lower() == "date"
            if lit in ("'infinity'", "'+infinity'"):
                v = "'9999-12-31'" if is_date else "'9999-12-31 23:59:59.999999'"
                return head + f"CAST({v} AS {am.group(2)})" + rest
            if lit == "'-infinity'":
                v = "'0001-01-01'" if is_date else "'0001-01-01 00:00:00'"
                return head + f"CAST({v} AS {am.group(2)})" + rest
            if kw == "CAST" and not is_date and not re.fullmatch(
                r"'(?:[^']|'')*'", am.group(1).strip()
            ):
                # offset-bearing STRING cells normalize their instant to
                # UTC in the reference (timestamp.cpp TryConvertTimestampTZ)
                # where Spark's NTZ cast drops the offset — per-row
                # dispatch on a trailing ±HH[:MM] after a seconds field;
                # offset-less strings keep the plain (naive) cast
                argt = am.group(1).strip()
                # single backslashes here: the literal-backslash doubling
                # pass has already run, Spark itself doubles once more
                off_re = r"':[0-9]{2}(\.[0-9]+)? *[+-][0-9]{1,2}(:[0-9]{2})?$'"
                wall = _tz_instant_to_wall(f"({argt})", "'UTC'")
                return (
                    head
                    + f"(CASE WHEN typeof(({argt})) = 'string' AND "
                    f"CAST(({argt}) AS STRING) RLIKE {off_re} "
                    f"THEN {wall} "
                    f"ELSE CAST(({argt}) AS {am.group(2)}) END)"
                    + rest
                )
            # The reference's string→DATE/TIMESTAMP grammar (date.cpp /
            # timestamp.cpp, verified live) requires Y-M-D with -, / or .
            # separators (digit-only strings like '19920903' are NULL —
            # Spark reads them as a bare year), and a time part must be
            # complete HH:MM:SS[.f] ('1111-11-11 11:11' is NULL). Guard
            # TRY_CAST with that grammar and normalize / and . separators
            # to - for Spark. Plain CAST raises on bad input anyway.
            if kw == "TRY_CAST":
                argt = am.group(1).strip()
                dpat = "^-?[0-9]+-[0-9]{1,2}-[0-9]{1,2}"
                pat = dpat + "$" if is_date else (
                    dpat + "([ T][0-9]{1,2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?)?$"
                )
                sep_norm = (
                    "regexp_replace(trim(TRY_CAST(({a}) AS STRING)), "
                    "'^(-?[0-9]+)([-/])([0-9]{{1,2}})\\\\2([0-9]{{1,2}})', "
                    "'$1-$3-$4')"
                )
                py_off = r":[0-9]{2}(\.[0-9]+)? *[+-][0-9]{1,2}(:[0-9]{2})?$"
                lm2 = re.fullmatch(r"'((?:[^']|'')*)'", argt)
                if lm2:
                    norm = re.sub(
                        r"^(-?[0-9]+)([-/])([0-9]{1,2})\2([0-9]{1,2})",
                        r"\1-\3-\4",
                        lm2.group(1).strip(),
                    )
                    if not is_date and re.search(py_off, norm):
                        # trailing ±HH[:MM] offset: UTC-normalize the
                        # instant (TryConvertTimestampTZ) — same dispatch
                        # as the plain-CAST branch above
                        return (
                            head
                            + _tz_instant_to_wall(f"('{norm}')", "'UTC'")
                            + rest
                        )
                    if not re.fullmatch(pat, norm):
                        return head + f"CAST(NULL AS {am.group(2)})" + rest
                    return (
                        head + f"TRY_CAST('{norm}' AS {am.group(2)})" + rest
                    )
                norm = sep_norm.format(a=argt)
                off_re2 = (
                    r"':[0-9]{2}(\.[0-9]+)? *[+-][0-9]{1,2}(:[0-9]{2})?$'"
                )
                off_when = "" if is_date else (
                    f"WHEN {norm} RLIKE {off_re2} "
                    f"THEN {_tz_instant_to_wall(f'({norm})', chr(39) + 'UTC' + chr(39))} "
                )
                # four-way: offset-suffixed strings UTC-normalize;
                # full-grammar strings cast from the normalized form;
                # date-ish-but-incomplete strings (digits/separators
                # only: '1111', '1111-11', '... 11:11') are NULL; anything
                # else (non-string operands like a DATE) falls through to
                # Spark's own cast of the ORIGINAL operand
                return (
                    head
                    + f"(CASE {off_when}WHEN {norm} RLIKE '{pat}' "
                    f"THEN TRY_CAST({norm} AS {am.group(2)}) "
                    f"WHEN {norm} RLIKE '^-?[0-9][-/ T.:0-9()BCbc]*$' "
                    f"THEN NULL "
                    f"ELSE TRY_CAST(({argt}) AS {am.group(2)}) END)"
                    + rest
                )
        # bare DECIMAL/NUMERIC defaults to the reference's DECIMAL(18,3)
        # (decimal.hpp DEFAULT_WIDTH/SCALE); Spark's default is (10,0)
        if am and am.group(2).lower() in ("decimal", "numeric"):
            return head + f"{kw}({am.group(1)} AS DECIMAL(18,3))" + rest
        if am and am.group(2).lower() in ("varchar", "text", "bpchar"):
            # __rr_all = Spark-native regexp_replace placeholder: it
            # shields this generated call from the DuckDB-dialect
            # regexp_replace rule, which runs later
            # (_PASSES renames it right after that rule).
            # Float specials render as nan/inf/-inf in the reference
            # (float→string cast, fmt grammar) vs Spark's NaN/Infinity —
            # exact-match CASE so ordinary strings pass through.
            # BLOB operands render duck's escaped form (printable ASCII
            # verbatim, backslash and non-printables as \xNN).
            s = f"{kw}({am.group(1)} AS STRING)"
            base = f"__rr_all({s}, " + r"'^\\+(?=\\d{5,6}-\\d{2}-\\d{2})', '')"
            if _CAST_BLOB_HINT[0]:
                # the statement touches blobs: dispatch binary operands
                # to the duck-style renderer (python UDFs extract
                # eagerly, so this branch only exists when needed)
                return (
                    head
                    + f"(CASE WHEN typeof(({am.group(1)})) = 'binary' "
                    f"THEN __blob_str({am.group(1)}) "
                    f"WHEN {s} = 'NaN' THEN 'nan' "
                    f"WHEN {s} = 'Infinity' THEN 'inf' "
                    f"WHEN {s} = '-Infinity' THEN '-inf' "
                    f"ELSE {base} END)"
                    + rest
                )
            return (
                head
                + f"(CASE {s} WHEN 'NaN' THEN 'nan' WHEN 'Infinity' THEN 'inf' "
                f"WHEN '-Infinity' THEN '-inf' ELSE {base} END)"
                + rest
            )
        urow = _UNSIGNED.get(am.group(2).lower()) if am else None
        if urow:
            (lo, hi), wide = urow.range, urow.spark
            r = _round_cast(am.group(1), wide, "TRY_CAST")
            if kw == "TRY_CAST":
                return (
                    head
                    + f"(CASE WHEN ({r}) BETWEEN {lo} AND {hi} "
                    f"THEN {r} END)"
                    + rest
                )
            return (
                head
                + f"(CASE WHEN ({am.group(1)}) IS NULL THEN "
                f"CAST(NULL AS {wide}) "
                f"WHEN ({r}) BETWEEN {lo} AND {hi} THEN {r} "
                f"ELSE CAST(raise_error('Conversion Error: value out of "
                f"range for unsigned integer cast') AS {wide}) END)"
                + rest
            )
        if (
            am
            and am.group(2).lower() in _INT_CASTS
            # integer literals round to themselves — and MUST stay bare
            # casts (Spark window frame bounds reject wrapped expressions)
            and not re.fullmatch(r"\s*[+-]?\d+\s*", am.group(1))
        ):
            return head + _round_cast(am.group(1), am.group(2), kw) + rest
        return head + f"{kw}({inner})" + rest
    return text


def _rewrite_postfix_int_casts(text: str) -> str:
    """``expr::INTEGER`` → ``CAST(expr AS INTEGER)`` so the rounding
    rewrite above applies uniformly; absorbs ``::type`` chains on the
    operand (``0.55::FLOAT::TINYINT``). Unbounded string casts
    (``::VARCHAR`` etc.) go through the same CAST form so the cast pass
    can apply Spark's STRING type and year-rendering fix."""
    while True:
        mask = _code_mask(text)
        m = next(
            (
                c
                for c in _code_matches(_COLON_INT, text, mask=mask)
                # leave `5::int8` (pure integer literal) as a postfix cast:
                # rounding is identity and frame bounds need bare literals
                if not (
                    c.group(1).lower() in _INT_CASTS
                    and c.group(1).lower() not in _UNSIGNED
                    and re.search(r"(?<![\w.])\d+\s*$", text[: c.start()])
                )
            ),
            None,
        )
        if m is None:
            return text
        start = _operand_start(text, m.start(), mask)
        while True:
            pm = re.search(r"::\s*$", text[:start])
            if pm is None:
                break
            start = _operand_start(text, pm.start(), mask)
        expr = text[start : m.start()].strip()
        text = text[:start] + f"CAST({expr} AS {m.group(1)})" + text[m.end():]


_BLOB_T = r"(?:BLOB|BYTEA|VARBINARY)"
_BLOB_POSTFIX = re.compile(rf"'((?:[^']|'')*)'\s*::\s*{_BLOB_T}\b", re.I)
_BLOB_CAST = re.compile(
    rf"\b(?:TRY_)?CAST\s*\(\s*'((?:[^']|'')*)'\s+AS\s+{_BLOB_T}\s*\)", re.I
)


def _blob_hex(lit: str) -> str:
    """Decode the reference's blob-literal grammar (``\\xHH`` escapes,
    everything else literal UTF-8 bytes; blob.cpp) to a hex string."""
    s = lit.replace("''", "'")
    out = bytearray()
    i = 0
    while i < len(s):
        # the literal arrives AFTER _escape_literal_backslashes, so every
        # original backslash is doubled — '\xHH' reads as '\\xHH' here
        m = re.match(r"\\\\x([0-9a-fA-F]{2})", s[i:])
        if m:
            out.append(int(m.group(1), 16))
            i += 5
        elif s[i : i + 2] == "\\\\":
            out.append(0x5C)
            i += 2
        else:
            out.extend(s[i].encode("utf-8"))
            i += 1
    return out.hex().upper()


# set per-translate: does the statement plausibly touch BLOB values?
# (gates the runtime binary dispatch in the VARCHAR cast — python UDFs
# extract eagerly, so it must not exist in blob-free statements)
_CAST_BLOB_HINT = [False]
# registry-known BLOB column names referenced by the current statement
# (set alongside the hint; drives the bare-literal comparison rewrite)
_BLOB_COLS: list[set] = [set()]


def _statement_touches_blobs(text: str) -> bool:
    cols = set()
    for t in re.findall(r"\bFROM\s+\"?(\w+)\"?", text, re.I):
        cols |= {c for c, dt in ischema.declared_types(t).items() if dt == "BLOB"}
    _BLOB_COLS[0] = cols
    if cols:
        return True
    return bool(re.search(r"\bBLOB\b|\bBYTEA\b|\bunhex\s*\(", text, re.I))


def _rewrite_blob_literals(text: str) -> str:
    """``'...'::BLOB`` / ``CAST('...' AS BYTEA)`` with a string-literal
    operand → ``unhex('<hex>')`` so ``\\x`` escapes decode (Spark's
    BINARY cast keeps them as raw characters). Non-literal operands fall
    through to the generic BLOB→BINARY type rename."""
    for pat in (_BLOB_POSTFIX, _BLOB_CAST):
        while True:
            mask = _code_mask(text)
            # the literal itself is masked — require the match to start in
            # code (CAST) or exactly at the literal's first quote (mask 2)
            m = next((c for c in pat.finditer(text) if mask[c.start()] != 1), None)
            if m is None:
                break
            text = (
                text[: m.start()]
                + f"unhex('{_blob_hex(m.group(1))}')"
                + text[m.end():]
            )
    if _CAST_BLOB_HINT[0] and _BLOB_COLS[0]:
        # bare string literals compared against a registry-known BLOB
        # column bind as BLOB in the reference (implicit VARCHAR→BLOB
        # cast decodes \xNN escapes, blob.cpp TryCastToBlob); Spark's
        # implicit STRING→BINARY cast keeps the raw characters. Rewrite
        # `b = '\x00'` / `'\x00' <= b` to unhex('<hex>') so a stored
        # 1-byte NUL matches (test_art_null_bytes.test).
        colpat = "|".join(re.escape(c) for c in sorted(_BLOB_COLS[0]))
        qcol = rf"(?:\w+\s*\.\s*)?(?:{colpat})"
        _op = r"(?:==|!=|<>|<=|>=|=|<|>)"
        text = _sub_code(
            rf"(?<![\w.'\"])({qcol})\s*({_op})\s*'((?:[^']|'')*)'",
            lambda mm: (f"{mm.group(1)} {mm.group(2)} "
                        f"unhex('{_blob_hex(mm.group(3))}')"),
            text, re.I,
        )
        mask = _code_mask(text)
        text = re.sub(
            rf"'((?:[^']|'')*)'\s*({_op})\s*((?:\w+\s*\.\s*)?(?:{colpat}))(?![\w.])",
            lambda mm: mm.group(0)
            if mask[mm.start()] != 2
            else (f"unhex('{_blob_hex(mm.group(1))}') "
                  f"{mm.group(2)} {mm.group(3)}"),
            text, flags=re.I,
        )
    if _CAST_BLOB_HINT[0]:
        # non-literal VARCHAR -> BLOB casts decode \xNN escapes at
        # runtime (blob.cpp TryCastToBlob); binary inputs pass through
        while True:
            mask = _code_mask(text)
            m = next(_code_matches(rf"::\s*{_BLOB_T}\b", text, re.I, mask=mask), None)
            if m is None:
                break
            try:
                start = _operand_start(text, m.start(), mask)
            except ValueError:
                break
            expr = text[start: m.start()].strip()
            text = (text[:start] + f"__blob_parse({expr})"
                    + text[m.end():])
        text = re.sub(
            rf"\b(?:TRY_)?CAST\s*\(((?:[^()]|\([^()]*\))*)\s+AS\s+"
            rf"{_BLOB_T}\s*\)",
            lambda mm: f"__blob_parse({mm.group(1)})",
            text, flags=re.I,
        )
    return text


_DYN_INTERVAL = re.compile(r"\bINTERVAL\s*\(", re.I)
# make_interval(years, months, weeks, days, hours, mins, secs) slot per
# unit; milli/micro go through the fractional seconds slot
_INTERVAL_SLOTS = {
    "year": (0, 1), "years": (0, 1), "decade": (0, 10), "decades": (0, 10),
    "century": (0, 100), "centuries": (0, 100),
    "millennium": (0, 1000), "millennia": (0, 1000),
    "month": (1, 1), "months": (1, 1), "quarter": (1, 3), "quarters": (1, 3),
    "week": (2, 1), "weeks": (2, 1), "day": (3, 1), "days": (3, 1),
    "hour": (4, 1), "hours": (4, 1), "minute": (5, 1), "minutes": (5, 1),
    "second": (6, 1), "seconds": (6, 1),
}
_INTERVAL_FRAC = {
    "millisecond": 1000, "milliseconds": 1000,
    "microsecond": 1000000, "microseconds": 1000000,
}


def _rewrite_dynamic_interval(text: str) -> str:
    """``INTERVAL (expr) unit`` — the reference evaluates expr at runtime
    and truncates it to an integer count (interval.cpp); Spark's INTERVAL
    literal grammar only takes constants. → ``make_interval`` with the
    count in the matching slot."""
    # a trailing 'ago' inside the literal negates the whole interval
    # (interval.cpp ParseIntervalString): INTERVAL '1 MONTH ago' →
    # -INTERVAL '1 MONTH' (parenthesized so unary minus binds tight)
    text = re.sub(
        r"\bINTERVAL\s+'([^']*?)\s+ago\s*'",
        lambda mm: f"(- INTERVAL '{mm.group(1)}')",
        text, flags=re.I,
    )
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_DYN_INTERVAL, text, mask=mask), None)
        if m is None:
            return text
        close = _matching(text, m.end() - 1, mask)
        if close < 0:
            return text
        um = re.match(r"\s*([A-Za-z]+)", text[close + 1 :])
        if um is None:
            return text
        unit = um.group(1).lower()
        expr = text[m.end() : close]
        n = f"CAST(CAST(({expr}) AS DOUBLE) - (CAST(({expr}) AS DOUBLE) % 1.0) AS BIGINT)"
        if unit in _INTERVAL_SLOTS:
            slot, mult = _INTERVAL_SLOTS[unit]
            args = ["0"] * 7
            args[slot] = f"{n} * {mult}" if mult != 1 else n
            rep = f"make_interval({', '.join(args)})"
        elif unit in _INTERVAL_FRAC:
            rep = (
                f"make_interval(0, 0, 0, 0, 0, 0, "
                f"CAST({n} AS DECIMAL(18,0)) / {_INTERVAL_FRAC[unit]})"
            )
        else:
            return text
        text = text[: m.start()] + rep + text[close + 1 + um.end() :]


_POWER_OP = re.compile(r"\*\*|\^(?!@)")  # ^@ is DuckDB's starts_with operator
_UNARY_KEYWORDS = {
    "SELECT", "WHERE", "WHEN", "THEN", "ELSE", "AND", "OR", "NOT", "BY",
    "HAVING", "ON", "IN", "AS", "CASE", "RETURN", "SET", "VALUES", "LIMIT",
    "OFFSET", "DISTINCT", "ALL", "BETWEEN", "LIKE",
}


def _rewrite_at_time_zone(text: str) -> str:
    """``expr AT TIME ZONE 'z'`` (reference ICU extension, icu-datefunc):
    naive TIMESTAMP @ z → the instant of that wall time in z (duck
    TIMESTAMPTZ; Spark to_utc_timestamp under the UTC session), and
    TIMESTAMPTZ @ z → the naive wall time of the instant in z
    (from_utc_timestamp). Dispatch is syntactic on the operand's cast/
    literal spelling; bare column operands default to the naive reading
    (the engine's session default timestamp type is NTZ)."""
    pat = re.compile(r"\sAT\s+TIME\s+ZONE\s+('(?:[^']|'')*'|NULL\b)", re.I)
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(pat, text, mask=mask), None)
        if m is None:
            return text
        start = _operand_start(text, m.start(), mask)
        while True:  # extend over postfix-cast chains ('…'::TIMESTAMP)
            j = start
            while j > 0 and text[j - 1].isspace():
                j -= 1
            if j >= 2 and text[j - 2: j] == "::":
                start = _operand_start(text, j - 2, mask)
            else:
                break
        left = text[start: m.start()].strip()
        z = m.group(1)
        if z.upper() == "NULL":
            # a NULL zone yields NULL (icu-datefunc null propagation)
            rep = "CAST(NULL AS TIMESTAMP_NTZ)"
        elif re.search(r"::\s*TIMESTAMPTZ\s*$", left, re.I) or re.match(
            r"TIMESTAMPTZ\b", left, re.I
        ):
            rep = _tz_instant_to_wall(left, z)
        else:
            rep = _tz_wall_to_instant(left, z)
        text = text[:start] + rep + text[m.end():]


# the engine's ±infinity temporal sentinels (DuckDB pins infinite
# timestamps to the type's range ends, timestamp.cpp)
_TS_INF_PAIR = ("(TIMESTAMP_NTZ '0001-01-01 00:00:00', "
                "TIMESTAMP_NTZ '9999-12-31 23:59:59.999999')")


def _tz_wall_to_instant(x: str, z: str) -> str:
    """naive wall time in zone z → the instant, carried as its UTC wall
    (TIMESTAMP_NTZ). convert_timezone is the one Spark tz primitive whose
    value doesn't depend on the session timezone (to_utc_timestamp /
    NTZ↔LTZ casts both re-read it), so corpus files that SET TimeZone
    still compare exactly; the reference types this TIMESTAMPTZ — the
    canon treats a tz-aware value and its UTC wall as equal."""
    nn = f"CAST(({x}) AS TIMESTAMP_NTZ)"
    # ±infinity passes through unshifted (icu-datefunc: infinite inputs
    # are returned as-is)
    return (f"CASE WHEN {nn} IN {_TS_INF_PAIR} THEN {nn} "
            f"ELSE convert_timezone({z}, 'UTC', {nn}) END")


def _tz_instant_to_wall(x: str, z: str) -> str:
    """instant → naive wall time in zone z (reference: TIMESTAMPTZ AT
    TIME ZONE z → TIMESTAMP). unix_micros reads the instant session-
    independently; the epoch-anchored interval rebuilds its UTC wall as
    NTZ, then convert_timezone shifts walls."""
    wall_utc = (
        "(TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
        f"CAST(unix_micros(CAST({x} AS TIMESTAMP_LTZ)) AS DECIMAL(26,6)) "
        f"/ 1000000))"
    )
    # ±infinity passes through unshifted (icu-datefunc)
    return (f"CASE WHEN {wall_utc} IN {_TS_INF_PAIR} THEN {wall_utc} "
            f"ELSE convert_timezone('UTC', {z}, {wall_utc}) END")


def _rewrite_power_operator(text: str) -> str:
    """DuckDB's ``^`` / ``**`` are exponentiation (left-associative,
    binding tighter than * and unary minus — postgres rules, reference
    third_party/libpg_query); Spark's ``^`` is bitwise XOR. Rewrite
    ``a ^ b`` → ``power(a, b)`` operand-by-operand."""
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_POWER_OP, text, mask=mask), None)
        if m is None:
            return text
        left_start = _operand_start(text, m.start(), mask)
        # a UNARY sign binds tighter than ^ (postgres precedence:
        # -2^2 = (-2)^2 = 4, but 3-2^2 = 3-(2^2) — binary minus looser)
        j = left_start
        while j > 0 and text[j - 1].isspace():
            j -= 1
        if j > 0 and text[j - 1] in "+-":
            k = j - 1
            while k > 0 and text[k - 1].isspace():
                k -= 1
            prev = text[:k]
            wm = re.search(r"([A-Za-z_]\w*)$", prev)
            unary = (
                k == 0
                or (wm and wm.group(1).upper() in _UNARY_KEYWORDS)
                or (not wm and prev[-1] not in ")'" and not prev[-1].isalnum())
            )
            if unary:
                left_start = j - 1
        right_end = _operand_end(text, m.end(), mask)
        lhs = text[left_start : m.start()].strip()
        rhs = text[m.end() : right_end].strip()
        text = text[:left_start] + f"power({lhs}, {rhs})" + text[right_end:]


def _quantified_case(lhs: str, op: str, kind: str, sub: str) -> str:
    """Tri-state CASE expansion shared by ANY/SOME/ALL and IN-subquery
    rewrites (the reference binder's quantified-comparison semantics)."""
    cmp_ = f"(({lhs}) {op} __c)"
    null_ex = f"EXISTS(SELECT 1 FROM ({sub}) AS __aa(__c) WHERE {cmp_} IS NULL)"
    if kind in ("ANY", "SOME"):
        pos = f"EXISTS(SELECT 1 FROM ({sub}) AS __aa(__c) WHERE {cmp_})"
        return (
            f"(CASE WHEN {pos} THEN TRUE WHEN {null_ex} "
            f"THEN CAST(NULL AS BOOLEAN) ELSE FALSE END)"
        )
    neg = f"EXISTS(SELECT 1 FROM ({sub}) AS __aa(__c) WHERE NOT {cmp_})"
    return (
        f"(CASE WHEN {neg} THEN FALSE WHEN {null_ex} "
        f"THEN CAST(NULL AS BOOLEAN) ELSE TRUE END)"
    )


_IN_SUBQ = re.compile(r"(\bNOT\s+)?\bIN\s*\(", re.I)


def _rewrite_in_subquery(text: str) -> str:
    """NULL-aware IN-subquery where Spark's tri-state handling diverges
    from the reference (bind_subquery_expression.cpp): Spark evaluates an
    IN-subquery to FALSE where DuckDB yields NULL when the subquery
    contains NULLs and no match. The divergence is only *observable* when
    the IN result is used as a value — a projection, or wrapped in
    IS [NOT] NULL — so only those sites are rewritten to the tri-state
    CASE; a plain WHERE/HAVING conjunct keeps Spark's native in-subquery
    plan (semi join), which filters identically and scales better."""
    while True:
        mask = _code_mask(text)
        depths = _depth_profile(text, mask)
        m = None
        for cand in _code_matches(_IN_SUBQ, text, mask=mask):
            open_idx = cand.end() - 1
            inner = text[cand.end():].lstrip()
            if not re.match(r"(SELECT|WITH|VALUES)\b", inner, re.I):
                continue
            close_idx = _matching(text, open_idx, mask)
            if close_idx < 0:  # unbalanced: leave the site alone
                continue
            # observable-as-value context 1: ... ) IS [NOT] NULL
            after = text[close_idx + 1 :]
            adjacency = re.match(r"\s*\)?\s*IS\s+(NOT\s+)?NULL", after, re.I)
            # context 2: inside a SELECT list — nearest same-depth SELECT
            # before the site with no intervening same-depth FROM/WHERE
            d = depths[cand.start()]
            in_select_list = False
            for kw in _code_matches(r"\b(SELECT|FROM|WHERE|HAVING|ON|WHEN|QUALIFY)\b",
                                    text[: cand.start()], re.I, mask=mask):
                if depths[kw.start()] != d:
                    continue
                in_select_list = kw.group(1).upper() == "SELECT"
            if adjacency or in_select_list:
                m = (cand, open_idx, close_idx)
                break
        if m is None:
            return text
        cand, open_idx, close_idx = m
        sub = text[open_idx + 1 : close_idx].strip()
        negated = bool(cand.group(1))
        left_start = _operand_start(text, cand.start(), mask)
        lhs = text[left_start : cand.start()].strip()
        repl = (
            _quantified_case(lhs, "<>", "ALL", sub)
            if negated
            else _quantified_case(lhs, "=", "ANY", sub)
        )
        text = text[:left_start] + repl + text[close_idx + 1 :]


def _rewrite_any_all(text: str) -> str:
    """``expr op ANY/SOME/ALL (subquery)`` → tri-state-correct EXISTS CASE
    (Spark has no quantified comparison). ANY: TRUE if some comparison is
    true, NULL if none true but some comparison is NULL, else FALSE;
    ALL dually — the reference binder's semantics
    (src/planner/binder/expression/bind_comparison_expression.cpp)."""
    while True:
        mask = _code_mask(text)
        m = next((c for c in _code_matches(_ANYALL, text, mask=mask)
                  if re.match(r"(SELECT|WITH|VALUES)\b", text[c.end():].lstrip(), re.I)
                  and _matching(text, c.end() - 1, mask) >= 0),
                 None)
        if m is None:
            return text
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        sub = text[open_idx + 1 : close_idx].strip()
        op = m.group(1)
        kind = m.group(2).upper()
        left_start = _operand_start(text, m.start(), mask)
        lhs = text[left_start : m.start()].strip()
        repl = _quantified_case(lhs, op, kind, sub)
        text = text[:left_start] + repl + text[close_idx + 1 :]


_SETOP = re.compile(r"\b(UNION(\s+ALL)?|INTERSECT(\s+ALL)?|EXCEPT(\s+ALL)?)\b", re.I)


def _rewrite_setop_order_alias(text: str) -> str:
    """DuckDB binds a set-operation's ORDER BY against ANY branch's
    aliases/expressions (bind_setop_node.cpp); Spark only sees the first
    branch's output names. Items naming a later branch's alias, or
    repeating a branch's select expression verbatim, become 1-based
    ordinals (valid in both engines)."""
    mask = _code_mask(text)
    depths = _depth_profile(text, mask)

    def top_level(pattern, flags=re.I):
        return [m for m in _code_matches(pattern, text, flags, mask=mask)
                if depths[m.start()] == 0]

    setops = top_level(_SETOP, 0)
    if not setops:
        return text
    ob = None
    for om in top_level(r"\bORDER\s+BY\s+"):
        if om.start() > setops[-1].end():
            ob = om
    if ob is None:
        return text
    o_end = next(
        (t.start() for t in top_level(r"\b(LIMIT|OFFSET)\b|;") if t.start() > ob.end()),
        len(text),
    )
    # per-branch select lists: SELECT .. FROM|setop boundary, depth 0
    branch_aliases: list[list[str]] = []
    branch_exprs: list[list[str]] = []
    sels = [s for s in top_level(r"\bSELECT\b(\s+DISTINCT\b)?") if s.start() < ob.start()]
    froms = top_level(r"\bFROM\b")
    for s in sels:
        stop = next((t.start() for t in froms if t.start() > s.end()), len(text))
        for t in setops + [ob]:
            if s.end() < t.start() < stop:
                stop = t.start()
        items = [a.strip() for a in _split_args(text[s.end() : stop])]
        als, exs = [], []
        for it in items:
            am = _AS_ALIAS.search(it)
            if am:
                als.append(am.group(1).lower())
                exs.append(re.sub(r"\s+", "", it[: am.start()]).lower())
            else:
                als.append(it.split(".")[-1].lower() if _BARE_COL.match(it) else "")
                exs.append(re.sub(r"\s+", "", it).lower())
        branch_aliases.append(als)
        branch_exprs.append(exs)
    out_items = []
    changed = False
    for it in _split_args(text[ob.end() : o_end]):
        it = it.strip()
        dm = re.match(r"(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$", it, re.I | re.S)
        core, suffix = dm.group(1).strip(), it[len(dm.group(1)) :]
        key = re.sub(r"\s+", "", core).lower()
        pos = None
        if _BARE_COL.match(core) and "." not in core:
            if key in branch_aliases[0]:
                out_items.append(it)  # first branch resolves it natively
                continue
            for als in branch_aliases[1:]:
                if key in als:
                    pos = als.index(key) + 1
                    break
        if pos is None and not _BARE_COL.match(core):
            for exs in branch_exprs:
                if key in exs:
                    pos = exs.index(key) + 1
                    break
        if pos is None:
            out_items.append(it)
        else:
            out_items.append(f"{pos}{suffix}")
            changed = True
    if not changed:
        return text
    return text[: ob.end()] + ", ".join(out_items) + " " + text[o_end:]


def _pin_window_null_order(text: str) -> str:
    """Append the session default null placement (SETTINGS
    default_null_order; the reference defaults NULLS LAST, its test
    harness often sets nulls_first) to window ORDER BY items without an
    explicit placement — Spark's ASC default is NULLS FIRST, and inside
    an OVER clause that changes which rows a frame covers and which row a
    ranking picks (bare query-level ORDER BY is handled per-query; this
    is the window-spec counterpart)."""
    null_kw = (
        "NULLS FIRST"
        if SETTINGS.get("default_null_order", "nulls_last") == "nulls_first"
        else "NULLS LAST"
    )
    mask = _code_mask(text)
    edits = []
    done_until = -1  # skip OVER sites nested inside an already-collected
    # spec — the recursion below pins those within the outer edit
    for m in _code_matches(r"\bOVER\s*\(", text, re.I, mask=mask):
        if m.start() <= done_until:
            continue
        open_idx = m.end() - 1
        close = _matching(text, open_idx, mask)
        if close < 0:
            continue
        done_until = close
        spec = _pin_window_null_order(text[open_idx + 1 : close])
        smask = _code_mask(spec)
        sdepth = _depth_profile(spec, smask)
        om = next(
            (x for x in _code_matches(r"\bORDER\s+BY\s+", spec, re.I, mask=smask)
             if sdepth[x.start()] == 0),
            None,
        )
        if om is None:
            continue
        fm = next(
            (x for x in _code_matches(r"\b(ROWS|RANGE|GROUPS)\b", spec, re.I, mask=smask)
             if x.start() > om.end() and sdepth[x.start()] == 0),
            None,
        )
        o_end = fm.start() if fm else len(spec)
        order = spec[om.end() : o_end]
        pinned = ", ".join(
            o if re.search(r"\bNULLS\s+(FIRST|LAST)\b", o, re.I)
            else f"{o.strip()} {null_kw}"
            for o in _split_args(order)
        )
        new_spec = spec[: om.end()] + pinned + " " + spec[o_end:]
        edits.append((open_idx + 1, close, new_spec))
    for start, end, new_spec in reversed(edits):
        text = text[:start] + new_spec + text[end:]
    return text


_WINDOW_CLAUSE = re.compile(r"\bWINDOW\s+([A-Za-z_]\w*)\s+AS\s*\(", re.I)


def _inline_named_windows(text: str) -> str:
    """Inline ``WINDOW w AS (...)`` definitions into their ``OVER w`` /
    ``OVER (w ...)`` use sites. Spark parses the plain named form but not
    the extension form (inheriting a named window inside a new spec), and
    the EXCLUDE expansion needs the full inlined spec to derive peer keys
    — so both forms are substituted and the WINDOW clause removed."""
    start = 0
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_WINDOW_CLAUSE, text, pos=start, mask=mask), None)
        if m is None:
            return text
        # parse the comma-separated definition list: name AS (spec) [, ...]
        defs: dict[str, str] = {}
        i = m.start()
        pos = m.end() - 1  # at the '(' of the first definition
        name = m.group(1)
        while True:
            close = _matching(text, pos, mask)
            if close < 0:
                break
            defs[name] = text[pos + 1 : close].strip()
            nxt = re.match(
                r"\s*,\s*([A-Za-z_]\w*)\s+AS\s*\(", text[close + 1 :], re.I
            )
            if not nxt:
                break
            name = nxt.group(1)
            pos = close + 1 + nxt.end() - 1
        if close < 0:  # an unbalanced definition: leave the clause alone
            start = m.end()
            continue
        start = 0
        text = text[:i] + text[close + 1:]
        for nm, spec in defs.items():
            # extension form: OVER (w <more>) — splice the spec in front
            text = re.sub(
                rf"(\bOVER\s*\(\s*){nm}\b", lambda mm: mm.group(1) + spec + " ",
                text, flags=re.I,
            )
            # plain form: OVER w
            text = re.sub(
                rf"\bOVER\s+{nm}\b", f"OVER ({spec})", text, flags=re.I
            )


def _rewrite_window_mode(text: str) -> str:
    """``mode(e) OVER (spec)`` → frame-materialized mode with the
    reference's tie-break: highest count, then FIRST OCCURRENCE in frame
    scan order (verified live: frame [5,3] → 5). Spark's mode() breaks
    ties arbitrarily and its moving-frame results diverge (the reference
    recomputes per frame — window_segment_tree.cpp). collect_list over
    the same window preserves frame order; cost is O(frame²) per row,
    bounded by the frame length."""
    pat = re.compile(r"\bmode\s*\(", re.I)
    pos = 0
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(pat, text, pos=pos, mask=mask), None)
        if m is None:
            return text
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        if close_idx < 0:
            pos = m.end()
            continue
        om = re.match(r"\s+OVER\s*(\(|\w+)", text[close_idx + 1:], re.I)
        if om is None:
            pos = close_idx + 1
            continue
        e = text[open_idx + 1: close_idx].strip()
        if re.match(r"DISTINCT\b", e, re.I):
            pos = close_idx + 1
            continue
        if om.group(1) == "(":
            spec_open = close_idx + 1 + om.end() - 1
            oc = _matching(text, spec_open, mask)
            if oc < 0:
                pos = close_idx + 1
                continue
            over_end = oc + 1
        else:
            over_end = close_idx + 1 + om.end()
        over_txt = text[close_idx + 1: over_end]
        arr = f"(collect_list({e}){over_txt})"
        repl = (
            f"try_element_at(array_sort(transform(array_distinct({arr}), "
            f"__mv -> named_struct("
            f"'c', -size(filter({arr}, __my -> __my = __mv)), "
            f"'p', array_position({arr}, __mv), 'v', __mv))), 1).v"
        )
        text = text[: m.start()] + repl + text[over_end:]
        pos = m.start() + len(repl)


def _rewrite_window_nth(text: str) -> str:
    """``nth_value(e, k) OVER (spec)`` with a non-literal / NULL / zero
    offset — Spark requires a foldable positive offset, the reference
    evaluates k per row and yields NULL for NULL or out-of-range k
    (verified live: nth_value(x, NULL) → NULL, nth_value(x, 0) → NULL).
    Emulate with element lookup over the frame-ordered collect_list; the
    struct wrapper keeps NULL values countable (collect_list drops bare
    NULLs, nth_value must count them)."""
    pat = re.compile(r"\bnth_value\s*\(", re.I)
    pos = 0
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(pat, text, pos=pos, mask=mask), None)
        if m is None:
            return text
        open_idx = m.end() - 1
        close_idx = _matching(text, open_idx, mask)
        if close_idx < 0:
            pos = m.end()
            continue
        args = [a.strip() for a in _split_args(text[open_idx + 1: close_idx])]
        om = re.match(r"\s+OVER\s*(\(|\w+)", text[close_idx + 1:], re.I)
        if om is None or len(args) != 2 or re.fullmatch(r"[1-9][0-9]*", args[1]):
            pos = close_idx + 1
            continue
        if om.group(1) == "(":
            oc = _matching(text, close_idx + 1 + om.end() - 1, mask)
            if oc < 0:
                pos = close_idx + 1
                continue
            over_end = oc + 1
        else:
            over_end = close_idx + 1 + om.end()
        over_txt = text[close_idx + 1: over_end]
        e, k = args
        repl = (
            f"(CASE WHEN ({k}) IS NULL OR ({k}) < 1 THEN NULL ELSE "
            f"try_element_at((collect_list(named_struct('v', ({e})))"
            f"{over_txt}), CAST(({k}) AS INT)).v END)"
        )
        text = text[: m.start()] + repl + text[over_end:]
        pos = m.start() + len(repl)


def _rewrite_window_exclude(text: str) -> str:
    """``agg(v) OVER (... EXCLUDE mode)`` → subtraction-pattern expansion
    (Spark has no EXCLUDE frame option)."""
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_W_EXCLUDE, text, mask=mask), None)
        if m is None:
            return text
        mode = re.sub(r"\s+", " ", m.group(1).lower())
        # innermost '(' containing the EXCLUDE token
        depth, open_idx = 0, None
        for i in range(m.start() - 1, -1, -1):
            if mask[i]:
                continue
            if text[i] == ")":
                depth += 1
            elif text[i] == "(":
                if depth == 0:
                    open_idx = i
                    break
                depth -= 1
        if open_idx is None:
            raise ValueError("EXCLUDE outside a window specification")
        close_idx = _matching(text, open_idx, mask)
        pre = text[:open_idx].rstrip()
        if not pre.upper().endswith("OVER"):
            raise ValueError("EXCLUDE in a non-window parenthesis")
        over_start = len(pre) - 4

        def _call_before(end: int):
            """(fn, arg, fn_start) for the call ``fn(arg)`` ending at
            ``end`` (exclusive, after rstrip); None if not a call."""
            e = len(text[:end].rstrip())
            if e == 0 or text[e - 1] != ")":
                return None
            a_open = _matching(text, e - 1, mask)
            if a_open < 0:
                return None
            fmx = re.search(r"([A-Za-z_]\w*)\s*$", text[:a_open])
            if fmx is None:
                return None
            return fmx.group(1).lower(), text[a_open + 1 : e - 1].strip(), fmx.start(1)

        call = _call_before(over_start)
        if call is None:
            raise ValueError("window EXCLUDE without a direct aggregate call")
        fn, arg, fn_start = call
        if fn == "filter":
            # agg(x) FILTER (WHERE p) OVER (... EXCLUDE ...): fold the
            # filter into the value — agg(CASE WHEN p THEN x END) is
            # identical for sum/count/avg (reference aggregate FILTER
            # binder) — then expand as usual
            fw = re.match(r"WHERE\b(.*)$", arg, re.I | re.S)
            pred = fw.group(1).strip() if fw else arg
            inner = _call_before(fn_start)
            if inner is None:
                raise ValueError("FILTER without a preceding aggregate call")
            fn, iarg, fn_start = inner
            arg = f"CASE WHEN {pred} THEN {iarg} END"
            if iarg.strip() == "*":
                arg = f"CASE WHEN {pred} THEN 1 END"
        spec = (text[open_idx + 1 : m.start()] + text[m.end() : close_idx]).strip()
        repl = _exclude_expansion(fn, arg, spec, mode)
        text = text[:fn_start] + repl + text[close_idx + 1 :]


_GLOB_OP = re.compile(r"\b(NOT\s+)?(GLOB|SIMILAR\s+TO)\b", re.I)


def _glob_to_regex_sql(p: str) -> str:
    """Runtime glob→regex conversion chain: backslash-escaped glob
    wildcards (``\\*`` ``\\?`` ``\\\\``) are parked on control-char
    placeholders, regex metacharacters get escaped, ``*``/``?`` become
    ``.*``/``.``, ``[!`` becomes ``[^``, then the parked literals return
    regex-escaped. Runs per-row, so non-literal patterns work too.
    ``[...]`` character classes pass through — glob shares them with
    regex (verified live: 'a[b]c' GLOB 'a[b]c' is false)."""
    # SB renders as '\\' in the emitted SQL text, i.e. ONE backslash after
    # Spark's string parser. Plain replace() args are literal values;
    # regexp args pay one more escaping level (hence doubled SB there).
    SB = "\\\\"
    parked = (
        f"replace(replace(replace({p}, '{SB}{SB}', chr(2)), "
        f"'{SB}*', chr(1)), '{SB}?', chr(3))"
    )
    escaped = (
        f"regexp_replace({parked}, "
        f"'([.^$+(){{}}{SB}{SB}|])', '{SB}{SB}$1')"
    )
    # wildcards inside [...] classes are literal: park the common
    # single-char classes before the global * / ? conversion
    cls_parked = (
        f"replace(replace({escaped}, '[?]', chr(4)), '[*]', chr(5))"
    )
    globbed = (
        f"replace(replace(replace({cls_parked}, '*', '.*'), "
        f"'?', '.'), '[!', '[^')"
    )
    unparked = (
        f"replace(replace(replace(replace(replace({globbed}, "
        f"chr(1), '{SB}*'), chr(3), '{SB}?'), chr(2), '{SB}{SB}'), "
        f"chr(4), '[?]'), chr(5), '[*]')"
    )
    return f"concat('^', {unparked}, '$')"


def _rewrite_glob_similar(text: str) -> str:
    """Infix ``x GLOB pat`` / ``x SIMILAR TO pat`` (+NOT forms) →
    anchored rlike (reference like.cpp glob kernel; regexp.cpp
    regexp_full_match). Operands are resolved with the shared
    operand-span helpers, so arbitrary expressions work on both sides."""
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_GLOB_OP, text, mask=mask), None)
        if m is None:
            return text
        lhs_start = _operand_start(text, m.start(), mask)
        rhs_end = _operand_end(text, m.end(), mask)
        lhs = text[lhs_start : m.start()].strip()
        rhs = text[m.end() : rhs_end].strip()
        if not lhs or not rhs:
            return text
        is_glob = m.group(2).upper() == "GLOB"
        pat = _glob_to_regex_sql(rhs) if is_glob else f"concat('^(?:', {rhs}, ')$')"
        repl = f"rlike({lhs}, {pat})"
        if m.group(1):
            repl = f"(NOT {repl})"
        text = text[:lhs_start] + repl + text[rhs_end:]


_COLLATE_EXPR = re.compile(r"\bCOLLATE\s+([A-Za-z_.]+)", re.I)


def _rewrite_collate_expr(text: str) -> str:
    """``expr COLLATE NOCASE|NOACCENT|NOCASE.NOACCENT`` → the collation
    key expression (operators/collation.py): lower() / accent fold.
    BINARY/C/POSIX collations are the default — dropped.

    The reference's binder PROPAGATES a collation to the whole comparison
    (`'x' = s COLLATE NOCASE` collates both sides; BETWEEN collates all
    three operands — collate_test corpus). Mirrored here for the binary
    comparison operators and BETWEEN."""
    from myduckdb_spark.operators.collation import _ACCENT_DST, _ACCENT_SRC

    _CMP = r"(=|<>|!=|<=|>=|<|>)"

    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_COLLATE_EXPR, text, mask=mask), None)
        if m is None:
            return text
        parts = m.group(1).lower().split(".")
        if not all(p in ("nocase", "noaccent", "binary", "c", "posix") for p in parts):
            return text  # unknown collation — leave for the engine to reject

        def fold(e: str) -> str:
            for p in parts:
                if p == "nocase":
                    e = f"lower({e})"
                elif p == "noaccent":
                    e = f"translate({e}, '{_ACCENT_SRC}', '{_ACCENT_DST}')"
            return e

        lhs_start = _operand_start(text, m.start(), mask)
        expr = text[lhs_start : m.start()].strip()
        if not expr:
            return text
        region_end = m.end()
        # `(expr COLLATE c)` — the parens belong to the collate expression;
        # sibling detection must look OUTSIDE them. Only a GROUPING paren
        # counts: a '(' preceded by an identifier char is a function call
        # (`count(s COLLATE NOCASE)`) and must stay put.
        pre = re.search(r"(?<![A-Za-z0-9_])\(\s*$", text[:lhs_start])
        post = re.match(r"\s*\)", text[region_end:])
        if pre and post:
            lhs_start = pre.start()
            region_end = region_end + post.end()

        # DuckDB quirk (verified live): an aggregate's DISTINCT ignores
        # collation — count(DISTINCT s COLLATE NOCASE) counts RAW values.
        # Drop the COLLATE clause without folding in that position.
        if re.search(r"[A-Za-z_]\w*\s*\(\s*DISTINCT\s*$", text[:lhs_start], re.I):
            text = text[:lhs_start] + expr + " " + text[region_end:]
            continue

        # collect sibling operands the collation propagates to, as
        # (start, end) slices; rewrite right-to-left so indices hold
        extra: list[tuple[int, int]] = []

        def _operand_after(pos: int) -> tuple[int, int] | None:
            ws = re.match(r"\s*", text[pos:]).end()
            end = _operand_end(text, pos + ws, mask)
            return (pos + ws, end) if end > pos + ws else None

        tail = text[region_end:]
        tm = re.match(rf"\s*{_CMP}", tail)
        bm = re.match(r"\s*(NOT\s+)?BETWEEN\b", tail, re.I)
        before = text[:lhs_start]
        pm = re.search(rf"{_CMP}\s*$", before)
        if tm:  # folded OP rhs
            o = _operand_after(region_end + tm.end())
            if o:
                extra.append(o)
        elif bm:  # folded BETWEEN lo AND hi
            o = _operand_after(region_end + bm.end())
            if o:
                extra.append(o)
                am = re.match(r"\s*AND\b", text[o[1]:], re.I)
                if am:
                    o2 = _operand_after(o[1] + am.end())
                    if o2:
                        extra.append(o2)
        elif pm:  # lhs2 OP folded
            s2 = _operand_start(text, pm.start(), mask)
            if s2 < pm.start():
                extra.append((s2, pm.start()))
        else:
            # X BETWEEN folded AND hi  /  X BETWEEN lo AND folded
            btm = re.search(r"\b(NOT\s+)?BETWEEN\s*$", before, re.I)
            anm = re.search(r"\bAND\s*$", before, re.I)
            if btm:
                xs = _operand_start(text, btm.start(), mask)
                if xs < btm.start():
                    extra.append((xs, btm.start()))
                am = re.match(r"\s*AND\b", tail, re.I)
                if am:
                    o = _operand_after(region_end + am.end())
                    if o:
                        extra.append(o)
            elif anm:
                los = _operand_start(text, anm.start(), mask)
                b2 = re.search(r"\b(NOT\s+)?BETWEEN\s*$", text[:los], re.I)
                if b2 and los < anm.start():
                    extra.append((los, anm.start()))
                    xs = _operand_start(text, b2.start(), mask)
                    if xs < b2.start():
                        extra.append((xs, b2.start()))

        pieces = sorted(extra + [(lhs_start, region_end)], reverse=True)
        for s, e in pieces:
            src = expr if (s, e) == (lhs_start, region_end) else text[s:e].strip()
            text = text[:s] + fold(src) + " " + text[e:]


_DSQ_AGGS = re.compile(
    r"\b(sum|count|min|max|avg|mean|any_value|first|last|arbitrary|"
    r"string_agg|listagg|array_agg|list|bool_and|bool_or|median|mode|"
    r"product|bit_and|bit_or|bit_xor|group_concat)\s*\(", re.I,
)
_DSQ_ALIAS_KW = {
    "TABLESAMPLE", "USING", "ON", "ASOF", "POSITIONAL", "NATURAL",
    "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING", "QUALIFY",
}


def _decorrelate_ordered_subqueries(text: str) -> str:
    """Correlated scalar subqueries whose ORDER BY + LIMIT/OFFSET touch
    only INNER columns pick the wrong row in Spark: its decorrelation
    loses the sort (observed live vs the oracle on
    subquery/scalar/test_correlated_subquery.test — ``ORDER BY i DESC
    OFFSET 99`` returned an arbitrary row). The reference decorrelates
    with the sort intact (subquery/flatten_dependent_join). Push the
    sort+limit into an UNCORRELATED derived table: ordering happens
    before the (select-list-only) correlation, which is the same
    semantics because the order keys are outer-free. Conservative — only
    fires for single-source FROM, no aggregation/set-ops, a correlated-
    looking select list, and an outer-free body/ORDER BY."""
    null_kw = (
        "NULLS FIRST"
        if SETTINGS.get("default_null_order", "nulls_last") == "nulls_first"
        else "NULLS LAST"
    )
    mask = _code_mask(text)
    depths = _depth_profile(text, mask)
    sites = []
    for m in _code_matches(r"\(\s*SELECT\b", text, re.I, mask=mask):
        close = _matching(text, m.start(), mask)
        if close < 0:
            continue
        j = m.start() - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        if j >= 0 and text[j] == "(":
            continue  # argument position
        if j >= 0 and text[j] == ",":
            # a comma separates EITHER select-list items (rewrite ok)
            # or FROM-list sources (derived table — skip): classify by
            # the nearest same-depth clause keyword before the comma
            d = depths[j]
            kw = None
            for x in _code_matches(r"\b(SELECT|FROM|WHERE|GROUP|ORDER|"
                                   r"HAVING|SET|VALUES|RETURNING)\b",
                                   text[:j], re.I, mask=mask):
                if depths[x.start()] == d:
                    kw = x.group(1).upper()
            if kw != "SELECT":
                continue
        else:
            k = j
            while k >= 0 and (text[k].isalnum() or text[k] == "_"):
                k -= 1
            prev = text[k + 1: j + 1].upper()
            if prev in ("FROM", "JOIN", "LATERAL", "UNION", "ALL",
                        "EXCEPT", "INTERSECT", "AS", "EXISTS", "ANY",
                        "SOME", "IN"):
                # ANY/SOME/ALL/IN take the subquery as their operand —
                # inlining `= ANY(SELECT 1)` to `= ANY(1)` breaks the
                # quantifier (test_scalar_any_all.test); ALL is covered
                # above
                continue
        sites.append((m.start(), close))
    # an enclosing site's indices go stale once a nested site is
    # rewritten — keep only sites that contain no other site
    sites = [
        (s, c) for s, c in sites
        if not any(s < s2 and c2 < c for s2, c2 in sites)
    ]
    for start, close in reversed(sites):
        sub = text[start + 1: close]
        new_sub = _dsq_rewrite_one(sub, null_kw)
        if new_sub is not None:
            text = text[: start + 1] + new_sub + text[close:]
    return text


def _dsq_rewrite_one(sub: str, null_kw: str) -> str | None:
    mask = _code_mask(sub)
    depths = _depth_profile(sub, mask)

    def _top(pat: str) -> list["re.Match[str]"]:
        return [x for x in _code_matches(pat, sub, re.I, mask=mask)
                if depths[x.start()] == 0]

    if _top(r"\b(GROUP\s+BY|HAVING|DISTINCT|UNION|INTERSECT|EXCEPT|"
            r"WINDOW|QUALIFY)\b"):
        return None
    fm = _top(r"\bFROM\b")
    om = _top(r"\bORDER\s+BY\b")
    lm = _top(r"\bLIMIT\b")
    km = _top(r"\bOFFSET\b")
    wm = _top(r"\bWHERE\b")
    sel_only = re.match(r"\s*SELECT\s+(.*)$", sub, re.I | re.S)
    if sel_only and not (fm or om or lm or km or wm):
        # no-FROM scalar subquery: ``(SELECT 100-i1.i)`` is just the
        # expression — inline it (Spark rejects correlated scalar
        # subqueries in ORDER BY; the reference binds them anywhere)
        expr = sel_only.group(1).strip()
        if (len(_split_args(expr)) == 1
                and not _DSQ_AGGS.search(expr)
                and not re.match(r"DISTINCT\b", expr, re.I)
                # generators change cardinality: a scalar subquery over
                # UNNEST([]) is NULL, an inlined explode is zero rows
                and not re.search(
                    r"\bOVER\b|\(\s*SELECT\b|\b(UNNEST|EXPLODE|"
                    r"GENERATE_SERIES|RANGE)\s*\(", expr, re.I)):
            expr = re.sub(r"\s+AS\s+\w+\s*$", "", expr, flags=re.I)
            return expr
        return None
    if len(fm) != 1 or len(om) != 1 or not (lm or km):
        return None
    if len(lm) > 1 or len(km) > 1 or len(wm) > 1:
        return None
    sel_m = re.match(r"\s*SELECT\s+", sub, re.I)
    if sel_m is None:
        return None
    sel = sub[sel_m.end(): fm[0].start()]
    if _DSQ_AGGS.search(sel) or re.search(r"\bOVER\b", sel, re.I):
        return None
    bounds = sorted(
        [x.start() for x in (wm + om + lm + km)] + [len(sub)]
    )
    from_end = next(b for b in bounds if b > fm[0].end())
    from_seg = sub[fm[0].end(): from_end].strip()
    if not from_seg:
        return None
    where_seg = ""
    if wm:
        w_end = next(b for b in sorted(
            [x.start() for x in (om + lm + km)] + [len(sub)]
        ) if b > wm[0].end())
        where_seg = sub[wm[0].end(): w_end].strip()
    o_end = next(b for b in sorted(
        [x.start() for x in (lm + km)] + [len(sub)]
    ) if b > om[0].end())
    order_seg = sub[om[0].end(): o_end].strip()
    lim_seg = ""
    off_seg = ""
    if lm:
        l_end = next(b for b in sorted(
            [x.start() for x in km] + [len(sub)]
        ) if b > lm[0].end())
        lim_seg = sub[lm[0].end(): l_end].strip()
    if km:
        k_end = next(b for b in sorted(
            [x.start() for x in lm] + [len(sub)]
        ) if b > km[0].end())
        off_seg = sub[km[0].end(): k_end].strip()
    if re.search(r"%|\bPERCENT\b", lim_seg, re.I):
        return None
    # inner name universe = every word in the FROM segment (an
    # over-approximation that only makes the rewrite MORE conservative
    # about what counts as an outer reference)
    inner_words = {w.lower() for w in re.findall(r"\w+", from_seg)}

    def _outer_quals(seg: str) -> set[str]:
        return {
            mm.group(1).lower()
            for mm in _code_matches(r"\b(\w+)\s*\.\s*\w", seg)
            if mm.group(1).lower() not in inner_words
        }

    if not _outer_quals(sel):
        return None  # not correlated-looking: Spark handles it natively
    if _outer_quals(from_seg) or _outer_quals(where_seg) \
            or _outer_quals(order_seg):
        return None
    # ordinal / select-alias order keys resolve against the (possibly
    # correlated) select list — bail out
    sel_aliases = {mm.group(1).lower()
                   for mm in re.finditer(r"\bAS\s+(\w+)", sel, re.I)}
    for item in _split_args(order_seg):
        it = re.sub(r"\s+(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\b", "",
                    item, flags=re.I).strip()
        if re.fullmatch(r"\d+", it) or it.lower() in sel_aliases \
                or it.upper() == "ALL":
            return None
    # single-source FROM only (SELECT * through a join could collide)
    if _top(r"\bJOIN\b") or "," in re.sub(
        r"\([^()]*\)", "", from_seg
    ):
        return None
    alias = "__dsq"
    am = re.match(
        r"^(.*?)\s+(?:AS\s+)?(\w+)\s*(\(\s*\w+(?:\s*,\s*\w+)*\s*\))?\s*$",
        from_seg, re.I | re.S,
    )
    if am and am.group(1).count("(") == am.group(1).count(")") \
            and am.group(2).upper() not in _DSQ_ALIAS_KW:
        alias = am.group(2)
    elif re.fullmatch(r"[\w.\"]+", from_seg):
        alias = from_seg.rsplit(".", 1)[-1].strip('"')
    pinned = ", ".join(
        o if re.search(r"\bNULLS\s+(FIRST|LAST)\b", o, re.I)
        else f"{o.strip()} {null_kw}"
        for o in _split_args(order_seg)
    )
    inner = f"SELECT * FROM {from_seg}"
    if where_seg:
        inner += f" WHERE {where_seg}"
    inner += f" ORDER BY {pinned}"
    if lim_seg:
        inner += f" LIMIT {lim_seg}"
    if off_seg:
        inner += f" OFFSET {off_seg}"
    return f"SELECT {sel.strip()} FROM ({inner}) {alias}"


# ------------------------------------------------------------ translate
#
# ``translate()`` runs one ordered table, ``_PASSES``. A text step is a
# function ``text -> text``; a call rule is a ``(call name, handler)`` pair
# that ``_rewrite_calls`` applies once to every call site of that name. The
# steps and handlers below appear in table order. A later entry sees every
# earlier entry's output, so the order matters wherever one rule emits a
# call that another rule rewrites.


def _bind_current_query(text: str) -> str:
    """current_query() returns the statement text AS SENT (pg_catalog
    system functions) — bound before macro expansion touches it."""
    raw = text.strip().replace("'", "''")
    text = re.sub(r"\bpg_catalog\s*\.\s*(?=current_query\s*\()", "", text,
                  flags=re.I)
    return _rewrite_calls(
        text, "current_query",
        lambda a: f"'{raw}'" if not a or not a[0] else None,
    )


def _bind_type_aliases(text: str) -> str:
    """CREATE TYPE aliases (reference type_catalog_entry): resolve
    ::alias / CAST(x AS alias) to the base type spelling BEFORE the
    generic type rules, so e.g. `1::test_type` with test_type AS int32
    binds like `1::INT32` (catalog/comment_on.test). Reads the session's
    aliases each time it runs."""
    for alias, base in ischema.TYPE_ALIASES.items():
        al = re.escape(alias)
        if not re.search(rf"\b{al}\b", text, re.I):
            continue
        text = re.sub(rf"(::\s*){al}\b", lambda m: m.group(1) + base,
                      text, flags=re.I)
        text = re.sub(rf"(\bAS\s+){al}\b(\s*\))",
                      lambda m: m.group(1) + base + m.group(2),
                      text, flags=re.I)
    return text


# quantile family (reference quantile.cpp): quantile_cont interpolates
# (DOUBLE) = Spark's exact percentile; quantile_disc / quantile return the
# INPUT type — routed through the percentile_disc WITHIN GROUP step below
# (which preserves the element type)
def _quantile_cont(a: list[str]) -> str | None:
    if len(a) == 2:
        return f"percentile({a[0]}, {a[1]})"
    return f"percentile({a[0]}, 0.5)" if len(a) == 1 else None


def _quantile_disc(a: list[str]) -> str | None:
    if len(a) == 2:
        return f"percentile_disc({a[1]}) WITHIN GROUP (ORDER BY {a[0]})"
    if len(a) == 1:
        return f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {a[0]})"
    return None


def _pdisc_pick(srt: str, frac: str) -> str:
    # negative fractions count from the TOP (quantile.cpp: disc(-0.5)
    # over 6 = the 4th ascending = n + floor(p·n) + 1)
    idx = (
        f"CASE WHEN ({frac}) < 0 THEN size({srt}) + "
        f"CAST(floor(({frac}) * size({srt})) AS INT) + 1 "
        f"ELSE greatest(CAST(ceil(({frac}) * size({srt})) AS INT), "
        f"1) END"
    )
    return f"try_element_at({srt}, {idx})"


def _pdisc(mt: "re.Match[str]") -> str:
    p, e, direc = mt.group(1), mt.group(2).strip(), (mt.group(3) or "")
    asc = "false" if re.search(r"\bDESC\b", direc, re.I) else "true"
    srt = f"sort_array(collect_list({e}), {asc})"
    if re.match(r"\s*(\[|array\s*\()", p, re.I):
        return f"transform({p}, __pq -> {_pdisc_pick(srt, '__pq')})"
    return _pdisc_pick(srt, p)


def _rewrite_percentile_disc(text: str) -> str:
    """percentile_disc(p) WITHIN GROUP (ORDER BY e [DESC]) — Spark's
    builtin returns DOUBLE; the reference returns the INPUT type
    (ordered_aggregates.test: percentile_disc over ints = int).
    Collect-sort-index preserves the element type; index = smallest k
    with cum_dist >= p, i.e. ceil(p*n) (1-based, floor 1).

    The direction group also absorbs a NULLS FIRST/LAST modifier (nulls
    are dropped by collect_list, so placement never affects the result —
    but leaving it in the expression text broke the Spark parse) and the
    expression group tolerates one paren-nesting level."""
    return re.sub(
        r"\bpercentile_disc\s*\(((?:[^()]|\([^()]*\))+)\)\s+WITHIN\s+GROUP\s*\(\s*"
        r"ORDER\s+BY\s+((?:[^()]|\([^()]*\))+?)"
        r"(\s+DESC|\s+ASC)?(?:\s+NULLS\s+(?:FIRST|LAST))?\s*\)",
        _pdisc, text, flags=re.I,
    )


def _median_discrete(a: list[str]) -> str | None:
    """median over VARCHAR / DECIMAL is DISCRETE (lower middle) in the
    reference — only plain numerics interpolate (verified live:
    median(r::decimal(10,2)) over 0..9999 = 4999.00; median(d::VARCHAR)
    over 0..99 = '53'). Detect the typed-cast argument shape."""
    if len(a) != 1:
        return None
    arg = a[0].strip()
    if not re.search(
        r"::\s*(VARCHAR|STRING|TEXT|CHAR|BPCHAR|DECIMAL|NUMERIC)\b"
        r"|\bAS\s+(VARCHAR|STRING|TEXT|CHAR|BPCHAR|DECIMAL|NUMERIC)\b",
        arg, re.I,
    ):
        return None
    srt = f"array_sort(collect_list({arg}))"
    # lower middle: floor((n+1)/2), 1-based (int CAST would ROUND)
    return (
        f"try_element_at({srt}, "
        f"CAST(floor((size({srt}) + 1) / 2) AS INT))"
    )


def _drop_trailing_select_comma(text: str) -> str:
    """DuckDB tolerates a trailing comma in the SELECT list."""
    return _sub_code(r",(\s*FROM\b)", r"\1", text, re.I)


def _rewrite_range_zero_preceding(text: str) -> str:
    """RANGE frame end bound `0 PRECEDING`: the reference ends the frame
    BEFORE the current row (window_boundaries_state.cpp caps the end at
    the current position), where Spark's rangeBetween(…, 0) includes the
    current row and all its peers. Rewrite to CURRENT ROW EXCLUDE GROUP
    and let the EXCLUDE expansion subtract the peer group — exact
    whenever the order key is unique (ties are input-order-dependent in
    the reference itself)."""
    return _sub_code(
        r"(\bRANGE\s+BETWEEN\s+(?:[^()]|\([^()]*\))+?\s+AND\s+)0\s+PRECEDING\b",
        r"\1CURRENT ROW EXCLUDE GROUP", text, re.I,
    )


def _rewrite_integer_division(text: str) -> str:
    """DuckDB's `//` is integer division on integral operands — Spark's
    `div` truncates identically (both: -7//2 = -3). (On FLOAT/DECIMAL
    operands the reference's `//` degenerates to plain division — a
    surface this text-level rewrite doesn't carry; sweeps gate any
    mismatch before corpus promotion.)"""
    return _sub_code(r"(?<![/:])//(?!/)", " div ", text)


def _bind_registry_typeof(text: str) -> str:
    """Logical types whose Spark CARRIER erases the duck type name (JSON →
    STRING, unsigned ints → wider signed, HUGEINT → DECIMAL(38,0)):
    typeof(col) on a declared column of a FROM table resolves from the
    catalog registry at translate time (json/test_json_persistence,
    copy/parquet/writer/parquet_write_unsigned). Narrow bind:
    bare-identifier argument, no same-named differently-typed column in
    scope. Reads the session's column registry each time it runs."""
    declared: dict[str, str] = {}
    ambiguous: set[str] = set()
    for t in re.findall(r"\bFROM\s+\"?([A-Za-z_]\w*)\"?", text, re.I):
        for nm, dt in ischema.declared_types(t).items():
            if dt.replace("[]", "") in _REGISTRY_BOUND:
                if nm in declared and declared[nm] != dt:
                    ambiguous.add(nm)
                declared[nm] = dt
            else:
                ambiguous.add(nm)
    for nm in ambiguous:
        declared.pop(nm, None)
    if not declared:
        return text
    return _rewrite_calls(text, "typeof", partial(_declared_typeof, declared))


def _scan_columns(fields) -> list[dict]:
    """Catalog-registry rows for scanned Spark fields: the ``duck_type``
    a COPY TO parquet footer carries for a registry-bound name, else the
    Spark type rendered."""
    return [
        ischema.column_row(
            f.name, i + 1,
            f.metadata["duck_type"]
            if f.metadata.get("duck_type") in _REGISTRY_BOUND
            else typenames.duck_name(f.dataType.simpleString()),
        )
        for i, f in enumerate(fields)
    ]


def _declared_typeof(declared: dict[str, str], a: list[str]) -> str | None:
    col = a[0].strip().strip('"').split(".")[-1].strip('"').lower()
    return f"'{declared[col]}'" if len(a) == 1 and col in declared else None


# Spark typeof() name -> DuckDB name, as a SQL map literal
_TYPEOF_MAP = "map(" + ",".join(
    f"'{k}','{v}'" for k, v in typenames.SPARK_NAMES.items()
) + ")"


def _typeof_names(a: list[str]) -> str | None:
    """typeof(): DuckDB type NAMES (catalog type ids, type.cpp ToString)
    differ from Spark's — map the scalar names, upper-case the rest. Runs
    BEFORE the cast/list rewrites so their INTERNAL typeof() dispatch
    emissions are never re-mapped."""
    if len(a) != 1:
        return None
    t = f"typeof({a[0]})"
    # compound names (struct/map/array/decimal) need the recursive
    # DuckDB rendering (STRUCT(k1 VARCHAR, ...), VARCHAR[], ...) —
    # routed through the __duck_typename helper (functions/typenames.py)
    return (
        f"CASE WHEN {t} LIKE '%<%' THEN __duck_typename({t}) "
        # Spark TIME carries precision (time(6)); DuckDB prints TIME
        f"WHEN {t} LIKE 'time(%' THEN 'TIME' "
        f"ELSE coalesce(element_at({_TYPEOF_MAP}, {t}), upper({t})) END"
    )


def _abs_fn(a: list[str]) -> str | None:
    """abs()/unary negate on wide DECIMALs (the HUGEINT carrier): Spark's
    UnaryMinus/Abs round near the 38-digit edge, but decimal multiply by
    -1 is exact — dispatch on the static type."""
    if len(a) != 1:
        return None
    x = a[0]
    return (
        f"CASE WHEN typeof(({x})) LIKE 'decimal%' THEN "
        f"(CASE WHEN ({x}) < 0 THEN ({x}) * -1 ELSE ({x}) END) "
        f"ELSE abs(({x})) END"
    )


def _ceil_floor(which: str, a: list[str]) -> str | None:
    """ceil/ceiling/floor: the reference returns DOUBLE for every
    non-DECIMAL argument (FLOAT for FLOAT) and passes NaN/±inf through
    (function/scalar/math — ceil/floor templates); Spark's return BIGINT
    and ANSI-overflow on huge/±inf doubles. Emit a pure-double form (no
    BIGINT round-trip, so |x| >= 2^63 survives). Bare numeric literals
    stay on Spark's DECIMAL path — both engines type those DECIMAL and
    agree."""
    if len(a) != 1:
        return None
    x = a[0]
    if re.fullmatch(r"\s*[+-]?\d+(\.\d+)?\s*", x):
        return None
    # explicitly DECIMAL-typed args keep Spark's DECIMAL ceil — the
    # reference returns DECIMAL(p,0) there, not DOUBLE
    if re.search(
        r"(::\s*|\bAS\s+)(DECIMAL|NUMERIC)(\s*\(\s*\d+\s*(,\s*\d+\s*)?\))?\s*\)*\s*$",
        x,
        re.I,
    ):
        return None
    d = f"CAST(({x}) AS DOUBLE)"
    t = f"({d} - ({d} % 1.0))"  # truncation toward zero
    if which == "ceil":
        adj = f"CASE WHEN {t} = {d} OR {d} < 0 THEN {t} ELSE {t} + 1 END"
    else:
        adj = f"CASE WHEN {t} = {d} OR {d} > 0 THEN {t} ELSE {t} - 1 END"
    return (
        f"(CASE WHEN isnan({d}) OR abs({d}) = CAST('inf' AS DOUBLE) "
        f"THEN {d} ELSE {adj} END)"
    )


def _wrap_big(text: str, mm: "re.Match[str]") -> str:
    if int(mm.group(2)) <= 9223372036854775807:
        return mm.group(0)
    neg = ""
    if mm.group(1):
        j = mm.start() - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        prev = text[j] if j >= 0 else ""
        wm = re.search(r"([A-Za-z_]\w*)\s*$", text[: j + 1])
        unary = (
            j < 0
            or prev in "(,=<>+-*/%"
            or (wm and wm.group(1).upper() in (
                "SELECT", "WHEN", "THEN", "ELSE", "AND", "OR", "NOT",
                "BY", "VALUES", "IN", "RETURN", "AS", "WHERE", "ON",
            ))
        )
        if unary:
            neg = "-"
    # -9223372036854775808 is a valid BIGINT even though its digits alone
    # overflow; keep it integral so sequence()/range() bounds stay
    # BIGINT-typed (table_function/test_range_function.test)
    if neg and int(mm.group(2)) <= 9223372036854775808:
        return f"CAST('-{mm.group(2)}' AS BIGINT)"
    body = f"CAST('{neg}{mm.group(2)}' AS DECIMAL(38,0))"
    return body if neg else (mm.group(1) or "") + body


def _rewrite_big_int_literals(text: str) -> str:
    """Bare integer literals beyond BIGINT parse as DOUBLE in Spark
    (silent precision loss at digit 16); the reference parses them as
    HUGEINT — carry them exactly as DECIMAL(38,0). A UNARY minus is
    absorbed into the literal: Spark coerces `-CASE …` (the cast
    rewrite's later expansion) through DOUBLE, losing the digits
    again."""
    return _sub_code(r"(-\s*)?(?<![\w.'\"])(\d{19,38})(?![\w.])",
                     lambda mm: _wrap_big(text, mm), text)


def _rewrite_blobs(text: str) -> str:
    """BLOB literals; also records whether the statement touches blobs,
    which the cast rewrite reads (``_CAST_BLOB_HINT``)."""
    _CAST_BLOB_HINT[0] = _statement_touches_blobs(text)
    return _rewrite_blob_literals(text)


def _inf_postfix(mm: "re.Match[str]") -> str:
    neg = mm.group(1).startswith("-")
    typ = mm.group(2).upper()
    if typ == "DATE":
        v = "'0001-01-01'" if neg else "'9999-12-31'"
    elif typ == "TIMESTAMPTZ":
        # the infinite INSTANT is zone-independent — anchor the pin to UTC
        # so a SET TimeZone session parses the same instant
        v = ("'0001-01-01 00:00:00+00:00'" if neg
             else "'9999-12-31 23:59:59.999999+00:00'")
    else:
        v = ("'0001-01-01 00:00:00'" if neg
             else "'9999-12-31 23:59:59.999999'")
    return f"{v}::{mm.group(2)}"


def _rewrite_infinity_literals(text: str) -> str:
    """±infinity temporal literals in postfix-cast spelling: the reference
    pins them to the type's range ends (timestamp.cpp); the CAST(...)
    spelling is handled inside _rewrite_int_casts, this is the ::form.
    Infinity ABSORBS interval arithmetic first (interval.cpp: ±infinity ±
    x = ±infinity; an infinite DATE promotes to the infinite TIMESTAMP) —
    collapse to the final cast type and drop the interval op before the
    literal pin applies."""
    text = re.sub(
        r"('[+-]?infinity')(?:\s*::\s*(?:TIMESTAMPTZ|TIMESTAMP|DATE|"
        r"DATETIME))*\s*::\s*(TIMESTAMPTZ|TIMESTAMP|DATE|DATETIME)"
        r"\s*[+-]\s*INTERVAL\s*(?:\([^()]*\)|'[^']*')?\s*\w*",
        lambda mm: f"{mm.group(1)}::TIMESTAMP"
        if mm.group(2).upper() in ("DATE", "DATETIME")
        else f"{mm.group(1)}::{mm.group(2)}",
        text, flags=re.I,
    )
    return re.sub(
        r"'([+-]?infinity)'\s*::\s*(TIMESTAMPTZ|TIMESTAMP|DATE|DATETIME)\b",
        _inf_postfix, text, flags=re.I,
    )


def _rewrite_offset_timestamp_literals(text: str) -> str:
    """Offset-bearing string → naive TIMESTAMP: the reference normalizes
    the instant to UTC (timestamp.cpp TryConvertTimestampTZ — verified
    live, session-independent); Spark's NTZ cast silently DROPS the
    offset. Parse as instant and rebuild the UTC wall."""
    return re.sub(
        r"'(\d{4}-\d{2}-\d{2}[ T]\d{1,2}:\d{2}[0-9:.]*\s*[+-]\d{1,2}"
        r"(?::\d{2})?)'\s*::\s*TIMESTAMP\b(?!\s*(?:_|TZ|\w))"
        r"|\bTIMESTAMP\s+'(\d{4}-\d{2}-\d{2}[ T]\d{1,2}:\d{2}[0-9:.]*\s*"
        r"[+-]\d{1,2}(?::\d{2})?)'",
        lambda mm: _tz_instant_to_wall(
            f"'{mm.group(1) or mm.group(2)}'", "'UTC'"
        ),
        text, flags=re.I,
    )


def _rename_timestamptz(text: str) -> str:
    """The reference's TIMESTAMPTZ type name (instant kind) is Spark's
    TIMESTAMP_LTZ — rename at every type position (::casts, CAST AS,
    typed literals); runs after AT TIME ZONE whose dispatch reads the
    original spelling."""
    return _sub_code(r"\bTIMESTAMPTZ\b", "TIMESTAMP_LTZ", text, re.I)


# unary minus on an UNSIGNED-cast chain wraps modulo 2^N (verified live:
# -42::TINYINT::UTINYINT = 214, -1::INTEGER::UINTEGER = 4294967295 —
# modular negate, numeric_cast semantics)
_NEG_UNSIGNED = re.compile(
    r"(?<![\w)'\"])-\s*("
    r"(?:\w+|'(?:[^']|'')*'|\([^()]*\))(?:\s*::\s*\w+)*\s*::\s*"
    rf"({'|'.join(_UNSIGNED)}))\b(?!\s*::)",
    re.I,
)


def _neg_dispatch(text: str, mm: "re.Match[str]") -> str:
    # unary only: the previous non-space token must open an operand
    # position (start, '(', ',', an operator, or a keyword) — after an
    # identifier/number/')' the '-' is binary subtraction
    j = mm.start()
    while j > 0 and text[j - 1].isspace():
        j -= 1
    if j > 0:
        prev = text[j - 1]
        if prev not in "(,=<>+-*/%|&":
            km = re.search(r"([A-Za-z_]\w*)$", text[:j])
            if not km or km.group(1).upper() in (
                "TRUE", "FALSE", "NULL", "END",
            ) or km.group(1).upper() not in (
                "SELECT", "WHERE", "AND", "OR", "THEN", "WHEN",
                "ELSE", "BY", "RETURN", "SET", "HAVING", "ON",
                "VALUES", "AS", "IN", "CASE", "DISTINCT",
            ):
                return mm.group(0)
    row = _UNSIGNED[mm.group(2).lower()]
    pow2 = row.range[1] + 1
    return f"CAST(({pow2} - ({mm.group(1)})) % {pow2} AS {row.spark})"


def _rewrite_negated_unsigned(text: str) -> str:
    return _sub_code(
        _NEG_UNSIGNED, lambda mm: _neg_dispatch(text, mm), text,
    )


def _pin_order_by_all_nulls(text: str) -> str:
    """ORDER BY ALL: DuckDB's default null order is NULLS LAST for both
    directions (order_binder.cpp) unless the session overrides it via SET
    default_null_order (the reference's own test harness sets
    'nulls_first'); Spark's ASC default is NULLS FIRST. Reads the
    session setting each time it runs."""
    null_kw = (
        "NULLS FIRST"
        if SETTINGS.get("default_null_order", "nulls_last") == "nulls_first"
        else "NULLS LAST"
    )
    return _sub_code(
        r"(\bORDER\s+BY\s+ALL\b)(\s+(?:ASC|DESC)\b)?(?!\s*NULLS)",
        lambda m: f"{m.group(1)}{m.group(2) or ''} {null_kw}",
        text, re.I,
    )


def _rewrite_star_exclude(text: str) -> str:
    """Star modifiers: DuckDB `* EXCLUDE (cols)` == Spark 4 `* EXCEPT
    (cols)`."""
    return re.sub(r"(\*\s*)EXCLUDE\b", r"\1EXCEPT", text)


def _fold_chr(a: list[str]) -> str:
    """chr: full Unicode codepoints (Spark char() wraps at 256) — decode
    the codepoint as a single UTF-32BE unit. Constant arguments fold to a
    \\uXXXX string literal so chr() stays usable inside inline VALUES
    tables (Spark rejects non-foldable expressions there, e.g. the
    reference's `INSERT ... VALUES ('hello' || chr(0))`,
    test/sql/index/art/scan/test_art_null_bytes.test)."""
    s = a[0].strip()
    if re.fullmatch(r"\d+", s) and int(s) <= 0x10FFFF:
        units = chr(int(s)).encode("utf-16-be")
        esc = "".join(
            "\\u%04X" % int.from_bytes(units[i: i + 2], "big")
            for i in range(0, len(units), 2)
        )
        return f"'{esc}'"
    return f"decode(to_binary(lpad(hex({a[0]}), 8, '0'), 'hex'), 'UTF-32')"


def _re_replace(args: list[str]) -> str | None:
    """regexp_replace: DuckDB's 3-arg form replaces the FIRST match only;
    'g' flag = replace all (Spark's only behavior), 'i' = case-fold."""
    if len(args) == 4:
        flags = args[3].strip().strip("'\"")
        pat = args[1]
        pm = re.match(r"^'(.*)'$", pat.strip(), re.S)
        if "l" in flags and pm:  # RE2 literal flag → \Q...\E quoting
            pat = f"'\\\\Q{pm.group(1)}\\\\E'"
            pm = re.match(r"^'(.*)'$", pat, re.S)
        inline = "".join(f for f in "ism" if f in flags)
        if inline and pm:
            pat = f"'(?{inline}){pm.group(1)}'"
        if "g" in flags:
            return f"regexp_replace({args[0]}, {pat}, {args[2]})"
        args = [args[0], pat, args[2]]
    if len(args) != 3:
        return None
    s, p, r = args
    rm = re.match(r"^'(.*)'$", r.strip(), re.S)
    if rm:  # DuckDB backrefs \1 → Spark/Java $1
        r = "'" + re.sub(r"\\(\d)", r"$\1", rm.group(1)) + "'"
    return (
        f"CASE WHEN regexp_instr({s}, {p}) = 0 THEN {s} ELSE "
        f"substr({s}, 1, regexp_instr({s}, {p}) - 1) || "
        f"regexp_replace(regexp_extract({s}, {p}, 0), {p}, {r}) || "
        f"substr({s}, regexp_instr({s}, {p}) + length(regexp_extract({s}, {p}, 0))) END"
    )


def _unshield(placeholder: str, name: str, text: str) -> str:
    """Rename each ``placeholder(`` call in code to ``name(``, once the
    later rule it shields that call from has run."""
    return _sub_code(rf"\b{placeholder}\s*\(", f"{name}(", text)


def _skewness(args: list[str]) -> str | None:
    """skewness/kurtosis: DuckDB reports the bias-corrected SAMPLE
    statistics (skew.cpp: g1·sqrt(n(n-1))/(n-2); kurtosis.cpp:
    ((n-1)/((n-2)(n-3)))·((n+1)(m4/m2²−3)+6), NULL below the minimum n);
    Spark's built-ins are the population g1/g2. Expand to central moments
    from raw power averages. Group contexts only — a window use becomes a
    parse error rather than a silently-different value."""
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    n, mu = f"count({x})", f"avg({x})"
    m2 = f"(avg({x}*{x}) - {mu}*{mu})"
    m3 = f"(avg({x}*{x}*{x}) - 3*{mu}*avg({x}*{x}) + 2*{mu}*{mu}*{mu})"
    return (
        f"CASE WHEN {n} > 2 AND {m2} > 0 THEN "
        f"({m3} / power({m2}, 1.5)) * sqrt({n} * ({n} - 1.0)) / ({n} - 2) "
        f"ELSE NULL END"
    )


def _kurtosis(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    n, mu = f"count({x})", f"avg({x})"
    m2 = f"(avg({x}*{x}) - {mu}*{mu})"
    m4 = (
        f"(avg({x}*{x}*{x}*{x}) - 4*{mu}*avg({x}*{x}*{x}) "
        f"+ 6*{mu}*{mu}*avg({x}*{x}) - 3*{mu}*{mu}*{mu}*{mu})"
    )
    return (
        f"CASE WHEN {n} > 3 AND {m2} > 0 THEN "
        f"(({n} - 1.0) / (({n} - 2) * ({n} - 3))) * "
        f"(({n} + 1) * ({m4} / ({m2}*{m2}) - 3) + 6) "
        f"ELSE NULL END"
    )


def _json_array_length(a: list[str]) -> str | None:
    """json_array_length: DuckDB yields 0 for non-array JSON, NULL only
    for NULL input (json_array_length.cpp); Spark yields NULL for both."""
    if len(a) != 1:
        return None
    return (
        f"CASE WHEN ({a[0]}) IS NULL THEN NULL "
        f"ELSE coalesce(json_array_length({a[0]}), 0) END"
    )


def _json_transform_sql(strict: bool, a: list[str]) -> str | None:
    """json_transform(j, 'structure') / json_transform_strict /
    from_json(_strict): the structure is a query constant (DuckDB's
    json_transform.cpp binds it constant too), so each distinct structure
    compiles to a SPECIALIZED Arrow-batched UDF implementing the
    reference's element-wise lenient-cast semantics — from_json can't
    express per-element NULL on mismatch, bool->int coercion,
    round-half-even number->int, or unsigned range guards
    (test_json_transform.test). Non-literal structures stay untouched
    (and fail loudly), matching the reference's bind requirement."""
    if len(a) != 2:
        return None
    lit = a[1].strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        return None
    from myduckdb_spark.functions.jsonx import make_transform_spec

    try:
        name, ddl, root_struct = make_transform_spec(
            lit[1:-1].replace("''", "'"), strict
        )
    except (ValueError, TypeError):
        return None
    if root_struct:
        # a pandas-UDF DataFrame row can't be a NULL struct: NULL and
        # JSON-null inputs short-circuit to a typed NULL here
        return (
            f"CASE WHEN ({a[0]}) IS NULL OR trim({a[0]}) = 'null' "
            f"THEN CAST(NULL AS {ddl}) ELSE {name}({a[0]}) END"
        )
    return f"{name}({a[0]})"


def _from_json_structure(a: list[str]) -> str | None:
    # only rewrite when the 2nd arg is a literal that parses as a JSON
    # structure document; Spark-style DDL strings pass through
    if len(a) != 2:
        return None
    lit = a[1].strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        return None
    body = lit[1:-1].replace("''", "'").lstrip()
    if not body[:1] in ("{", "[", '"'):
        return None
    return _json_transform_sql(False, a)


# --- JSON constructors (json_create.cpp): json_object / json_array /
# json_quote / to_json over scalars. Spark's to_json only accepts
# containers, so a scalar value renders through to_json(array(v)) with the
# brackets stripped — uniform for every type including NULL ('null'), bool
# ('true'), strings (quoted+escaped), nested structs.
def _jfrag(v: str) -> str:
    v = v.strip()
    # JSON-typed args splice raw (their text IS the JSON); SQL NULL of
    # JSON type renders as 'null' inside constructors
    if re.search(r"::\s*JSON\s*$", v, re.I) or re.match(
        r"(to_json|json_object|json_array|json_quote|json_merge_patch|"
        r"json_extract(?!_string)|row_to_json|"
        r"array_to_json|__jt_[0-9a-f]+)\s*\(", v, re.I
    ):
        # nested JSON values are MINIFIED inside constructors
        # (json_create.cpp re-serializes, key order preserved — Spark's
        # variant round-trip would alphabetize keys)
        return f"coalesce(__json_minify({v}), 'null')"
    t = f"to_json(array({v}))"
    return f"substring({t}, 2, length({t}) - 2)"


def _jfrag_key(k: str) -> str:
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", k)
    if m:
        body = m.group(1).replace('"', '\\"')
        return f"'\"{body}\":'"
    return f"{_jfrag(f'CAST({k} AS STRING)')} || ':'"


def _json_object(a: list[str]) -> str | None:
    if len(a) == 1 and not a[0].strip():
        a = []
    if len(a) % 2:
        return None
    if not a:
        return "'{}'"
    pieces = []
    for i in range(0, len(a), 2):
        if pieces:
            pieces.append("','")
        pieces.append(_jfrag_key(a[i]))
        pieces.append(_jfrag(a[i + 1]))
    return f"concat('{{', {', '.join(pieces)}, '}}')"


def _json_array(a: list[str]) -> str:
    if len(a) == 1 and not a[0].strip():
        a = []
    if not a:
        return "'[]'"
    pieces: list[str] = []
    for v in a:
        if pieces:
            pieces.append("','")
        pieces.append(_jfrag(v))
    return f"concat('[', {', '.join(pieces)}, ']')"


def _json_keys(a: list[str]) -> str | None:
    if len(a) == 1:
        return f"__json_keys({a[0]}, '$')"
    if len(a) != 2:
        return None
    p1 = a[1].strip()
    if p1.startswith("[") or re.match(
        r"(array|list_value|list_pack)\s*\(", p1, re.I
    ):
        return f"__json_keys_multi({a[0]}, {a[1]})"
    return f"__json_keys({a[0]}, {a[1]})"


def _json_merge(a: list[str]) -> str | None:
    if len(a) < 2:
        return None
    expr = a[0]
    for nxt in a[1:]:
        expr = f"__json_merge2({expr}, {nxt})"
    return expr


def _json_cast(try_form: bool, x: str) -> str:
    """JSON type casts: the JSON carrier is STRING. VARCHAR input
    VALIDATES but preserves the original text (CastVarcharToJSON);
    containers/scalars re-serialize compactly ([1,2,3]::JSON ->
    '[1,2,3]'). TRY_CAST yields NULL on malformed input, CAST raises.
    String literals validate at translate time (the common test form);
    everything else dispatches on the runtime value in the __json_cast
    UDF — a STRING column passes through, an ARRAY column serializes."""
    xs = x.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", xs)
    if m:
        from myduckdb_spark.functions.jsonx import _loads

        try:
            _loads(m.group(1).replace("''", "'"))
            return xs
        except (ValueError, TypeError):
            if try_form:
                return "CAST(NULL AS STRING)"
            return ("CAST(raise_error('malformed JSON') "
                    "AS STRING)")
    if re.fullmatch(r"NULL", xs, re.I):
        return "CAST(NULL AS STRING)"
    return f"__json_cast{'_try' if try_form else ''}({x})"


def _rewrite_typed_json_literals(text: str) -> str:
    """Typed literal: JSON '...' is a cast of the string literal."""
    return _sub_code(r"\bJSON\s+('(?:[^']|'')*')", r"\1::JSON", text, re.I)


def _rewrite_json_postfix_casts(text: str) -> str:
    """``x::JSON`` (see ``_json_cast``). Right to left: each operand lies
    left of its cast, in text that the rewrites of later casts have not
    touched, so one mask serves all."""
    mask = _code_mask(text)
    for mm in reversed(list(_code_matches(r"::\s*JSON\b", text, re.I, mask=mask))):
        try:
            st = _operand_start(text, mm.start(), mask)
        except ValueError:
            continue
        repl = _json_cast(False, text[st:mm.start()].strip())
        # (x::JSON).key[0]."q key"… — dot-syntax extraction over the cast;
        # the parenthesized form consumes its wrapping parens
        end = mm.end()
        lo = st
        if re.search(r"\(\s*$", text[:st]) and re.match(r"\s*\)", text[end:]):
            pm = re.match(r"\s*\)", text[end:])
            chain = re.match(_DOT_CHAIN, text[end + pm.end():])
            if chain:
                lo = text[:st].rindex("(")
                end = end + pm.end()
        dmc = re.match(_DOT_CHAIN, text[end:])
        if dmc:
            path = "$" + re.sub(r'\s*([.\[\]])\s*', r"\1", dmc.group(1))
            text = text[:lo] + f"__jx_one({repl}, '{path}')" + text[end + dmc.end():]
        else:
            text = text[:lo] + repl + text[end:]
    return text


def _cast_json(try_form: bool, a: list[str]) -> str | None:
    """CAST(x AS JSON) / TRY_CAST(x AS JSON) (see ``_json_cast``)."""
    if len(a) != 1:
        return None
    m = re.fullmatch(r"(.+)\s+AS\s+JSON\s*", a[0], re.I | re.S)
    if not m:
        return None
    return _json_cast(try_form, m.group(1))


def _rewrite_json_minify(text: str) -> str:
    """json(x) MINIFIES (unlike the text-preserving ::JSON cast) and a
    JSON null input yields SQL NULL; a trailing .key[.key…] chain is
    DuckDB's dot-syntax extraction over the JSON value
    (json_functions.cpp dot operator / json minify)."""
    while True:
        mask = _code_mask(text)
        mj = next(
            (c for c in _code_matches(r"\bjson\s*\(", text, re.I, mask=mask)
             if not re.search(r"[.$]$|::\s*$", text[: c.start()])),
            None,
        )
        if mj is None:
            return text
        close = _matching(text, mj.end() - 1, mask)
        if close < 0:
            return text
        cast_expr = f"__json_minify({text[mj.end():close]})"
        dm = re.match(_DOT_CHAIN, text[close + 1:])
        if dm:
            path = "$" + re.sub(r'\s*([.\[\]])\s*', r"\1", dm.group(1))
            repl = f"__jx_one({cast_expr}, '{path}')"
            text = text[: mj.start()] + repl + text[close + 1 + dm.end():]
        else:
            text = text[: mj.start()] + cast_expr + text[close + 1:]


def _json_in_cast(fn: str, a: list[str]) -> str | None:
    """json_structure/json_type are string-input pandas UDFs; a JSON-typed
    (VARIANT) column must be serialized back to JSON text first."""
    if not a:
        return None
    head = a[0].strip()
    if re.fullmatch(r"'(?:[^']|'')*'", head):  # literal: already text
        return None
    return None if head.upper().startswith("CAST(") else (
        f"{fn}(CAST({a[0]} AS STRING)"
        + ("".join(f", {x}" for x in a[1:])) + ")"
    )


def _list_sort(args: list[str]) -> str:
    """list_sort(l [, 'ASC'|'DESC' [, nulls]]): DuckDB default null order
    is NULLS LAST for ASC, and the optional third argument overrides it
    (list_sort.cpp); Spark's sort_array(asc) is NULLS FIRST, array_sort()
    NULLS LAST."""
    if len(args) == 1:
        return f"array_sort({args[0]})"
    order = args[1].strip().strip("'\"").upper()
    nulls = args[2].strip().strip("'\"").upper() if len(args) == 3 else ""
    if order == "ASC":
        if "FIRST" in nulls:
            return f"sort_array({args[0]}, true)"
        return f"array_sort({args[0]})"
    if "FIRST" in nulls:
        return f"reverse(array_sort({args[0]}))"
    return f"sort_array({args[0]}, false)"


def _strftime(args: list[str]) -> str | None:
    """strftime/strptime: convert the C %-format literal to Spark's
    DateTimeFormatter pattern (reference strftime_format.cpp); calls with
    unmappable codes are left as-is (error/skip beats a silently
    different string)."""
    if len(args) != 2:
        return None
    m_fmt = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[1])
    if not m_fmt:
        return None
    fmt = m_fmt.group(1).replace("''", "'")
    if fmt == "%-y":  # unpadded 2-digit year: no Java pattern exists
        return f"CAST(year({args[0]}) % 100 AS STRING)"
    j = _strf_literal_to_java(fmt)
    if j is None:
        return None
    out_expr = f"date_format({args[0]}, '{j.replace(chr(39), chr(39)*2)}')"
    if "yyyy" in j:
        # Java prints years > 9999 as '+99999'; DuckDB has no sign
        out_expr = f"regexp_replace({out_expr}, '^\\\\+', '')"
    return out_expr


def _java_parse_lenient(j: str) -> str:
    """Parse-mode pattern: single-letter numeric fields accept 1-N digits
    (DuckDB's strptime is non-strict about zero padding); strftime keeps
    the padded multi-letter forms. Quoted literal sections pass through
    untouched."""
    out_parts = []
    for i, seg in enumerate(re.split(r"('(?:[^']|'')*')", j)):
        if i % 2 == 0:
            # adjacent numeric fields ('%Y%d%m') NEED fixed widths to
            # parse unambiguously — keep those padded
            blk = r"(?:yyyy|yy|MM|dd|HH|hh|mm|ss|DDD)"
            if re.search(blk + blk, seg):
                out_parts.append(seg)
                continue
            # exact-length runs only — MMMM (month name) must survive
            for ch in "DMdHhms":
                n = 3 if ch == "D" else 2
                seg = re.sub(f"(?<!{ch}){ch}{{{n}}}(?!{ch})", ch, seg)
        out_parts.append(seg)
    return "".join(out_parts)


def _strptime(args: list[str], fn: str = "to_timestamp") -> str | None:
    if len(args) != 2:
        return None
    m_fmt = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[1])
    if not m_fmt:
        return None
    fmt = m_fmt.group(1).replace("''", "'")
    j = _strf_literal_to_java(fmt)
    if j is None:
        return None
    j = _java_parse_lenient(j)
    if not re.search(r"%[-]?[YyG]", fmt):
        # no year directive: DuckDB defaults to 1900, Spark to 1970
        # (strptime.cpp StrTimeFormat defaults)
        return (
            f"{fn}(concat('1900 ', {args[0]}), "
            f"'yyyy {j.replace(chr(39), chr(39)*2)}')"
        )
    return f"{fn}({args[0]}, '{j.replace(chr(39), chr(39)*2)}')"


# ---- string-function edge parity (reference test/sql/function/string) ----
#
# ``__substr`` is Spark's substring over arguments already in Spark's
# convention. LEFT/RIGHT and `substring(x FROM a FOR b)` emit it to shield
# their output from the 3-arg substring/substr rules, which run later;
# ``_PASSES`` renames it right after those rules.

def _left(a: list[str]) -> str | None:
    """LEFT/RIGHT with negative counts drop from the other end
    (left_right.cpp); Spark returns '' for negatives."""
    if len(a) != 2:
        return None
    return (
        f"CASE WHEN ({a[1]}) IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN ({a[1]}) >= 0 THEN left({a[0]}, {a[1]}) "
        f"ELSE __substr({a[0]}, 1, greatest(length({a[0]}) + ({a[1]}), 0)) END"
    )


def _right(a: list[str]) -> str | None:
    if len(a) != 2:
        return None
    return (
        f"CASE WHEN ({a[1]}) >= 0 THEN right({a[0]}, {a[1]}) "
        f"ELSE __substr({a[0]}, 1 - ({a[1]})) END"
    )


def _substring3(a: list[str], fn: str = "substring") -> str | None:
    """3-arg substring: DuckDB resolves a negative start from the
    string's end, then takes the window [min(start, start+len),
    max(...)) clamped to position 1 — so start 0 eats one of the length
    and a negative length takes characters BEFORE the start
    (substring.cpp; verified live: substring('hello',0,5)='hell',
    ('hello',2,-2)='h')."""
    if len(a) != 3:
        return None
    s, st, ln = a
    rs = (
        f"(CASE WHEN ({st}) < 0 THEN length({s}) + ({st}) + 1 "
        f"ELSE ({st}) END)"
    )
    lo = f"greatest(least({rs}, {rs} + ({ln})), 1)"
    hi = f"greatest({rs}, {rs} + ({ln}))"
    return (
        f"CASE WHEN ({st}) IS NULL OR ({ln}) IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE {fn}({s}, {lo}, {hi} - {lo}) END"
    )


def _substr_fromfor(a: list[str]) -> str | None:
    """SQL-standard `substring(x FROM a [FOR b])` → comma form first."""
    if len(a) != 1:
        return None
    m = re.match(
        r"^(.*?)\s+FROM\s+(.+?)(?:\s+FOR\s+(.+?))?$", a[0].strip(), re.I | re.S
    )
    if not m:
        return None
    if m.group(3) is not None:
        return _substring3([m.group(1), m.group(2), m.group(3)], "__substr")
    return f"__substr({m.group(1)}, {m.group(2)})"


def _split_part(a: list[str]) -> str | None:
    """split_part NEVER returns NULL ('' for NULL inputs); a NULL
    separator doesn't split (part 1 = the whole string); '' separator
    splits into characters (string_split.cpp empty-delimiter path;
    verified live)."""
    if len(a) != 3:
        return None
    return (
        f"coalesce(CASE "
        f"WHEN ({a[1]}) IS NULL THEN "
        f"CASE WHEN CAST({a[2]} AS INT) = 1 THEN ({a[0]}) ELSE '' END "
        f"WHEN ({a[1]}) = '' "
        f"THEN try_element_at(split({a[0]}, ''), CAST({a[2]} AS INT)) "
        f"ELSE split_part({a[0]}, {a[1]}, {a[2]}) END, '')"
    )


def _string_agg_null_sep(a: list[str]) -> str | None:
    """string_agg with a NULL separator returns NULL (DuckDB binds the
    separator eagerly; verified live); the 1-arg form defaults to ','
    (string_agg.cpp) while Spark's listagg default is ''."""
    if len(a) == 1 and not re.match(r"\s*DISTINCT\b", a[0], re.I):
        if re.search(r"\bORDER\s+BY\b", a[0], re.I):
            return None  # ordered form handled elsewhere
        return f"string_agg({a[0]}, ',')"
    if len(a) != 2:
        return None
    if a[1].strip().upper() != "NULL":
        return None
    return "CAST(NULL AS STRING)"


def _printf_nulls(a: list[str]) -> str | None:
    """printf/format: any NULL argument makes the result NULL (DuckDB fmt
    semantics; Spark renders nulls as the string 'null')."""
    if len(a) < 2:
        return None
    args = list(a)
    fmt = args[0].strip()
    if re.fullmatch(r"'(?:[^']|'')*'", fmt):
        # %s arguments format through the SQL text rendering (the
        # reference prints DATE/TIMESTAMP as their SQL text; Spark's %s of
        # a DATE prints the raw epoch-days int)
        convs = re.findall(
            r"%[-+ #0]*\d*(?:\.\d+)?([sdioxXeEfgGc%])", fmt
        )
        convs = [c for c in convs if c != "%"]
        for i, conv in enumerate(convs):
            if conv == "s" and i + 1 < len(args):
                args[i + 1] = f"CAST({args[i + 1]} AS STRING)"
    guard = " OR ".join(f"({x}) IS NULL" for x in a)
    return (
        f"CASE WHEN {guard} THEN CAST(NULL AS STRING) "
        f"ELSE printf({', '.join(args)}) END"
    )


def _regexp_extract(a: list[str]) -> str | None:
    """regexp_extract: DuckDB's default group is 0 (the whole match);
    Spark's is 1. A NULL group yields '' (verified live)."""
    if len(a) == 2:
        return f"regexp_extract({a[0]}, {a[1]}, 0)"
    if len(a) == 3 and a[2].strip().upper() == "NULL":
        return "''"
    return None


def _null_dropping_intersect(a: list[str]) -> str:
    """list_intersect / array_intersect dedup and drop NULLs; NULL first
    arg -> NULL but NULL second arg -> [] (verified live,
    asymmetric)."""
    return (
        f"CASE WHEN ({a[0]}) IS NULL THEN NULL "
        f"WHEN ({a[1]}) IS NULL THEN filter({a[0]}, __x -> false) "
        f"ELSE array_intersect(filter({a[0]}, __x -> __x IS NOT NULL), "
        f"filter({a[1]}, __x -> __x IS NOT NULL)) END"
    )


def _bind_user_value_functions(text: str) -> str:
    """CURRENT_USER/SESSION_USER/CURRENT_ROLE/USER value functions ->
    'duckdb'; CURRENT_CATALOG -> 'memory' (pg_catalog system_functions).
    Bare USER is the value function ONLY when no relation/alias named
    `user` appears in the statement (the binder prefers the relation:
    parser/test_value_functions.test aliases VALUES as user(x)).
    pg_catalog-qualified function calls then resolve like unqualified
    ones (the pg_catalog VIEWS were bound before translate)."""
    user_alt = (
        "|user"
        if not re.search(r"\buser\s*\(|\b(FROM|JOIN|TABLE)\s+user\b",
                         text, re.I)
        else ""
    )
    text = _sub_code(
        rf"(?<![.\w])(current_user|session_user|current_role{user_alt})\b"
        r"(?!\s*\(|\s*\.)",
        "'duckdb'", text, re.I,
    )
    text = _sub_code(r"\bcurrent_catalog\b(?!\s*\()", "'memory'", text, re.I)
    return _sub_code(r"\bpg_catalog\s*\.\s*(\w+\s*\()", r"\1", text, re.I)


def _strip_pg_catalog_settings(text: str) -> str:
    """SET search_path drives current_schema/current_schemas/
    current_setting (values resolve at translate time — session
    state)."""
    return re.sub(
        r"\bpg_catalog\s*\.\s*"
        r"(current_schemas?|current_setting|current_database)\b",
        r"\1", text, flags=re.I,
    )


def _search_path() -> list[str]:
    return [s for s in SETTINGS.get("search_path", "").split(",") if s]


def _current_schema(a: list[str]) -> str | None:
    if a and a[0]:
        return None
    # an attached-catalog schema's flat name ('db1__s1') reports its inner
    # name ('s1') — the catalog half lives in current_database()
    path = _search_path()
    if not path:
        return "'main'"
    s = path[0]
    head, _, inner = s.partition("__")
    return f"'{(inner if head.lower() in _attached_lower() else s) or s}'"


def _cur_schemas(a: list[str]) -> str | None:
    if len(a) != 1 or a[0].strip().lower() not in ("true", "false"):
        return None
    path = _search_path()
    if a[0].strip().lower() == "false":
        # explicit search path only (verified live)
        return ("array(" + ", ".join(f"'{s}'" for s in path) + ")"
                if path else "array()")
    # implicit: main + path + main,main,pg_catalog (verified live: empty
    # path [main,main,main,pg_catalog]; path=test inserts it)
    full = ["main"] + path + ["main", "main", "pg_catalog"]
    return "array(" + ", ".join(f"'{s}'" for s in full) + ")"


# ---- missing scalar functions (SQL front door; Column forms live in
# functions/registry.py) ----------------------------------------------------
# epoch family (reference src/core_functions/scalar/date/epoch.cpp):
# extraction direction (temporal -> number) AND the construction overloads
# epoch_ms(BIGINT) -> TIMESTAMP / to_timestamp(numeric) -> TIMESTAMPTZ.
# Dispatch is syntactic (literal/explicit-numeric-cast => construction;
# anything else => extraction, the common column case).
def _epoch_guard(a: str, fn: str) -> str:
    # the extraction direction was chosen SYNTACTICALLY; a numeric COLUMN
    # slipping through would silently extract (col*1000) instead of
    # constructing a TIMESTAMP — raise instead of returning a wrong
    # value/type. typeof() is static per query, so the guard
    # constant-folds for correctly-typed arguments.
    return (
        f"(CASE WHEN typeof(({a})) RLIKE "
        f"'^(u?(tiny|small|big)?int|decimal|double|float)' THEN "
        f"raise_error('{fn}: numeric argument requires the "
        f"construction overload - cast the argument explicitly "
        f"(e.g. {fn}(col::BIGINT))') ELSE ({a}) END)"
    )


def _epoch_ms(a: list[str]) -> str | None:
    if len(a) != 1:
        return None
    if _is_numeric_arg(a[0]):
        return f"CAST(timestamp_millis(CAST(({a[0]}) AS BIGINT)) AS TIMESTAMP_NTZ)"
    return f"unix_millis(CAST({_epoch_guard(a[0], 'epoch_ms')} AS TIMESTAMP_LTZ))"


def _timezone_fn(a: list[str]) -> str | None:
    if not a or (len(a) == 1 and not a[0]):
        return "current_timezone()"
    if len(a) != 2:
        return None
    z, ts = a
    if re.search(r"::\s*TIMESTAMPTZ\s*$", ts, re.I) or re.match(
        r"TIMESTAMPTZ\b", ts, re.I
    ):
        return _tz_instant_to_wall(ts, z)
    return _tz_wall_to_instant(ts, z)


def _nextafter(a: list[str]) -> str | None:
    """nextafter: NULL args → NULL, NaN args → NaN (the pandas UDF can't
    tell them apart in a float64 batch — guard at the SQL level where
    isnull() is NaN-exact). ``__isnan`` is Spark's isnan, shielded from
    the isnan rule, which runs later."""
    if len(a) != 2:
        return None
    return (
        f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
        f"WHEN __isnan(CAST(({a[0]}) AS DOUBLE)) "
        f"OR __isnan(CAST(({a[1]}) AS DOUBLE)) "
        f"THEN CAST('NaN' AS DOUBLE) "
        f"ELSE nextafter({a[0]}, {a[1]}) END)"
    )


def _strip_accents(a: list[str]) -> str | None:
    if len(a) != 1:
        return None
    from myduckdb_spark.operators.collation import _ACCENT_DST, _ACCENT_SRC

    return f"translate({a[0]}, '{_ACCENT_SRC}', '{_ACCENT_DST}')"


def _list_zip(a: list[str]) -> str | None:
    """list_zip: DuckDB pads to the LONGEST list (truncate flag →
    shortest) and yields UNNAMED structs (list_zip.cpp; the Python client
    renders them as tuples). Fields here are named list_N — the canon
    renders that convention positionally to match."""
    args = list(a)
    truncate = False
    if args and args[-1].strip().lower() in ("true", "false"):
        truncate = args.pop().strip().lower() == "true"
    if not 1 <= len(args) <= 4:
        return None
    expr = _zip_expr(args, 1)
    if truncate and len(args) > 1:
        least = ", ".join(f"size({x})" for x in args)
        expr = f"slice({expr}, 1, least({least}))"
    return expr


def _zip_expr(xs: list[str], base: int) -> str:
    if len(xs) == 1:
        return (
            f"transform({xs[0]}, __x{base} -> "
            f"named_struct('list_{base}', __x{base}))"
        )
    inner = _zip_expr(xs[1:], base + 1)
    fields = [f"'list_{base}', __x{base}"] + [
        f"'list_{i}', __s{base}.list_{i}"
        for i in range(base + 1, base + len(xs))
    ]
    return (
        f"zip_with({xs[0]}, {inner}, (__x{base}, __s{base}) -> "
        f"named_struct({', '.join(fields)}))"
    )


def _vec_dist(a: list[str]) -> str | None:
    """Vector distance family over list columns (reference array_distance
    / list_distance; fixed-size bounds already dropped by the type
    rewrite)."""
    if len(a) != 2:
        return None
    return (
        f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> (CAST(__x AS DOUBLE) - __y) * (CAST(__x AS DOUBLE) - __y)), "
        f"CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v))"
    )


def _vec_dot(a: list[str]) -> str | None:
    if len(a) != 2:
        return None
    return (
        f"aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__x, __y) -> CAST(__x AS DOUBLE) * __y), "
        f"CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v)"
    )


def _array_agg_nulls(a: list[str]) -> str | None:
    """array_agg / list KEEP NULL elements (reference list.cpp; Spark's
    array_agg drops them) — wrap in a non-null struct during
    collection."""
    if len(a) != 1 or re.match(r"\s*DISTINCT\b", a[0], re.I):
        return None
    arg = a[0]
    om = re.search(r"\bORDER\s+BY\b", arg, re.I)
    if om and _depth_profile(arg)[om.start()] == 0:
        # ordered form: Spark's array_agg takes no ORDER BY — sort a
        # (key, value) struct array instead (single sort key only)
        km = re.fullmatch(
            r"(.+?)\s*(ASC|DESC)?\s*", arg[om.end():].strip(), re.I | re.S
        )
        key, direction = km.group(1), (km.group(2) or "ASC").upper()
        val = arg[: om.start()].rstrip()
        # explicit comparator over k ONLY: DuckDB's default null order is
        # NULLS LAST for both ASC and DESC (reverse(array_sort(..)) would
        # put NULL keys first on DESC), and comparing the whole struct
        # would fail for non-comparable payloads (e.g. MAP)
        lt, gt = ("-1", "1") if direction == "ASC" else ("1", "-1")
        cmp = (
            "(__l, __r) -> CASE "
            "WHEN __l.k IS NULL AND __r.k IS NULL THEN 0 "
            "WHEN __l.k IS NULL THEN 1 WHEN __r.k IS NULL THEN -1 "
            f"WHEN __l.k < __r.k THEN {lt} "
            f"WHEN __l.k > __r.k THEN {gt} ELSE 0 END"
        )
        agg = (
            f"array_sort(array_agg(named_struct('k', {key}, 'v', {val})), "
            f"{cmp})"
        )
        return (
            f"CASE WHEN size({agg}) = 0 THEN NULL "
            f"ELSE transform({agg}, __s -> __s.v) END"
        )
    agg = f"array_agg(named_struct('v', {arg}))"
    # empty input -> NULL (DuckDB; Spark's array_agg gives [])
    return (
        f"CASE WHEN size({agg}) = 0 THEN NULL "
        f"ELSE transform({agg}, __s -> __s.v) END"
    )


def _map_concat(a: list[str]) -> str | None:
    """map_concat treats NULL maps as empty, unless ALL are NULL -> NULL
    (verified live)."""
    if len(a) < 2:
        return None
    return (
        "CASE WHEN "
        + " AND ".join(f"({x}) IS NULL" for x in a)
        + " THEN NULL ELSE map_concat("
        + ", ".join(f"coalesce({x}, map())" for x in a)
        + ") END"
    )


def _string_split(args: list[str]) -> str | None:
    """string_split: LITERAL separator (Spark split takes a regex); NULL
    separator keeps the whole string (string_split.cpp)."""
    if len(args) != 2:
        return None
    s_, sep = args
    return (
        f"CASE WHEN ({s_}) IS NULL THEN NULL "
        f"WHEN ({sep}) IS NULL THEN array({s_}) "
        f"WHEN ({sep}) = '' THEN split({s_}, '') "
        f"ELSE split({s_}, concat('\\\\Q', {sep}, '\\\\E'), -1) END"
    )


# date_trunc to a day-or-coarser literal part returns DATE (date_trunc.cpp);
# Spark always returns TIMESTAMP
_DATE_PARTS = (
    "day", "week", "month", "quarter", "year", "decade", "century",
    "millennium", "isoyear",
)
# day-equivalent part names truncate to day (date_trunc.cpp)
_DAY_ALIASES = ("doy", "dow", "isodow", "weekday", "dayofyear",
                "dayofweek", "julian", "jd")

# reference date_part_specifier synonyms (date_part.cpp GetDatePartSpecifier)
_PART_NORM = {
    "y": "year", "yr": "year", "yrs": "year", "years": "year",
    "mon": "month", "mons": "month", "months": "month",
    "days": "day", "d": "day", "dayofmonth": "day",
    "h": "hour", "hr": "hour", "hrs": "hour", "hours": "hour",
    "min": "minute", "mins": "minute", "minutes": "minute", "n": "minute",
    "s": "second", "sec": "second", "secs": "second", "seconds": "second",
    "ms": "millisecond", "msec": "millisecond", "msecs": "millisecond",
    "milliseconds": "millisecond",
    "us": "microsecond", "usec": "microsecond", "usecs": "microsecond",
    "microseconds": "microsecond",
    "w": "week", "weeks": "week",
    "quarters": "quarter", "qtr": "quarter",
    "decades": "decade", "dec": "decade", "decs": "decade",
    "centuries": "century", "cent": "century",
    "millenniums": "millennium", "millennia": "millennium",
    "mil": "millennium", "mils": "millennium",
}


def _isoyear_start(x: str) -> str:
    j4 = f"make_date(extract(YEAROFWEEK FROM {x}), 1, 4)"
    return f"date_sub({j4}, (dayofweek({j4}) + 5) % 7)"


def _era_start(x: str, unit: int) -> str:
    # all eras anchor at year 0 (verified live: century(1996)=1900,
    # millennium(1996)=1000, decade(1996)=1990)
    y = f"CAST(year({x}) AS INT)"
    return f"make_date(CAST(floor({y} / {unit}) AS INT) * {unit}, 1, 1)"


def _date_trunc(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    raw = args[0].strip()
    x = args[1]
    # TIMESTAMPTZ input keeps TIMESTAMPTZ output (date_trunc.cpp icu
    # overload truncates in session tz) — day-or-coarser parts return DATE
    # only for DATE/TIMESTAMP inputs
    ltz = bool(
        re.search(r"::\s*TIMESTAMP_?(LTZ|TZ)\s*$", x, re.I)
        or re.match(r"\s*TIMESTAMP_?(LTZ|TZ)\b", x, re.I)
    )
    if re.fullmatch(r"'[^']*'", raw):
        part = raw.strip("'").lower()
        part = _PART_NORM.get(part, part)
        raw = f"'{part}'"
        if part in _DAY_ALIASES:
            return (f"date_trunc('day', {x})" if ltz
                    else f"CAST(date_trunc('day', {x}) AS DATE)")
        if part == "yearweek":
            return (f"date_trunc('week', {x})" if ltz
                    else f"CAST(date_trunc('week', {x}) AS DATE)")
        if part == "isoyear":
            return (f"CAST({_isoyear_start(x)} AS TIMESTAMP_LTZ)"
                    if ltz else _isoyear_start(x))
        if part == "decade":
            return (f"CAST({_era_start(x, 10)} AS TIMESTAMP_LTZ)"
                    if ltz else _era_start(x, 10))
        if part == "century":
            return (f"CAST({_era_start(x, 100)} AS TIMESTAMP_LTZ)"
                    if ltz else _era_start(x, 100))
        if part == "millennium":
            return (f"CAST({_era_start(x, 1000)} AS TIMESTAMP_LTZ)"
                    if ltz else _era_start(x, 1000))
        if part in _DATE_PARTS:
            return (f"date_trunc({raw}, {x})" if ltz
                    else f"CAST(date_trunc({raw}, {x}) AS DATE)")
        if part == "epoch":
            return f"date_trunc('second', {x})"
        if part in ("hour", "minute", "second", "millisecond",
                    "microsecond"):
            return f"date_trunc({raw}, {x})"
        return None
    # dynamic part (a column): CASE over the special parts, Spark's builtin
    # for the rest — always TIMESTAMP, like the reference's dynamic dispatch
    p = f"lower({raw})"
    return (
        f"CASE WHEN {p} = 'isoyear' THEN "
        f"CAST({_isoyear_start(x)} AS TIMESTAMP) "
        f"WHEN {p} = 'decade' THEN CAST({_era_start(x, 10)} AS TIMESTAMP) "
        f"WHEN {p} = 'century' THEN CAST({_era_start(x, 100)} AS TIMESTAMP) "
        f"WHEN {p} = 'millennium' THEN CAST({_era_start(x, 1000)} AS TIMESTAMP) "
        f"WHEN {p} IN ('doy', 'dow', 'isodow', 'weekday', 'dayofyear', "
        f"'dayofweek', 'julian', 'jd') THEN date_trunc('day', {x}) "
        f"WHEN {p} = 'yearweek' THEN date_trunc('week', {x}) "
        f"WHEN {p} = 'epoch' THEN date_trunc('second', {x}) "
        f"ELSE date_trunc(CASE {p} WHEN 'years' THEN 'year' WHEN 'months' THEN 'month' WHEN 'days' THEN 'day' WHEN 'hours' THEN 'hour' WHEN 'minutes' THEN 'minute' WHEN 'seconds' THEN 'second' WHEN 'milliseconds' THEN 'millisecond' WHEN 'microseconds' THEN 'microsecond' WHEN 'weeks' THEN 'week' WHEN 'quarters' THEN 'quarter' ELSE {p} END, {x}) END"
    )


def _rewrite_extract(text: str, parts: str, build) -> str:
    """Each ``EXTRACT(<part> FROM x)`` whose part matches ``parts``
    becomes ``build(part, x)``. Sites are taken right to left, like
    ``_rewrite_calls``, so an inner EXTRACT is rewritten first and the
    replacement text is never re-scanned."""
    mask = _code_mask(text)
    sites = list(_code_matches(rf"\bEXTRACT\s*\(\s*({parts})\s+FROM\b",
                               text, re.I, mask=mask))
    for m in reversed(sites):
        close = _matching(text, text.index("(", m.start()), mask)
        if close < 0:
            continue
        text = text[: m.start()] + build(m.group(1).lower(), text[m.end():close]) + text[close + 1:]
        mask = _code_mask(text)
    return text


def _rewrite_extract_dow(text: str) -> str:
    """EXTRACT(dow ...): Sunday=0 in the reference (date_part.cpp);
    Spark's DOW is Sunday=1."""
    return _rewrite_extract(text, "dow",
                            lambda part, x: f"(dayofweek({x}) - 1)")


# second/millisecond/microsecond parts are INTEGERS in the reference
# (date_part.cpp: seconds truncate; msec/usec include the seconds) —
# Spark's EXTRACT(SECOND ...) is a fractional DECIMAL
_SUBSEC = {
    "second": "1", "seconds": "1",
    "millisecond": "1000", "milliseconds": "1000",
    "microsecond": "1000000", "microseconds": "1000000",
}


def _subsec_expr(part: str, x: str) -> str:
    inner = f"EXTRACT(SECOND FROM {x})"
    mult = _SUBSEC[part]
    if mult == "1":
        return f"CAST(FLOOR({inner}) AS BIGINT)"
    return f"CAST(FLOOR({inner} * {mult}) AS BIGINT)"


def _rewrite_extract_subsec(text: str) -> str:
    return _rewrite_extract(text, "|".join(_SUBSEC), _subsec_expr)


def _date_part(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    part = args[0].strip().strip("'\"").lower()
    if part in ("dow", "weekday"):
        return f"(dayofweek({args[1]}) - 1)"
    if part in _SUBSEC:
        return _subsec_expr(part, args[1])
    # list-of-parts form DATE_PART(['year','month'], x) → STRUCT of the
    # parts (date_part.cpp struct variant); the bracket-list pass has
    # already turned the literal into array('year', ...)
    lm = re.fullmatch(
        r"\s*array\s*\((\s*'[a-z]+'\s*(?:,\s*'[a-z]+'\s*)*)\)\s*",
        args[0],
        re.I,
    )
    if lm:
        fields = []
        for nm in re.findall(r"'([a-z]+)'", lm.group(1), re.I):
            e = _date_part([f"'{nm}'", args[1]]) or (
                f"date_part('{nm}', {args[1]})"
            )
            fields.append(f"'{nm}', {e}")
        return f"named_struct({', '.join(fields)})"
    return None


def _list_rsort(a: list[str]) -> str:
    # default DESC null order is NULLS LAST; optional arg overrides
    if len(a) == 2 and "FIRST" in a[1].strip().strip("'\"").upper():
        return f"reverse(array_sort({a[0]}))"
    return f"sort_array({a[0]}, false)"


def _json_pointer(text_form: bool, a: list[str]) -> str | None:
    """json_extract* with a literal JSON-pointer path ('/a/b/0'): numeric
    segments index arrays (json pointer syntax, json_common.hpp)."""
    if len(a) != 2:
        return None
    m = re.fullmatch(r"\s*'/((?:[^']|'')*)'\s*", a[1])
    if not m:
        return None
    conv = "$" + "".join(
        f"[{s}]" if s.isdigit() else f".{s}" for s in m.group(1).split("/")
    )
    if text_form:
        return f"get_json_object({a[0]}, '{conv}')"
    return (
        f"nullif(to_json(try_variant_get(try_parse_json({a[0]}), "
        f"'{conv}')), 'null')"
    )


def _json_extract_dollar(text_form: bool, a: list[str]) -> str | None:
    """json_extract / json_extract_path return JSON — quoted strings
    (json_functions.cpp); VARIANT extraction preserves that exactly. The
    _string / _path_text forms return text."""
    suffix = "_text" if text_form else ""
    if len(a) != 2:
        return None
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", a[1])
    if not m:
        p1 = a[1].strip()
        if p1.startswith("[") or re.match(
            r"(array|list_value|list_pack)\s*\(", p1, re.I
        ):
            # list-of-paths form: LIST(JSON), one slot per path
            # (json_extract.cpp many-path bind)
            return f"__jx_list{suffix}({a[0]}, {a[1]})"
        # non-constant path: runtime resolution in the extract UDF (DuckDB
        # json_extract(j, q) with a column path — test_json_path.test)
        return f"__jx_one{suffix}({a[0]}, {a[1]})"
    path = m.group(1)
    path = path if path.startswith("$") else f"$.{path}"
    from myduckdb_spark.functions.jsonx import path_has_wildcard

    if path_has_wildcard(path):
        # wildcard paths return LIST(JSON) — one element per match
        return f"__jx_multi{suffix}({a[0]}, '{path}')"
    if re.search(r"\[\s*(#|-)", path) or re.search(r'\."', path):
        # from-the-end indexes and quoted keys (escapes, brackets, spaces
        # inside the key) aren't variant-get/get_json_object paths —
        # resolve in the python extractor
        return f"__jx_one{suffix}({a[0]}, '{path}')"
    if text_form:
        return f"get_json_object({a[0]}, '{path}')"
    # DuckDB quotes odd keys as $."a.b"; Spark's variant path wants bracket
    # form $['a.b']
    path = re.sub(r'\."((?:[^"])*)"', lambda q: f"['{q.group(1)}']", path)
    return (
        f"nullif(to_json(try_variant_get(try_parse_json({a[0]}), "
        f"'{path}')), 'null')"
    )


def _list_extract(args: list[str]) -> str | None:
    """list_extract/list_element: 1-based, NULL at 0/out-of-bounds."""
    if len(args) != 2:
        return None
    l, i = args
    return (
        f"CASE WHEN TRY_CAST(({i}) AS BIGINT) = 0 THEN NULL "
        f"ELSE try_element_at({l}, {i}) END"
    )


def _list_resize(args: list[str]) -> str | None:
    """list_resize(l, n [, pad]): truncate or pad to n elements."""
    if len(args) not in (2, 3):
        return None
    l, n = args[0], args[1]
    pad = args[2] if len(args) == 3 else "NULL"
    return (
        f"CASE WHEN size({l}) >= ({n}) THEN slice({l}, 1, {n}) "
        f"ELSE concat({l}, array_repeat({pad}, CAST(({n}) - size({l}) AS INT))) END"
    )


def _q_disc(srt: str, n: str, p: str) -> str:
    # index = max(1, ceil(p * n)) into the non-null sorted list
    return (
        f"try_element_at({srt}, greatest(CAST(ceil(({p}) * {n}) "
        f"AS INT), 1))"
    )


def _list_aggregate(args: list[str]) -> str | None:
    """list_aggregate(l, 'name'[, params]): literal-name dispatch onto HOF
    folds (reference list_aggregates.cpp; param-taking names verified
    live: quantile = disc at ceil(p*n), median interpolates, mad = median
    absolute deviation, mode breaks ties on the smaller value, string_agg
    default separator ',')."""
    if len(args) < 2:
        return None
    l, name = args[0], args[1].strip().strip("'\"").lower()
    params = args[2:]
    nn = f"filter({l}, __x -> __x IS NOT NULL)"
    srt = f"array_sort({nn})"
    n = f"size({nn})"
    med = (
        f"CASE WHEN {n} = 0 THEN NULL ELSE "
        f"(CAST(element_at({srt}, CAST(({n} + 1) / 2 AS INT)) AS DOUBLE)"
        f" + CAST(element_at({srt}, CAST(({n} + 2) / 2 AS INT)) AS DOUBLE)"
        f") / 2.0 END"
    )
    if name in ("quantile", "quantile_disc") and len(params) == 1:
        p = params[0]
        if re.match(r"\s*(array\s*\(|\[)", p, re.I):
            return f"transform({p}, __qp -> {_q_disc(srt, n, '__qp')})"
        return _q_disc(srt, n, p)
    if name == "string_agg" and len(params) <= 1:
        sep = params[0] if params else "','"
        return (
            f"CASE WHEN size({nn}) = 0 THEN NULL ELSE "
            f"array_join(transform({nn}, __x -> CAST(__x AS STRING)), {sep}) END"
        )
    if params:
        return None
    # mad = median(|x - median|), always DOUBLE
    dev = f"transform({nn}, __x -> abs(CAST(__x AS DOUBLE) - ({med})))"
    dsrt = f"array_sort({dev})"
    mad = (
        f"CASE WHEN {n} = 0 THEN NULL ELSE "
        f"(element_at({dsrt}, CAST(({n} + 1) / 2 AS INT))"
        f" + element_at({dsrt}, CAST(({n} + 2) / 2 AS INT))) / 2.0 END"
    )
    mode = (
        f"try_element_at(array_sort(transform(array_distinct({nn}), "
        f"__v -> named_struct('c', -size(filter({nn}, __y -> __y = __v)), "
        f"'v', __v))), 1).v"
    )
    return {
        "count": f"size({nn})",
        "sum": _list_sum_sql(l),
        # Kahan/exact float summation (reference list_aggregates.cpp
        # 'fsum'): exact decimal accumulation reproduces Kahan's
        # compensated result for double inputs
        # fsum/kahan always return DOUBLE, even for integer lists
        # (verified live: list_aggr([1::tinyint],'fsum') = 1.0)
        "fsum": f"CAST(({_list_sum_sql(l, exact_floats=True)}) AS DOUBLE)",
        "sumkahan": f"CAST(({_list_sum_sql(l, exact_floats=True)}) AS DOUBLE)",
        "kahan_sum": f"CAST(({_list_sum_sql(l, exact_floats=True)}) AS DOUBLE)",
        "avg": (
            f"CASE WHEN size({nn}) = 0 THEN NULL "
            f"ELSE CAST(({_list_sum_sql(l)}) / size({nn}) AS DOUBLE) END"
        ),
        "min": f"array_min({l})",
        "max": f"array_max({l})",
        "first": f"try_element_at({l}, 1)",
        "last": f"try_element_at({l}, -1)",
        "any_value": f"try_element_at({nn}, 1)",
        "median": med,
        "quantile": _q_disc(srt, n, "0.5"),
        "quantile_disc": _q_disc(srt, n, "0.5"),
        "mad": mad,
        "mode": mode,
        "product": (
            f"CASE WHEN size({nn}) = 0 THEN NULL ELSE "
            f"aggregate({nn}, CAST(1 AS DOUBLE), (__a, __x) -> __a * __x) END"
        ),
        "string_agg": (
            f"CASE WHEN size({nn}) = 0 THEN NULL ELSE "
            f"array_join(transform({nn}, __x -> CAST(__x AS STRING)), ',') END"
        ),
        "bool_and": f"CASE WHEN {n} = 0 THEN NULL ELSE forall({nn}, __x -> __x) END",
        "bool_or": f"CASE WHEN {n} = 0 THEN NULL ELSE exists({nn}, __x -> __x) END",
        "entropy": (
            f"(CASE WHEN ({l}) IS NULL THEN NULL "
            f"WHEN size({nn}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"aggregate(transform(array_distinct({nn}), "
            f"__ev -> size(filter({nn}, __ey -> __ey = __ev))), "
            f"CAST(0 AS DOUBLE), (__ea, __ec) -> __ea - "
            f"(__ec / size({nn})) * log2(__ec / size({nn}))) END)"
        ),
        # NULL for NULL / empty / all-NULL input (null_or_empty.test:
        # histogram sits in the NULL-result foreach, unlike entropy)
        "histogram": (
            f"CASE WHEN size({nn}) = 0 THEN NULL ELSE "
            f"map_from_entries(transform("
            f"array_sort(array_distinct({nn})), "
            f"__hv -> struct(__hv, CAST(size(filter({nn}, "
            f"__hy -> __hy = __hv)) AS BIGINT)))) END"
        ),
        # HLL is exact at list cardinalities; corpus compares approx_*
        # under a relative-error canon anyway
        "approx_count_distinct": f"size(array_distinct({nn}))",
    }.get(name)


def _list_agg_alias(agg: str, a: list[str]) -> str | None:
    """list_<name>(l, params...) is list_aggregate(l, '<name>', params...)
    (function/list/list_aggregates.cpp registration loop)."""
    return _list_aggregate([a[0], f"'{agg}'", *a[1:]])


def _group_list_agg(agg: str, a: list[str]) -> str | None:
    """Plain-aggregate forms over a collected group (reference
    core_functions/aggregate/holistic + algebraic/fsum.cpp): mad / product
    / the Kahan-sum family fold the group list through the SAME lattice
    as their list_* forms."""
    if len(a) != 1:
        return None
    return _list_aggregate([f"collect_list({a[0]})", f"'{agg}'"])


def _entropy(a: list[str]) -> str | None:
    """entropy: -Σ (c/n)·log2(c/n) over value frequencies (NULLs
    ignored)."""
    if len(a) != 1:
        return None
    l = f"collect_list({a[0]})"
    return (
        f"(CASE WHEN size({l}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
        f"aggregate(transform(array_distinct({l}), "
        f"__ev -> size(filter({l}, __ey -> __ey = __ev))), "
        f"CAST(0 AS DOUBLE), (__ea, __ec) -> __ea - "
        f"(__ec / size({l})) * log2(__ec / size({l}))) END)"
    )


def _histogram(a: list[str]) -> str | None:
    """histogram: MAP value → count, keys sorted; NULL (not {}) for an
    empty/all-NULL group (histogram.cpp finalize)."""
    if len(a) != 1:
        return None
    l = f"collect_list({a[0]})"
    return (
        f"CASE WHEN size({l}) = 0 THEN NULL ELSE "
        f"map_from_entries(transform(array_sort(array_distinct({l})), "
        f"__hv -> struct(__hv, CAST(size(filter({l}, "
        f"__hy -> __hy = __hv)) AS BIGINT)))) END"
    )


def _arg_minmax(sp: str, a: list[str]) -> str | None:
    if len(a) == 2:
        return f"{sp}({a[0]}, {a[1]})"
    if len(a) == 3:
        # arg_min(v, k, n): the v's of the n smallest k's, in k order
        # (arg_min_max.cpp N-ary form; NULL k's excluded)
        srt = (
            f"array_sort(collect_list(CASE WHEN ({a[1]}) IS NOT NULL "
            f"THEN struct(({a[1]}) AS k, ({a[0]}) AS v) END))"
        )
        if sp == "max_by":
            srt = f"reverse({srt})"
        return f"slice(transform({srt}, __am -> __am.v), 1, {a[2]})"
    return None


# time_bucket(INTERVAL w, ts) — epoch-aligned buckets anchored at the
# reference's origins (time_bucket.cpp: 2000-01-03 for sub-month widths — a
# Monday, so week buckets start Mondays; 2000-01-01 for month-or-coarser).
# Literal intervals only; the optional origin/offset forms stay unrewritten
# (recorded as skips).
_TB_US = {
    "microsecond": 1, "millisecond": 1000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000,
    "day": 86_400_000_000, "week": 604_800_000_000,
}


def _time_bucket(a: list[str]) -> str | None:
    if len(a) != 2:
        return None
    im = re.fullmatch(
        r"INTERVAL\s*(?:'\s*(\d+)\s*(\w+?)s?\s*'|\(?\s*(\d+)\s*\)?\s*(\w+?)s?)",
        a[0].strip(), re.I,
    )
    if not im:
        return None
    n = int(im.group(1) or im.group(3))
    unit = (im.group(2) or im.group(4)).lower()
    unit = {"min": "minute", "sec": "second", "hr": "hour",
            "mon": "month", "yr": "year"}.get(unit, unit)
    x = a[1]
    is_date = bool(
        re.search(r"::\s*DATE\s*$", x, re.I)
        or re.match(r"\s*DATE\b", x, re.I)
    )
    if unit in _TB_US:
        w = n * _TB_US[unit]
        o = 946_857_600_000_000  # 2000-01-03 00:00:00 UTC in µs
        us = f"unix_micros(CAST(({x}) AS TIMESTAMP_LTZ))"
        b = f"({us} - pmod({us} - {o}, {w}))"
        expr = (
            f"(TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
            f"0, 0, 0, CAST({b} AS DECIMAL(26,6)) / 1000000))"
        )
    elif unit in ("month", "quarter", "year", "decade", "century"):
        w = n * {"month": 1, "quarter": 3, "year": 12,
                 "decade": 120, "century": 1200}[unit]
        mo = f"((year({x}) - 2000) * 12 + month({x}) - 1)"
        bm = f"({mo} - pmod({mo}, {w}))"
        expr = (
            f"CAST(make_date(2000 + CAST(floor(({bm}) / 12) AS INT), "
            f"pmod({bm}, 12) + 1, 1) AS TIMESTAMP_NTZ)"
        )
    else:
        return None
    return f"CAST({expr} AS DATE)" if is_date else expr


def _union_value(a: list[str]) -> str | None:
    """union_value(tag := v) / union_tag / union_extract — the engine's
    UNION carrier is STRUCT{tag, <member fields>} (SURVEY §3 type map;
    Column forms in functions/registry.py)."""
    if len(a) != 1:
        return None
    m = re.match(r"^\s*(\w+)\s*:=\s*(.+)$", a[0], re.S)
    if not m:
        return None
    return (
        f"named_struct('tag', '{m.group(1)}', "
        f"'{m.group(1)}', ({m.group(2)}))"
    )


def _union_extract(a: list[str]) -> str | None:
    if len(a) != 2:
        return None
    if not a[1].startswith("'"):
        return f"({a[0]})[{a[1]}]"
    return f"({a[0]}).{a[1][1:-1]}"


def _to_json_union(a: list[str]) -> str | None:
    """to_json over the union carrier: the reference renders {member:
    value} (json_create.cpp CreateValues for UNION), never the tag field.
    The carrier is named_struct('tag', <tag>, <m1>, v1, ...) — rebuild as
    a tag-dispatched single-member object. Its options map is written
    ``__tjm(...)``: Spark's map(), shielded from the duck map(keys,
    values) rule, which runs later."""
    if not a:
        return None
    arg = a[0].strip()
    m = re.match(r"named_struct\s*\(\s*'tag'\s*,", arg, re.I)
    if not m or not arg.endswith(")"):
        return None
    inner = _split_args(arg[arg.index("(") + 1 : -1])
    if len(inner) < 4 or len(inner) % 2:
        return None
    tag_expr = inner[1].strip()
    members = []
    for i in range(2, len(inner), 2):
        km = re.fullmatch(r"\s*'(\w+)'\s*", inner[i])
        if not km:
            return None
        members.append((km.group(1), inner[i + 1]))
    opts = ", __tjm('ignoreNullFields', 'false')"
    mt = re.fullmatch(r"'(\w+)'", tag_expr)
    if mt and len(members) == 1 and members[0][0] == mt.group(1):
        return (f"to_json(named_struct('{mt.group(1)}', "
                f"{members[0][1]}){opts})")
    whens = " ".join(
        f"WHEN ({arg}).tag = '{name}' THEN "
        f"to_json(named_struct('{name}', ({arg}).{name}){opts})"
        for name, _ in members
    )
    return f"(CASE WHEN ({arg}) IS NULL THEN NULL {whens} END)"


def _list_where(a: list[str]) -> str | None:
    """list_where(l, mask): keep elements whose mask is true."""
    if len(a) != 2:
        return None
    return (
        f"transform(filter(zip_with({a[0]}, {a[1]}, "
        f"(__lv, __lm) -> named_struct('v', __lv, 'm', __lm)), "
        f"__s -> __s.m), __s -> __s.v)"
    )


def _list_reduce(a: list[str]) -> str | None:
    """list_reduce/reduce: DuckDB's 2-arg form seeds the fold with the
    first element (list_reduce.cpp); the optional 3rd arg is the initial
    value. Spark's reduce(arr, init, merge) needs both."""
    if len(a) == 2:
        return (
            f"reduce(slice({a[0]}, 2, size({a[0]}) - 1), "
            f"element_at({a[0]}, 1), {a[1]})"
        )
    if len(a) == 3:
        return f"reduce({a[0]}, {a[2]}, {a[1]})"
    return None


def _split_regex(a: list[str]) -> str | None:
    """string_split_regex / regexp_split_to_array: Java's split and the
    reference's split loop (string_split.cpp StringSplitter::Split) agree
    whenever the pattern cannot match "" — but every zero-width edge
    differs (the reference consumes one character per zero-width match;
    Java emits leading/trailing empties). Literal patterns that CAN match
    empty route through the exact-algorithm UDF; everything else keeps
    the native JVM split."""
    if len(a) != 2:
        return None
    pm = re.match(r"^\s*'((?:[^']|'')*)'\s*$", a[1], re.S)
    if pm:
        pat = pm.group(1).replace("''", "'").replace("\\\\", "\\")
        try:
            empty_ok = re.compile(pat).search("") is not None
        except re.error:
            empty_ok = False
        if empty_ok:
            return f"__duck_split_regex({a[0]}, {a[1]})"
    return f"split({a[0]}, {a[1]})"


_POSIX2J = {
    "alpha": "Alpha", "digit": "Digit", "lower": "Lower",
    "upper": "Upper", "alnum": "Alnum", "space": "Space",
    "blank": "Blank", "punct": "Punct", "xdigit": "XDigit",
    "cntrl": "Cntrl", "graph": "Graph", "print": "Print",
}


def _posix(mm: "re.Match[str]") -> str:
    j = _POSIX2J.get(mm.group(1).lower())
    if j is None:
        return mm.group(0)
    # surrounding class brackets stay — [[:lower:]] becomes [\p{Lower}],
    # composing inside larger classes too
    return "\\\\p{" + j + "}"


def _rewrite_posix_classes(text: str) -> str:
    """RE2 POSIX character classes -> Java \\p{...} spellings (patterns
    live in string literals, so the backslash doubles)."""
    if "[:" not in text:
        return text
    return re.sub(r"\[:(\w+):\]", _posix, text)


def _trunc1(a: list[str]) -> str | None:
    """1-arg numeric trunc (math.cpp): truncate toward zero, DOUBLE
    result, NaN/±inf pass through; Spark's trunc is the 2-arg date
    function. DECIMAL-typed args keep Spark's semantics via CAST."""
    if len(a) != 1:
        return None
    x = a[0]
    if re.fullmatch(r"\s*[+-]?\d+(\.\d+)?\s*", x) or re.search(
        r"(::\s*|\bAS\s+)(DECIMAL|NUMERIC)(\s*\(\s*\d+\s*(,\s*\d+\s*)?\))?\s*\)*\s*$",
        x,
        re.I,
    ):
        # DECIMAL stays DECIMAL(p,0): strip the fraction first so the
        # final cast can't round half-up
        return f"CAST(({x}) - (({x}) % 1) AS DECIMAL(38,0))"
    d = f"CAST(({x}) AS DOUBLE)"
    return (
        f"(CASE WHEN isnan({d}) OR abs({d}) = CAST('inf' AS DOUBLE) "
        f"THEN {d} ELSE {d} - ({d} % 1.0) END)"
    )


# parse_path family (reference parse_path.cpp). The optional separator
# argument picks the split class: 'forward_slash' (/ only), 'backslash'
# (\\ only), 'system' (platform = / here), default 'both_slash' (verified
# live). A leading separator is its own component.
_SEP_BOTH = r"[/\\\\\\\\]"


def _sep_class(argtext: str | None) -> str:
    v = (argtext or "").strip().strip("'\"").lower()
    if v == "forward_slash" or v == "system":
        return r"[/]"
    if v == "backslash":
        return r"[\\\\\\\\]"
    return _SEP_BOTH


def _path_components(s: str, sep: str) -> str:
    f = f"filter(split({s}, '{sep}'), __pc -> __pc <> '')"
    return (
        f"CASE WHEN {s} RLIKE '^{sep}' "
        f"THEN concat(array(substring({s}, 1, 1)), {f}) ELSE {f} END"
    )


def _parse_path(a: list[str]) -> str | None:
    if not a:
        return None
    return _path_components(a[0], _sep_class(a[1] if len(a) > 1 else None))


def _parse_filename(a: list[str]) -> str | None:
    if not a:
        return None
    # parse_filename(path[, trim_extension][, separator]) — the 2-arg form
    # takes EITHER a trim flag or a separator name
    rest = [x.strip() for x in a[1:]]
    sepname = next(
        (x for x in rest
         if x.strip("'\"").lower() in
         ("system", "forward_slash", "backslash", "both_slash")),
        None,
    )
    sep = _sep_class(sepname)
    fname = f"regexp_extract({a[0]}, '({sep.replace('[', '[^')}*)$', 1)"
    if len(a) >= 2 and a[1].strip().strip("'\"").lower() == "true":
        return f"regexp_replace({fname}, '\\\\.[^.]*$', '')"
    return fname


def _parse_dirpath(a: list[str]) -> str | None:
    if not a:
        return None
    s = a[0]
    sep = _sep_class(a[1] if len(a) > 1 else None)
    return (
        f"CASE WHEN ({s}) IS NULL THEN NULL "
        # a pure-separator path is its own dirpath ('/' -> '/')
        f"WHEN {s} RLIKE '^{sep}+$' THEN {s} "
        f"WHEN {s} RLIKE '{sep}' "
        f"THEN regexp_replace({s}, '{sep}{sep.replace('[', '[^')}*$', '') "
        f"ELSE '' END"
    )


def _parse_dirname(a: list[str]) -> str | None:
    if not a:
        return None
    sep = _sep_class(a[1] if len(a) > 1 else None)
    comps = _path_components(a[0], sep)
    return (
        f"CASE WHEN ({a[0]}) IS NULL THEN NULL "
        f"WHEN size({comps}) > 1 THEN element_at({comps}, 1) "
        # a bare leading separator IS the dirname ('\\' -> '\\')
        f"WHEN size({comps}) = 1 AND {a[0]} RLIKE '^{sep}' "
        f"THEN element_at({comps}, 1) "
        f"ELSE '' END"
    )


def _bar(a: list[str]) -> str | None:
    """bar(x, min, max[, width=80]) — unicode bar with eighth-block
    remainder (function/scalar/string/bar.cpp), clamped to [0, width]."""
    if len(a) not in (3, 4):
        return None
    w = a[3] if len(a) == 4 else "80"
    # fraction = (x - min) / ABS(max - min), clamped to [0, 1] (verified
    # live: bar(40, 20, 0) is FULL, bar(10, 20, 0) empty — a reversed
    # range keeps min as the zero point)
    # reference clamp order (bar.cpp; verified live incl. reversed ranges
    # and infinities): x <= min -> 0, else x >= max -> 1, else
    # (x-min)/(max-min); NaN fraction -> 0
    xd = f"CAST({a[0]} AS DOUBLE)"
    mn = f"CAST({a[1]} AS DOUBLE)"
    mx = f"CAST({a[2]} AS DOUBLE)"
    u = (
        # Spark orders NaN above everything; C++ comparisons with NaN are
        # false -> the NaN case must short-circuit first
        f"(CASE WHEN isnan({xd}) THEN CAST(0 AS DOUBLE) "
        f"WHEN {xd} <= {mn} THEN CAST(0 AS DOUBLE) "
        f"WHEN {xd} >= {mx} THEN CAST(1 AS DOUBLE) "
        f"ELSE nanvl(({xd} - {mn}) / ({mx} - {mn}), CAST(0 AS DOUBLE)) "
        f"END) * ({w})"
    )
    full = f"CAST({u} - ({u} % 1.0) AS INT)"
    rem8 = f"CAST((({u}) - ({u} - ({u} % 1.0))) * 8 AS INT)"
    body = (
        f"concat(repeat('█', {full}), "
        f"element_at(array('', '▏', '▎', '▍', '▌', '▋', '▊', '▉'), {rem8} + 1))"
    )
    # the reference pads with spaces until the string reaches `width`
    # BYTES (bar.cpp targets a byte budget; each block glyph is 3 UTF-8
    # bytes) — verified live: bar(25,0,100,80) = 20 blocks + 20 spaces (80
    # bytes, 40 chars)
    nblock = f"({full} + CASE WHEN {rem8} > 0 THEN 1 ELSE 0 END)"
    return (
        f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
        f"OR ({a[2]}) IS NULL THEN NULL ELSE "
        f"concat({body}, repeat(' ', "
        f"greatest(CAST({w} AS INT) - 3 * {nblock}, 0))) END"
    )


def _lambda_1based(fn: str, a: list[str]) -> str | None:
    """Two-parameter lambdas in transform/filter get a 1-BASED index in
    the reference (lambda_functions.cpp); Spark's second lambda arg is
    0-based — shift every body reference of the index parameter."""
    if len(a) != 2:
        return None
    lm = re.match(
        r"^\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.+)$", a[1], re.S
    )
    if not lm:
        return None
    v, idx, body = lm.groups()
    body2 = _sub_code(rf"\b{re.escape(idx)}\b", lambda m: f"({idx} + 1)", body)
    return f"{fn}({a[0]}, ({v}, {idx}) -> {body2})"


def _sign(a: list[str]) -> str | None:
    """sign(): TINYINT result, NaN → 0 (reference numeric.cpp SignFun);
    Spark returns DOUBLE and propagates NaN."""
    if len(a) != 1:
        return None
    return (
        f"CASE WHEN isnan(TRY_CAST(({a[0]}) AS DOUBLE)) THEN CAST(0 AS TINYINT) "
        f"ELSE CAST(sign({a[0]}) AS TINYINT) END"
    )


def _apply_name_rules(text: str) -> str:
    """Plain name→name renames (``_NAME_RULES``); one pass suffices, as
    no target is a source."""
    return _sub_code(
        rf"\b({'|'.join(_NAME_RULES)})\s*\(",
        lambda mm: _NAME_RULES[mm.group(1).lower()] + "(", text, re.I,
    )


def _rewrite_using_sample(text: str) -> str:
    """USING SAMPLE n% (bernoulli) → TABLESAMPLE."""
    return re.sub(r"\bUSING\s+SAMPLE\s+(\d+)\s*%",
                  r"TABLESAMPLE (\1 PERCENT)", text, flags=re.I)


def _dedupe_using(mm: "re.Match[str]") -> str:
    if re.search(r"\bSAMPLE\b", mm.group(1), re.I):
        return mm.group(0)
    seen: set[str] = set()
    kept = []
    for c in (c.strip() for c in mm.group(1).split(",")):
        key = c.strip().strip('"').lower()
        if key not in seen:
            seen.add(key)
            kept.append(c)
    return f"USING ({', '.join(kept)})"


def _dedupe_using_lists(text: str) -> str:
    """Join USING lists bind case-insensitively: USING (hello, "HELLO")
    names ONE column in the reference — dedupe (Spark joins twice)."""
    return re.sub(r"\bUSING\s*\(([^()]*)\)", _dedupe_using, text, flags=re.I)


def _rename_type_aliases(text: str) -> str:
    """DuckDB numeric type aliases Spark's parser rejects (postgres-style
    intN/floatN names) — applies to both ::casts and CAST(... AS t)."""
    return _sub_code(
        _TYPE_RENAME_RE, lambda mm: _TYPE_RENAMES[mm.group(1).lower()], text,
    )


def _qualify_attached_tables(text: str) -> str:
    """Attached-catalog qualification: `alias.table` → the `alias__table`
    view ATTACH registered (storage.attach; Spark temp views are
    single-part names). Reads the session's attachments each time it
    runs."""
    from myduckdb_spark.storage import attached_aliases

    views: dict[str, str] = {}
    for alias, tables in attached_aliases().items():
        for tbl, view in tables.items():
            views.setdefault(f"{alias}.{tbl}".lower(), view)
    if not views:
        return text
    return _sub_code(
        r"\b(" + "|".join(re.escape(q) for q in views) + r")\b",
        lambda mm: views[mm.group(1).lower()], text, re.I,
    )


def _if_arity(n: int, fn):
    """``fn`` for a call with exactly ``n`` arguments; other calls stay."""
    return lambda a: fn(a) if len(a) == n else None


_PASSES = (
    _bind_type_aliases,
    # DuckDB string literals are standard SQL (backslash is an ordinary
    # character); Spark C-escapes them. Double every backslash INSIDE
    # '-literals first, so the original literal reaches the engine
    # byte-identical. Every later rewrite writes Spark-style literals.
    _escape_literal_backslashes,
    _rewrite_array_types,
    _rewrite_bracket_lists,
    _rewrite_struct_braces,
    _rewrite_json_dot_syntax,
    _rewrite_index_brackets,
    _decorrelate_ordered_subqueries,
    _rewrite_table_functions,
    _rewrite_positional_join,
    _rewrite_window_filter,
    ("quantile_cont", _quantile_cont),
    ("quantile_disc", _quantile_disc),
    ("quantile", _quantile_disc),
    _rewrite_percentile_disc,
    ("median", _median_discrete),
    _drop_trailing_select_comma,
    _rewrite_qualify,
    _rewrite_distinct_on,
    _inline_named_windows,
    _rewrite_distinct_window,
    _rewrite_range_zero_preceding,
    _rewrite_window_mode,
    _rewrite_window_nth,
    _rewrite_window_exclude,
    _pin_window_null_order,
    _rewrite_in_subquery,
    _rewrite_any_all,
    _rewrite_power_operator,
    _rewrite_integer_division,
    # pg_typeof = typeof in lowercase postgres spelling (pg_catalog)
    ("pg_typeof", _if_arity(1, lambda a: f"lower(typeof({a[0]}))")),
    _bind_registry_typeof,
    ("typeof", _typeof_names),
    ("abs", _abs_fn),
    ("ceil", partial(_ceil_floor, "ceil")),
    ("ceiling", partial(_ceil_floor, "ceil")),
    ("floor", partial(_ceil_floor, "floor")),
    _rewrite_big_int_literals,
    _rewrite_blobs,
    _rewrite_infinity_literals,
    _rewrite_offset_timestamp_literals,
    _rewrite_at_time_zone,
    _rename_timestamptz,
    _rewrite_dynamic_interval,
    _rewrite_negated_unsigned,
    _rewrite_postfix_int_casts,
    _rewrite_int_casts,
    _rewrite_setop_order_alias,
    _pin_order_by_all_nulls,
    _rewrite_star_exclude,
    _rewrite_json_arrows,
    ("chr", _fold_chr),
    ("regexp_replace", _re_replace),
    # __rr_all: the VARCHAR cast rewrite's Spark-native regexp_replace
    partial(_unshield, "__rr_all", "regexp_replace"),
    ("skewness", _skewness),
    ("kurtosis", _kurtosis),
    # DuckDB log(x) is BASE-10 (math.cpp: Log10Fun aliases log); Spark's
    # 1-arg log is natural. 2-arg log(b, x) agrees between engines.
    ("log", _if_arity(1, lambda a: f"log10({a[0]})")),
    # any_value skips NULLs in the reference (first.cpp FirstFunGetter
    # skip_nulls); Spark's 1-arg form doesn't
    ("any_value", _if_arity(1, lambda a: f"any_value({a[0]}, true)")),
    ("json_array_length", _json_array_length),
    ("json_transform", partial(_json_transform_sql, False)),
    ("json_transform_strict", partial(_json_transform_sql, True)),
    ("from_json_strict", partial(_json_transform_sql, True)),
    ("from_json", _from_json_structure),
    ("json_object", _json_object),
    ("json_array", _json_array),
    # containment / keys / merge-patch: recursive tree semantics with no
    # Spark expression form — Arrow-batched UDFs (jsonx.py)
    ("json_contains", _if_arity(2, lambda a: f"__json_contains({a[0]}, {a[1]})")),
    ("json_keys", _json_keys),
    ("json_merge_patch", _json_merge),
    # group aggregates (json_aggregates.cpp): array/object keep input NULLs
    # as JSON null; structure merges the group's inferred shapes
    ("json_group_array", _if_arity(1, lambda a: (
        f"concat('[', coalesce(array_join(collect_list("
        f"{_jfrag(a[0])}), ','), ''), ']')"
    ))),
    ("json_group_object", _if_arity(2, lambda a: (
        f"concat('{{', coalesce(array_join(collect_list(concat("
        f"{_jfrag_key(a[0])}, {_jfrag(a[1])})), ','), ''), '}}')"
    ))),
    ("json_group_structure",
     _if_arity(1, lambda a: f"__json_group_structure({a[0]})")),
    # json_quote(NULL) is SQL NULL (unlike inside constructors)
    ("json_quote", _if_arity(1, lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE {_jfrag(a[0])} END"
    ))),
    _rewrite_typed_json_literals,
    _rewrite_json_postfix_casts,
    ("try_cast", partial(_cast_json, True)),
    ("cast", partial(_cast_json, False)),
    _rewrite_json_minify,
    # json_type 1-arg form -> 2-arg UDF signature; json_typeof alias
    ("json_typeof", lambda a: f"json_type({', '.join(a)})" if len(a) in (1, 2) else None),
    # '$' = whole-document type; an actual NULL path returns NULL
    ("json_type", _if_arity(1, lambda a: f"json_type({a[0]}, '$')")),
    ("json_structure", partial(_json_in_cast, "json_structure")),
    ("json_type", partial(_json_in_cast, "json_type")),
    # Spark's base64 MIME-chunks at 76 chars; the reference emits one
    # unbroken string (blob/base64.test)
    ("base64", _if_arity(1, lambda a: f"replace(base64({a[0]}), '\\r\\n', '')")),
    ("to_base64", _if_arity(1, lambda a: f"replace(base64({a[0]}), '\\r\\n', '')")),
    # regr_avgx/avgy always return DOUBLE in the reference (regr_avg.cpp);
    # Spark preserves DECIMAL inputs. Equivalent both-non-null average.
    ("regr_avgy", _if_arity(2, lambda a: (
        f"CAST(avg(CASE WHEN ({a[0]}) IS NOT NULL AND ({a[1]}) IS NOT NULL "
        f"THEN ({a[0]}) END) AS DOUBLE)"
    ))),
    ("regr_avgx", _if_arity(2, lambda a: (
        f"CAST(avg(CASE WHEN ({a[0]}) IS NOT NULL AND ({a[1]}) IS NOT NULL "
        f"THEN ({a[1]}) END) AS DOUBLE)"
    ))),
    # len(x): DuckDB len() is list-or-string; Spark splits that into size()
    # (arrays/maps) vs length() (strings). Choose by argument shape.
    ("len", lambda a: f"size({a[0]})" if _LISTY.search(a[0]) else f"length({a[0]})"),
    # DuckDB's length() is list-or-string too (length.cpp overload set);
    # dispatch only on a list-producing OUTERMOST expression (match, not
    # search — length(to_json(array(x))) is a string length)
    ("length", lambda a: f"size({a[0]})"
     if len(a) == 1 and _LISTY.match(a[0].lstrip()) else None),
    ("strftime", _strftime),
    ("strptime", _strptime),
    ("left", _left),
    ("right", _right),
    ("substring", _substr_fromfor),
    ("substr", _substr_fromfor),
    ("substring", _substring3),
    ("substr", _substring3),
    partial(_unshield, "__substr", "substring"),
    ("split_part", _split_part),
    ("string_agg", _string_agg_null_sep),
    ("printf", _printf_nulls),
    ("regexp_extract", _regexp_extract),
    # ---- list-function edge parity (reference test/sql/function/list) ----
    # flatten skips NULL sublists but keeps NULL elements (flatten.cpp;
    # Spark's flatten returns NULL when any sublist is NULL)
    ("flatten", _if_arity(1, lambda a: (
        f"flatten(filter({a[0]}, __x -> __x IS NOT NULL))"
    ))),
    # list_has_any ignores NULL elements and never returns NULL for
    # non-NULL inputs (verified live: ([1,NULL],[NULL,3]) = false)
    ("list_has_any", _if_arity(2, lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
        f"ELSE coalesce(arrays_overlap("
        f"filter({a[0]}, __x -> __x IS NOT NULL), "
        f"filter({a[1]}, __x -> __x IS NOT NULL)), false) END"
    ))),
    ("list_intersect", _if_arity(2, _null_dropping_intersect)),
    ("array_intersect", lambda a: _null_dropping_intersect(a)
     if len(a) == 2 else f"array_intersect({', '.join(a)})"),
    # array_to_string: empty list -> NULL, NULL separator behaves as ','
    # (verified live)
    ("array_to_string", _if_arity(2, lambda a: (
        f"CASE WHEN size({a[0]}) = 0 THEN NULL "
        f"ELSE array_join({a[0]}, coalesce({a[1]}, ',')) END"
    ))),
    _bind_user_value_functions,
    ("current_database", lambda a: f"'{SETTINGS.get('current_database', 'memory')}'"
     if not a or not a[0] else None),
    _strip_pg_catalog_settings,
    ("current_schema", _current_schema),
    ("current_setting", lambda a: f"'{SETTINGS.get('search_path', '')}'"
     if len(a) == 1 and re.fullmatch(r"'(search_path|schema)'", a[0].strip(), re.I)
     else None),
    # postgres-compat stub system functions (pg_catalog
    # system_functions.test; values verified live)
    ("inet_client_addr", lambda a: "CAST(NULL AS STRING)" if not a or not a[0] else None),
    ("inet_client_port", lambda a: "CAST(NULL AS INT)" if not a or not a[0] else None),
    ("inet_server_addr", lambda a: "CAST(NULL AS STRING)" if not a or not a[0] else None),
    ("inet_server_port", lambda a: "CAST(NULL AS INT)" if not a or not a[0] else None),
    ("pg_my_temp_schema", lambda a: "CAST(0 AS BIGINT)" if not a or not a[0] else None),
    ("pg_is_other_temp_schema", _if_arity(1, lambda a: "false")),
    ("col_description", _if_arity(2, lambda a: "CAST(NULL AS STRING)")),
    ("obj_description", _if_arity(2, lambda a: "CAST(NULL AS STRING)")),
    ("shobj_description", _if_arity(2, lambda a: "CAST(NULL AS STRING)")),
    ("current_schemas", _cur_schemas),
    ("epoch_ms", _epoch_ms),
    ("epoch_us", lambda a: (
        f"unix_micros(CAST({_epoch_guard(a[0], 'epoch_us')} AS TIMESTAMP_LTZ))"
    ) if len(a) == 1 and not _is_numeric_arg(a[0]) else None),
    ("epoch_ns", lambda a: (
        f"(unix_micros(CAST({_epoch_guard(a[0], 'epoch_ns')} AS "
        f"TIMESTAMP_LTZ)) * CAST(1000 AS BIGINT))"
    ) if len(a) == 1 and not _is_numeric_arg(a[0]) else None),
    ("epoch", lambda a: (
        f"(CAST(unix_micros(CAST({_epoch_guard(a[0], 'epoch')} AS "
        f"TIMESTAMP_LTZ)) AS DOUBLE) / 1000000)"
    ) if len(a) == 1 and not _is_numeric_arg(a[0]) else None),
    ("to_timestamp", lambda a: (
        f"timestamp_seconds(CAST(({a[0]}) AS DECIMAL(20,6)))"
    ) if len(a) == 1 and _is_numeric_arg(a[0]) else None),
    ("timezone", _timezone_fn),
    # weekday/dayofweek: Sunday=0 in the reference (date_part.cpp); Spark's
    # weekday() builtin is Monday=0 and its dayofweek() is Sunday=1. The
    # dayofweek rule runs first, so weekday's dayofweek() output stays.
    ("dayofweek", _if_arity(1, lambda a: f"(dayofweek({a[0]}) - 1)")),
    ("weekday", _if_arity(1, lambda a: f"(dayofweek({a[0]}) - 1)")),
    ("nextafter", _nextafter),
    ("starts_with", lambda a: f"startswith({', '.join(a)})" if a else None),
    ("sha256", _if_arity(1, lambda a: f"sha2({a[0]}, 256)")),
    ("to_base", lambda a: (
        f"conv(CAST({a[0]} AS BIGINT), 10, {a[1]})" if len(a) == 2
        else f"lpad(conv(CAST({a[0]} AS BIGINT), 10, {a[1]}), {a[2]}, '0')"
        if len(a) == 3
        else None
    )),
    ("error", _if_arity(1, lambda a: f"raise_error({a[0]})")),
    ("encode", _if_arity(1, lambda a: f"encode({a[0]}, 'UTF-8')")),
    ("decode", _if_arity(1, lambda a: f"decode({a[0]}, 'UTF-8')")),
    # regexp_escape: RE2 QuoteMeta — every non-word character gets a
    # backslash (verified live: ':' and '/' are escaped too)
    ("regexp_escape", _if_arity(1, lambda a: (
        f"regexp_replace({a[0]}, '([^A-Za-z0-9_])', '\\\\\\\\$1')"
    ))),
    ("strip_accents", _strip_accents),
    ("jaccard", _if_arity(2, lambda a: (
        f"CAST(size(array_intersect(array_distinct(split({a[0]}, '')), "
        f"array_distinct(split({a[1]}, '')))) AS DOUBLE) / "
        f"size(array_union(array_distinct(split({a[0]}, '')), "
        f"array_distinct(split({a[1]}, ''))))"
    ))),
    ("list_zip", _list_zip),
    # list_histogram routes through _list_aggregate's histogram fold (the
    # list_<name> aliases below) — one NULL/empty-semantics implementation
    ("array_distance", _vec_dist),
    ("list_distance", _vec_dist),
    ("array_inner_product", _vec_dot),
    ("list_inner_product", _vec_dot),
    ("try_strptime", partial(_strptime, fn="try_to_timestamp")),
    ("array_agg", _array_agg_nulls),
    ("list", _array_agg_nulls),
    ("map_concat", _map_concat),
    # ---- infix GLOB / SIMILAR TO / COLLATE ----
    _rewrite_glob_similar,
    _rewrite_collate_expr,
    # list_distinct DROPS NULL elements in the reference (list_distinct.cpp);
    # the array_distinct alias shares the semantics. array_distinct runs
    # first, so list_distinct's array_distinct() output stays.
    ("array_distinct", _if_arity(1, lambda a: (
        f"array_distinct(filter({a[0]}, __x -> __x IS NOT NULL))"
    ))),
    ("list_distinct", _if_arity(1, lambda a: (
        f"array_distinct(filter({a[0]}, __x -> __x IS NOT NULL))"
    ))),
    # list_contains: two-valued (FALSE even when the list holds NULLs),
    # NULL only for NULL list/needle (contains_or_position.cpp)
    ("list_contains", _if_arity(2, lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
        f"ELSE coalesce(array_contains({a[0]}, {a[1]}), false) END"
    ))),
    ("string_split", _string_split),
    ("str_split", _string_split),
    ("string_to_array", _string_split),
    # ltrim/rtrim 2-arg: Spark's argument order is (trimStr, str) —
    # reversed from the reference's (string, characters)
    ("ltrim", _if_arity(2, lambda a: f"ltrim({a[1]}, {a[0]})")),
    ("rtrim", _if_arity(2, lambda a: f"rtrim({a[1]}, {a[0]})")),
    ("trim", _if_arity(2, lambda a: f"btrim({a[0]}, {a[1]})")),
    # concat treats NULL arguments as '' in the reference (concat.cpp);
    # Spark's concat is NULL-propagating. concat_ws('') has the skip
    # semantics — applied only when no argument looks list-typed (concat
    # over arrays must stay Spark's array concat).
    ("concat", lambda a: f"concat_ws('', {', '.join(a)})"
     if len(a) >= 1 and not any(_LISTY.search(x) for x in a) else None),
    ("date_trunc", _date_trunc),
    _rewrite_extract_dow,
    _rewrite_extract_subsec,
    ("date_part", _date_part),
    ("datepart", _date_part),
    ("list_sort", _list_sort),
    ("list_reverse_sort", _list_rsort),
    ("json_extract_string", partial(_json_pointer, True)),
    ("json_extract_path_text", partial(_json_pointer, True)),
    ("json_extract", partial(_json_pointer, False)),
    ("json_extract_path", partial(_json_pointer, False)),
    ("json_extract", partial(_json_extract_dollar, False)),
    ("json_extract_path", partial(_json_extract_dollar, False)),
    ("json_extract_string", partial(_json_extract_dollar, True)),
    ("json_extract_path_text", partial(_json_extract_dollar, True)),
    ("list_extract", _list_extract),
    ("list_element", _list_extract),
    # list_position: 0 when absent (live DuckDB), 1-based otherwise
    ("list_position", _if_arity(2, lambda a: f"array_position({a[0]}, {a[1]})")),
    ("list_indexof", _if_arity(2, lambda a: f"array_position({a[0]}, {a[1]})")),
    ("list_append", _if_arity(2, lambda a: f"concat({a[0]}, array({a[1]}))")),
    ("list_prepend", _if_arity(2, lambda a: f"concat(array({a[0]}), {a[1]})")),
    ("list_resize", _list_resize),
    # NULL needle elements are ignored (DuckDB: list_has_all([1,2,3],
    # [1,NULL]) = true) and the haystack check is TWO-valued — NULLs in the
    # haystack never match, so strip them before array_contains (verified
    # live: has_all([1,2,NULL],[2,3]) = false, not NULL)
    ("list_has_all", _if_arity(2, lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
        f"ELSE forall(filter({a[1]}, __x -> __x IS NOT NULL), "
        f"__x -> array_contains(filter({a[0]}, __y -> __y IS NOT NULL), __x)) END"
    ))),
    ("list_unique", _if_arity(1, lambda a: (
        f"size(array_distinct(filter({a[0]}, __x -> __x IS NOT NULL)))"
    ))),
    ("list_count", _if_arity(1, lambda a: f"size(filter({a[0]}, __x -> __x IS NOT NULL))")),
    # list_slice: DuckDB 1-based inclusive bounds
    ("list_slice", _if_arity(3, lambda a: f"slice({a[0]}, {a[1]}, ({a[2]}) - ({a[1]}) + 1)")),
    ("array_pop_back", _if_arity(1, lambda a: f"slice({a[0]}, 1, size({a[0]}) - 1)")),
    ("array_pop_front", _if_arity(1, lambda a: f"slice({a[0]}, 2, size({a[0]}) - 1)")),
    ("list_any_value", _if_arity(1, lambda a: (
        f"try_element_at(filter({a[0]}, __x -> __x IS NOT NULL), 1)"
    ))),
    # NULL-propagation parity: Spark's isnan(NULL)=false, the reference
    # returns NULL
    ("isnan", _if_arity(1, lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE isnan({a[0]}) END"
    ))),
    # __isnan: nextafter's Spark-native isnan
    partial(_unshield, "__isnan", "isnan"),
    # factorial returns HUGEINT in the reference (up to 33!); Spark's
    # builtin overflows LONG at 21!. DECIMAL(38,0) product matches the
    # HUGEINT range; negatives/0 are the empty product = 1
    ("factorial", _if_arity(1, lambda a: (
        f"CASE WHEN ({a[0]}) < 1 THEN CAST(1 AS DECIMAL(38,0)) "
        f"ELSE aggregate(sequence(1, CAST({a[0]} AS INT)), "
        f"CAST(1 AS DECIMAL(38,0)), "
        f"(__fa, __fi) -> __fa * __fi) END"
    ))),
    ("list_aggregate", _list_aggregate),
    ("list_aggr", _list_aggregate),
    *((f"list_{agg}", partial(_list_agg_alias, agg)) for agg in (
        "median", "mad", "mode", "product", "string_agg", "bool_and",
        "bool_or", "quantile", "quantile_disc", "first", "last",
        "entropy", "histogram", "approx_count_distinct",
    )),
    *((agg, partial(_group_list_agg, agg))
      for agg in ("mad", "product", "fsum", "sumkahan", "kahan_sum")),
    ("entropy", _entropy),
    ("histogram", _histogram),
    # sem = population stddev / sqrt(n) (sem.cpp)
    ("sem", _if_arity(1, lambda a: f"(stddev_pop({a[0]}) / sqrt(count({a[0]})))")),
    *((name, partial(_arg_minmax, sp)) for name, sp in (
        ("arg_min", "min_by"), ("argmin", "min_by"), ("arg_min_null", "min_by"),
        ("arg_max", "max_by"), ("argmax", "max_by"), ("arg_max_null", "max_by"),
    )),
    ("min_by", _if_arity(3, partial(_arg_minmax, "min_by"))),
    ("max_by", _if_arity(3, partial(_arg_minmax, "max_by"))),
    ("approx_quantile", _if_arity(2, lambda a: f"approx_percentile({', '.join(a)})")),
    ("time_bucket", _time_bucket),
    ("union_value", _union_value),
    ("union_tag", _if_arity(1, lambda a: f"({a[0]}).tag")),
    ("union_extract", _union_extract),
    _rewrite_union_casts,
    ("to_json", _to_json_union),
    # prefix/suffix (reference string functions) → Spark predicates
    ("prefix", _if_arity(2, lambda a: f"startswith({a[0]}, {a[1]})")),
    ("suffix", _if_arity(2, lambda a: f"endswith({a[0]}, {a[1]})")),
    # array_value = ARRAY constructor (fixed-size array type; Spark has
    # only variable lists — same values)
    ("array_value", lambda a: f"array({', '.join(a)})"),
    ("list_where", _list_where),
    ("list_reduce", _list_reduce),
    # bare `reduce` alias: only the 2-arg DuckDB form (the 3-arg form is
    # Spark's own signature — and list_reduce's emission — leave it alone)
    ("reduce", _if_arity(2, _list_reduce)),
    # regexp_extract_all: DuckDB's default group is 0 (whole match); Spark's
    # is 1 and errors when the pattern has no groups
    ("regexp_extract_all", _if_arity(2, lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)")),
    ("string_split_regex", _split_regex),
    ("str_split_regex", _split_regex),
    ("regexp_split_to_array", _split_regex),
    _rewrite_posix_classes,
    ("trunc", _trunc1),
    ("parse_path", _parse_path),
    ("parse_filename", _parse_filename),
    ("parse_dirpath", _parse_dirpath),
    ("parse_dirname", _parse_dirname),
    ("bar", _bar),
    *((name, partial(_lambda_1based, fn)) for name, fn in (
        ("transform", "transform"), ("list_transform", "transform"),
        ("array_transform", "transform"), ("apply", "transform"),
        ("list_apply", "transform"), ("filter", "filter"),
        ("list_filter", "filter"), ("array_filter", "filter"),
    )),
    ("sign", _sign),
    # MAP(keys_list, values_list) — the reference's two-list constructor
    # (map.cpp); Spark's map() is pairwise key,value arguments
    ("map", _if_arity(2, lambda a: f"map_from_arrays({a[0]}, {a[1]})")),
    # __tjm: the to_json union rewrite's options map
    partial(_unshield, "__tjm", "map"),
    # list_sum(l): element-type-dispatched fold (see _list_sum_sql)
    ("list_sum", _if_arity(1, lambda a: _list_sum_sql(a[0]))),
    _apply_name_rules,
    _rewrite_using_sample,
    _dedupe_using_lists,
    _rename_type_aliases,
    _qualify_attached_tables,
)

_CALL_TOKEN = re.compile(r"\b(\w+)\s*\(")


def translate(text: str) -> str:
    """DuckDB dialect → Spark SQL dialect (token-aware, conservative):
    macro expansion, then every entry of ``_PASSES`` in order. A call
    rule whose name is not among the text's call tokens is skipped
    without a scan."""
    from myduckdb_spark.functions.macros import expand_macros

    if re.search(r"\bcurrent_query\s*\(", text, re.I):
        text = _bind_current_query(text)
    out = expand_macros(text)  # bind-time macro expansion, before all rules
    scanned, calls = None, set()
    for step in _PASSES:
        if callable(step):
            out = step(out)
            continue
        if out != scanned:
            scanned, calls = out, {t.lower() for t in _CALL_TOKEN.findall(out)}
        if step[0] in calls:
            out = _rewrite_calls(out, *step)
    return out


def _list_sum_sql(l: str, exact_floats: bool = False) -> str:
    """DuckDB list_sum semantics (reference list_aggregates.cpp): NULL
    elements are skipped, an empty or all-NULL list sums to NULL, integer
    lists accumulate exactly (HUGEINT; DECIMAL(38,0) here), float/double
    lists accumulate in DOUBLE (single final 6-digit rounding, never
    per-step truncation). typeof() dispatches on the STATIC element type
    (constant per column), so each branch sees the right accumulator.
    Known divergence: the CASE's common type is DECIMAL(38,6), so double
    sums carry 6 fractional digits and integer sums above 1e32 return
    NULL where DuckDB's HUGEINT reaches 1.7e38.

    exact_floats=True is the 'fsum'/'kahan_sum' variant: doubles fold
    through DECIMAL(38,6) element casts, reproducing compensated
    summation's exact result (e.g. [9007199254740992, 1, 1] -> ...994).
    """
    nn = f"filter({l}, __x -> __x IS NOT NULL)"
    dbl = (
        f"aggregate({nn}, CAST(0 AS DECIMAL(38,6)), "
        f"(__a, __v) -> CAST(__a + CAST(__v AS DECIMAL(38,6)) AS DECIMAL(38,6)))"
        if exact_floats
        else f"CAST(aggregate({nn}, CAST(0 AS DOUBLE), (__a, __v) -> __a + __v) "
        f"AS DECIMAL(38,6))"
    )
    dec = (
        f"aggregate({nn}, CAST(0 AS DECIMAL(38,6)), "
        f"(__a, __v) -> CAST(__a + __v AS DECIMAL(38,6)))"
    )
    # 32 integer digits, not 38: the CASE's common type of DECIMAL(38,6)
    # and DECIMAL(38,0) is DECIMAL(38,0) (Spark caps precision by
    # SHEDDING SCALE), which would truncate the float branches;
    # DECIMAL(32,0)+DECIMAL(38,6) widens cleanly to DECIMAL(38,6)
    exact = (
        f"aggregate({nn}, CAST(0 AS DECIMAL(32,0)), "
        f"(__a, __v) -> CAST(__a + __v AS DECIMAL(32,0)))"
    )
    return (
        f"CASE WHEN size({nn}) = 0 THEN NULL "
        f"WHEN typeof(element_at({nn}, 1)) IN ('float', 'double') THEN {dbl} "
        f"WHEN typeof(element_at({nn}, 1)) LIKE 'decimal%' THEN {dec} "
        f"ELSE {exact} END"
    )


# ---------------------------------------------------------------------------
# DML / catalog statements over managed storage (storage.py): CREATE TABLE
# AS, INSERT, DELETE, UPDATE, CREATE/DROP SEQUENCE, nextval/currval,
# EXPORT/IMPORT DATABASE, ATTACH/DETACH. Reference surfaces:
# physical_delete.cpp / physical_update.cpp / physical_export.cpp /
# sequence_catalog_entry.cpp / attached_database.cpp.
# ---------------------------------------------------------------------------

# front-door managed tables (name → ManagedTable)
_MANAGED: dict = {}
_SEQUENCES = None  # lazy SequenceStore


def _seq_store():
    global _SEQUENCES
    if _SEQUENCES is None:
        from myduckdb_spark.storage import SequenceStore

        _SEQUENCES = SequenceStore()
    return _SEQUENCES


def reset_dml_state(spark: SparkSession) -> None:
    """Drop every front-door managed table / sequence / prepared statement
    — a fresh in-memory database, as the reference's test runner opens
    per .test file (sqllogic_test_runner.hpp LoadDatabase)."""
    global _SEQUENCES, _TXN
    for name in list(_MANAGED):
        _MANAGED.pop(name)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    for name in list(_VIEWS):
        _VIEWS.pop(name)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    _COLUMN_COLLATIONS.clear()
    _SEQUENCES = None
    _TXN = None
    _PREPARED.clear()
    ischema.reset()
    SETTINGS.pop("search_path", None)
    SETTINGS.pop("current_database", None)
    from myduckdb_spark.storage import _ATTACH_PATHS, _ATTACH_READONLY, _ATTACHED

    _ATTACHED.clear()
    _ATTACH_PATHS.clear()
    _ATTACH_READONLY.clear()
    from myduckdb_spark.functions import macros as _macros

    for n in _macros.macro_names():
        _macros.drop_macro(n)
    from myduckdb_spark import catalog

    catalog.FRONT_DOOR_ZONE = None
    try:  # a corpus file's SET TimeZone must not leak into the next file
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


# ---------------------------------------------------------------------------
# Single-writer transactions over the copy-on-write manifests. BEGIN
# records every managed table's manifest version (+ sequence/prepared
# state); ROLLBACK restores those pointers — no data movement, because
# copy-on-write never deletes files (the same trick Delta/Iceberg use for
# time travel; reference MVCC: src/transaction/). Concurrency (multiple
# writers, isolation) is out of scope by declaration — this provides the
# BEGIN/COMMIT/ROLLBACK statement surface the reference's sqllogictests
# exercise on a single connection.
# ---------------------------------------------------------------------------

_TXN: dict | None = None


def _txn_begin() -> None:
    global _TXN
    if _TXN is not None:
        raise ValueError("TransactionContext Error: cannot start a transaction within a transaction")
    import copy

    _TXN = {
        "tables": {n: (t, t.version) for n, t in _MANAGED.items()},
        "seqs": copy.deepcopy(_seq_store()._seqs) if _SEQUENCES is not None else None,
        "prepared": dict(_PREPARED),
    }


def _txn_end(commit: bool) -> None:
    global _TXN
    if _TXN is None:
        raise ValueError("TransactionContext Error: cannot commit - no transaction is active")
    _TXN = None


def _txn_rollback(spark: SparkSession) -> None:
    global _TXN
    if _TXN is None:
        raise ValueError("TransactionContext Error: cannot rollback - no transaction is active")
    txn, _TXN = _TXN, None
    for name in set(_MANAGED) - set(txn["tables"]):  # created during txn
        _MANAGED.pop(name)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    for name, (tbl, version) in txn["tables"].items():
        _MANAGED[name] = tbl  # resurrect tables dropped during the txn
        if tbl.version != version:
            tbl.restore(version)
        _refresh_view(spark, name)
    if txn["seqs"] is not None and _SEQUENCES is not None:
        _seq_store()._seqs = txn["seqs"]
    _PREPARED.clear()
    _PREPARED.update(txn["prepared"])


def _rows_df(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A command's result rows (``schema``: a StructType or DDL string) as
    a JVM-local relation. The rows travel to the JVM as one Arrow batch, so
    running the result starts no Python worker; a list of Python rows
    would become a Python RDD that starts one. Same schema, nullability
    included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _count_df(spark: SparkSession, n: int) -> DataFrame:
    # DuckDB DML returns a single-column `Count` result
    return _rows_df(spark, [(n,)], "Count bigint")


# name → (duckdb-dialect SELECT text, optional column aliases). Views
# re-resolve against CURRENT table state (reference: a view stores its
# parse tree and binds at query time, view_catalog_entry.cpp) — realized
# by re-registering every view's lazy plan after any DML refresh.
_VIEWS: dict[str, tuple[str, list[str] | None]] = {}


def _rebind_views(spark: SparkSession) -> None:
    for v, (sel, cols) in _VIEWS.items():
        try:
            df = sql(spark, sel)
            if cols:
                df = df.toDF(*cols)
            df.createOrReplaceTempView(v)
        except Exception:
            pass  # a dropped dependency: the view errors on next use


def _refresh_view(spark: SparkSession, name: str) -> None:
    _MANAGED[name].scan().createOrReplaceTempView(name)
    _rebind_views(spark)


_CTAS = re.compile(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(\w+)\s+AS\s+(.+?);?\s*$", re.I | re.S)
_CREATE_TBL = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.+)\)\s*;?\s*$",
    re.I | re.S,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\s+(\w+)"
    r"(?:\s+AS\s+(\w+))?\s*(?:\(([^()]*)\))?\s*(.+?);?\s*$",
    re.I | re.S,
)
_ON_CONFLICT_CLAUSE = re.compile(
    r"^\s*(?:\(([^()]*)\))?\s*(?:WHERE\s+(.+?)\s+)?"
    r"DO\s+(NOTHING|UPDATE)\s*(?:SET\s+(.+?))?(?:\s+WHERE\s+(.+?))?\s*$",
    re.I | re.S,
)
_CREATE_INDEX = re.compile(
    r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r'("?[\w]+"?)\s+ON\s+(\w+)\s*(?:USING\s+\w+\s*)?\((.+)\)\s*;?\s*$',
    re.I | re.S,
)
_DROP_INDEX = re.compile(r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?\"?(\w+)\"?\s*;?\s*$", re.I)

def _parse_column_defs(
    body: str,
    declared_out: dict[str, str] | None = None,
) -> tuple[list[tuple[str, str]], list[str], list[list[str]],
           dict[str, str], dict[str, str], list[dict]]:
    """Parse `a INT PRIMARY KEY, b TEXT UNIQUE, PRIMARY KEY (a, b)` →
    (cols, key, uniques, collations, defaults, extras). PRIMARY KEY and
    UNIQUE become arbiter key sets (the reference builds ART indexes for
    both); a column-level COLLATE lands in the collation registry
    (comparison semantics, reference bind_comparison_expression.cpp
    PushCollation); CHECK / NOT NULL / FOREIGN KEY land in `extras` as
    {ctype, columns, text} records for the information_schema registry —
    the managed layer stores data, it does not enforce them. Column types
    come back as Spark DDL; ``declared_out`` receives each column's
    declared DuckDB name (typenames.declared_name)."""
    cols: list[tuple[str, str]] = []
    key: list[str] = []
    uniques: list[list[str]] = []
    collations: dict[str, str] = {}
    defaults: dict[str, str] = {}
    extras: list[dict] = []
    for part in _split_args(body):
        p = part.strip()
        if not p:  # trailing comma (the fork's own tests contain these)
            continue
        m = re.match(r"^PRIMARY\s+KEY\s*\(([^)]*)\)$", p, re.I)
        if m:
            key = [c.strip().strip('"') for c in m.group(1).split(",")]
            continue
        m = re.match(r"^UNIQUE\s*\(([^)]*)\)$", p, re.I)
        if m:
            uniques.append([c.strip().strip('"') for c in m.group(1).split(",")])
            continue
        m = re.match(
            r"^FOREIGN\s+KEY\s*\(([^)]*)\)\s*"
            r'REFERENCES\s+("?[\w.]+"?(?:\s*\([^)]*\))?)', p, re.I,
        )
        if m:
            fkcols = [c.strip().strip('"') for c in m.group(1).split(",")]
            extras.append({
                "ctype": "FOREIGN KEY", "columns": fkcols,
                "text": f"FOREIGN KEY ({', '.join(fkcols)}) "
                        f"REFERENCES {m.group(2)}",
            })
            continue
        m = re.match(r"^CHECK\s*\((.*)\)$", p, re.I | re.S)
        if m:
            extras.append({
                "ctype": "CHECK", "columns": [],  # resolved by caller
                "text": f"CHECK({m.group(1).strip()})",
                "expression": m.group(1).strip(),
            })
            continue
        if re.match(r"^(UNIQUE|CHECK|FOREIGN)\b", p, re.I):
            continue
        m = re.match(
            rf'^("?[\w]+"?)\s+((?:(?i:{typenames.MULTI_WORD})\b|\w+)'
            r'(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)'
            r'((?:\s*\[\s*\d*\s*\])*)(.*)$',
            p,
            re.S,
        )
        if not m:
            raise ValueError(f"cannot parse column definition: {p!r}")
        name, typ, brackets, rest = (
            m.group(1).strip('"'), m.group(2), m.group(3), m.group(4),
        )
        # DuckDB postfix list types: INT[] / VARCHAR[][] / fixed INT[3]
        # (bounds drop — Spark arrays are unbounded)
        if declared_out is not None:
            declared_out[name.lower()] = typenames.declared_name(typ + brackets)
        typ = typenames.spark_ddl(typ + brackets)
        if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
            key.append(name)
        elif re.search(r"\bUNIQUE\b", rest, re.I):
            uniques.append([name])
        cm = re.search(r"\bCOLLATE\s+([\w.]+)", rest, re.I)
        if cm and cm.group(1).lower() not in ("binary", "c", "posix"):
            collations[name.lower()] = cm.group(1)
        dm = re.search(
            r"\bDEFAULT\s*(\(.*\)|'(?:[^']|'')*'|[\w.+-]+(?:\s*\([^()]*\))?)",
            rest, re.I | re.S,
        )
        if dm:
            defaults[name.lower()] = dm.group(1).strip()
        if re.search(r"\bNOT\s+NULL\b", rest, re.I):
            extras.append({"ctype": "NOT NULL", "columns": [name],
                           "text": "NOT NULL"})
        km = re.search(
            r'\bREFERENCES\s+("?[\w.]+"?(?:\s*\([^)]*\))?)', rest, re.I,
        )
        if km:
            extras.append({
                "ctype": "FOREIGN KEY", "columns": [name],
                "text": f"FOREIGN KEY ({name}) REFERENCES {km.group(1)}",
            })
        km = re.search(r"\bCHECK\s*\((.*)\)", rest, re.I | re.S)
        if km:
            extras.append({
                "ctype": "CHECK", "columns": [name],
                "text": f"CHECK({km.group(1).strip()})",
                "expression": km.group(1).strip(),
            })
        cols.append((name, typ))
    return cols, key, uniques, collations, defaults, extras


def _split_off_on_conflict(source: str) -> tuple[str, str | None]:
    """Split `VALUES ... ON CONFLICT ...` at depth 0 outside literals."""
    mask = _code_mask(source)
    depth = _depth_profile(source, mask)
    for m in _code_matches(r"\bON\s+CONFLICT\b", source, re.I, mask=mask):
        if depth[m.start()] == 0:
            return source[: m.start()], source[m.end():]
    return source, None


def _qualify_excluded(
    expr: str, table: str, src_cols: list[str], alias: str | None = None
) -> str:
    """Rewrite DO UPDATE expressions for the upsert join: the incoming
    row's `excluded.c` → `__exc_c`; the stored row's `t.c` / `alias.c`
    (or unqualified `c`, the reference's binding) stays the plain
    column."""
    out = _sub_code(r"\bexcluded\.(\w+)", r"__exc_\1", expr, re.I)
    for qual in filter(None, {table, alias}):
        out = _sub_code(rf"\b{re.escape(qual)}\.(\w+)", r"\1", out, re.I)
    return out
# Session settings the dialect layer honors (reference: config settings,
# src/main/config.cpp). Updated by the SET front door and the corpus
# runner. Only settings that change QUERY SEMANTICS live here.
SETTINGS: dict[str, str] = {"default_null_order": "nulls_last"}

_SET_SETTING = re.compile(
    r"^\s*SET\s+(?:GLOBAL\s+|SESSION\s+)?(default_null_order|default_order)"
    r"\s*=\s*'?([\w]+)'?\s*;?\s*$",
    re.I,
)


# table(lower) → {column(lower) → collation}: column-level collations from
# CREATE TABLE ... COLLATE (and the test snapshotter, tools/slt.py).
# Reference: the column TYPE carries the collation and the binder pushes it
# into every comparison (bind_comparison_expression.cpp PushCollation).
_COLUMN_COLLATIONS: dict[str, dict[str, str]] = {}


def _inject_column_collations(text: str) -> str:
    """Spark has no per-column collation metadata, so the front door keeps
    a registry and injects explicit ``COLLATE`` markers at comparison /
    BETWEEN / ORDER BY positions of collated columns; translate()'s
    COLLATE folding then turns them into JVM key expressions. Injection is
    name-based (no full binder): it applies only when a registered table
    name appears in the statement."""
    if not _COLUMN_COLLATIONS or re.match(r"\s*(CREATE|ALTER)\b", text, re.I):
        return text
    cols: dict[str, str] = {}
    lowered = text.lower()
    for tbl, cc in _COLUMN_COLLATIONS.items():
        if re.search(rf"\b{re.escape(tbl)}\b", lowered):
            cols.update(cc)
    if not cols:
        return text
    # SELECT DISTINCT col FROM ... — a collated DISTINCT dedupes on the
    # collation key and returns ONE representative (the reference returns
    # the first scanned; min_by over a scan-order stamp mirrors that on
    # the single-partition mirrored views, and is "some representative"
    # at scale — the same contract DuckDB's parallel scan gives).
    dm = re.match(
        r"\s*SELECT\s+DISTINCT\s+((?:\w+\.)?(\w+))\s+FROM\s+(.+?)\s*;?\s*$",
        text,
        re.I | re.S,
    )
    if dm and dm.group(2).lower() in cols:
        ref, bare, rest = dm.group(1), dm.group(2), dm.group(3)
        coll = cols[bare.lower()]
        return (
            f"SELECT min_by({bare}, __rid) AS {bare} FROM "
            f"(SELECT {ref} AS {bare}, monotonically_increasing_id() AS __rid "
            f"FROM {rest}) GROUP BY {bare} COLLATE {coll}"
        )
    _CMP = r"(=|<>|!=|<=|>=|<|>)"
    for col, coll in cols.items():
        c = re.escape(col)
        # lhs: col OP ...  /  col [NOT] BETWEEN ...
        text = _sub_code(
            rf"(?<![\w.'\"])((?:\w+\.)?{c})\s*(?:{_CMP}|((?:NOT\s+)?BETWEEN\b))",
            lambda m: f"{m.group(1)} COLLATE {coll} {m.group(2) or m.group(3)}",
            text, re.I,
        )
        # rhs: OP col — only when the lhs operand didn't already collate
        def _rhs(m: re.Match) -> str:
            if re.search(r"COLLATE\s+[\w.]+\s*$", m.string[: m.start()], re.I):
                return m.group(0)
            return f"{m.group(1)} {m.group(2)} COLLATE {coll}"

        text = _sub_code(
            rf"{_CMP}\s*((?:\w+\.)?{c})(?![\w.(])(?!\s+COLLATE\b)", _rhs, text, re.I
        )
        # ORDER BY col [ASC|DESC]
        text = _sub_code(
            rf"(\bORDER\s+BY\s+)((?:\w+\.)?{c})(?![\w.(])(?!\s+COLLATE\b)",
            lambda m: f"{m.group(1)}{m.group(2)} COLLATE {coll}",
            text, re.I,
        )
    return text


_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?\"?(\w+)\"?\s*(?:\(([^()]*)\))?\s+AS\s+(.+?);?\s*$",
    re.I | re.S,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?\"?(\w+)\"?\s*;?\s*$", re.I
)

_ALTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?\"?(\w+)\"?\s+(.+?);?\s*$", re.I | re.S
)


def _alter_table(spark: SparkSession, exists_ok: str | None, name: str, act: str):
    """ALTER TABLE dispatch (reference parser: src/parser/statement/
    alter_statement.cpp; executor: duckdb_table_entry.cpp). Schema changes
    land as metadata-only projection stages on the managed table; the
    catalog registry only carries the declared types, constraints and
    comments along (column facts are read live, infoschema.column_records)."""
    if name not in _MANAGED:
        if exists_ok:
            return _count_df(spark, 0)
        raise KeyError(f"ALTER TABLE: unknown table {name}")
    tbl = _MANAGED[name]
    cols = tbl.scan().columns
    low = {c.lower(): c for c in cols}
    keyset = {c.lower() for k in ([tbl.key() or []] + tbl.keys()) for c in k}

    def passthrough() -> list[tuple[str, str, None]]:
        return [(c, f"`{c}`", None) for c in cols]

    m = re.match(r"RENAME\s+TO\s+\"?(\w+)\"?\s*$", act, re.I)
    if m:
        new = m.group(1)
        if new in _MANAGED and new != name:
            raise ValueError(f"ALTER TABLE: table {new} already exists")
        _MANAGED[new] = _MANAGED.pop(name)
        if name.lower() in _COLUMN_COLLATIONS:
            _COLUMN_COLLATIONS[new.lower()] = _COLUMN_COLLATIONS.pop(name.lower())
        # registry rows and COMMENT ON entries follow (comment_on.test)
        ischema.rename_object(name, new)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        _refresh_view(spark, new)
        return _count_df(spark, 0)

    m = re.match(
        r"RENAME\s+(?:COLUMN\s+)?\"?(\w+)\"?\s+TO\s+\"?(\w+)\"?\s*$", act, re.I
    )
    if m:
        old, new = m.group(1), m.group(2)
        if old.lower() not in low:
            raise KeyError(f"ALTER TABLE: column {old} does not exist")
        if new.lower() in low and new.lower() != old.lower():
            raise ValueError(f"ALTER TABLE: column {new} already exists")
        src = low[old.lower()]
        stage = [
            (new if c == src else c, f"`{c}`", None) for c in cols
        ]
        tbl.alter(stage)
        tbl.remap_columns({src: new})
        ischema.rename_column(name, src, new)
        _refresh_view(spark, name)
        return _count_df(spark, 0)

    m = re.match(
        r"ADD\s+(?:COLUMN\s+)?(IF\s+NOT\s+EXISTS\s+)?(.+)$", act, re.I | re.S
    )
    if m and not re.match(r"ADD\s+(PRIMARY|UNIQUE|CHECK|FOREIGN)", act, re.I):
        soft, coldef = m.group(1), m.group(2).strip()
        dm = re.search(r"\bDEFAULT\s+(.+)$", coldef, re.I | re.S)
        default = dm.group(1).strip() if dm else None
        declared: dict[str, str] = {}
        parsed, _k, _u, _cc, _dd, _x = _parse_column_defs(coldef, declared)
        if len(parsed) != 1:
            raise ValueError(f"ALTER TABLE ADD: cannot parse {coldef!r}")
        cname, ctype = parsed[0]
        if cname.lower() in low:
            if soft:
                return _count_df(spark, 0)
            raise ValueError(f"ALTER TABLE: column {cname} already exists")
        stage = passthrough() + [(cname, translate(default) if default else "NULL", ctype)]
        tbl.alter(stage)
        if default:
            tbl.set_defaults({**tbl.defaults, cname.lower(): default})
        ischema.declare(name, [(cname, declared[cname.lower()])])
        _refresh_view(spark, name)
        return _count_df(spark, 0)

    m = re.match(
        r"DROP\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?\"?(\w+)\"?\s*(CASCADE)?\s*$",
        act,
        re.I,
    )
    if m:
        soft, cname = m.group(1), m.group(2)
        if cname.lower() not in low:
            if soft:
                return _count_df(spark, 0)
            raise KeyError(f"ALTER TABLE: column {cname} does not exist")
        if len(cols) == 1:
            raise ValueError(
                "ALTER TABLE: cannot drop the only remaining column"
            )
        if cname.lower() in keyset:
            raise ValueError(
                f"ALTER TABLE: cannot drop column {cname} — a key/unique "
                "constraint depends on it"
            )
        src = low[cname.lower()]
        tbl.alter([(c, f"`{c}`", None) for c in cols if c != src])
        tbl.set_defaults({c: d for c, d in tbl.defaults.items() if c != src.lower()})
        ischema.drop_column(name, src)
        _refresh_view(spark, name)
        return _count_df(spark, 0)

    m = re.match(
        r"ALTER\s+(?:COLUMN\s+)?\"?(\w+)\"?\s+(?:SET\s+DATA\s+)?TYPE\s*"
        r"([^;]+?)(?:\s+USING\s+(.+))?\s*$",
        act,
        re.I | re.S,
    )
    if m:
        cname, typetext, using = m.group(1), m.group(2).strip(), m.group(3)
        if cname.lower() not in low:
            raise KeyError(f"ALTER TABLE: column {cname} does not exist")
        src = low[cname.lower()]
        declared = {}
        parsed, _k, _u, _cc, _dd, _x = _parse_column_defs(f"{src} {typetext}", declared)
        _n, ctype = parsed[0]
        expr = translate(using.strip()) if using else f"`{src}`"
        stage = [
            (c, expr if c == src else f"`{c}`", ctype if c == src else None)
            for c in cols
        ]
        tbl.alter(stage)
        ischema.declare(name, [(src, declared[src.lower()])])
        _refresh_view(spark, name)
        return _count_df(spark, 0)

    # SET/DROP DEFAULT updates the stored default registry; SET/DROP
    # NOT NULL updates the constraint registry (enforced on INSERT)
    am = re.match(
        r"ALTER\s+(?:COLUMN\s+)?\"?(\w+)\"?\s+(SET|DROP)\s+"
        r"(DEFAULT|NOT\s+NULL)\s*(.*)$",
        act, re.I | re.S,
    )
    if am:
        cname, verb, what, rest = am.groups()
        low = {c.lower(): c for c in tbl.scan().columns}
        if cname.lower() not in low:
            raise KeyError(f"ALTER TABLE: column {cname} does not exist")
        src = low[cname.lower()]
        if what.upper() == "DEFAULT":
            dfl = dict(tbl.defaults)
            if verb.upper() == "SET":
                dfl[src.lower()] = rest.strip().rstrip(";").strip()
            else:
                dfl.pop(src.lower(), None)
            tbl.set_defaults(dfl)
        else:
            ischema.set_not_null(name, src, verb.upper() == "SET")
        return _count_df(spark, 0)
    raise ValueError(f"ALTER TABLE: unsupported action {act!r}")


_COPY = re.compile(
    r"^\s*COPY\s+(.+?)\s+(TO|FROM)\s+'([^']+)'\s*"
    r"(?:WITH\s*)?(?:\((.*)\)|([A-Za-z].*?))?\s*;?\s*$",
    re.I | re.S,
)


def _parse_copy_options(opts: str | None) -> dict[str, str]:
    """COPY's `(FORMAT CSV, HEADER, DELIMITER '|')` option list — both the
    bare-flag and key-value forms (reference src/parser/transform/
    statement/transform_copy.cpp)."""
    out: dict[str, str] = {}
    quoted: set[str] = set()
    if not opts:
        return out
    for part in _split_args(opts):
        p = part.strip()
        if not p:
            continue
        m = re.match(r"(\w+)\s*(.*)$", p, re.S)
        if m is None:
            continue
        k, v = m.group(1).upper(), m.group(2).strip()
        if v.startswith("(") and v.endswith(")"):
            v = v[1:-1].strip()
        if v.startswith("'"):
            quoted.add(k)
        out[k] = v.strip().strip("'") if v else "true"
    # error parity (transform_copy.cpp option typing): string-typed
    # options must be quoted strings; HEADER must be boolean-ish;
    # only UTF-8 encodings exist
    for k in ("ESCAPE", "QUOTE", "ENCODING", "NULL", "NULLSTR",
              "DELIMITER", "DELIM", "SEP", "SEPARATOR"):
        if k in out and k not in quoted:
            raise ValueError(f"COPY option {k} requires a string argument")
    if "HEADER" in out and out["HEADER"].lower() not in (
        "true", "false", "0", "1",
    ):
        raise ValueError("COPY HEADER must be a boolean")
    if "ENCODING" in out and out["ENCODING"].lower().replace("-", "") != "utf8":
        raise ValueError(f"COPY ENCODING {out['ENCODING']!r} not supported")
    return out


def _copy_format(path: str, opts: dict[str, str]) -> str:
    fmt = opts.get("FORMAT", "").lower()
    if fmt:
        return "json" if fmt == "ndjson" else fmt
    ext = os.path.splitext(path.rstrip("/*"))[1].lower()
    return {".parquet": "parquet", ".json": "json", ".ndjson": "json",
            ".jsonl": "json", ".gz": "csv"}.get(ext, "csv")




def _apply_copy_schema(reader, target_df, collist, as_string=()):
    """COPY FROM parses with the TARGET TABLE's column types (reference
    copy_from binds the file to the table schema — no re-inference, so
    e.g. zero-padded VARCHAR columns stay verbatim). Inference only when
    an explicit column list reorders the file. Columns in ``as_string``
    are demoted to STRING for driver-side re-parse (weekday timestamp
    formats Spark's parser rejects)."""
    if collist is None:
        from pyspark.sql import types as T

        if as_string:
            fields = [
                T.StructField(f.name, T.StringType(), True)
                if f.name in as_string else f
                for f in target_df.schema.fields
            ]
            return reader.schema(T.StructType(fields))
        return reader.schema(target_df.schema)
    return reader.option("inferSchema", "true")


def _copy_statement(spark: SparkSession, target: str, direction: str,
                    path: str, opts_text: str | None):
    """COPY ... TO / FROM (reference src/execution/operator/persistent/
    physical_copy_to_file.cpp, physical_copy_from_file.cpp — here Spark's
    own distributed writers/readers).

    Scale note: a bare COPY TO writes ONE file (DuckDB parity — a
    coalesce(1) single-writer). At 100 TB use PARTITION_BY (directory
    tree, fully parallel writers) — that path never coalesces."""
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    opts = _parse_copy_options(opts_text)
    fmt = _copy_format(path, opts)
    delim = (
        opts.get("DELIMITER") or opts.get("DELIM") or opts.get("SEP")
        or opts.get("SEPARATOR")
    )
    header = opts.get("HEADER", "true").lower() not in ("false", "0")
    # option-validation parity (reference csv copy bind errors)
    if fmt == "csv" and delim is not None and len(delim) > 1:
        raise ValueError(
            "The delimiter option cannot exceed a size of 1 byte."
        )
    _nulltext = opts.get("NULL", opts.get("NULLSTR"))
    if fmt == "csv" and _nulltext and (delim or ",") in _nulltext:
        raise ValueError(
            "DELIMITER must not appear in the NULL specification "
            "and vice versa"
        )

    if direction.upper() == "TO":
        if "FORCE_NOT_NULL" in opts or "FORCE_NULL" in opts:
            bad = "force_not_null" if "FORCE_NOT_NULL" in opts else "force_null"
            raise ValueError(f'Unrecognized option CSV writer "{bad}"')
        delim = delim or ","
        m = re.match(r"^\((.+)\)$", target.strip(), re.S)
        if m:
            df = sql(spark, m.group(1))
        else:
            tm = re.match(r'^"?(\w+)"?\s*(?:\(([^()]*)\))?$', target.strip())
            name = tm.group(1) if tm else target.strip().strip('"')
            df = _MANAGED[name].scan() if name in _MANAGED else spark.table(name)
            if tm and tm.group(2):  # COPY t (a, c) TO — project the list
                df = df.select(
                    *[c.strip().strip('"') for c in tm.group(2).split(",")]
                )
            if fmt == "parquet":
                # persist carrier-erased duck type names (UTINYINT,
                # HUGEINT, JSON, …) as field metadata — Spark stores it
                # in the parquet footer schema, so a later file scan can
                # rebind typeof()/casts to the declared type
                # (copy/parquet/writer/parquet_write_unsigned.test)
                dmap = {
                    c: dt for c, dt in ischema.declared_types(name).items()
                    if dt in typenames.ERASED
                }
                if dmap:
                    def _out_col(c: str):
                        dt = dmap.get(c.lower())
                        if dt in ("HUGEINT", "UHUGEINT"):
                            # parquet has no int128 — the reference's
                            # writer degrades HUGEINT to DOUBLE
                            # (parquet_write_hugeint.test), so the
                            # round-trip type is DOUBLE, not HUGEINT
                            return F.col(f"`{c}`").cast("double").alias(c)
                        if dt:
                            return F.col(f"`{c}`").alias(
                                c, metadata={"duck_type": dt})
                        return F.col(f"`{c}`")

                    df = df.select(*[_out_col(c) for c in df.columns])
        if fmt == "csv":
            # BLOB columns write duck's \xNN text rendering (blob.cpp
            # ToString) — Spark's BINARY→CSV would emit raw bytes
            _bwc = [c for c, t in df.dtypes if t == "binary"]
            if _bwc:
                from myduckdb_spark.functions.udf import register_blob_render

                register_blob_render(spark)
                df = df.select(*[
                    F.expr(f"__blob_str(`{c}`)").alias(c)
                    if c in _bwc else F.col(f"`{c}`")
                    for c in df.columns
                ])
        n = df.count()
        part_by = [c.strip().strip('"')
                   for c in opts.get("PARTITION_BY", "").split(",") if c.strip()]
        if part_by == ["*"]:  # PARTITION_BY '*' = all columns (bind_copy)
            part_by = list(df.columns)
        if part_by:
            # Hive-partitioned write, reference-parity layout
            # (bind_copy.cpp:64,154): partition columns are NOT written
            # into the data files by default — their values live only in
            # the dir names; the explicit WRITE_PARTITION_COLUMNS option
            # includes them, and partitioning by ALL columns without it
            # errors. Files are named data_{i} (or FILENAME_PATTERN with
            # {uuid}/{i}), and repeat writes APPEND new uniquely-named
            # files only under OVERWRITE_OR_IGNORE/APPEND — a bare rerun
            # on a non-empty target errors. Implementation: Spark
            # partitionBy (which natively excludes the keys from data
            # files; the WRITE_PARTITION_COLUMNS path partitions on
            # CLONED key columns so the originals stay in the files),
            # then metadata-only dir/file renames into the final layout —
            # fully parallel writers, one rename per output file.
            import uuid as _uuid

            truthy = ("true", "1")
            write_part_cols = (
                opts.get("WRITE_PARTITION_COLUMNS", "").lower() in truthy
            )
            if not write_part_cols and len(part_by) >= len(df.columns):
                raise ValueError(
                    "No column to write as all columns are specified as "
                    "partition columns. WRITE_PARTITION_COLUMNS option "
                    "can be used to write partition columns."
                )
            append = (
                opts.get("OVERWRITE_OR_IGNORE", "").lower() in truthy
                or opts.get("APPEND", "").lower() in truthy
            )
            overwrite = opts.get("OVERWRITE", "").lower() in truthy
            if (
                not append and not overwrite
                and os.path.isdir(path) and os.listdir(path)
            ):
                raise ValueError(
                    f"Directory {path} is not empty! Enable "
                    "OVERWRITE_OR_IGNORE option to force writing"
                )
            if overwrite and os.path.isdir(path):
                _shutil.rmtree(path)
            out = df
            if write_part_cols:
                hp = {c: f"__hp_{c}" for c in part_by}
                for c, h in hp.items():
                    out = out.withColumn(h, F.col(f"`{c}`"))
                part_dirs = list(hp.values())
            else:
                part_dirs = list(part_by)
            tmpd = _tempfile.mkdtemp(prefix="copypart_")
            wdir = os.path.join(tmpd, "w")
            writer = out.write.mode("overwrite").partitionBy(*part_dirs)
            if fmt == "csv":
                writer = writer.option("header", header).option("sep", delim)
            getattr(writer, fmt)(wdir)
            pattern = opts.get("FILENAME_PATTERN", "data_{i}")
            if "{uuid}" not in pattern and "{i}" not in pattern:
                pattern += "_{i}"
            ext = "." + ("parquet" if fmt == "parquet" else fmt)
            for root, _dirs, fs in os.walk(wdir):
                datafiles = sorted(
                    f for f in fs
                    if not f.startswith((".", "_")) and not f.endswith(".crc")
                )
                if not datafiles:
                    continue
                rel = os.path.relpath(root, wdir)
                segs = []
                for seg in (rel.split(os.sep) if rel != "." else []):
                    k, _, v = seg.partition("=")
                    segs.append(f"{k.removeprefix('__hp_')}={v}")
                dest = os.path.join(path, *segs)
                os.makedirs(dest, exist_ok=True)
                idx = sum(1 for f in os.listdir(dest) if f.endswith(ext))
                for f in datafiles:
                    name = pattern.replace("{uuid}", str(_uuid.uuid4()))
                    name = name.replace("{i}", str(idx)) + ext
                    while os.path.exists(os.path.join(dest, name)):
                        idx += 1
                        name = pattern.replace(
                            "{uuid}", str(_uuid.uuid4())
                        ).replace("{i}", str(idx)) + ext
                    _shutil.move(os.path.join(root, f),
                                 os.path.join(dest, name))
                    idx += 1
            _shutil.rmtree(tmpd, ignore_errors=True)
            return _count_df(spark, n)
        # single-file DuckDB parity: write a one-part directory, then move
        # the part onto the exact path
        tmp = _tempfile.mkdtemp(prefix="copyto_")
        out_dir = os.path.join(tmp, "out")
        if fmt == "csv" and opts.get("QUOTE") == "":
            # quote '' disables quoting entirely (reference
            # write_csv.cpp raw-cell path). Spark's CSV writer can't:
            # an empty quote option becomes NUL and cells containing
            # the delimiter still get wrapped. Render lines directly.
            from pyspark.sql import functions as _F

            nullv = opts.get("NULL", opts.get("NULLSTR", ""))
            cells = [
                _F.coalesce(_F.col(f"`{c}`").cast("string"), _F.lit(nullv))
                for c in df.columns
            ]
            txt = df.coalesce(1).select(
                _F.concat_ws(delim, *cells).alias("value")
            )
            txt.write.mode("overwrite").text(out_dir)
            parts = [p for p in _glob.glob(os.path.join(out_dir, "part-*"))
                     if not os.path.basename(p).startswith(("_", "."))]
            os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
            if os.path.isdir(path):
                _shutil.rmtree(path)
            body = open(parts[0]).read() if parts else ""
            with open(path, "w") as fh:
                if header:
                    fh.write(delim.join(df.columns) + "\n")
                fh.write(body)
            _shutil.rmtree(tmp, ignore_errors=True)
            return _count_df(spark, n)
        writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer = (
                writer.option("header", header)
                .option("sep", delim)
                # the reference writes cell bytes verbatim — Spark's CSV
                # writer trims leading whitespace by default
                .option("ignoreLeadingWhiteSpace", "false")
                .option("ignoreTrailingWhiteSpace", "false")
            )
            if "QUOTE" in opts:
                writer = writer.option("quote", opts["QUOTE"])
            # DuckDB escapes quotes by doubling unless ESCAPE is given;
            # Spark's writer defaults to backslash-escaping
            writer = writer.option(
                "escape", opts.get("ESCAPE", opts.get("QUOTE", '"'))
            )
            from myduckdb_spark.functions.registry import _strf_to_java

            if "%" in opts.get("DATEFORMAT", ""):
                writer = writer.option(
                    "dateFormat", _strf_to_java(opts["DATEFORMAT"])
                )
            if "%" in opts.get("TIMESTAMPFORMAT", ""):
                jf = _strf_to_java(opts["TIMESTAMPFORMAT"])
                writer = writer.option("timestampFormat", jf).option(
                    "timestampNTZFormat", jf
                )
            if "NULL" in opts:
                writer = writer.option("nullValue", opts["NULL"])
        if fmt == "parquet" and "COMPRESSION" in opts:
            writer = writer.option("compression", opts["COMPRESSION"].lower())
        getattr(writer, fmt)(out_dir)
        exts = {"csv": "*.csv*", "json": "*.json*", "parquet": "*.parquet"}
        parts = [p for p in _glob.glob(os.path.join(out_dir, exts[fmt]))
                 if not os.path.basename(p).startswith(("_", "."))]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        if os.path.isdir(path):
            _shutil.rmtree(path)
        if parts:
            _shutil.move(parts[0], path)
        else:  # zero-row frame may emit no part; write header-only/empty
            open(path, "w").close()
        _shutil.rmtree(tmp, ignore_errors=True)
        return _count_df(spark, n)

    # COPY table [(cols)] FROM 'path'
    m = re.match(r'^"?(\w+)"?\s*(?:\(([^()]*)\))?$', target.strip())
    if not m:
        raise ValueError(f"COPY FROM: cannot parse target {target!r}")
    name, collist = m.group(1), m.group(2)
    if name not in _MANAGED:
        raise KeyError(f"COPY FROM: {name} is not a managed table")
    tbl = _MANAGED[name]
    target_df = tbl.scan().limit(0)
    if "COMPRESSION" in opts:
        from myduckdb_spark.io import _force_compression

        path = _force_compression(path, opts["COMPRESSION"])
    if fmt == "csv":
        # DuckDB's COPY FROM auto-detects dialect and header when not
        # given explicitly (csv_scanner sniffer runs by default) — use
        # our sniffer for the unspecified knobs. AUTO_DETECT 0 disables
        # the sniffer entirely: delimiter ',' and no header
        # (copy/csv/test_blob.test reads cells containing '|' raw).
        _autodet = opts.get("AUTO_DETECT", "true").lower() not in (
            "false", "0",
        )
        if _autodet and (delim is None or "HEADER" not in opts):
            from myduckdb_spark.io import sniff_csv

            sniffed = sniff_csv(spark, path, force_sep=delim)
            delim = delim or sniffed["sep"]
            if "HEADER" not in opts:
                header = sniffed["header"]
        elif not _autodet:
            delim = delim or ","
            if "HEADER" not in opts:
                header = False
        reader = (
            spark.read.option("header", header)
            .option("sep", delim)
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
        )
        if "QUOTE" in opts:
            reader = reader.option("quote", opts["QUOTE"])
        # DuckDB's default escape is quote-doubling; Spark's is backslash
        # (a doubled quote mid-cell otherwise aborts unquoting —
        # univocity STOP_AT_DELIMITER keeps the raw quoted text)
        reader = reader.option(
            "escape", opts.get("ESCAPE", opts.get("QUOTE", '"'))
        )
        # quoted cells spanning lines need multiLine (an odd quote count
        # on a physical line = an open quoted cell); cheap head sniff
        try:
            from myduckdb_spark.io import _local_json_files

            _qc = opts.get("QUOTE", '"') or '"'
            _f0 = _local_json_files(path, limit=1)
            if _f0:
                with open(_f0[0], "rb") as _fh:
                    _head = _fh.read(1 << 20).decode("utf-8", "replace")
                # quotes are special only at CELL START (reference CSV
                # state machine) — a mid-cell quote with an odd line
                # count must not trigger multiLine (test_blob.test)
                _cellq = re.compile(
                    "(^|" + re.escape(delim or ",") + ")" + re.escape(_qc)
                )
                if any(ln.count(_qc) % 2 == 1 and _cellq.search(ln)
                       for ln in _head.splitlines()[:2048]):
                    reader = reader.option("multiLine", "true")
        except OSError:
            pass
        from myduckdb_spark.functions.registry import _strf_to_java

        if "%" in opts.get("DATEFORMAT", ""):
            reader = reader.option(
                "dateFormat", _strf_to_java(opts["DATEFORMAT"])
            )
        if "%" in opts.get("TIMESTAMPFORMAT", ""):
            jf = _strf_to_java(opts["TIMESTAMPFORMAT"])
            reader = reader.option("timestampFormat", jf).option(
                "timestampNTZFormat", jf
            )
        # FORCE_NOT_NULL (cols) / NULL-string rules are applied by FILE
        # position: with an explicit column list (COPY t(b,a) FROM ...)
        # file column i targets collist[i], not table column i.
        all_tgt_names = [c.lower() for c, _t in target_df.dtypes]
        if collist:
            _order = [c.strip().strip('"').lower()
                      for c in collist.split(",")]
            _by_name = {c.lower(): t for c, t in target_df.dtypes}
            tgt_names = _order
            tgt_types = [_by_name.get(c, "string") for c in _order]
        else:
            tgt_types = [t for _c, t in target_df.dtypes]
            tgt_names = all_tgt_names
        fraw = opts.get("FORCE_NOT_NULL")
        if fraw == "true":  # bare flag — needs a column list
            raise ValueError(
                '"force_not_null" expects a column list or * as parameter'
            )
        if fraw == "*":
            forced = set(tgt_names)
        else:
            forced = {
                c.strip().strip('"').lower()
                for c in (fraw or "").split(",") if c.strip()
            }
            for c in forced:
                if c not in all_tgt_names:
                    raise ValueError(
                        f'"force_not_null" expected to find {c}, '
                        "but it was not found in the table"
                    )
        # Spark's post-3.0 datetime parser rejects weekday patterns
        # (EEE) when PARSING — read those columns as text, strip the
        # (redundant) leading weekday token, parse the remainder
        _wd_fmt = opts.get("TIMESTAMPFORMAT", "")
        _wd_cols: tuple = ()
        if re.match(r"%a\s|%A\s", _wd_fmt):
            _wd_cols = tuple(
                c for c, t in target_df.dtypes if t.startswith("timestamp")
            )
        # BLOB targets: the file carries duck's \xNN TEXT rendering
        # (blob.cpp FromString) — Spark's CSV→BINARY cast would store the
        # UTF-8 bytes of that text. Read as STRING, parse the escapes.
        _blob_cols = tuple(c for c, t in target_df.dtypes if t == "binary")
        if _blob_cols:
            from myduckdb_spark.functions.udf import register_blob_parse

            register_blob_parse(spark)
        nullstr = opts.get("NULL", opts.get("NULLSTR", ""))
        if nullstr:
            # DuckDB semantics for a NON-empty null string (copy_csv.cpp):
            # only cells equal to it become NULL; EMPTY cells are empty
            # strings for VARCHAR targets. Spark's reader unconditionally
            # nulls unquoted-empty cells, so parse with an unmatchable
            # sentinel and apply both rules as projections.
            reader = reader.option("nullValue", "\u0007__never_null__")
            src = _apply_copy_schema(
                reader, target_df, collist, _wd_cols + _blob_cols
            ).csv(path)
            projected = []
            for i, (c, t) in enumerate(src.dtypes):
                col = F.col(f"`{c}`")
                if t == "string":
                    tgt = tgt_types[i] if i < len(tgt_types) else "string"
                    if i < len(tgt_names) and tgt_names[i] in forced:
                        # FORCE_NOT_NULL skips the null-string conversion
                        # entirely — a cell equal to the NULL string keeps
                        # its raw text (sniffer/csv_reader force_not_null)
                        col = F.coalesce(col, F.lit(""))
                    else:
                        col = F.when(col == nullstr, F.lit(None)).otherwise(
                            # only VARCHAR targets can hold '' - empty
                            # cells in typed columns stay NULL
                            F.coalesce(col, F.lit("")) if tgt == "string"
                            else F.when(col == "", F.lit(None))
                            .otherwise(col)
                        )
                projected.append(col.alias(c))
            src = src.select(*projected)
        else:
            if "NULL" in opts:
                reader = reader.option("nullValue", opts["NULL"])
            src = _apply_copy_schema(
                reader, target_df, collist, _wd_cols + _blob_cols
            ).csv(path)
            if forced:
                projected = []
                for i, (c, t) in enumerate(src.dtypes):
                    col = F.col(f"`{c}`")
                    if t == "string" and i < len(tgt_names) \
                            and tgt_names[i] in forced:
                        col = F.coalesce(col, F.lit(""))
                    projected.append(col.alias(c))
                src = src.select(*projected)
                # a forced NON-VARCHAR column with actual NULLs cannot
                # convert '' (reference: "Error when converting column")
                typed_forced = [
                    c for i, (c, t) in enumerate(src.dtypes)
                    if t != "string" and i < len(tgt_names)
                    and tgt_names[i] in forced
                ]
                if typed_forced:
                    nulls = src.select(
                        *[F.count(F.when(F.col(f"`{c}`").isNull(), 1))
                          .alias(c) for c in typed_forced]
                    ).first()
                    for c in typed_forced:
                        if nulls[c]:
                            raise ValueError(
                                f'Error when converting column "{c}"'
                            )
        if _wd_cols:
            from myduckdb_spark.functions.registry import _strf_to_java

            rest = _strf_to_java(
                re.sub(r"^%[aA]\s+", "", _wd_fmt)
            )
            src = src.select(
                *[
                    F.to_timestamp(
                        F.regexp_replace(F.col(f"`{c}`"), r"^[A-Za-z]+\s+", ""),
                        rest,
                    ).alias(c) if c in _wd_cols else F.col(f"`{c}`")
                    for c in src.columns
                ]
            )
        if _blob_cols:
            src = src.select(
                *[
                    F.expr(f"__blob_parse(`{c}`)").alias(c)
                    if c in _blob_cols else F.col(f"`{c}`")
                    for c in src.columns
                ]
            )
    elif fmt == "json":
        src = spark.read.json(path)
    else:
        src = spark.read.parquet(path)
    if collist:
        cols = [c.strip().strip('"') for c in collist.split(",")]
        if len(src.columns) != len(cols):
            raise ValueError(
                f"COPY FROM: file arity {len(src.columns)} != column list {len(cols)}"
            )
        low = {c.lower(): c for c in target_df.columns}
        named = {low[c.lower()]: src[s] for c, s in zip(cols, src.columns)}
        dflt = tbl.defaults
        types = dict(target_df.dtypes)
        src = src.select(
            *[
                named[c].alias(c) if c in named
                else F.expr(translate(dflt[c.lower()])).cast(types[c]).alias(c)
                if c.lower() in dflt
                else F.lit(None).cast(types[c]).alias(c)
                for c in target_df.columns
            ]
        )
    n = tbl.insert(src)
    _refresh_view(spark, name)
    return _count_df(spark, n)


_DROP_TBL = re.compile(r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*(CASCADE\s*)?;?\s*$", re.I)
_TRUNCATE = re.compile(r"^\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", re.I)
_BEGIN = re.compile(r"^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*;?\s*$", re.I)
_COMMIT = re.compile(r"^\s*COMMIT\s*;?\s*$", re.I)
_ROLLBACK = re.compile(r"^\s*(?:ROLLBACK|ABORT)\s*;?\s*$", re.I)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)"
    r"(?:\s+(?:AS\s+)?(?!USING\b|WHERE\b)(\w+))?"
    r"(?:\s+USING\s+(.+?))?"
    r"(?:\s+WHERE\s+(.+?))?;?\s*$",
    re.I | re.S,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(\w+)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?\s+SET\s+(.+?)"
    r"(?:\s+FROM\s+(.+?))?(?:\s+WHERE\s+(.+?))?;?\s*$",
    re.I | re.S,
)
_CREATE_SEQ = re.compile(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(?:ORARY)?\s+)?SEQUENCE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)(.*?);?\s*$", re.I | re.S)
_DROP_SEQ = re.compile(r"^\s*DROP\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.I)
_SEQ_VAL = re.compile(r"^\s*SELECT\s+((?:next|curr)val\s*\(\s*'\w+'\s*\)\s*(?:AS\s+\w+\s*)?(?:,\s*(?:next|curr)val\s*\(\s*'\w+'\s*\)\s*(?:AS\s+\w+\s*)?)*);?\s*$", re.I)
_EXPORT_DB = re.compile(r"^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(.*?\))?\s*;?\s*$", re.I)
_IMPORT_DB = re.compile(r"^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", re.I)
_ATTACH = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?(?:IF\s+NOT\s+EXISTS\s+)?'([^']+)'"
    r"(?:\s+AS\s+(\w+))?\s*(?:\(([^)]*)\))?\s*;?\s*$", re.I)
_DETACH = re.compile(r"^\s*DETACH\s+(?:DATABASE\s+)?(\w+)\s*;?\s*$", re.I)
_PREPARE = re.compile(r"^\s*PREPARE\s+(\w+)\s+AS\s+(.+?);?\s*$", re.I | re.S)
_EXECUTE = re.compile(r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$", re.I | re.S)
_DEALLOCATE = re.compile(r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$", re.I)

# PREPARE name AS <query-with-placeholders> — reference EP2
# (src/main/prepared_statement.cpp). The reference caches a bound plan and
# rebinds parameter VALUES per EXECUTE; Spark has no plan cache, so we
# store the statement text and splice the EXECUTE literals into the
# placeholder slots (same observable semantics: per-EXECUTE rebind).
_PREPARED: dict[str, str] = {}


def _bind_prepared(text: str, argtext: str | None) -> str:
    """Substitute EXECUTE arguments into ?/$n/$name placeholders."""
    argv: list[str] = _split_args(argtext) if argtext and argtext.strip() else []
    named: dict[str, str] = {}
    positional: list[str] = []
    for a in argv:
        m = re.match(r"\s*(\w+)\s*:=\s*(.+)$", a, re.S)
        if m:
            named[m.group(1).lower()] = m.group(2).strip()
        else:
            positional.append(a.strip())
    next_pos = 0

    def bind(m: re.Match) -> str:
        nonlocal next_pos
        name = m.group(1)
        if name is None:  # `?` — next positional
            if next_pos >= len(positional):
                raise ValueError("EXECUTE: not enough positional parameters")
            val = positional[next_pos]
            next_pos += 1
        elif name.isdigit():  # `$1` — 1-based positional
            idx = int(name) - 1
            if idx >= len(positional):
                raise ValueError(f"EXECUTE: missing parameter ${name}")
            val = positional[idx]
        else:  # `$name` — named (DuckDB binds case-insensitively)
            if name.lower() not in named:
                raise ValueError(f"EXECUTE: missing named parameter ${name}")
            val = named[name.lower()]
        return f"({val})"

    return _sub_code(r"\?|\$(\w+)", bind, text)


def _expand_tuple_assignment(settext: str) -> dict[str, str]:
    """`SET (a, b, c) = (x, y, z)` (reference multiple-assignment,
    transform_update.cpp) → per-column assignments; anything else falls
    through to the plain splitter. A non-tuple or arity-mismatched RHS is
    a binder error, as in the reference."""
    m = re.match(r"^\s*\(([^()]*)\)\s*=\s*(.+?)\s*$", settext, re.S)
    if not m:
        return _split_assignments(settext)
    cols = [c.strip().strip('"') for c in m.group(1).split(",")]
    rhs = m.group(2).strip()
    if not (rhs.startswith("(") and _matching(rhs, 0) == len(rhs) - 1):
        raise ValueError(
            "Binder Error: multiple assignment needs a row value on the right side"
        )
    exprs = _split_args(rhs[1:-1])
    if len(exprs) != len(cols):
        raise ValueError(
            f"Binder Error: multiple assignment arity mismatch "
            f"({len(cols)} columns, {len(exprs)} values)"
        )
    return dict(zip(cols, (e.strip() for e in exprs)))


def _split_assignments(settext: str) -> dict[str, str]:
    """Split `a = expr, b = expr` at depth 0 outside literals."""
    out = {}
    for p in _split_args(settext):
        col, _, expr = p.partition("=")
        out[col.strip()] = expr.strip()
    return out


def _schema_of(name: str) -> tuple[str, str]:
    """Recover (schema, bare_name) from a flattened ``schema__table``
    engine object name (CREATE SCHEMA front door). Longest registered
    flat-schema prefix wins — attached-catalog schemas register as
    ``alias__schema`` and their objects as ``alias__schema__table``."""
    if "__" in name:
        low = name.lower()
        for s in sorted(ischema.SCHEMAS, key=len, reverse=True):
            if low.startswith(s.lower() + "__"):
                return s, name[len(s) + 2:]
    return "main", name


def _cat_schema_of(name: str) -> tuple[str, str, str]:
    """(database, schema, bare_name) for a flattened engine object name
    (reference: src/main/attached_database.cpp catalog/schema split):
    ``db1__s1__t1`` → ('db1','s1','t1') for an attached catalog's
    schema, ``db1__t1`` → ('db1','main','t1') for an attached catalog's
    default schema, ``s__t`` → ('memory','s','t'), ``t`` →
    ('memory','main','t')."""
    sch, bare = _schema_of(name)
    if sch != "main" and "__" in sch:
        db, _, inner = sch.partition("__")
        if db.lower() in _attached_lower():
            return db, inner, bare
    if sch == "main" and "__" in name:
        db, _, rest = name.partition("__")
        if db.lower() in _attached_lower():
            return db, "main", rest
    return "memory", sch, bare


def _attached_lower() -> set[str]:
    from myduckdb_spark.storage import _ATTACHED

    return {a.lower() for a in _ATTACHED}


def _flatten_schema_refs(text: str) -> str:
    """Map ``schema.object`` references of CREATE SCHEMA-registered
    schemas to the flattened ``schema__object`` engine names (the same
    single-part-view mapping ATTACH uses for attached catalogs); strip
    the implicit ``main.`` qualifier; resolve bare table names through
    SET search_path (path schemas first, then main — set_search_path
    semantics in the reference binder)."""
    # qualifier strip is POSITIONAL: only table-reference positions
    # (after FROM/JOIN/TABLE/VIEW/... keywords) and schema-qualified
    # function calls (``main.my_macro(..)``). A blanket strip rewrites
    # column expressions too — ``SELECT main.test FROM structs, test``
    # must stay a struct-field/qualified-column reference (the reference
    # binder gives columns precedence over the schema qualifier;
    # binder/test_implicit_struct_pack.test).
    _TABLE_POS_KW = {
        "FROM", "JOIN", "INTO", "UPDATE", "TABLE", "VIEW", "MACRO",
        "FUNCTION", "SEQUENCE", "INDEX", "EXISTS", "ONLY", "DESCRIBE",
    }

    def _strip_qualifier(text: str, q: str) -> str:
        def _sub(mm: "re.Match[str]") -> str:
            # schema-qualified call: main.my_macro( → my_macro(
            if re.match(r"\w+\s*\(", text[mm.end():]):
                return ""
            j = mm.start() - 1
            while j >= 0 and text[j].isspace():
                j -= 1
            k = j
            while k >= 0 and (text[k].isalnum() or text[k] == "_"):
                k -= 1
            prev = text[k + 1: j + 1].upper()
            return "" if prev in _TABLE_POS_KW else mm.group(0)

        return _sub_code(rf"(?<![\w.\"]){q}\s*\.\s*(?=\w)", _sub, text, re.I)

    text = _strip_qualifier(text, "main")
    if not re.match(r"\s*CREATE\b", text, re.I):
        # temp-catalog qualifier on reads/DML (CREATE keeps it so the
        # temp-without-TEMPORARY error can fire)
        text = _strip_qualifier(text, "temp")
    atts = _attached_lower()
    if not ischema.SCHEMAS and not atts:
        return text
    _inner_counts: dict[str, int] = {}
    for s in ischema.SCHEMAS:
        if "__" in s:
            inner = s.partition("__")[2].lower()
            _inner_counts[inner] = _inner_counts.get(inner, 0) + 1
    for s in ischema.SCHEMAS:
        # attached-catalog schemas register flattened ('db1__s1'); their
        # dotted spelling 'db1.s1.obj' must resolve to the same objects
        alt = re.escape(s)
        if "__" in s:
            db, _, inner = s.partition("__")
            alt = rf"(?:{alt}|{re.escape(db)}\s*\.\s*{re.escape(inner)})"
            # a bare 'inner.obj' resolves through the catalog search
            # path (current database first, else unambiguous)
            cur = SETTINGS.get("current_database", "memory")
            if inner.lower() not in {
                x.lower() for x in ischema.SCHEMAS
            } and (cur.lower() == db.lower()
                   or _inner_counts[inner.lower()] == 1):
                alt = rf"(?:{alt}|{re.escape(inner)})"
        text = _sub_code(rf"\b{alt}\s*\.\s*(\w+)", rf"{s}__\1", text, re.I)
    if atts:
        # two-part `alias.obj` of an attached catalog: resolve through
        # the alias's schemas (reference binder catalog search,
        # src/catalog/catalog.cpp::LookupEntry) — existing object wins,
        # else the alias's default 'main' schema (creation target)
        from myduckdb_spark.storage import attached_aliases

        amap = attached_aliases()
        sp = [e for e in SETTINGS.get("search_path", "").split(",") if e]

        def _alias_sub(mm: "re.Match[str]") -> str:
            alias, obj = mm.group(1), mm.group(2)
            if re.match(r"\s*\(", text[mm.end():]):
                return mm.group(0)  # alias.fn(...) call, not a table
            trailing_dot = bool(re.match(r"\s*\.", text[mm.end():]))
            flat = f"{alias}__{obj}"
            known = {
                t.lower()
                for a, ts in amap.items()
                if a.lower() == alias.lower()
                for t in ts
            }
            if flat.lower() in ischema.TABLE_META or obj.lower() in known:
                return flat  # alias.table(.col) → alias__table(.col)
            if trailing_dot:
                # alias.unknown.x — an unregistered schema path; leave
                return mm.group(0)
            pref = [e for e in sp
                    if e.lower().startswith(alias.lower() + "__")]
            rest = sorted(
                s for s in ischema.SCHEMAS
                if s.lower().startswith(alias.lower() + "__")
            )
            for s in pref + rest:
                if f"{s}__{obj}".lower() in ischema.TABLE_META:
                    return f"{s}__{obj}"
            return flat

        text = _sub_code(
            rf"(?<![\w.\"])({'|'.join(re.escape(a) for a in amap)})"
            rf"\s*\.\s*(\w+)",
            _alias_sub, text, re.I,
        )
    sp = SETTINGS.get("search_path", "")
    if sp:
        order = [s for s in sp.split(",") if s and s != "main"]

        def _bare(mm: "re.Match[str]") -> str:
            for s in order:
                if f"{s}__{mm.group(2)}".lower() in ischema.TABLE_META:
                    return f"{mm.group(1)}{s}__{mm.group(2)}"
            return mm.group(0)

        text = _sub_code(
            r"\b(FROM\s+|JOIN\s+|INTO\s+|UPDATE\s+)(\w+)(?![\w]|\s*[.(])",
            _bare, text, re.I,
        )
    return text


_CREATE_SCHEMA = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"(?:\"?(\w+)\"?\s*\.\s*)?\"?(\w+)\"?\s*;?\s*$",
    re.I,
)
_DROP_SCHEMA = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?"
    r"(?:\"?(\w+)\"?\s*\.\s*)?\"?(\w+)\"?\s*"
    r"(CASCADE|RESTRICT)?\s*;?\s*$",
    re.I,
)


def _flat_schema_name(qualifier: str | None, name: str) -> str:
    """CREATE/DROP/USE schema target → flattened engine schema name.
    A qualifier naming an attached catalog prefixes (``db1.s1`` →
    ``db1__s1``, src/main/attached_database.cpp schema entries); the
    default catalog 'memory' is a no-op prefix."""
    if not qualifier or qualifier.lower() in ("memory", "temp"):
        return name
    if qualifier.lower() in _attached_lower():
        return f"{qualifier}__{name}"
    raise ValueError(
        f"Catalog Error: Catalog with name {qualifier} does not exist!"
    )


_COMMENT_ON = re.compile(
    r"^\s*COMMENT\s+ON\s+"
    r"(TABLE|COLUMN|VIEW|INDEX|SEQUENCE|TYPE|MACRO\s+TABLE|MACRO|"
    r"FUNCTION|SCHEMA|DATABASE)\s+([\w.\"]+)\s+IS\s+(.+?);?\s*$",
    re.I | re.S,
)
_CREATE_TYPE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TYPE\s+\"?(\w+)\"?\s+AS\s+(.+?);?\s*$",
    re.I | re.S,
)
_DROP_TYPE = re.compile(
    r"^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?\"?(\w+)\"?\s*;?\s*$", re.I,
)
_CREATE_MACRO = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    r"(?:MACRO|FUNCTION)\s+\"?(\w+)\"?\s*\(([^()]*)\)\s+AS\s+(.+?);?\s*$",
    re.I | re.S,
)
_DROP_MACRO = re.compile(
    r"^\s*DROP\s+(MACRO|FUNCTION)\s+(?:TABLE\s+)?(IF\s+EXISTS\s+)?"
    r"\"?(\w+)\"?\s*;?\s*$",
    re.I,
)


def _comment_on(spark: SparkSession, m: "re.Match[str]") -> DataFrame:
    """COMMENT ON <kind> <name> IS '<text>'|NULL (reference
    src/parser/statement + catalog_entry comment field; surfaced via the
    duckdb_*() TVFs — test/sql/catalog/comment_on.test)."""
    kind = re.sub(r"\s+", " ", m.group(1).upper())
    name = m.group(2).strip().strip('"')
    val = m.group(3).strip().rstrip(";").strip()
    if re.fullmatch(r"NULL", val, re.I):
        comment: str | None = None
    elif re.fullmatch(r"'(?:[^']|'')*'", val, re.S):
        comment = val[1:-1].replace("''", "'")
    else:
        raise ValueError(
            "Parser Error: syntax error — COMMENT ON takes a string "
            "literal or NULL"
        )
    key = name.lower()
    low_managed = {k.lower() for k in _MANAGED}
    low_views = {k.lower() for k in _VIEWS}

    def _resolve(k: str, pool: set[str]) -> str | None:
        """Bare object name → flattened key via the session search path
        (reference binder schema search; USE db.schema sets the path)."""
        if k in pool:
            return k
        sp = [e for e in SETTINGS.get("search_path", "").split(",") if e]
        for s in sp:
            if f"{s}__{k}".lower() in pool:
                return f"{s}__{k}".lower()
        return None

    if kind == "TABLE":
        key = _resolve(key, low_managed)
        if key is None:
            raise ValueError(
                f"Catalog Error: Table with name {name} does not exist!"
            )
        ischema.COMMENTS[("table", key)] = comment
    elif kind == "VIEW":
        key = _resolve(key, low_views)
        if key is None:
            raise ValueError(
                f"Catalog Error: View with name {name} does not exist!"
            )
        ischema.COMMENTS[("view", key)] = comment
    elif kind == "COLUMN":
        parts = key.split(".")
        if len(parts) > 4:
            raise ValueError(
                f"Parser Error: Invalid column reference: '{name}', "
                "too many dots"
            )
        if len(parts) < 2:
            raise ValueError(
                f"Parser Error: Invalid column reference: '{name}'"
            )
        tbl, col = parts[-2], parts[-1]
        tbl = _resolve(tbl, low_managed | low_views) or tbl
        if tbl in low_managed:
            cols = {c.lower() for c in
                    next(v for k, v in _MANAGED.items()
                         if k.lower() == tbl).scan().columns}
        elif tbl in low_views:
            try:
                cols = {c.lower() for c in spark.table(tbl).columns}
            except Exception:
                cols = set()
        else:
            raise ValueError(
                f"Catalog Error: Table with name {tbl} does not exist!"
            )
        if col not in cols:
            raise ValueError(
                f"Binder Error: Column with name {col} does not exist!"
            )
        ischema.COMMENTS[("column", f"{tbl}.{col}")] = comment
    elif kind == "INDEX":
        ikey = _resolve(key, set(ischema.INDEXES))
        if ikey is None and "__" in key:
            # 'db2__test_index' (alias-default flat) → the index may
            # live in any of the alias's schemas: db2__s2__test_index
            db, _, bare_ix = key.partition("__")
            cands = [k for k in ischema.INDEXES
                     if k.startswith(db + "__")
                     and k.rsplit("__", 1)[-1] == bare_ix]
            ikey = cands[0] if len(cands) == 1 else None
        if ikey is None:
            raise ValueError(
                f"Catalog Error: Index with name {name} does not exist!"
            )
        ischema.COMMENTS[("index", ikey)] = comment
    elif kind == "SEQUENCE":
        if name not in _seq_store()._seqs and key not in _seq_store()._seqs:
            raise ValueError(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        ischema.COMMENTS[("sequence", key)] = comment
    elif kind == "TYPE":
        if key not in ischema.TYPE_ALIASES:
            raise ValueError(
                f"Catalog Error: Type with name {name} does not exist!"
            )
        ischema.COMMENTS[("type", key)] = comment
    elif kind in ("MACRO", "MACRO TABLE", "FUNCTION"):
        from myduckdb_spark.functions import macros as _macros

        if key not in {n.lower() for n in _macros.macro_names()}:
            # reference: commenting on a built-in is rejected
            raise ValueError(
                "Catalog Error: Can not comment on System Catalog entries"
                if kind == "FUNCTION" else
                f"Catalog Error: Macro with name {name} does not exist!"
            )
        ischema.COMMENTS[("macro", key)] = comment
    else:  # SCHEMA | DATABASE
        if kind == "SCHEMA" and key not in ischema.SCHEMAS \
                and key != "main":
            raise ValueError(
                f"Catalog Error: Schema with name {name} does not exist!"
            )
        if kind == "DATABASE" and key not in ("memory", "temp"):
            raise ValueError(
                f"Catalog Error: Database with name {name} does not exist!"
            )
        ischema.COMMENTS[(kind.lower(), key)] = comment
    return _count_df(spark, 0)


def _dml_statement(spark: SparkSession, text: str) -> DataFrame | None:
    import tempfile

    from myduckdb_spark import storage
    m = _CREATE_SCHEMA.match(text)
    if m:
        flat = _flat_schema_name(m.group(2), m.group(3))
        if flat in ischema.SCHEMAS and not m.group(1):
            raise ValueError(f"schema {flat} already exists")
        ischema.create_schema(flat)
        return _count_df(spark, 0)
    m = _DROP_SCHEMA.match(text)
    if m:
        name = _flat_schema_name(m.group(2), m.group(3))
        if name not in ischema.SCHEMAS:
            if m.group(1):
                return _count_df(spark, 0)
            raise KeyError(f"DROP SCHEMA: unknown schema {name}")
        members = [
            k for k, t in ischema.TABLE_META.items()
            if t["schema"] == name or k.startswith(name.lower() + "__")
        ]
        if members and (m.group(4) or "").upper() != "CASCADE":
            raise ValueError(
                f"DROP SCHEMA: schema {name} is not empty (use CASCADE)"
            )
        for k in ischema.drop_schema(name):
            _MANAGED.pop(k, None)
            _VIEWS.pop(k, None)
            try:
                spark.catalog.dropTempView(k)
            except Exception:
                pass
        return _count_df(spark, 0)
    m = _COMMENT_ON.match(text)
    if m:
        return _comment_on(spark, m)
    m = _CREATE_TYPE.match(text)
    if m:
        replace, tname, deftext = bool(m.group(1)), m.group(2), m.group(3)
        key = tname.lower()
        if key in ischema.TYPE_ALIASES and not replace:
            raise ValueError(
                f"Catalog Error: Type with name \"{tname}\" already exists!"
            )
        d = deftext.strip().rstrip(";").strip()
        em = re.match(r"ENUM\s*\(\s*(.*)\s*\)\s*$", d, re.I | re.S)
        if em:
            vals = [v.strip()[1:-1].replace("''", "'")
                    for v in _split_args(em.group(1)) if v.strip()]
            from myduckdb_spark.functions.registry import create_enum

            create_enum(tname, vals)
            ischema.TYPE_ALIASES[key] = "VARCHAR"
        elif re.fullmatch(r"[\w ]+(\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
                          r"(\s*\[\s*\])*", d):
            # simple alias (reference type_catalog_entry: CREATE TYPE x
            # AS int32) — translate() rewrites ::x to the base spelling.
            # Bit-width spellings normalize to DuckDB's name (INT32 →
            # INTEGER), which every later rule knows.
            ischema.TYPE_ALIASES[key] = (
                typenames.canonical(d) if re.fullmatch(r"INT\d+", d, re.I)
                else d
            )
        else:
            raise ValueError(
                f"CREATE TYPE: unsupported type definition {d!r}"
            )
        return _count_df(spark, 0)
    m = _DROP_TYPE.match(text)
    if m:
        key = m.group(2).lower()
        if key not in ischema.TYPE_ALIASES:
            if m.group(1):
                return _count_df(spark, 0)
            raise ValueError(
                f"Catalog Error: Type with name {m.group(2)} does not exist!"
            )
        ischema.TYPE_ALIASES.pop(key, None)
        ischema.COMMENTS.pop(("type", key), None)
        return _count_df(spark, 0)
    m = _CREATE_MACRO.match(text)
    if m:
        from myduckdb_spark.functions import macros as _macros

        replace, mname, params_text, body = (
            bool(m.group(1)), m.group(2), m.group(3) or "", m.group(4),
        )
        if not replace and mname.lower() in {
            n.lower() for n in _macros.macro_names()
        }:
            raise ValueError(
                f"Catalog Error: Macro with name \"{mname}\" already exists!"
            )
        params, defaults = [], {}
        for p in _split_args(params_text):
            p = p.strip()
            if not p:
                continue
            dm = re.match(r"(\w+)\s*:?=\s*(.+)$", p, re.S)
            if dm:
                params.append(dm.group(1))
                defaults[dm.group(1)] = dm.group(2).strip()
            else:
                params.append(p.strip('"'))
        body = body.strip().rstrip(";").strip()
        tm2 = re.match(r"TABLE\s+(.+)$", body, re.I | re.S)
        if tm2:
            _macros.create_table_macro(mname, params, tm2.group(1))
        else:
            _macros.create_macro(mname, params, body, **defaults)
        return _count_df(spark, 0)
    m = _DROP_MACRO.match(text)
    if m:
        from myduckdb_spark.functions import macros as _macros

        key = m.group(3)
        if key.lower() not in {n.lower() for n in _macros.macro_names()}:
            if m.group(2):
                return _count_df(spark, 0)
            raise ValueError(
                f"Catalog Error: Macro Function with name {key} does not exist!"
            )
        _macros.drop_macro(key)
        ischema.COMMENTS.pop(("macro", key.lower()), None)
        ischema.COMMENTS.pop(("function", key.lower()), None)
        return _count_df(spark, 0)
    text = _flatten_schema_refs(text)
    # temporary tables: same managed storage, catalog 'temp' in the
    # registry. `CREATE TABLE temp.x` without TEMPORARY is an error;
    # ON COMMIT PRESERVE ROWS is the only supported commit action.
    is_temp = False
    tm = re.match(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+(.*)$",
        text, re.I | re.S,
    )
    if tm:
        is_temp = True
        text = f"CREATE {tm.group(1) or ''}TABLE {tm.group(2)}"
        text = re.sub(r"\s+ON\s+COMMIT\s+PRESERVE\s+ROWS", "", text,
                      flags=re.I)
        text = re.sub(
            r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?)temp\s*\.\s*",
            r"\1", text, flags=re.I,
        )
    elif re.match(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
                  r"(?:IF\s+NOT\s+EXISTS\s+)?temp\s*\.", text, re.I):
        raise ValueError(
            'Invalid Input Error: Only TEMPORARY table names can use the '
            '"temp" catalog'
        )
    m = _CTAS.match(text)
    if m:
        replace, name, select = bool(m.group(1)), m.group(2), m.group(3)
        if name in _MANAGED and not replace:
            raise ValueError(f"table {name} already exists")
        root = tempfile.mkdtemp(prefix=f"mdbs_tbl_{name}_")
        select = _bind_file_scans(spark, select)
        _MANAGED[name] = storage.ManagedTable.create(spark, root, spark.sql(translate(select)))
        _refresh_view(spark, name)
        cat, sch, bare = _cat_schema_of(name)
        ischema.drop_object(name)
        ischema.register_table(
            name, "temp" if is_temp else cat, sch, bare,
            "LOCAL TEMPORARY" if is_temp else "BASE TABLE",
        )
        # carrier-erased duck types survive CTAS through field metadata
        # (e.g. the CSV sniffer's TIME demotion, io.py _fix_time_columns)
        # — declare them so typeof() binds the declared name
        fields = _MANAGED[name].scan().schema.fields
        if any(f.metadata.get("duck_type") in _REGISTRY_BOUND for f in fields):
            ischema.declare(name, [(c["name"], c["dtype"]) for c in _scan_columns(fields)])
        return _count_df(spark, _MANAGED[name].count())
    m = _CREATE_TBL.match(text)
    if m and not _CTAS.match(text):
        replace, name, body = bool(m.group(1)), m.group(2), m.group(3)
        declared: dict[str, str] = {}
        cols, key, uniques, collations, defaults, extras = \
            _parse_column_defs(body, declared_out=declared)
        if name in _MANAGED:
            if "IF NOT EXISTS" in text.upper():
                return _count_df(spark, 0)
            if not replace:
                raise ValueError(f"table {name} already exists")
        # DEFAULT expressions must be scalar: no aggregates, no window
        # functions, no references to other columns (bound_default.cpp)
        _colnames = {n.lower() for n, _t in cols}
        for _dc, _dx in (defaults or {}).items():
            if re.search(r"\bOVER\s*\(", _dx, re.I):
                raise ValueError(
                    "Binder Error: window functions are not allowed in "
                    "DEFAULT expressions"
                )
            _span = _code_mask(_dx)
            for im in re.finditer(r"[A-Za-z_]\w*", _dx):
                if _span[im.start()]:
                    continue
                word = im.group(0).lower()
                called = re.match(r"\s*\(", _dx[im.end():]) is not None
                if called and word in (
                    "sum", "count", "avg", "min", "max", "first", "last",
                    "stddev", "variance", "var_pop", "var_samp", "median",
                    "string_agg", "list", "bool_and", "bool_or",
                ):
                    raise ValueError(
                        "Binder Error: aggregate functions are not "
                        "allowed in DEFAULT expressions"
                    )
                if not called and word in _colnames:
                    raise ValueError(
                        "Binder Error: DEFAULT expressions cannot "
                        "reference other columns"
                    )
        empty = spark.sql(
            "SELECT " + ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        ).limit(0)
        root = tempfile.mkdtemp(prefix=f"mdbs_tbl_{name}_")
        _MANAGED[name] = storage.ManagedTable.create(spark, root, empty)
        if key:
            _MANAGED[name].set_key(key)
        for u in uniques:
            _MANAGED[name].add_unique(u)
        if defaults:
            _MANAGED[name].set_defaults(defaults)
        if collations:
            _COLUMN_COLLATIONS[name.lower()] = collations
        else:
            _COLUMN_COLLATIONS.pop(name.lower(), None)
        _refresh_view(spark, name)
        # catalog-metadata registry: declared types + constraints feed
        # information_schema (myduckdb_spark.infoschema)
        cat, sch, bare = _cat_schema_of(name)
        ischema.drop_object(name)
        ischema.register_table(
            name, "temp" if is_temp else cat, sch, bare,
            "LOCAL TEMPORARY" if is_temp else "BASE TABLE",
        )
        ischema.declare(name, [(n, declared[n.lower()]) for n, _t in cols])
        if key:
            ischema.add_constraint(name, "PRIMARY KEY", key)
        # live oracle adds an implicit NOT NULL row per PRIMARY KEY column
        nn_seen = set()
        for c in (key or []):
            nn_seen.add(c.lower())
            ischema.add_constraint(name, "NOT NULL", [c])
        for x in extras:
            if x["ctype"] == "NOT NULL":
                if x["columns"][0].lower() in nn_seen:
                    continue
                nn_seen.add(x["columns"][0].lower())
            if x["ctype"] == "CHECK" and not x["columns"]:
                # table-level CHECK: referenced columns = identifiers in
                # the expression that name declared columns
                names = {n.lower(): n for n, _t in cols}
                x["columns"] = [
                    names[w.lower()] for w in dict.fromkeys(
                        re.findall(r'"?(\w+)"?', x.get("expression", ""))
                    ) if w.lower() in names
                ]
            ischema.add_constraint(name, x["ctype"], x["columns"], x["text"])
        for u in uniques:
            ischema.add_constraint(name, "UNIQUE", u)
        return _count_df(spark, 0)
    m = _CREATE_INDEX.match(text)
    if m:
        unique, _iname, name, icols = m.groups()
        if name not in _MANAGED:
            raise KeyError(f"CREATE INDEX: unknown table {name}")
        # indexes on attached-catalog tables key by their flat schema
        # prefix so the same index name can exist per catalog/schema
        # (catalog/comment_on_extended.test); memory-catalog indexes
        # keep bare names (status quo for DROP INDEX by name)
        _icat, _isch, _ibare = _cat_schema_of(name)
        _ikey = _iname.strip('"').lower()
        if _icat not in ("memory", "temp"):
            _ikey = f"{name[: len(name) - len(_ibare) - 2]}__{_ikey}".lower()
        ischema.INDEXES[_ikey] = {
            "table": name, "unique": bool(unique),
            "columns": [c.strip().strip('"')
                        for c in _split_args(icols)],
        }
        if unique:
            # a unique index is an ON CONFLICT arbiter + INSERT constraint
            # (reference: ART index, physical_insert.cpp); non-unique
            # indexes have no semantic effect in this engine (scan pruning
            # is parquet zone maps) and are accepted as no-ops
            cols = [
                re.sub(r'^"(.*)"$', r"\1", c.strip())
                for c in icols.split(",")
            ]
            if any(not re.fullmatch(r"\w+", c) for c in cols):
                raise ValueError("CREATE UNIQUE INDEX: expression indexes unsupported")
            _MANAGED[name].add_unique(cols)
        return _count_df(spark, 0)
    dm_ix = _DROP_INDEX.match(text)
    if dm_ix:
        _dk = dm_ix.group(1).lower()
        if ischema.INDEXES.pop(_dk, None) is None:
            # qualified (attached-catalog) index keys: drop by suffix
            # when the bare name is unambiguous
            _cands = [k for k in ischema.INDEXES
                      if k.rsplit("__", 1)[-1] == _dk]
            if len(_cands) == 1:
                ischema.INDEXES.pop(_cands[0])
        return _count_df(spark, 0)  # unique sets are kept — conservative
    m = _INSERT.match(text)
    if m and m.group(2) in _MANAGED:
        or_action, name, ins_alias, collist, source = (
            (m.group(1) or "").upper(), m.group(2), m.group(3), m.group(4), m.group(5),
        )
        if collist is not None and not re.match(
            r'^\s*"?\w+"?(\s*,\s*"?\w+"?)*\s*$', collist
        ):
            # `INSERT INTO t (SELECT ...)` — parenthesized source, not a
            # column list (the reference's binder makes the same call)
            source, collist = f"({collist}) {source}", None
        source, conflict = _split_off_on_conflict(source)
        source = re.sub(r",\s*$", "", source)  # fork files: VALUES (..),
        if or_action and conflict is not None:
            raise ValueError(
                "Parser Error: You can not provide both OR REPLACE|IGNORE "
                "and an ON CONFLICT clause"
            )
        if ins_alias and ins_alias.lower() == "excluded":
            raise ValueError(
                'Binder Error: INSERT alias cannot be "excluded" '
                "(reserved for the ON CONFLICT incoming row)"
            )
        tbl = _MANAGED[name]
        if re.match(r"\s*VALUES\b", source, re.I) and re.search(
            r"\bDEFAULT\b", source, re.I
        ):
            # positional DEFAULT keyword inside VALUES tuples resolves to
            # the target column's default (or typed NULL)
            _tdtypes = dict(tbl.scan().dtypes)
            _order = ([c.strip().strip('"') for c in collist.split(",")]
                      if collist else list(_tdtypes))
            _dfl = tbl.defaults
            vm = re.match(r"\s*VALUES\s*(.*?);?\s*$", source, re.I | re.S)
            newt = []
            for tup in _split_args(vm.group(1)):
                t = tup.strip()
                if not (t.startswith("(") and t.endswith(")")):
                    newt.append(t)
                    continue
                items = _split_args(t[1:-1])
                for i, it in enumerate(items):
                    if re.fullmatch(r"\s*DEFAULT\s*", it, re.I):
                        cname = _order[i] if i < len(_order) else None
                        if cname and cname.lower() in _dfl:
                            items[i] = f"({_dfl[cname.lower()]})"
                        else:
                            items[i] = (
                                f"CAST(NULL AS {_tdtypes.get(cname, 'STRING')})"
                                if cname else "NULL"
                            )
                newt.append("(" + ", ".join(x.strip() for x in items) + ")")
            source = "VALUES " + ", ".join(newt)
        src_df = spark.sql(translate(_bind_file_scans(spark, source)))
        if collist is not None:
            names = [c.strip().strip('"') for c in collist.split(",")]
            if len(names) != len(src_df.columns):
                raise ValueError("INSERT column list arity mismatch")
            table_cols = tbl.scan().columns
            unknown = [c for c in names if c not in table_cols]
            if unknown:
                raise ValueError(f"INSERT into unknown column(s): {unknown}")
            by_name = dict(zip(names, src_df.columns))
            from pyspark.sql import functions as _F

            dflt = tbl.defaults
            seq_cols: dict[str, str] = {}

            def _fill(c):
                if c in by_name:
                    return _F.col(by_name[c]).alias(c)
                if c.lower() in dflt:
                    sm = re.fullmatch(
                        r"\s*\(?\s*nextval\s*\(\s*'(\w+)'\s*\)\s*\)?\s*",
                        dflt[c.lower()], re.I,
                    )
                    if sm:
                        # sequence defaults: one counter reservation per
                        # batch, values assigned below
                        seq_cols[c] = sm.group(1)
                        return _F.lit(None).cast("bigint").alias(c)
                    return _F.expr(translate(dflt[c.lower()])).alias(c)
                return _F.lit(None).alias(c)

            src_df = src_df.select(*[_fill(c) for c in table_cols])
            for c, sname in seq_cols.items():
                seq = _seq_store().get(sname)
                n_rows = src_df.count()
                if n_rows:
                    base = seq.reserve(n_rows)
                    inc = _seq_store()._seqs[sname]["increment"]
                    from pyspark.sql import Window as _W

                    w = _W.orderBy(_F.monotonically_increasing_id())
                    src_df = src_df.withColumn(
                        c,
                        (_F.row_number().over(w) - 1) * _F.lit(inc)
                        + _F.lit(base),
                    )
        # UUID columns normalize their text forms on ingest the way the
        # reference's UUID cast does (uuid.cpp FromString: braces
        # stripped, case folded, dashes canonical) — the carrier is
        # STRING, so without this the raw literal spelling would leak
        # into scans/sorts (copy/parquet/writer/parquet_write_uuid.test)
        _tcols = tbl.scan().columns
        if len(src_df.columns) == len(_tcols):
            _dt = ischema.declared_types(name)
            _uuid_idx = [i for i, c in enumerate(_tcols)
                         if _dt.get(c.lower()) == "UUID"]
            if _uuid_idx:
                _sel = list(src_df.columns)
                for i in _uuid_idx:
                    sc = _sel[i]
                    t = (f"lower(regexp_replace(CAST(`{sc}` AS STRING), "
                         f"'[{{}}]', ''))")
                    _sel[i] = F.expr(
                        f"CASE WHEN {t} RLIKE '^[0-9a-f]{{32}}$' THEN "
                        f"concat(substr({t},1,8),'-',substr({t},9,4),'-',"
                        f"substr({t},13,4),'-',substr({t},17,4),'-',"
                        f"substr({t},21,12)) ELSE {t} END"
                    ).alias(sc)
                src_df = src_df.select(*[
                    x if not isinstance(x, str) else F.col(f"`{x}`")
                    for x in _sel
                ])
            # BLOB columns: a STRING source binds through the reference's
            # VARCHAR→BLOB cast, which decodes \xNN escapes
            # (blob.cpp TryCastToBlob). Spark's STRING→BINARY cast keeps
            # the raw characters, so `INSERT INTO blobs VALUES ('\x00')`
            # would store 4 bytes instead of one NUL
            # (index/art/scan/test_art_null_bytes.test).
            _blob_idx = [
                i for i, c in enumerate(_tcols)
                if _dt.get(c.lower()) == "BLOB"
                and dict(src_df.dtypes)[src_df.columns[i]] == "string"
            ]
            if _blob_idx:
                from myduckdb_spark.functions.udf import register_blob_parse

                register_blob_parse(spark)
                src_df = src_df.select(*[
                    F.expr(f"__blob_parse(`{c}`)").alias(c)
                    if i in _blob_idx else F.col(f"`{c}`")
                    for i, c in enumerate(src_df.columns)
                ])
        if or_action or conflict is not None:
            all_keys = tbl.keys()
            key = all_keys[0] if all_keys else None
            if or_action == "REPLACE":
                if not key:
                    raise ValueError("INSERT OR REPLACE requires a table key")
                if len(all_keys) > 1:
                    raise ValueError(
                        "INSERT OR REPLACE with multiple UNIQUE/PRIMARY KEY "
                        "constraints is unsupported"
                    )
                table_cols = tbl.scan().columns
                assignments = {
                    c: f"__exc_{c}" for c in table_cols if c not in key
                }
                n = tbl.upsert(src_df, key, "update", assignments)
            elif or_action == "IGNORE":
                if not key:
                    raise ValueError("INSERT OR IGNORE requires a table key")
                n = tbl.upsert(src_df, key, "nothing")
            else:
                cm = _ON_CONFLICT_CLAUSE.match(conflict)
                if not cm:
                    raise ValueError(f"cannot parse ON CONFLICT clause: {conflict!r}")
                target, arb_where, act, settext, wheretext = cm.groups()
                key_cols = (
                    # dedup repeated target columns (DuckDB accepts
                    # `ON CONFLICT (key, key)`, binding the set)
                    list(dict.fromkeys(c.strip().strip('"') for c in target.split(",")))
                    if target
                    else key
                )
                if not key_cols:
                    raise ValueError("ON CONFLICT requires a conflict target or table key")
                # the conflict target must name a UNIQUE/PRIMARY KEY set
                # (Binder Error in the reference, bind_insert.cpp)
                if all_keys and not any(set(key_cols) == set(k) for k in all_keys):
                    raise ValueError(
                        "Binder Error: The specified columns as conflict target "
                        "are not referenced by a UNIQUE/PRIMARY KEY CONSTRAINT"
                    )
                arb = (
                    translate(_qualify_excluded(arb_where, name, src_df.columns, ins_alias))
                    if arb_where
                    else None
                )
                if act.upper() == "NOTHING":
                    n = tbl.upsert(src_df, key_cols, "nothing", arbiter_where=arb)
                else:
                    assignments = {
                        c: translate(_qualify_excluded(e, name, src_df.columns, ins_alias))
                        for c, e in _split_assignments(settext or "").items()
                    }
                    # assigning a conflict-target / key column is a Binder
                    # Error in the reference (it would re-violate the index)
                    banned = set(key_cols) & set(assignments)
                    if banned:
                        raise ValueError(
                            f"Binder Error: Can not assign to column '{sorted(banned)[0]}' "
                            f"because it has a UNIQUE/PRIMARY KEY constraint"
                        )
                    where = (
                        translate(_qualify_excluded(wheretext, name, src_df.columns, ins_alias))
                        if wheretext
                        else None
                    )
                    n = tbl.upsert(
                        src_df, key_cols, "update", assignments, where,
                        arbiter_where=arb,
                    )
        else:
            keysets = tbl.keys()
            for key in keysets:
                # plain INSERT into a keyed table enforces the constraint
                # (reference: ART index check in physical_insert.cpp)
                from pyspark.sql import functions as _F

                table_cols = tbl.scan().columns
                probe = src_df.select(
                    *[
                        _F.col(src_df.columns[table_cols.index(k)]).alias(k)
                        for k in key
                    ]
                )
                clash = probe.join(tbl.scan().select(*key), key, "left_semi").limit(1).collect()
                dup = probe.groupBy(*key).count().filter("count > 1").limit(1).collect()
                if clash or dup:
                    row = (clash or dup)[0]
                    keyval = ", ".join(f"{k}: {row[k]}" for k in key)
                    raise ValueError(
                        f'Constraint Error: Duplicate key "{keyval}" violates primary key constraint.'
                    )
            # NOT NULL enforcement (physical_insert.cpp): a NOT NULL /
            # PRIMARY KEY column rejects NULL rows; source columns bind to
            # the table's by position, as tbl.insert binds them
            nn = ischema.not_null(name) | {c.lower() for c in tbl.key() or []}
            nn_cols = [c for c in _tcols if c.lower() in nn]
            if nn_cols and len(src_df.columns) == len(_tcols):
                bad = src_df.toDF(*_tcols).filter(
                    " OR ".join(f"`{c}` IS NULL" for c in nn_cols)
                ).limit(1).collect()
                if bad:
                    col = next(c for c in nn_cols if bad[0][c] is None)
                    raise ValueError(
                        f"Constraint Error: NOT NULL constraint failed: "
                        f"{name}.{col}"
                    )
            n = tbl.insert(src_df)
        _refresh_view(spark, name)
        return _count_df(spark, n)
    m = _SET_SETTING.match(text)
    if m:
        SETTINGS[m.group(1).lower()] = m.group(2).lower()
        return _count_df(spark, 0)
    m = _CREATE_VIEW.match(text)
    if m:
        replace, name, collist, sel = m.groups()
        if name in _VIEWS and not replace:
            raise ValueError(f"CREATE VIEW: view {name} already exists")
        cols = (
            [c.strip().strip('"') for c in collist.split(",")] if collist else None
        )
        df = sql(spark, sel)
        if cols:
            # the alias list may name a PREFIX of the columns; the rest
            # keep their own names (reference bind_create_view —
            # CREATE VIEW v1 (a, b) AS SELECT i, j, k → a, b, k)
            if len(cols) < len(df.columns):
                cols = cols + df.columns[len(cols):]
            df = df.toDF(*cols)
        df.createOrReplaceTempView(name)
        _VIEWS[name] = (sel, cols)
        cat, sch, bare = _cat_schema_of(name)
        _is_temp_view = bool(re.match(
            r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+VIEW",
            text, re.I,
        ))
        ischema.register_table(
            name, "temp" if _is_temp_view else cat, sch, bare,
            "VIEW",
        )
        # snapshot the view's column layout: the reference freezes it at
        # CREATE (a later base-table rename is NOT reflected in
        # duckdb_columns — table_function/duckdb_columns.test)
        ischema.register_columns(name, _scan_columns(df.schema.fields))
        ischema.VIEW_SQL[name.lower()] = text.strip().rstrip(";")
        return _count_df(spark, 0)
    m = _DROP_VIEW.match(text)
    if m:
        name = m.group(2)
        if name in _VIEWS:
            _VIEWS.pop(name)
            ischema.drop_object(name)
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
        elif not m.group(1):
            raise KeyError(f"DROP VIEW: view {name} does not exist")
        return _count_df(spark, 0)
    m = _ALTER.match(text)
    if m:
        return _alter_table(spark, m.group(1), m.group(2), m.group(3))
    m = _COPY.match(text)
    if m:
        opts_text = m.group(4)
        if opts_text is None and m.group(5):
            # PG-style bare options: DELIMITER '|' CSV HEADER NULL 'x' —
            # normalize into the parenthesized key-value form (a quoted
            # or numeric token is the preceding keyword's value)
            toks = re.findall(r"'(?:[^']|'')*'|\S+", m.group(5))
            parts, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and (
                    toks[i + 1].startswith("'")
                    or toks[i + 1].replace(".", "").isdigit()
                ):
                    parts.append(f"{toks[i]} {toks[i + 1]}")
                    i += 2
                else:
                    parts.append(toks[i])
                    i += 1
            opts_text = ", ".join(parts)
        return _copy_statement(spark, m.group(1), m.group(2), m.group(3), opts_text)
    m = _DROP_TBL.match(text)
    if m:
        name = m.group(2)
        if name in _MANAGED:
            _MANAGED.pop(name)
            _COLUMN_COLLATIONS.pop(name.lower(), None)
            # a re-created same-named table must not inherit comments
            ischema.drop_object(name)
            spark.catalog.dropTempView(name)
        elif not m.group(1):
            raise KeyError(f"DROP TABLE: unknown table {name}")
        return _count_df(spark, 0)
    m = _TRUNCATE.match(text)
    if m:
        name = m.group(1)
        if name not in _MANAGED:
            raise KeyError(f"TRUNCATE: unknown table {name}")
        n = _MANAGED[name].truncate()
        _refresh_view(spark, name)
        return _count_df(spark, n)
    if _BEGIN.match(text):
        _txn_begin()
        return _count_df(spark, 0)
    if _COMMIT.match(text):
        _txn_end(commit=True)
        return _count_df(spark, 0)
    if _ROLLBACK.match(text):
        _txn_rollback(spark)
        return _count_df(spark, 0)
    m = _DELETE.match(text)
    if m:
        name, alias, using, pred = m.group(1), m.group(2), m.group(3), m.group(4)
        if name not in _MANAGED:
            raise ValueError(f"DELETE: {name} is not a managed table (CREATE TABLE ... AS first)")
        if using:
            # DELETE ... USING (reference physical_delete.cpp semi-join
            # plan): delete rows for which ANY joined combination of the
            # USING sources satisfies WHERE -> a correlated EXISTS over
            # the aliased scan; Catalyst plans it as a (broadcastable)
            # left-semi join against the touched files only
            body = translate(
                f"SELECT 1 FROM {using} WHERE {pred}" if pred else f"SELECT 1 FROM {using}"
            )
            n = _MANAGED[name].delete(f"EXISTS ({body})", alias=alias or name)
        else:
            n = _MANAGED[name].delete(
                translate(pred) if pred else "true", alias=alias or name
            )
        _refresh_view(spark, name)
        return _count_df(spark, n)
    m = _UPDATE.match(text)
    if m:
        name, upd_alias, settext, fromtext, pred = m.groups()
        if name not in _MANAGED:
            raise ValueError(f"UPDATE: {name} is not a managed table (CREATE TABLE ... AS first)")
        assignments = _expand_tuple_assignment(settext)
        # SET col = DEFAULT resolves the column's default (or NULL)
        _udfl = _MANAGED[name].defaults
        assignments = {
            c: (_udfl.get(c.lower(), "NULL")
                if re.fullmatch(r"\s*DEFAULT\s*", e, re.I) else e)
            for c, e in assignments.items()
        }
        assignments = {c: translate(e) for c, e in assignments.items()}
        if fromtext:
            n = _MANAGED[name].update_from(
                assignments,
                translate(fromtext),
                translate(pred) if pred else None,
                upd_alias or name,
            )
        else:
            n = _MANAGED[name].update(
                assignments, translate(pred) if pred else "true"
            )
        _refresh_view(spark, name)
        return _count_df(spark, n)
    m = _CREATE_SEQ.match(text)
    if m:
        replace, name, opts = bool(m.group(1)), m.group(3), m.group(4) or ""
        kw: dict = {"replace": replace, "temp": bool(m.group(2))}
        # each sequence clause may appear at most once, counting the NO
        # form (NO MAXVALUE MAXVALUE 2 / START 13 START WITH 3 both error)
        for clause in ("MINVALUE", "MAXVALUE", "CYCLE", "START",
                       "INCREMENT"):
            if len(re.findall(rf"\b{clause}\b", opts, re.I)) > 1:
                raise ValueError(
                    f"Parser Error: {clause} should be passed at most once"
                )
        om = re.search(r"\bSTART\s+(?:WITH\s+)?(-?\d+)", opts, re.I)
        if om:
            kw["start"] = int(om.group(1))
        om = re.search(r"\bINCREMENT\s+(?:BY\s+)?(-?\d+)", opts, re.I)
        if om:
            kw["increment"] = int(om.group(1))
        om = re.search(r"\bMINVALUE\s+(-?\d+)", opts, re.I)
        if om:
            kw["minvalue"] = int(om.group(1))
        om = re.search(r"\bMAXVALUE\s+(-?\d+)", opts, re.I)
        if om:
            kw["maxvalue"] = int(om.group(1))
        if re.search(r"(?<!NO\s)\bCYCLE\b", opts, re.I):
            kw["cycle"] = True
        if "IF NOT EXISTS" in text.upper() and name in _seq_store()._seqs:
            return _count_df(spark, 0)
        _seq_store().create(name, **kw)
        return _count_df(spark, 0)
    m = _DROP_SEQ.match(text)
    if m:
        if m.group(1) in _seq_store()._seqs:
            # dependency check (duckdb dependency manager): a table whose
            # column DEFAULT calls nextval on this sequence blocks the drop
            if "CASCADE" not in text.upper():
                for tname, t in _MANAGED.items():
                    for dexpr in t.defaults.values():
                        if re.search(
                            rf"nextval\s*\(\s*'(?:\w+\.)?{re.escape(m.group(1))}'",
                            str(dexpr), re.I,
                        ):
                            raise ValueError(
                                f"Dependency Error: Cannot drop entry "
                                f'"{m.group(1)}" because there are entries '
                                f"that depend on it. table \"{tname}\" "
                                f"depends on \"{m.group(1)}\"."
                            )
            _seq_store().drop(m.group(1))
        elif "IF EXISTS" not in text.upper():
            raise KeyError(f"unknown sequence: {m.group(1)}")
        return _count_df(spark, 0)
    m = _SEQ_VAL.match(text)
    if m:
        cols, vals = [], []
        for cm in re.finditer(r"(next|curr)val\s*\(\s*'(\w+)'\s*\)\s*(?:AS\s+(\w+))?", m.group(1), re.I):
            kind, sname, alias = cm.group(1).lower(), cm.group(2), cm.group(3)
            seq = _seq_store().get(sname)
            vals.append(seq.nextval() if kind == "next" else seq.currval())
            cols.append(alias or f"{kind}val('{sname}')")
        return _rows_df(spark, [tuple(vals)], ", ".join(f"`{c}` bigint" for c in cols))
    m = _EXPORT_DB.match(text)
    if m:
        if not _MANAGED:
            raise ValueError("EXPORT DATABASE: no managed tables to export")
        storage.export_database(
            spark, m.group(1), {n: t.scan() for n, t in _MANAGED.items()}
        )
        return _count_df(spark, len(_MANAGED))
    m = _IMPORT_DB.match(text)
    if m:
        return _count_df(spark, len(storage.import_database(spark, m.group(1))))
    m = _ATTACH.match(text)
    if m:
        path, alias, opts = m.group(1), m.group(2), m.group(3) or ""
        if not alias:
            # default alias: the file stem (attached_database.cpp)
            alias = re.sub(r"\.[^.]*$", "", os.path.basename(path)) or path
        n = len(storage.attach(spark, path, alias))
        if re.search(r"\bREAD_?ONLY\b", opts, re.I):
            storage.attached_readonly()[alias] = True
        return _count_df(spark, n)
    m = _DETACH.match(text)
    if m:
        storage.detach(spark, m.group(1))
        return _count_df(spark, 0)
    return None


_SET_STMT = re.compile(r"^\s*SET\s+(\w[\w.]*)\s*(?:=|TO)\s*(.+?)\s*;?\s*$", re.I)
# USE db | USE schema | USE db.schema (reference: SET schema / catalog
# sugar, src/parser/statement/set_statement.cpp USE path)
_USE_STMT = re.compile(
    r"^\s*USE\s+(?:\"?(\w+)\"?\s*\.\s*)?\"?(\w+)\"?\s*;?\s*$", re.I,
)
_PRAGMA_TI = re.compile(r"^\s*PRAGMA\s+table_info\s*\(\s*'([\w.]+)'\s*\)\s*;?\s*$", re.I)
_EXPLAIN = re.compile(r"^\s*EXPLAIN\s+(.*)$", re.I | re.S)


_DESCRIBE_SEL = re.compile(
    r"^\s*(?:DESCRIBE|SHOW)\s+((?:SELECT|WITH|VALUES|FROM)\b.+|\(.+\))"
    r"\s*;?\s*$",
    re.I | re.S,
)
_DESCRIBE_TBL = re.compile(
    r'^\s*(?:DESCRIBE|SHOW)\s+(?:TABLE\s+)?("?)([\w ]+)\1\s*;?\s*$', re.I
)
_DESCRIBE_ALL = re.compile(r"^\s*DESCRIBE\s*;?\s*$", re.I)
_SHOW_TABLES = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.I)
_SHOW_ALL_TABLES = re.compile(r"^\s*SHOW\s+ALL\s+TABLES\s*;?\s*$", re.I)

_DESCRIBE_SCHEMA = (
    "column_name string, column_type string, null string, key string, "
    "default string, extra string"
)


def _catalog_objects() -> list[tuple[str, dict]]:
    """Every catalog object as (engine name, registry row {catalog,
    schema, name, type}) in (catalog, schema, name) order: the registry's
    objects plus any managed table or front-door view it does not hold.
    The one list behind SHOW [ALL] TABLES, information_schema.tables/
    columns and duckdb_tables()/columns(); Spark-side temp views that back
    them are implementation detail, not catalog entries."""
    engine = {n.lower(): n for n in (*_MANAGED, *_VIEWS)}
    objs = {k: (engine.get(k, k), m) for k, m in ischema.TABLE_META.items()}
    for k, n in engine.items():
        objs.setdefault(k, (n, {
            "catalog": "memory", "schema": "main", "name": n,
            "type": "BASE TABLE" if n in _MANAGED else "VIEW",
        }))
    return sorted(objs.values(),
                  key=lambda o: (o[1]["catalog"], o[1]["schema"], o[1]["name"]))


def _columns(spark: SparkSession, name: str) -> list[dict]:
    """Column records of object ``name`` (infoschema.column_records): a
    managed table's from its scan and manifest, a view's CREATE-time
    snapshot and mirrored DuckDB state from the registry, any other Spark
    table's from its schema."""
    tbl = _MANAGED.get(name) or _MANAGED.get(name.lower())
    if tbl is not None:
        return ischema.column_records(name, tbl.scan().schema.fields, tbl)
    if name in _VIEWS or name.lower() in ischema.TABLE_META:
        return ischema.column_records(name)
    return ischema.column_records(name, spark.table(name).schema.fields)


def _describe_statement(spark: SparkSession, text: str) -> DataFrame | None:
    """DESCRIBE / SHOW introspection (reference DescribeRelation /
    duckdb_tables(): shell metadata surfaced as plain result sets —
    column layout verified against live DuckDB):

    * ``DESCRIBE tbl`` / ``SHOW tbl``     → column_name, column_type,
      null (YES/NO), key (PRI/UNI), default, extra
    * ``DESCRIBE SELECT …`` / ``SHOW SELECT …`` → same shape, YES nulls
    * ``DESCRIBE`` / ``SHOW ALL TABLES``  → database, schema, name,
      column_names, column_types, temporary
    * ``SHOW TABLES``                     → name (main schema)
    """
    from pyspark.sql import types as T

    if _SHOW_TABLES.match(text):
        return _rows_df(
            spark,
            sorted((m["name"],) for _n, m in _catalog_objects()
                   if m["schema"] == "main" and m["catalog"] in ("memory", "temp")),
            "name string",
        )
    if re.match(r"^\s*SHOW\s+DATABASES\s*;?\s*$", text, re.I):
        return _rows_df(
            spark,
            sorted((r[0],) for r in ischema.database_rows() if not r[1]),
            "database_name string",
        )
    if _DESCRIBE_ALL.match(text) or _SHOW_ALL_TABLES.match(text):
        rows = []
        for n, m in _catalog_objects():
            cols = _columns(spark, n)
            rows.append((
                m["catalog"], m["schema"], m["name"],
                [c["name"] for c in cols], [c["dtype"] for c in cols],
                m["catalog"] == "temp",
            ))
        return _rows_df(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField("database", T.StringType()),
                    T.StructField("schema", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField(
                        "column_names", T.ArrayType(T.StringType())
                    ),
                    T.StructField(
                        "column_types", T.ArrayType(T.StringType())
                    ),
                    T.StructField("temporary", T.BooleanType()),
                ]
            ),
        )
    m = _DESCRIBE_SEL.match(text)
    if m:
        df = sql(spark, m.group(1))
        rows = [
            (f.name, typenames.duck_name(f.dataType.simpleString()), "YES",
             None, None, None)
            for f in df.schema.fields
        ]
        return _rows_df(spark, rows, _DESCRIBE_SCHEMA)
    m = _DESCRIBE_TBL.match(text)
    if m and not re.match(
        r"\s*SHOW\s+(TABLES|DATABASES|SCHEMAS|FUNCTIONS|VARIABLES|ALL)\b",
        text, re.I,
    ):
        name = m.group(2).strip()
        if name not in _MANAGED and name.lower() not in _MANAGED \
                and not spark.catalog.tableExists(name):
            raise ValueError(f"Table with name {name} does not exist!")
        rows = [
            (c["name"], c["dtype"], "YES" if c["nullable"] else "NO",
             c["key"], c["default"], None)
            for c in _columns(spark, name)
        ]
        return _rows_df(spark, rows, _DESCRIBE_SCHEMA)
    return None


_IS_VIEWS = (
    "tables|columns|schemata|character_sets|views|table_constraints|"
    "referential_constraints|key_column_usage|constraint_column_usage|"
    "constraint_table_usage|check_constraints"
)


def _bind_information_schema(spark: SparkSession, text: str) -> str:
    """information_schema views (reference
    src/catalog/default/default_views.cpp): materialized on demand as
    temp views and substituted into the query. Rows come from the
    catalog-metadata registry (myduckdb_spark.infoschema — engine DDL and
    harness state-mirroring populate it: declared types, schemas, temp
    catalog, constraint structure); tables and columns list the catalog
    objects (_catalog_objects) and their column records (_columns)."""
    used = {
        m.group(1).lower()
        for m in re.finditer(
            rf"\binformation_schema\s*\.\s*({_IS_VIEWS})\b", text, re.I,
        )
    }
    has_dc = re.search(r"\bduckdb_constraints\b", text, re.I) is not None
    has_db = re.search(r"\bduckdb_databases\b", text, re.I) is not None
    if not used and not has_dc and not has_db:
        return text
    if has_dc:
        _rows_df(
            spark,
            ischema.duckdb_constraints_rows(),
            ischema.DUCKDB_CONSTRAINTS_DDL,
        ).createOrReplaceTempView("__duckdb_constraints")
        text = re.sub(
            r"\bduckdb_constraints\s*\(\s*\)|\bduckdb_constraints\b",
            "__duckdb_constraints", text, flags=re.I,
        )
    if has_db:
        _rows_df(
            spark,
            ischema.database_rows(), ischema.DUCKDB_DATABASES_DDL,
        ).createOrReplaceTempView("__duckdb_databases_all")
        # the bare name is the system VIEW (default_views.cpp):
        # SELECT * FROM duckdb_databases() WHERE NOT internal
        spark.sql(
            "SELECT * FROM __duckdb_databases_all WHERE NOT internal"
        ).createOrReplaceTempView("__duckdb_databases")
        text = re.sub(
            r"\bduckdb_databases\s*\(\s*\)", "__duckdb_databases_all",
            text, flags=re.I,
        )
        text = re.sub(
            r"\bduckdb_databases\b(?!_)", "__duckdb_databases",
            text, flags=re.I,
        )
    objs = _catalog_objects()
    if "tables" in used:
        _rows_df(
            spark,
            [(m["catalog"], m["schema"], m["name"], m["type"],
              None, None, None, None, None,
              "NO" if m["type"] == "VIEW" else "YES", "NO", None)
             # DuckDB lists views after every table here
             for _n, m in sorted(objs, key=lambda o: o[1]["type"] == "VIEW")],
            "table_catalog string, table_schema string, table_name string,"
            " table_type string, self_referencing_column_name string, "
            "reference_generation string, user_defined_type_catalog "
            "string, user_defined_type_schema string, "
            "user_defined_type_name string, is_insertable_into string, "
            "is_typed string, commit_action string",
        ).createOrReplaceTempView("__is_tables")
    if "columns" in used:
        _rows_df(
            spark,
            [(m["catalog"], m["schema"], m["name"], c["name"], c["ordinal"],
              c["default"], "YES" if c["nullable"] else "NO", c["dtype"],
              c["prec"], c["scale"])
             for n, m in objs for c in _columns(spark, n)],
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, column_default "
            "string, is_nullable string, data_type string, "
            "numeric_precision int, numeric_scale int",
        ).createOrReplaceTempView("__is_columns")
    static_views = {
        "schemata": (ischema.schemata_rows(), ischema.SCHEMATA_DDL),
        "character_sets": (
            ischema.CHARACTER_SETS_ROWS, ischema.CHARACTER_SETS_DDL),
        "views": (ischema.views_rows(), ischema.VIEWS_DDL),
        "table_constraints": (
            ischema.table_constraints_rows(),
            ischema.TABLE_CONSTRAINTS_DDL),
        "referential_constraints": (
            ischema.referential_constraints_rows(),
            ischema.REFERENTIAL_CONSTRAINTS_DDL),
        "key_column_usage": (
            ischema.key_column_usage_rows(),
            ischema.KEY_COLUMN_USAGE_DDL),
        "constraint_column_usage": (
            ischema.constraint_column_usage_rows(),
            ischema.CONSTRAINT_COLUMN_USAGE_DDL),
        "constraint_table_usage": (
            ischema.constraint_table_usage_rows(),
            ischema.CONSTRAINT_TABLE_USAGE_DDL),
        "check_constraints": (
            ischema.check_constraints_rows(),
            ischema.CHECK_CONSTRAINTS_DDL),
    }
    for name, (rows, ddl) in static_views.items():
        if name in used:
            _rows_df(spark, rows, ddl).createOrReplaceTempView(
                f"__is_{name}"
            )
    return re.sub(
        rf"\binformation_schema\s*\.\s*({_IS_VIEWS})\b",
        lambda m: f"__is_{m.group(1).lower()}",
        text, flags=re.I,
    )


_PG_VIEWS = "pg_namespace|pg_tables|pg_views|pg_database"


def _bind_pg_catalog(spark: SparkSession, text: str) -> str:
    """pg_catalog compatibility views (reference default_views.cpp
    pg_catalog section), computed from the same catalog-metadata
    registry as information_schema."""
    used = {
        m.group(1).lower()
        for m in re.finditer(
            rf"\b(?:pg_catalog\s*\.\s*)?({_PG_VIEWS})\b", text, re.I,
        )
    }
    if not used:
        return text
    builders = {
        "pg_namespace": (ischema.pg_namespace_rows(),
                         ischema.PG_NAMESPACE_DDL),
        "pg_tables": (ischema.pg_tables_rows(), ischema.PG_TABLES_DDL),
        "pg_views": (ischema.pg_views_rows(), ischema.PG_VIEWS_DDL),
        "pg_database": (ischema.pg_database_rows(),
                        ischema.PG_DATABASE_DDL),
    }
    for name in used:
        rows, ddl = builders[name]
        _rows_df(spark, rows, ddl).createOrReplaceTempView(
            f"__pg_{name}"
        )
    return re.sub(
        rf"\b(?:pg_catalog\s*\.\s*)?({_PG_VIEWS})\b",
        lambda m: f"__pg_{m.group(1).lower()}",
        text, flags=re.I,
    )


_DUCK_TVFS = (
    "duckdb_tables|duckdb_columns|duckdb_views|duckdb_indexes|"
    "duckdb_sequences|duckdb_types|duckdb_functions|pg_description"
)


def _bind_duckdb_tvfs(spark: SparkSession, text: str) -> str:
    """duckdb_tables()/columns()/views()/indexes()/sequences()/types()/
    functions() introspection TVFs + the pg_description view (reference
    src/function/table/system/*.cpp, default_views.cpp), materialized
    from the engine's catalog registries; column layouts match the live
    oracle. OIDs are synthetic but CONSISTENT across the views in one
    statement, so pg_description joins (classoid=database_oid AND
    objoid=<x>_oid, catalog/comment_on_pg_description.test) line up."""
    from myduckdb_spark.functions import macros as _macros

    text = re.sub(r"\bpg_catalog\s*\.\s*pg_description\b",
                  "pg_description", text, flags=re.I)
    used = {
        m.group(1).lower()
        for m in _code_matches(rf"(?<![\w.])({_DUCK_TVFS})\b(?!\s*\.)", text, re.I)
    }
    if not used:
        return text
    C = ischema.COMMENTS
    _DB_OID = 1000
    objs = _catalog_objects()
    meta = dict(objs)
    name_of = {n.lower(): n for n, _m in objs}
    t_oid = {n.lower(): 2000 + i for i, (n, _m) in
             enumerate(o for o in objs if o[1]["type"] != "VIEW")}
    v_oid = {n.lower(): 3000 + i for i, (n, _m) in
             enumerate(o for o in objs if o[1]["type"] == "VIEW")}
    i_oid = {n: 4000 + i for i, n in enumerate(sorted(ischema.INDEXES))}
    s_oid = {n.lower(): 5000 + i
             for i, n in enumerate(sorted(_seq_store()._seqs,
                                          key=str.lower))}
    ty_oid = {n: 6000 + i
              for i, n in enumerate(sorted(ischema.TYPE_ALIASES))}
    f_oid = {n.lower(): 7000 + i
             for i, n in enumerate(sorted(_macros.macro_names(),
                                          key=str.lower))}

    def _reg_view(name: str, rows: list[tuple], ddl: str) -> None:
        _rows_df(spark, rows, ddl).createOrReplaceTempView(
            f"__{name}"
        )

    if "duckdb_tables" in used:
        rows = []
        for n, m in objs:
            if m["type"] == "VIEW":
                continue
            tbl = _MANAGED.get(n)
            cons = [c["ctype"] for c in ischema.constraints_of(n)]
            idxs = sum(1 for v in ischema.INDEXES.values()
                       if v["table"].lower() == n.lower())
            rows.append((
                m["catalog"], _DB_OID, m["schema"], 1001, m["name"],
                t_oid[n.lower()], C.get(("table", n.lower())), {}, False,
                m["catalog"] == "temp",
                "PRIMARY KEY" in cons or bool(tbl and tbl.key()),
                tbl.count() if tbl else 0, len(_columns(spark, n)),
                idxs + cons.count("PRIMARY KEY") + cons.count("UNIQUE"),
                cons.count("CHECK"), f"CREATE TABLE {m['name']}(...);",
            ))
        _reg_view(
            "duckdb_tables", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, table_name string, table_oid "
            "bigint, comment string, tags map<string,string>, internal "
            "boolean, temporary boolean, has_primary_key boolean, "
            "estimated_size bigint, column_count bigint, index_count "
            "bigint, check_constraint_count bigint, sql string",
        )
    if "duckdb_columns" in used:
        rows = []
        for n, m in objs:
            oid = (v_oid if m["type"] == "VIEW" else t_oid)[n.lower()]
            for c in _columns(spark, n):
                radix = None if c["prec"] is None else (
                    10 if c["dtype"].startswith(("DECIMAL", "NUMERIC")) else 2)
                rows.append((
                    m["catalog"], _DB_OID, m["schema"], 1001, m["name"], oid,
                    c["name"], c["ordinal"],
                    C.get(("column", f"{n.lower()}.{c['name'].lower()}")),
                    False, c["default"], c["nullable"], c["dtype"], 0, None,
                    c["prec"], radix, c["scale"],
                ))
        _reg_view(
            "duckdb_columns", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, table_name string, table_oid "
            "bigint, column_name string, column_index int, comment "
            "string, internal boolean, column_default string, "
            "is_nullable boolean, data_type string, data_type_id bigint, "
            "character_maximum_length int, numeric_precision int, "
            "numeric_precision_radix int, numeric_scale int",
        )
    if "duckdb_views" in used:
        rows = []
        for n, (sel, _cols) in sorted(_VIEWS.items()):
            m = meta[n]
            rows.append(
                (m["catalog"], _DB_OID, m["schema"], 1001, m["name"],
                 v_oid[n.lower()], C.get(("view", n.lower())), {}, False,
                 m["catalog"] == "temp", None,
                 f"CREATE VIEW {m['name']} AS {sel};")
            )
        _reg_view(
            "duckdb_views", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, view_name string, view_oid "
            "bigint, comment string, tags map<string,string>, internal "
            "boolean, temporary boolean, column_count bigint, sql string",
        )
    if "duckdb_indexes" in used:
        rows = []
        for n, v in sorted(ischema.INDEXES.items()):
            icat, isch, itbl = _cat_schema_of(v["table"])
            rows.append((
                icat, _DB_OID, isch, 1001, n.rsplit("__", 1)[-1],
                i_oid[n], itbl, t_oid.get(v["table"].lower()),
                C.get(("index", n)), {}, v["unique"], False, None, None,
            ))
        _reg_view(
            "duckdb_indexes", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, index_name string, index_oid "
            "bigint, table_name string, table_oid bigint, comment "
            "string, tags map<string,string>, is_unique boolean, "
            "is_primary boolean, expressions string, sql string",
        )
    if "duckdb_sequences" in used:
        rows = [
            ("temp" if s.get("temp") else "memory", _DB_OID, "main",
             1001, n, s_oid[n.lower()],
             C.get(("sequence", n.lower())), {}, bool(s.get("temp")),
             s.get("start", s.get("next")), s["min"], s["max"],
             s["increment"], s.get("cycle", False), s.get("current"),
             f"CREATE SEQUENCE {n};")
            for n, s in sorted(_seq_store()._seqs.items())
        ]
        _reg_view(
            "duckdb_sequences", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, sequence_name string, "
            "sequence_oid bigint, comment string, tags "
            "map<string,string>, temporary boolean, start_value bigint, "
            "min_value bigint, max_value bigint, increment_by bigint, "
            "cycle boolean, last_value bigint, sql string",
        )
    if "duckdb_types" in used:
        rows = [
            ("memory", _DB_OID, "main", 1001, ty_oid[n], n, None,
             ischema.TYPE_ALIASES[n], None, C.get(("type", n)), {},
             False, [])
            for n in sorted(ischema.TYPE_ALIASES)
        ]
        _reg_view(
            "duckdb_types", rows,
            "database_name string, database_oid bigint, schema_name "
            "string, schema_oid bigint, type_oid bigint, type_name "
            "string, type_size bigint, logical_type string, "
            "type_category string, comment string, tags "
            "map<string,string>, internal boolean, labels array<string>",
        )
    if "duckdb_functions" in used:
        rows = [
            ("memory", str(_DB_OID), "main", n,
             "table_macro" if n.lower() in _macros._TABLE else "macro",
             None, C.get(("macro", n.lower())), {}, None, [], [], None,
             None, False, False, f_oid[n.lower()], None, None)
            for n in sorted(_macros.macro_names())
        ]
        _reg_view(
            "duckdb_functions", rows,
            "database_name string, database_oid string, schema_name "
            "string, function_name string, function_type string, "
            "description string, comment string, tags "
            "map<string,string>, return_type string, parameters "
            "array<string>, parameter_types array<string>, varargs "
            "string, macro_definition string, has_side_effects boolean, "
            "internal boolean, function_oid bigint, example string, "
            "stability string",
        )
    if "pg_description" in used:
        rows = []
        for (kind, key), txt in C.items():
            if txt is None:
                continue
            if kind == "table" and key in t_oid:
                rows.append((t_oid[key], _DB_OID, 0, txt))
            elif kind == "view" and key in v_oid:
                rows.append((v_oid[key], _DB_OID, 0, txt))
            elif kind == "column":
                tblk, colk = key.rsplit(".", 1)
                oid = t_oid.get(tblk, v_oid.get(tblk))
                col = oid is not None and next(
                    (c for c in _columns(spark, name_of[tblk])
                     if c["name"].lower() == colk), None)
                if col:
                    rows.append((oid, _DB_OID, col["ordinal"], txt))
            elif kind == "index" and key in i_oid:
                rows.append((i_oid[key], _DB_OID, 0, txt))
            elif kind == "sequence" and key in s_oid:
                rows.append((s_oid[key], _DB_OID, 0, txt))
            elif kind == "type" and key in ty_oid:
                rows.append((ty_oid[key], _DB_OID, 0, txt))
            elif kind == "macro" and key in f_oid:
                rows.append((f_oid[key], _DB_OID, 0, txt))
        _reg_view(
            "pg_description", rows,
            "objoid bigint, classoid bigint, objsubid int, "
            "description string",
        )
    return _sub_code(
        rf"\b({_DUCK_TVFS})\b(\s*\(\s*\))?",
        lambda m: f"__{m.group(1).lower()}", text, re.I,
    )


def _bind_describe_subqueries(spark: SparkSession, text: str) -> str:
    """``FROM (DESCRIBE …)`` / ``(SHOW …)`` — the reference treats
    introspection statements as table expressions (DescribeRelation is a
    relation). Evaluate the inner statement via _describe_statement,
    register the result as a temp view, substitute the view name."""
    import hashlib

    pat = re.compile(r"\(\s*(DESCRIBE|SHOW|SUMMARIZE)\b", re.I)
    pos = 0
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(pat, text, pos=pos, mask=mask), None)
        if m is None:
            return text
        close = _matching(text, m.start(), mask)
        if close < 0:
            return text
        inner = text[m.start() + 1: close].strip()
        try:
            df = _describe_statement(spark, inner)
        except Exception:
            df = None
        if df is None:  # not an evaluable introspection statement
            pos = m.end()
            continue
        view = "__desc_" + hashlib.md5(inner.encode()).hexdigest()[:12]
        df.createOrReplaceTempView(view)
        text = text[: m.start()] + f"(SELECT * FROM {view})" + text[close + 1:]


def _statement_command(spark: SparkSession, text: str) -> DataFrame | None:
    """Client-config / introspection statements the reference serves from
    its shell (SET: settings.cpp; PRAGMA table_info; EXPLAIN). Returns a
    DataFrame result, or None if ``text`` is a plain query."""
    m = _PREPARE.match(text)
    if m:
        _PREPARED[m.group(1).lower()] = m.group(2)
        return _count_df(spark, 0)
    m = _DEALLOCATE.match(text)
    if m:
        if _PREPARED.pop(m.group(1).lower(), None) is None:
            raise KeyError(f"DEALLOCATE: unknown prepared statement {m.group(1)}")
        return _count_df(spark, 0)
    m = _USE_STMT.match(text)
    if m:
        q, name = m.group(1), m.group(2)
        if q:  # USE db.schema
            flat = _flat_schema_name(q, name)
            if flat not in ischema.SCHEMAS and name.lower() != "main":
                raise ValueError(
                    f"Catalog Error: SET schema: No catalog + schema "
                    f'named "{q}.{name}" found.'
                )
            SETTINGS["current_database"] = q
            SETTINGS["search_path"] = "" if name.lower() == "main" else flat
        elif name.lower() in ("memory", "temp") \
                or name.lower() in _attached_lower():
            SETTINGS["current_database"] = name
            SETTINGS["search_path"] = ""
        elif name in ischema.SCHEMAS:
            SETTINGS["search_path"] = name
        else:
            raise ValueError(
                f"Catalog Error: SET schema: No catalog + schema named "
                f'"{name}" found.'
            )
        return _count_df(spark, 0)
    m = _SET_STMT.match(text)
    if m:
        name, raw = m.group(1), m.group(2).strip().strip("'\"")
        if name.lower() in ("default_null_order", "default_order"):
            # session ordering defaults live in SETTINGS (translate()
            # consults them for ORDER BY ALL and window null pinning)
            SETTINGS[name.lower()] = raw.lower()
            return _rows_df(
                spark,
                [(name, raw)], "name string, value string"
            )
        if name.lower() in ("search_path", "schema"):
            inner = m.group(2).strip().strip("'")
            if inner.count('"') % 2:
                raise ValueError(
                    "Parser Error: invalid quoted string list"
                )
            entries = [e.strip().strip('"').strip()
                       for e in inner.split(",") if e.strip()]
            if name.lower() == "schema" and len(entries) != 1:
                raise ValueError(
                    'Parser Error: SET schema expected a single entry'
                )
            entries = [
                e.replace(".", "__")
                if "." in e
                and e.split(".")[0].lower() in _attached_lower()
                else e
                for e in entries
            ]
            for e in entries:
                if e != "main" and e not in ischema.SCHEMAS:
                    raise ValueError(
                        f'Catalog Error: SET {name}: No catalog + schema '
                        f'named "{e}" found.'
                    )
            SETTINGS["search_path"] = ",".join(entries)
            return _rows_df(
                spark,
                [(name, ",".join(entries))], "name string, value string"
            )
        if name.lower() == "timezone":
            # the reference's SET TimeZone drives naive<->instant casts;
            # Spark's session timeZone is the same knob. The catalog's
            # session pin keeps it (reset_dml_state restores the UTC
            # default between corpus files)
            from myduckdb_spark import catalog

            spark.conf.set("spark.sql.session.timeZone", raw)
            catalog.FRONT_DOOR_ZONE = raw
            return _rows_df(
                spark,
                [(name, raw)], "name string, value string"
            )
        if "." in name:  # dotted → Spark conf (e.g. spark.sql.shuffle.partitions)
            spark.conf.set(name, raw)
        else:
            from myduckdb_spark.config import set_option

            set_option(name, raw)
        return _rows_df(spark, [(name, raw)], "name string, value string")
    d = _describe_statement(spark, text)
    if d is not None:
        return d
    m = _PRAGMA_TI.match(text)
    if m:
        rows = [
            (c["ordinal"] - 1, c["name"], c["dtype"], not c["nullable"],
             c["default"], c["key"] == "PRI")
            for c in _columns(spark, m.group(1))
        ]
        return _rows_df(
            spark,
            rows, "cid int, name string, type string, notnull boolean, "
            "dflt_value string, pk boolean"
        )
    dml = _dml_statement(spark, text)
    if dml is not None:
        return dml
    m = _EXPLAIN.match(text)
    if m and not m.group(1).lstrip().upper().startswith("ANALYZE"):
        plan = (
            spark.sql(translate(m.group(1)))
            ._jdf.queryExecution()
            .explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        )
        return _rows_df(
            spark,
            [("physical_plan", plan)], "explain_key string, explain_value string"
        )
    return None


_UNPIVOT_IN = re.compile(
    r"\bUNPIVOT\s*\(\s*(?:\w+|\([^()]*\))\s+FOR\s+\w+\s+IN\s*(\()", re.I
)


def _fix_unpivot_case(spark: SparkSession, text: str) -> str:
    """DuckDB's UNPIVOT name column reports the table's ORIGINAL column
    casing (case-insensitive binder); Spark reports the name as written
    in the IN list. Resolve each IN-list name against the FROM table's
    actual columns — including multi-column ``(a, b)`` groups. Needs the
    catalog, so it runs engine-side (like COLUMNS(*) expansion)."""
    m = _UNPIVOT_IN.search(text)
    if m is None:
        return text
    fm = re.search(r"\bFROM\s+([A-Za-z_]\w*)", text, re.I)
    if not fm:
        return text
    try:
        cols = {c.lower(): c for c in spark.table(fm.group(1)).columns}
    except Exception:
        return text
    open_idx = m.start(1)
    close = _matching(text, open_idx)
    if close < 0:
        return text
    body = text[open_idx + 1 : close]

    def fix_one(n: str) -> str | None:
        n = n.strip()
        if re.fullmatch(r'"?\w+"?', n):
            return cols.get(n.strip('"').lower(), n)
        if re.fullmatch(r'"?\w+"?\s+AS\s+\S+', n, re.I):
            return n  # explicit alias wins
        gm = re.fullmatch(r"\(([^()]*)\)(\s+AS\s+\S+)?", n, re.I | re.S)
        if gm:  # (a, b) group — fix each member
            inner = [fix_one(x) for x in gm.group(1).split(",")]
            if any(x is None for x in inner):
                return None
            return "(" + ", ".join(inner) + ")" + (gm.group(2) or "")
        return None

    fixed = [fix_one(x) for x in _split_args(body)]
    if any(x is None for x in fixed):
        return text  # expression entries — leave untouched
    return text[: open_idx + 1] + ", ".join(fixed) + text[close:]


_COLUMNS_STAR = re.compile(r"\bCOLUMNS\s*\(", re.I)


def _expand_columns_star(spark: SparkSession, text: str) -> str:
    """DuckDB ``COLUMNS(*)`` / ``COLUMNS('regex')`` star expression
    (reference src/parser/expression/star_expression.cpp): expands to
    the matching columns of the (single) FROM table, optionally mapping
    a wrapping function over every column — ``min(COLUMNS(*))`` →
    ``min(c1), min(c2), …``. Resolved here (not in translate) because
    expansion needs the catalog."""
    if not _COLUMNS_STAR.search(text):
        return text
    fm = re.search(r"\bFROM\s+([A-Za-z_]\w*)", text, re.I)
    if not fm:
        return text
    try:
        cols = spark.table(fm.group(1)).columns
    except Exception:
        return text
    while True:
        mask = _code_mask(text)
        m = next(_code_matches(_COLUMNS_STAR, text, mask=mask), None)
        if m is None:
            return text
        open_idx = m.end() - 1
        close = _matching(text, open_idx, mask)
        arg = text[open_idx + 1 : close].strip()
        if arg == "*":
            matched = cols
        elif re.fullmatch(r"'(?:[^']|'')*'", arg):
            pat = re.compile(arg[1:-1].replace("''", "'"))
            matched = [c for c in cols if pat.search(c)]
        else:
            return text  # lambda/EXCLUDE forms — out of scope
        # COLUMNS(...) inside ANY select-item expression replicates the
        # WHOLE item once per matched column (star_expression.cpp expands
        # before binding) — `COLUMNS(*) + 1` → `i + 1, j + 1`,
        # `min(COLUMNS(*))` → `min(i), min(j)`. Find the enclosing item's
        # boundaries: nearest same-depth ',' / SELECT before, ',' / FROM
        # after.
        depth = _depth_profile(text, mask)
        # enclosing SELECT = last one before the call whose depth equals
        # the minimum depth on the path back from the call (i.e. no paren
        # closes between it and the COLUMNS token)
        sm2 = None
        for c2 in _code_matches(r"\bSELECT\b(\s+DISTINCT\b)?", text[:m.start()], re.I, mask=mask):
            if depth[c2.start()] == min(depth[c2.start() : m.start() + 1]):
                sm2 = c2
        if sm2 is None:
            # FROM-first form (`FROM t ORDER BY COLUMNS(..)`) — bare
            # per-column expansion of just the call
            repl = ", ".join(f"`{c}`" for c in matched)
            text = text[: m.start()] + repl + text[close + 1 :]
            continue
        d0 = depth[sm2.start()]  # depth of the select LIST's items
        # is the call in the SELECT list, or in a later clause (ORDER BY
        # COLUMNS('re') — expands to bare per-column sort keys)?
        clause_kw = None
        for c3 in _code_matches(
            r"\b(FROM|WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY)\b",
            text[sm2.end() : m.start()], re.I, mask=mask[sm2.end():],
        ):
            if depth[sm2.end() + c3.start()] == d0:
                clause_kw = c3
        in_select_list = clause_kw is None
        start = sm2.end() if in_select_list else sm2.end() + clause_kw.end()
        for p in range(m.start() - 1, start - 1, -1):
            if not mask[p] and text[p] == "," and depth[p] == d0:
                start = p + 1
                break
        end = len(text)
        stop_kw = (
            r"\bFROM\b"
            if in_select_list
            else r"\b(LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|FROM)\b"
        )
        p = close + 1
        while p < len(text):
            if not mask[p] and depth[p] == d0:
                if text[p] == ",":
                    end = p
                    break
                if re.match(stop_kw, text[p:], re.I):
                    end = p
                    break
            p += 1
        item = text[start:end]
        rel_s, rel_e = m.start() - start, close + 1 - start
        if _COLUMNS_STAR.search(item[:rel_s]) or _COLUMNS_STAR.search(item[rel_e:]):
            return text  # two COLUMNS() in one item (zip form) — unsupported
        pieces = []
        for c in matched:
            body = (item[:rel_s] + f"`{c}`" + item[rel_e:]).strip()
            if in_select_list:
                alias = re.sub(r"[`'\"\s]+", "", body) or c
                body = f"{body} AS `{alias}`"
            pieces.append(body)
        text = text[:start] + " " + ", ".join(pieces) + " " + text[end:]


_WITH_RECURSIVE = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(([^)]*)\))?\s+AS\s*(\()", re.I | re.S
)


def _recursive_union_distinct(spark: SparkSession, text: str):
    """WITH RECURSIVE with UNION (distinct) — Spark's native recursion
    supports UNION ALL only; DuckDB's UNION form dedups against all rows
    seen (physical_recursive_cte.cpp). Route to the driver-side
    semi-naive fixpoint (operators/recursive.py). Returns None when the
    statement isn't that shape (native Spark handles UNION ALL)."""
    m = _WITH_RECURSIVE.match(text)
    if m is None:
        return None
    open_idx = m.start(3)
    close = _matching(text, open_idx)
    if close < 0:
        return None
    rest = text[close + 1 :].strip()
    if rest.startswith(","):  # multiple CTEs — out of this path's scope
        return None
    body = text[open_idx + 1 : close]
    mask = _code_mask(body)
    depths = _depth_profile(body, mask)
    um = next(
        (u for u in _code_matches(r"\bUNION\b(\s+ALL\b)?", body, re.I, mask=mask)
         if depths[u.start()] == 0),
        None,
    )
    if um is None or um.group(1):  # no UNION, or UNION ALL → native
        return None
    from myduckdb_spark.operators.recursive import recursive_cte

    name = m.group(1)
    cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
    base = spark.sql(translate(body[: um.start()]))
    if cols:
        base = base.toDF(*cols)
    step_sql = translate(body[um.end():])

    def step(front):
        front.createOrReplaceTempView(name)
        return spark.sql(step_sql).toDF(*base.columns)

    result = recursive_cte(base, step, union_all=False)
    result.createOrReplaceTempView(name)
    return sql(spark, rest)


def _split_statements(text: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons (outside
    string literals; parens can't nest semicolons in SQL). Parts that
    hold only whitespace/comments (trailing ``; -- note``) are dropped."""

    def _blank(p: str) -> bool:
        return not _LITERAL.sub(
            lambda m: "" if m.group(0).startswith("--") else m.group(0), p
        ).strip()

    return [p for p in _split_args(text, ";", nest="") if not _blank(p)] or [text]


_FILE_FROM = re.compile(
    r"\b(FROM|JOIN)\s+'([^']+\.(?:csv|tsv|csv\.gz|parquet|json|ndjson|jsonl))'",
    re.I,
)
_READ_FN_FROM = re.compile(
    r"\b(FROM|JOIN)\s+(read_csv_auto|read_csv|read_json_auto|read_json|"
    r"read_ndjson_auto|read_ndjson|read_parquet|parquet_scan)\s*\(",
    re.I,
)


def _hive_base(path: str) -> str | None:
    """basePath for hive-layout file globs: the prefix before the first
    ``key=value`` or glob path segment, so Spark's partition-dir inference
    sees the full key chain instead of swallowing it into the common
    parent. None when the path has no such segment (plain file/dir)."""
    if path.startswith(("s3://", "s3a://", "s3n://", "r2://", "http")):
        return None
    p = path[len("file://"):] if path.startswith("file://") else path
    parts = p.split("/")
    for i, seg in enumerate(parts):
        if ("=" in seg or "*" in seg or "?" in seg) and i:
            base = "/".join(parts[:i]) or "/"
            return base if os.path.isdir(base) else None
    return None


def _bind_file_scans(spark: SparkSession, text: str) -> str:
    """``FROM 'file.csv'`` / ``FROM read_csv(...)`` — the reference's
    filename-as-table binding (replacement scans). Registers a temp view
    over the file via the io readers (dialect sniffer included) and
    substitutes the view name. Unknown read_csv kwargs leave the text
    unchanged (the engine error records the gap, never a wrong result)."""
    from myduckdb_spark import io as _io

    def _parse_sql_string_list(raw: str) -> list | None:
        """``['a', 'b']`` / ``list_value('a')`` → python list of str."""
        t = raw.strip()
        m = re.fullmatch(r"\[(.*)\]", t, re.S) or re.fullmatch(
            r"(?:list_value|array)\s*\((.*)\)", t, re.I | re.S
        )
        if not m:
            return None
        out = []
        for item in _split_args(m.group(1)):
            im = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", item)
            if not im:
                return None
            out.append(im.group(1).replace("''", "'"))
        return out

    def _parse_sql_string_map(raw: str) -> dict | None:
        """``{'a': 'T', "b": 'U'}`` struct literal → python dict."""
        t = raw.strip()
        m = re.fullmatch(r"\{(.*)\}", t, re.S)
        if not m:
            return None
        out = {}
        for item in _split_args(m.group(1)):
            im = re.fullmatch(
                r"\s*(?:'((?:[^']|'')*)'|\"([^\"]*)\"|(\w+))\s*:\s*"
                r"'((?:[^']|'')*)'\s*", item,
            )
            if not im:
                return None
            key = im.group(1) or im.group(2) or im.group(3)
            out[key] = im.group(4).replace("''", "'")
        return out

    def bind(path: str | list, fmt_hint: str | None, opts: dict) -> str | None:
        import hashlib

        view = "__scan_" + hashlib.md5(
            f"{path}|{fmt_hint}|{sorted(opts.items(), key=str)}".encode()
        ).hexdigest()[:12]
        try:
            p0 = path[0] if isinstance(path, list) else path
            ext = os.path.splitext(p0.rstrip("/*").removesuffix(".gz"))[1].lower()
            fmt = fmt_hint or {
                ".parquet": "parquet", ".json": "json", ".ndjson": "json",
                ".jsonl": "json",
            }.get(ext, "csv")
            if fmt == "parquet":
                # hive-layout dirs: the reference's partitioned COPY keeps
                # partition values ONLY in dir names (bind_copy.cpp
                # write_partition_columns=false default), so Spark's
                # dir-name partition inference must stay ON. For globs
                # that descend through key=value segments the common
                # parent would otherwise swallow the keys — anchor
                # basePath at the first glob/key=value segment. Files
                # that (via WRITE_PARTITION_COLUMNS, or written by the
                # reference pre-0.10) ALSO carry the column in-file would
                # collide with inference — fall back to a flat
                # recursive-lookup read (in-file columns win there).
                base = _hive_base(path) if isinstance(path, str) else None
                try:
                    rd = spark.read
                    if base:
                        rd = rd.option("basePath", base)
                    df = (rd.parquet(*path) if isinstance(path, list)
                          else rd.parquet(path))
                except Exception:
                    df = (
                        spark.read.option("recursiveFileLookup", "true")
                        .parquet(*path if isinstance(path, list) else [path])
                    )
                df = _io.fix_nanos_timestamps(
                    df, *(path if isinstance(path, list) else [path])
                )
            elif fmt == "json":
                jcols = opts.get("columns")
                if isinstance(jcols, dict):
                    # columns= IS the schema: only the listed columns,
                    # with the given duck types (read_json.cpp bind) —
                    # an unmapped/structured type (UNION…) leaves the
                    # call unbound (skip, never wrong values)
                    if any(re.match(r"\s*UNION\s*\(", t, re.I)
                           for t in jcols.values()):
                        return None
                    ddl = ", ".join(
                        f"`{c}` {typenames.spark_ddl(t, _io.SCAN_TYPES)}"
                        for c, t in jcols.items()
                    )
                    df = _io.read_json(spark, path, schema=ddl)
                else:
                    df = _io.read_json(spark, path)
            else:
                base = _hive_base(path) if isinstance(path, str) else None
                if base:
                    try:
                        df = _io.read_csv(
                            spark, path, basePath=base, **opts
                        )
                    except Exception:
                        # files that also carry the partition column
                        # in-file collide with dir inference — flat read
                        df = _io.read_csv(spark, path, **opts)
                else:
                    df = _io.read_csv(spark, path, **opts)
            df.createOrReplaceTempView(view)
            # duck_type field metadata written by COPY TO parquet
            # round-trips through the Spark parquet footer — rebind the
            # declared (carrier-erased) type names for typeof()
            if any(f.metadata.get("duck_type") for f in df.schema.fields):
                ischema.register_columns(view, _scan_columns(df.schema.fields))
        except Exception:
            return None
        return view

    while True:
        fm = next(_code_matches(_FILE_FROM, text), None)
        if fm is None:
            break
        view = bind(fm.group(2), None, {})
        if view is None:
            break
        text = text[: fm.start()] + f"{fm.group(1)} {view}" + text[fm.end():]
    while True:
        mask = _code_mask(text)
        rm = next(_code_matches(_READ_FN_FROM, text, mask=mask), None)
        if rm is None:
            break
        close = _matching(text, rm.end() - 1, mask)
        if close < 0:
            break
        args = [a.strip() for a in _split_args(text[rm.end() : close])]
        pm = re.fullmatch(r"'([^']+)'", args[0]) if args else None
        path_arg: str | list | None = pm.group(1) if pm else None
        if path_arg is None and args:
            path_arg = _parse_sql_string_list(args[0])
        if path_arg is None:
            break
        fn = rm.group(2).lower()
        fmt_hint = (
            "parquet" if "parquet" in fn else "json" if "json" in fn else "csv"
        )
        opts: dict = {}
        supported = True
        raw_path_is_list = isinstance(path_arg, list)
        for kw in args[1:]:
            km = re.fullmatch(r"(\w+)\s*(?::?=)\s*(.+)", kw, re.S)
            if km is None:
                supported = False
                break
            k, raw = km.group(1).lower(), km.group(2).strip()
            if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
                # SQL string literal: strip ONE quote pair, unescape ''
                v = raw[1:-1].replace("''", "'")
            elif raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
                v = raw[1:-1]
            else:
                v = raw
            if k in ("delim", "sep", "delimiter"):
                opts["sep"] = v
            elif k == "header":
                opts["header"] = v.lower() in ("true", "1")
            elif k == "quote":
                opts["quote"] = v
            elif k == "escape":
                opts["escape"] = v
            elif k in ("skip", "skip_rows"):
                opts["skip_rows"] = int(v)
            elif k == "compression":
                opts["compression"] = v
            elif k == "comment":
                opts["comment"] = v
            elif k in ("null", "nullstr", "null_str") and not raw.startswith("["):
                opts["nullValue"] = v
            elif k == "ignore_errors":
                if v.lower() in ("true", "1") and raw_path_is_list:
                    # multi-file column-count mismatch is the one
                    # ignore_errors mode Spark's DROPMALFORMED mirrors
                    # exactly; single-file cast-error semantics differ —
                    # those stay unsupported (skip, never wrong values)
                    opts["mode"] = "DROPMALFORMED"
                elif v.lower() in ("true", "1"):
                    supported = False
                    break
            elif k == "all_varchar":
                opts["all_varchar"] = v.lower() in ("true", "1")
            elif k == "normalize_names":
                opts["normalize_names"] = v.lower() in ("true", "1")
            elif k == "names" or k == "column_names":
                lst = _parse_sql_string_list(raw)
                if lst is None:
                    supported = False
                    break
                opts["names"] = lst
            elif k == "types" or k == "dtypes" or k == "columns":
                parsed_t = _parse_sql_string_map(raw) \
                    if raw.lstrip().startswith("{") \
                    else _parse_sql_string_list(raw)
                if parsed_t is None:
                    supported = False
                    break
                opts["columns" if k == "columns" else "types"] = parsed_t
            elif k == "dateformat" and "%" in v:
                opts["dateFormat"] = _strf_to_java(v)
            elif k == "timestampformat" and "%" in v:
                jf = _strf_to_java(v)
                opts["timestampFormat"] = jf
                opts["timestampNTZFormat"] = jf
            elif k == "sample_size":
                if v.strip() != "-1" and not raw_path_is_list:
                    # a bounded sample changes duck's inferred types;
                    # full-scan (-1) matches Spark inference exactly.
                    # (multi-file mismatch reads tolerate it: the sample
                    # only picks which file's schema wins, and Spark's
                    # inference converges on the same majority schema)
                    supported = False
                    break
            elif k == "auto_detect":
                opts["auto_detect"] = v.lower() in ("true", "1")
            elif k in ("max_line_size", "buffer_size", "parallel",
                       "rejects_limit"):
                pass  # perf knobs with no semantic effect here
            else:
                supported = False
                break
        if not supported:
            break
        view = bind(path_arg, fmt_hint, opts)
        if view is None:
            break
        text = text[: rm.start()] + f"{rm.group(1)} {view}" + text[close + 1 :]
    return text


_CLAUSE_AFTER_WHERE = re.compile(
    r"\b(GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|OFFSET|UNION|"
    r"INTERSECT|EXCEPT)\b",
    re.I,
)


def _inline_select_aliases(text: str) -> str:
    """Substitute top-level SELECT-list aliases referenced in WHERE /
    HAVING with their expressions (the reference's lateral alias binding;
    only used as an error-driven retry so working queries never change)."""
    mask = _code_mask(text)
    depth = _depth_profile(text, mask)
    sm = re.search(r"\bSELECT\b(\s+DISTINCT\b)?", text, re.I)
    if sm is None or depth[sm.start()] != 0:
        return text
    fm = next(
        (c for c in _code_matches(r"\bFROM\b", text, re.I, mask=mask)
         if c.start() > sm.end() and depth[c.start()] == 0),
        None,
    )
    if fm is None:
        return text
    items = _split_args(text[sm.end() : fm.start()], nest="(")
    aliases: dict[str, str] = {}
    for it in items:
        am = re.fullmatch(r"(?s)\s*(.+?)\s+AS\s+([A-Za-z_]\w*)\s*", it, re.I)
        if am:
            aliases[am.group(2).lower()] = am.group(1)
    if not aliases:
        return text
    for kw in ("WHERE", "HAVING"):
        cm = next(
            (c for c in _code_matches(rf"\b{kw}\b", text, re.I, mask=mask)
             if c.start() > fm.end() and depth[c.start()] == 0),
            None,
        )
        if cm is None:
            continue
        em = next(
            (c for c in _code_matches(_CLAUSE_AFTER_WHERE, text, pos=cm.end(), mask=mask)
             if depth[c.start()] == 0),
            None,
        )
        end = em.start() if em else len(text)
        clause = text[cm.end() : end]
        for al, ex in aliases.items():

            def _sub(mm):
                before = clause[: mm.start()].rstrip()
                if before.endswith("."):
                    return mm.group(0)  # qualified name, not the alias
                return f"({ex})"

            clause = _sub_code(rf"\b{re.escape(al)}\b(?!\s*\()", _sub, clause, re.I)
        text = text[: cm.end()] + clause + text[end:]
        # positions shifted — recompute for the next clause keyword
        mask = _code_mask(text)
        depth = _depth_profile(text, mask)
    return text


def _insert_join_lateral(text: str) -> str:
    """The reference binds joined derived tables laterally without the
    LATERAL keyword (binder/tableref/bind_joinref.cpp — a subquery on a
    join's right side may reference columns of earlier FROM items);
    Spark requires the explicit keyword. Error-driven retry only: insert
    LATERAL after JOIN when the operand is a parenthesized subquery, so
    working queries never change."""
    return _sub_code(
        r"\b(JOIN)(\s*)\((?=\s*(?:SELECT|WITH|VALUES)\b)", r"\1 LATERAL (", text, re.I
    )


# operand of a NATURAL JOIN chain: identifier or a paren group (two
# nesting levels — enough for (a JOIN b USING (x)) shapes)
_NAT_OPERAND = (
    r'(?:(?!(?:FROM|JOIN|NATURAL|ON|USING|WHERE|SELECT|AND|OR|AS)\b)'
    r'"?\w+"?(?:\s+(?!NATURAL\b|JOIN\b|WHERE\b|GROUP\b|ORDER\b|'
    r'LIMIT\b|ON\b|USING\b)\w+)?'
    r"|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))"
)
_NATURAL_CHAIN = re.compile(
    rf"(?<![\w.\"])({_NAT_OPERAND})"
    r"((?:\s+NATURAL\s+(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|OUTER\s+)*"
    rf"JOIN\s+{_NAT_OPERAND})+)",
    re.I,
)


def _bind_natural_joins(spark: SparkSession, text: str) -> str:
    """NATURAL JOIN matches common columns CASE-INSENSITIVELY in the
    reference (catalog-insensitive binder) — Spark's intersection is
    case-sensitive, so chains rewrite to JOIN ... USING with the left
    side's spelling. Operand columns come from the catalog for bare
    table names or a LIMIT-0 bind probe for paren groups; inner chains
    rewrite first (innermost-out loop). Unparseable shapes pass through
    to Spark's own NATURAL JOIN."""
    def _cols_of(op: str) -> list[str] | None:
        op = op.strip()
        name = op.strip('"')
        try:
            if re.fullmatch(r"\w+(\s+\w+)?", name):
                return list(spark.table(name.split()[0]).columns)
            return list(spark.sql(
                translate(f"SELECT * FROM {op} __natprobe LIMIT 0")
            ).columns)
        except Exception:
            return None

    def _inner(op: str) -> str:
        # a paren operand with its own NATURAL chain rewrites first
        if op.startswith("(") and re.search(r"\bNATURAL\b", op, re.I):
            return "(" + _bind_natural_joins(spark, op[1:-1]) + ")"
        return op

    def repl(m: "re.Match[str]") -> str:
        first = _inner(m.group(1))
        acc = _cols_of(first)
        if acc is None:
            return m.group(0)
        parts = [first]
        for jm in re.finditer(
            r"NATURAL\s+((?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|OUTER\s+)*)"
            rf"JOIN\s+({_NAT_OPERAND})", m.group(2), re.I,
        ):
            jtype, tbl = jm.group(1) or "", _inner(jm.group(2))
            tcols = _cols_of(tbl)
            if tcols is None:
                return m.group(0)
            low = {c.lower() for c in tcols}
            common = [c for c in acc if c.lower() in low]
            if len({c.lower() for c in common}) != len(common) or \
                    len([c for c in tcols if c.lower() in
                         {x.lower() for x in common}]) != len(common):
                return m.group(0)  # duplicate key names — not expressible
            if common:
                usings = ", ".join('"' + c + '"' for c in common)
                parts.append(f"{jtype}JOIN {tbl} USING ({usings})")
            else:
                parts.append(f"CROSS JOIN {tbl}")
            seen = {c.lower() for c in acc}
            acc += [c for c in tcols if c.lower() not in seen]
        return " ".join(parts)

    for _ in range(8):  # innermost-out passes over nested chains
        new = _sub_code(_NATURAL_CHAIN, repl, text)
        if new == text:
            return text
        text = new
    return text


def sql(
    spark: SparkSession,
    text: str,
    sf_dir: str | None = None,
    args: dict | list | None = None,
) -> DataFrame:
    """Run SQL against the engine catalog. Translated text must be valid
    Spark SQL (Spark 4 natively accepts QUALIFY-less ANSI plus listagg /
    string_agg, lambdas, TABLESAMPLE).

    ``args`` = prepared-statement parameters (reference EP2,
    src/main/prepared_statement.cpp; PREPARE/EXECUTE with ``?`` or ``$n``
    placeholders). Spark 3.4+ binds them natively via spark.sql(..., args):
    a list binds positional ``?``; a dict binds named ``:name``. DuckDB's
    ``$n``/``$name`` forms are translated to ``:pn``/``:name``, and a list
    given with ``$n`` placeholders is converted to the matching dict. The
    plan is rebuilt per call — Spark has no plan cache to reuse, which is
    acceptable (Catalyst re-optimization is cheap relative to execution)."""
    if sf_dir:
        # front-door tables and views shadow catalog names of the same
        # spelling (the rule is documented in catalog.register_views)
        held = {n.lower() for n in (*_MANAGED, *_VIEWS)}
        register_views(spark, sf_dir, [t for t in TABLES if t not in held])
    parts = _split_statements(text)
    if len(parts) > 1:
        # multi-statement script (DuckDB executes these in one call;
        # e.g. "BEGIN TRANSACTION; DELETE ..."): run sequentially,
        # return the last statement's result
        df = None
        for p in parts:
            df = sql(spark, p, None, args)
        return df
    m = _EXECUTE.match(text)
    if m and m.group(1).lower() in _PREPARED:
        # EXECUTE rebinds the stored statement with these literal values
        # and runs it through the full front door (queries AND DML).
        text = _bind_prepared(_PREPARED[m.group(1).lower()], m.group(2))
    text = _expand_columns_star(spark, text)
    text = _fix_unpivot_case(spark, text)
    rec = _recursive_union_distinct(spark, text)
    if rec is not None:
        return rec
    if not re.match(r"\s*(CREATE|DROP)\s+SCHEMA\b", text, re.I):
        text = _flatten_schema_refs(text)
    cmd = _statement_command(spark, text)
    if cmd is not None:
        return cmd
    if not re.match(r"\s*(CREATE|DROP|ALTER)\b", text, re.I):
        text = _bind_information_schema(spark, text)
        text = _bind_pg_catalog(spark, text)
        text = _bind_duckdb_tvfs(spark, text)
        if re.search(r"\(\s*(DESCRIBE|SHOW|SUMMARIZE)\b", text, re.I):
            text = _bind_describe_subqueries(spark, text)
            cmd = _statement_command(spark, text)
            if cmd is not None:  # e.g. a bare parenthesized DESCRIBE
                return cmd
    text = _bind_file_scans(spark, text)
    if re.search(r"\bNATURAL\s+(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|"
                 r"OUTER\s+)*JOIN\b", text, re.I):
        text = _bind_natural_joins(spark, text)
    out = translate(_inject_column_collations(text))
    if re.search(r"\bjson_(structure|type)\s*\(", out):
        from myduckdb_spark.functions.jsonx import register_json_udfs

        register_json_udfs(spark)
    if "__jt_" in out or "__jx_" in out or "__json_" in out:
        from myduckdb_spark.functions.jsonx import register_marked_udfs

        register_marked_udfs(spark, out)
    if re.search(
        r"\b(jaro_winkler_similarity|jaro_similarity|damerau_levenshtein)\s*\(",
        out,
        re.I,
    ):
        from myduckdb_spark.functions.udf import register_string_metrics

        register_string_metrics(spark)
    if re.search(r"\bnextafter\s*\(", out, re.I):
        from myduckdb_spark.functions.udf import register_numeric_udfs

        register_numeric_udfs(spark)
    if "__duck_split_regex" in out:
        from myduckdb_spark.functions.udf import register_split_regex

        register_split_regex(spark)
    if "__blob_str" in out:
        from myduckdb_spark.functions.udf import register_blob_render

        register_blob_render(spark)
    if "__blob_parse" in out:
        from myduckdb_spark.functions.udf import register_blob_parse

        register_blob_parse(spark)
    if "__duck_typename" in out:
        from myduckdb_spark.functions.typenames import register_typename_udf

        register_typename_udf(spark)
    if args is None:
        try:
            return spark.sql(out)
        except Exception as e:
            # the reference binds SELECT-list aliases in WHERE/HAVING
            # (binder/select_binder.cpp lateral alias binding); Spark
            # doesn't — inline the aliased expression and retry once
            if "UNRESOLVED_COLUMN" not in str(e):
                raise
            retry = _inline_select_aliases(out)
            if retry != out:
                try:
                    return spark.sql(retry)
                except Exception:
                    pass
            lateral = _insert_join_lateral(out)
            if lateral == out:
                raise
            try:
                return spark.sql(lateral)
            except Exception:
                raise e
    bound = _sub_code(
        r"\$([A-Za-z_]\w*|\d+)",
        lambda m: f":p{m.group(1)}" if m.group(1).isdigit() else f":{m.group(1)}",
        out,
    )
    if bound != out:
        out = bound
        if isinstance(args, (list, tuple)):
            args = {f"p{i}": v for i, v in enumerate(args, 1)}
    return spark.sql(out, args=args)

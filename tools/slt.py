"""Mini sqllogictest runner over the reference's public test corpus.

The reference's primary test strategy is sqllogictest files
(SURVEY.md §5; runner test/sqlite/sqllogic_test_runner.hpp). This runner
executes a .test file's statements in DuckDB (the state builder: CREATE/
INSERT/etc.), and for every ``query`` block runs the SAME SQL through BOTH
the engine's SQL front door (myduckdb_spark.sql.sql, i.e. dialect
translation + spark.sql over temp views snapshotting the DuckDB state)
AND DuckDB itself, comparing canonicalized row sets. That checks OUR
engine against the reference behavior on the reference's own tests —
including expected-output bugs in the fork's files (the comparison target
is DuckDB's actual result, not the file's expected block, exactly like
``PRAGMA enable_verification`` re-verifies internally).

Directive support (reference test/sqlite/sqllogic_parser.cpp):

* ``loop var start end`` / ``foreach var v1 v2 ...`` / ``endloop`` —
  expanded textually with ``${var}`` substitution (nesting supported);
* ``mode skip`` .. ``mode unskip`` — the skipped section is dropped;
* ``require`` / ``require-env`` / ``load`` / ``restart`` / ``reconnect`` /
  ``set`` / ``reset`` / ``sleep`` / ``hash-threshold`` — ignored: they gate
  alternative-verification modes / extensions / connection features the
  runner intentionally doesn't model (we verify against live DuckDB);
* ``halt`` — stops the file.

State-builder tolerance: a ``statement ok`` that errors is recorded as
skipped instead of failing the file — the fork's corpus contains broken
builders (e.g. amusjoin/simple_tables_create.test INSERTs into a table
``a`` it never creates; the reference runner itself would fail there), and
the rest of the file remains a valid comparison target.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Record:
    kind: str  # "statement_ok" | "statement_error" | "statement_maybe" | "query"
    sql: str
    types: str = ""
    sortmode: str = ""


@dataclass
class RunResult:
    queries: int = 0  # queries value-checked engine-vs-DuckDB
    statements: int = 0  # state-builder statements applied
    rejects: int = 0  # `statement error` lines BOTH engines rejected —
    # checked error-surface parity (constraints/ files are mostly this)
    skipped_statements: list = field(default_factory=list)
    skipped_queries: list = field(default_factory=list)

    def __iter__(self):  # unpack as (queries, statements)
        return iter((self.queries, self.statements))


REF_DATA = "/root/reference/data"


def localize_paths(sql: str, test_dir: str) -> str:
    """Substitute sqllogictest path conventions: ``__TEST_DIR__`` → a
    scratch dir (per engine in the dual runner so COPY TO outputs don't
    cross-contaminate), and the reference repo's relative ``data/``
    fixture paths → their absolute location."""
    out = sql.replace("__TEST_DIR__", test_dir)
    out = out.replace("'./data/", f"'{REF_DATA}/")
    out = out.replace("'data/", f"'{REF_DATA}/")
    return out


_IGNORED_DIRECTIVES = (
    "require",
    "require-env",
    "load",
    "restart",
    "reconnect",
    "set",
    "reset",
    "sleep",
    "unzip",
    "hash-threshold",
    "skipif",
    "onlyif",
)


def _subst(line: str, var: str, val: str) -> str:
    return line.replace("${" + var + "}", val)


def _expand(lines: list[str]) -> list[str]:
    """Expand loop/foreach blocks and drop mode-skip sections."""

    def block(i: int, stop: tuple[str, ...]) -> tuple[list[str], int]:
        out: list[str] = []
        while i < len(lines):
            s = lines[i].strip()
            tok = s.split()[0] if s else ""
            if tok in stop:
                return out, i
            if tok in ("loop", "concurrentloop"):
                parts = s.split()
                var, lo, hi = parts[1], int(parts[2]), int(parts[3])
                body, i = block(i + 1, ("endloop",))
                i += 1
                for v in range(lo, hi):
                    out.extend(_subst(b, var, str(v)) for b in body)
                continue
            if tok in ("foreach", "concurrentforeach"):
                parts = s.split()
                var, vals = parts[1], parts[2:]
                body, i = block(i + 1, ("endloop",))
                i += 1
                for v in vals:
                    out.extend(_subst(b, var, v) for b in body)
                continue
            if tok == "mode":
                if len(s.split()) > 1 and s.split()[1] == "skip":
                    # drop everything until `mode unskip` (or EOF)
                    i += 1
                    while i < len(lines):
                        t = lines[i].strip().split()
                        if t[:2] == ["mode", "unskip"]:
                            break
                        i += 1
                i += 1
                continue
            out.append(lines[i])
            i += 1
        return out, i

    expanded, _ = block(0, ())
    return expanded


def parse(path: str) -> list[Record]:
    recs: list[Record] = []
    lines = _expand(open(path).read().splitlines())
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        tok = line.split()[0]
        if tok == "halt":
            break
        if tok == "statement":
            if "error" in line:
                kind = "statement_error"
            elif "maybe" in line:
                kind = "statement_maybe"
            else:
                kind = "statement_ok"
            i += 1
            sql_lines = []
            while i < len(lines) and lines[i].strip() not in ("", "----"):
                sql_lines.append(lines[i])
                i += 1
            # skip an expected-error block after ----
            if i < len(lines) and lines[i].strip() == "----":
                i += 1
                while i < len(lines) and lines[i].strip() != "":
                    i += 1
            recs.append(Record(kind, "\n".join(sql_lines)))
        elif tok == "query":
            parts = line.split()
            types = parts[1] if len(parts) > 1 else ""
            sortmode = parts[2] if len(parts) > 2 else ""
            i += 1
            sql_lines = []
            while i < len(lines) and lines[i].strip() != "----" and lines[i].strip() != "":
                sql_lines.append(lines[i])
                i += 1
            if i < len(lines) and lines[i].strip() == "----":
                i += 1
                while i < len(lines) and lines[i].strip() != "":
                    i += 1  # skip expected block (we verify against live DuckDB)
            recs.append(Record("query", "\n".join(sql_lines), types, sortmode))
        elif tok in _IGNORED_DIRECTIVES:
            i += 1
        else:
            i += 1
    return recs


# per-file opt-in (run_file float_6dp=True): 6dp-strip float rendering
# absorbs accumulation-order noise (240.0 vs 240.0000001 — windowed regr)
# and DECIMAL-vs-DOUBLE drift. DEFAULT IS EXACT repr so genuine sub-1e-6
# divergences FAIL the gate corpus-wide; files that need the looser canon
# name themselves in tests/test_slt_corpus.py FLOAT6DP.
_FLOAT_6DP = False


def _canon_float(v: float) -> str:
    if v != v or v in (float("inf"), float("-inf")):
        return f"{v:.6f}"
    if not _FLOAT_6DP:
        s = repr(float(v))
        if s.endswith(".0"):
            s = s[:-2]
        return "0" if s == "-0" else s
    s = f"{v:.6f}"
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


def _canon_val(v) -> str:
    """Engine-neutral value rendering: Spark Rows and DuckDB dicts (STRUCT),
    lists (LIST), and integral decimals (HUGEINT comes back as int from
    duckdb but DECIMAL(38,0) from Spark) must canonicalize identically."""
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return _canon_float(float(v))
    if isinstance(v, float):
        return _canon_float(v)
    if hasattr(v, "asDict"):  # pyspark Row (struct value)
        v = v.asDict()
        # DuckDB's UNNAMED structs (list_zip output) surface as tuples in
        # its Python client; the engine names those fields list_N — render
        # them positionally so both canon forms agree
        if v and all(re.fullmatch(r"list_\d+", k) for k in v):
            return _canon_val(list(v.values()))
    if isinstance(v, dict):
        # duckdb's Python client surfaces MAP as {'key': [...],
        # 'value': [...]}; Spark surfaces it as a plain dict — normalize.
        # Entries render SORTED by key: Spark maps are unordered while
        # DuckDB maps keep insertion order, so raw order isn't comparable.
        if set(v) == {"key", "value"} and isinstance(v.get("key"), list):
            v = dict(zip(v["key"], v["value"]))
        return (
            "{"
            + ", ".join(
                f"{k}: {_canon_val(x)}" for k, x in sorted(v.items(), key=lambda e: str(e[0]))
            )
            + "}"
        )
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_canon_val(x) for x in v) + "]"
    if type(v).__name__ == "VariantVal":  # Spark VARIANT ≡ DuckDB JSON text
        return v.toJson()
    import datetime as _dt

    if isinstance(v, _dt.timedelta):
        # whole-day durations render as the day count: DuckDB types
        # DATE - DATE as BIGINT days where Spark yields INTERVAL DAY —
        # a TYPE divergence, same value
        if v.seconds == 0 and v.microseconds == 0:
            return str(v.days)
        return str(v)
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        # engine convention: TIMESTAMPTZ is the UTC instant (session TZ
        # pinned UTC) — canonicalize tz-aware values to naive UTC so the
        # same instant compares equal across engines
        return str(v.astimezone(_dt.timezone.utc).replace(tzinfo=None))
    if isinstance(v, _dt.time) and v.tzinfo is not None:
        return str(v.replace(tzinfo=None))
    if isinstance(v, (bytes, bytearray)):
        # render BLOBs the way DuckDB's ToString does (printable ASCII
        # verbatim, \xNN otherwise) — str(bytes) would leak the Python
        # b'..' repr, and a duck-VARCHAR vs engine-BINARY type divergence
        # (parquet binary_as_string) must still compare by VALUE
        from myduckdb_spark.functions.udf import blob_render_py

        return blob_render_py(bytes(v))
    return str(v)


def _canon(rows) -> list[str]:
    return sorted("|".join(_canon_val(v) for v in r) for r in rows)


_APPROX_FNS = re.compile(
    r"\b(list_)?approx_(count_distinct|quantile|top_k)\s*\(|\breservoir_quantile\s*\(",
    re.I,
)


def _approx_positions(sql: str) -> list[int] | None:
    """Select-item positions whose expression calls an approx_* function —
    tolerance applies ONLY to those cells. None = positions can't be
    resolved (nested SELECT, ``*`` items), caller falls back to the
    whole-row tolerance."""
    from myduckdb_spark.sql import (
        _code_mask, _code_matches, _depth_profile, _split_args,
    )

    m = re.match(r"\s*SELECT\s+(DISTINCT\s+)?", sql, re.I)
    if not m:
        return None
    mask = _code_mask(sql)
    depths = _depth_profile(sql, mask)
    end = next(
        (f.start() for f in _code_matches(r"\bFROM\b", sql, re.I, mask=mask)
         if depths[f.start()] == 0),
        len(sql),
    )
    try:
        items = _split_args(sql[m.end():end])
    except Exception:
        return None
    if any(re.search(r"(^|\.)\s*\*\s*$", it) for it in items):
        return None  # star expansion shifts positions
    pos = [i for i, it in enumerate(items) if _APPROX_FNS.search(it)]
    return pos or None


def _approx_equal(sql: str, got: list[str], want: list[str],
                  rel: float = 0.05) -> bool:
    """Sketch-backed aggregates (HLL / t-digest) pin ENGINE-SPECIFIC
    estimates — the reference's expected blocks encode ITS sketch's
    output, Spark's HLL++ legitimately differs. Numeric cells within
    ``rel`` relative error count as equal (mirrors the registry's
    error-bound oracle for agg_approx) — but ONLY in the select-item
    positions that actually call an approx_* function when those can be
    resolved; exact columns (counts, group keys) in the same rows keep
    the exact compare. Non-numeric cells always compare exactly."""
    if not _APPROX_FNS.search(sql) or len(got) != len(want):
        return False
    pos = _approx_positions(sql)
    for g, w in zip(got, want):
        gc, wc = g.split("|"), w.split("|")
        if len(gc) != len(wc):
            return False
        lax = set(pos) if pos is not None and max(pos) < len(gc) else None
        for i, (a, b) in enumerate(zip(gc, wc)):
            if a == b:
                continue
            if lax is not None and i not in lax:
                return False
            try:
                fa, fb = float(a), float(b)
            except ValueError:
                return False
            if fa == fb:
                continue
            if abs(fa - fb) > rel * max(abs(fa), abs(fb), 1.0):
                return False
    return True


def _utc_normalize_ltz(spark, df, rows):
    """PySpark collects TIMESTAMP (LTZ) values as session-tz-shifted naive
    datetimes; the canon expects the UTC instant (DuckDB returns tz-aware
    values _canon_val normalizes to UTC). A no-op while the session sits
    at its pinned UTC default — only corpus files that SET TimeZone pay
    the extra collect: LTZ columns are re-read as unix_micros (the exact
    instant, independent of any session/OS timezone conversion) and
    rebuilt as naive-UTC datetimes."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    except Exception:
        return rows
    if tz in ("UTC", "Etc/UTC", "GMT"):
        return rows
    cols = df.columns
    idx = [i for i, (_c, t) in enumerate(df.dtypes) if t == "timestamp"]
    if not idx or len(set(cols)) != len(cols):
        return rows
    import datetime as _dt

    from pyspark.sql import functions as F

    sel = [
        F.unix_micros(F.col(f"`{c}`")).alias(c) if i in idx
        else F.col(f"`{c}`")
        for i, c in enumerate(cols)
    ]
    epoch = _dt.datetime(1970, 1, 1)
    out = []
    for r in df.select(*sel).collect():
        r = list(r)
        for i in idx:
            if r[i] is not None:
                r[i] = epoch + _dt.timedelta(microseconds=r[i])
        out.append(tuple(r))
    return out


def _split_type_args(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _variantize_expr(col: str, ducktype: str, nested: bool = False) -> str:
    """SQL expr restoring DuckDB JSON-typed subcolumns NESTED IN STRUCTS
    as Spark VARIANT after an Arrow snapshot (Arrow ships JSON as utf8;
    the engine's JSON carrier is VARIANT —
    myduckdb_spark/functions/typenames.py). Top-level JSON columns stay
    text: VARIANT normalizes (sorts) object keys, and json_* functions
    over a bare JSON column are key-order-sensitive (DuckDB preserves
    insertion order); only the struct-nested case needs the typed carrier
    (typeof renders the struct shape)."""
    t = ducktype.strip()
    up = t.upper()
    if up == "JSON":
        return f"parse_json({col})" if nested else col
    if t.endswith("[]"):
        inner = _variantize_expr("x", t[:-2], nested)
        return col if inner == "x" else f"transform({col}, x -> {inner})"
    if up.startswith("STRUCT(") and t.endswith(")"):
        parts, changed = [], False
        for f in _split_type_args(t[7:-1]):
            m = re.match(r'\s*(?:"([^"]+)"|(\w+))\s+(.*)$', f)
            if not m:
                return col
            name = m.group(1) or m.group(2)
            sub = _variantize_expr(f"{col}.`{name}`", m.group(3), nested=True)
            changed = changed or sub != f"{col}.`{name}`"
            parts.append(f"'{name}', {sub}")
        if not changed:
            return col
        ns = "named_struct(" + ", ".join(parts) + ")"
        return f"CASE WHEN {col} IS NULL THEN NULL ELSE {ns} END"
    if up.startswith("MAP(") and t.endswith(")"):
        kv = _split_type_args(t[4:-1])
        if len(kv) == 2:
            ve = _variantize_expr("v", kv[1], nested)
            if ve != "v":
                return f"transform_values({col}, (k, v) -> {ve})"
    return col


def _restore_json_types(df, con, table: str):
    """Re-project a snapshotted Spark frame so DuckDB JSON columns become
    VARIANT (typeof parity: VARIANT renders as JSON)."""
    try:
        desc = con.execute(f'DESCRIBE "{table}"').fetchall()
    except Exception:
        return df
    exprs, changed = [], False
    names = set(df.columns)
    for row in desc:
        name, dtype = row[0], row[1]
        if name not in names:
            return df
        e = _variantize_expr(f"`{name}`", dtype or "")
        changed = changed or e != f"`{name}`"
        exprs.append(f"{e} AS `{name}`")
    if not changed or len(exprs) != len(df.columns):
        return df
    return df.selectExpr(*exprs)


def _snapshot(spark, con) -> None:
    """Mirror DuckDB's tables AND views into Spark temp views (Arrow
    transfer preserves schema even for empty relations)."""
    names = [
        (r[0], r[1])
        for r in con.execute(
            "SELECT table_schema, table_name FROM information_schema.tables"
        ).fetchall()
    ]
    import pyarrow as pa

    # Spark has no unsigned ints (SURVEY §1.2): widen U{TINY,SMALL,}INT
    # before the Arrow handoff, UBIGINT via decimal
    _WIDEN = {
        pa.uint8(): pa.int16(), pa.uint16(): pa.int32(),
        pa.uint32(): pa.int64(), pa.uint64(): pa.decimal128(20, 0),
    }
    for sch, t in names:
        view = t if sch == "main" else f"{sch}__{t}"
        tbl = con.execute(f'SELECT * FROM "{sch}"."{t}"').arrow()
        tbl = _clamp_infinite_temporals(tbl)
        if any(f.type in _WIDEN for f in tbl.schema):
            tbl = tbl.cast(
                pa.schema(
                    [
                        pa.field(f.name, _WIDEN.get(f.type, f.type), f.nullable)
                        for f in tbl.schema
                    ]
                )
            )
        # pass the Arrow table straight through (Spark 4 accepts it):
        # round-tripping via pandas would turn INT-with-NULL into float64
        df = _restore_json_types(
            spark.createDataFrame(tbl), con, f'{sch}"."{t}'
        )
        df.createOrReplaceTempView(view)
    # mirror catalog STATE (schemas, declared column types, constraint
    # structure, view SQL) into the engine's catalog-metadata registry —
    # the engine computes information_schema rows from it itself (same
    # state-mirroring pattern as the collation registry below)
    from myduckdb_spark import infoschema as _ischema

    try:
        _ischema.mirror_duckdb(con)
    except Exception:
        _ischema.reset()
    # carry column-level collations (s VARCHAR COLLATE NOCASE) into the
    # front door's registry — the mirrored Spark view loses the metadata
    from myduckdb_spark.sql import _COLUMN_COLLATIONS, _parse_column_defs

    _COLUMN_COLLATIONS.clear()
    for t, ddl in con.execute(
        "SELECT table_name, sql FROM duckdb_tables()"
    ).fetchall():
        if not ddl or "COLLATE" not in ddl.upper():
            continue
        body = ddl[ddl.index("(") + 1 : ddl.rindex(")")]
        try:
            _c, _k, _u, colls, _dd, _x = _parse_column_defs(body)
        except Exception:
            continue
        if colls:
            _COLUMN_COLLATIONS[t.lower()] = colls


def run_file(spark, path: str, con=None, strict: bool = False, max_queries: int | None = None,
             skip_substrings: tuple[str, ...] = (), float_6dp: bool = False):
    """Run one .test file; returns RunResult (unpacks as (queries, statements)).

    Raises AssertionError on any engine-vs-DuckDB VALUE mismatch. With
    ``strict=False`` (default), statements or queries the harness can't
    execute (broken fork builders, unsupported dialect, missing extensions)
    are recorded in skipped_* rather than failing — a mismatch is a bug, a
    skip is a coverage note. ``skip_substrings`` marks DOCUMENTED engine
    gaps (e.g. BC-era date rendering): queries containing one are recorded
    as skipped, never compared — the corpus floor still counts the rest.
    ``float_6dp`` opts THIS file into the 6dp-strip float canon (see
    _FLOAT_6DP) for accumulation-order noise; the default is exact repr.
    """
    import duckdb

    from myduckdb_spark.sql import sql as engine_sql

    global _FLOAT_6DP
    _FLOAT_6DP = bool(float_6dp)
    con = con if con is not None else duckdb.connect()
    res = RunResult()
    dirty = True
    from myduckdb_spark.sql import _SET_STMT, SETTINGS

    SETTINGS["default_null_order"] = "nulls_last"  # fresh-connection default
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    import tempfile

    test_dir = tempfile.mkdtemp(prefix="slt_")
    for rec in parse(path):
        rec.sql = localize_paths(rec.sql, test_dir)
        if not rec.sql.strip():
            continue
        if rec.kind in ("statement_ok", "statement_maybe"):
            if re.match(r"\s*PRAGMA", rec.sql, re.I):
                continue  # engine pragmas (enable_verification) are no-ops here
            sm = _SET_STMT.match(rec.sql)
            if sm and sm.group(1).lower() in ("default_null_order", "default_order"):
                # semantic session settings apply to BOTH engines
                SETTINGS[sm.group(1).lower()] = sm.group(2).strip("'\"").lower()
            tm = re.match(
                r"^\s*SET\s+TimeZone\s*=\s*'([^']+)'\s*;?\s*$", rec.sql, re.I
            )
            if tm:  # instant literals / NTZ<->LTZ casts follow it
                try:
                    spark.conf.set("spark.sql.session.timeZone", tm.group(1))
                except Exception:
                    pass
            try:
                con.execute(rec.sql)
                res.statements += 1
                dirty = True
            except Exception as e:
                if rec.kind == "statement_maybe":
                    continue
                if strict:
                    raise
                res.skipped_statements.append((rec.sql, str(e)))
        elif rec.kind == "statement_error":
            try:
                # force execution: con.sql() is lazy for SELECTs, so runtime
                # errors (division by zero) only surface on fetch
                con.execute(rec.sql).fetchall()
            except Exception:
                continue
            # live DuckDB accepts what the fork's (older) engine rejected —
            # version drift, not an engine bug of ours (our comparison
            # target is live DuckDB). Note it and move on.
            res.skipped_statements.append((rec.sql, "expected error; live DuckDB succeeds"))
            dirty = True
        else:  # query
            if max_queries is not None and res.queries >= max_queries:
                break
            # plan/metadata output isn't value-comparable across engines
            if re.match(r"\s*(EXPLAIN|PRAGMA)\b", rec.sql, re.I):
                res.skipped_queries.append((rec.sql, "plan/metadata query"))
                continue
            if any(sub in rec.sql for sub in skip_substrings):
                res.skipped_queries.append((rec.sql, "documented engine gap"))
                continue
            # a few fork files mislabel DDL/DML as `query` blocks — apply
            # them as state, never feed them to the Spark catalog
            if re.match(
                r"\s*(CREATE|INSERT|UPDATE|DELETE|DROP|ALTER|SET|ATTACH|COPY|BEGIN|COMMIT|ROLLBACK)\b",
                rec.sql,
                re.I,
            ):
                try:
                    con.execute(rec.sql)
                    res.statements += 1
                    dirty = True
                except Exception as e:
                    res.skipped_statements.append((rec.sql, str(e)))
                continue
            # `WITH ... INSERT/UPDATE/DELETE` (DML behind a CTE) — the
            # prefix regex above misses it; execute as state, never compare
            if re.search(r"\b(INSERT|UPDATE|DELETE|CREATE|DROP|ALTER)\b", rec.sql, re.I) and re.match(
                r"\s*(WITH|FROM)\b", rec.sql, re.I
            ):
                try:
                    con.execute(rec.sql)
                    res.statements += 1
                    dirty = True
                except Exception as e:
                    res.skipped_statements.append((rec.sql, str(e)))
                continue
            try:
                cur = con.execute(rec.sql)
                if cur.description is None:  # statement, not a result set
                    res.statements += 1
                    dirty = True
                    continue
                duck_cols = [d[0] for d in cur.description]
                want = _canon(cur.fetchall())
            except Exception as e:
                res.skipped_queries.append((rec.sql, f"duckdb: {e}"))
                continue
            if dirty:
                try:
                    _snapshot(spark, con)
                except Exception as e:
                    if strict:
                        raise
                    res.skipped_queries.append((rec.sql, f"snapshot: {e}"))
                    continue
                dirty = False
            try:
                df = engine_sql(spark, rec.sql)
                # engines order e.g. NATURAL JOIN output columns differently
                # (Spark hoists join keys first); align by name when
                # unambiguous so the row canon compares value-for-value
                low = {c.lower(): c for c in df.columns}
                if (
                    len(df.columns) == len(duck_cols)
                    and len(set(c.lower() for c in duck_cols)) == len(duck_cols)
                    and all(c.lower() in low for c in duck_cols)
                ):
                    df = df.select([low[c.lower()] for c in duck_cols])
                got = _canon(
                    _utc_normalize_ltz(
                        spark, df, [tuple(r) for r in df.collect()]
                    )
                )
            except Exception as e:
                if strict:
                    raise
                res.skipped_queries.append((rec.sql, f"engine: {e}"))
                continue
            assert got == want or _approx_equal(rec.sql, got, want), (
                f"mismatch for {rec.sql!r}:\n spark={got[:5]}\n duck={want[:5]}"
            )
            res.queries += 1
    import shutil

    shutil.rmtree(test_dir, ignore_errors=True)
    return res


# ---------------------------------------------------------------------------
# Dual-state DML runner: the reference's insert/update/delete/upsert test
# dirs exercise STORAGE, so unlike run_file (state lives in DuckDB only,
# snapshotted into Spark views) every statement here runs through BOTH
# engines — ours via the storage front door (sql.py's statement table over
# storage.ManagedTable) and DuckDB — and every query compares each
# engine's OWN state. When the engines diverge on a statement (e.g.
# BEGIN/ROLLBACK: transactions are declared out of scope), the engine
# state is rebuilt from DuckDB's tables so the remaining comparisons stay
# honest; the resync is recorded, never silent.
# ---------------------------------------------------------------------------


def _clamp_infinite_temporals(tbl):
    """DuckDB encodes ±infinity TIMESTAMP/DATE as the int64/int32 range
    extremes — Spark can't hold year ±294247, and the engine pins
    infinity at the µs-range ends (0001-01-01 / 9999-12-31…999999, the
    same values DuckDB's own Python fetch caps at). Clamp during the
    resync mirror so both representations agree."""
    import pyarrow as pa
    import pyarrow.compute as pc

    TS_HI, TS_LO = 253402300799999999, -62135596800000000  # µs
    D_HI, D_LO = 2932896, -719162  # days
    _UNIT = {"s": 10**-6, "ms": 10**-3, "us": 1, "ns": 10**3}
    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type):
            ints = tbl.column(i).cast(pa.int64())
            m = _UNIT.get(f.type.unit, 1)
            i64 = (1 << 63) - 1
            lo = pa.scalar(max(int(TS_LO * m), -i64))
            hi = pa.scalar(min(int(TS_HI * m), i64))
        elif pa.types.is_date32(f.type):
            ints = tbl.column(i).cast(pa.int32())
            lo, hi = pa.scalar(D_LO, pa.int32()), pa.scalar(D_HI, pa.int32())
        else:
            continue
        # skip_nulls=False: min/max_element_wise otherwise REPLACES nulls
        # with the clamp bound
        clamped = pc.min_element_wise(
            pc.max_element_wise(ints, lo, skip_nulls=False),
            hi, skip_nulls=False,
        )
        tbl = tbl.set_column(i, f, clamped.cast(f.type))
    return tbl


def _resync_from_duck(spark, con) -> None:
    from myduckdb_spark.sql import reset_dml_state
    from myduckdb_spark.sql import sql as engine_sql

    reset_dml_state(spark)
    try:
        names = [
            r[0]
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_schema = 'main' AND table_type = 'BASE TABLE'"
            ).fetchall()
        ]
    except Exception:
        # DuckDB sits in an aborted transaction — clear it and retry
        con.execute("ROLLBACK")
        names = [
            r[0]
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_schema = 'main' AND table_type = 'BASE TABLE'"
            ).fetchall()
        ]
    import pyarrow as pa

    _WIDEN = {
        pa.uint8(): pa.int16(), pa.uint16(): pa.int32(),
        pa.uint32(): pa.int64(), pa.uint64(): pa.decimal128(20, 0),
    }
    for t in names:
        try:
            tbl = con.execute(f'SELECT * FROM "{t}"').arrow()
            tbl = _clamp_infinite_temporals(tbl)
            if any(f.type in _WIDEN for f in tbl.schema):
                tbl = tbl.cast(
                    pa.schema(
                        [
                            pa.field(f.name, _WIDEN.get(f.type, f.type), f.nullable)
                            for f in tbl.schema
                        ]
                    )
                )
            _restore_json_types(
                spark.createDataFrame(tbl), con, t
            ).createOrReplaceTempView(f"__sync_{t}")
            engine_sql(
                spark, f'CREATE OR REPLACE TABLE {t} AS SELECT * FROM __sync_{t}'
            )
        except Exception:
            # a table whose type Spark can't mirror (e.g. Arrow TIME) —
            # leave it missing on the engine side; queries touching it
            # will fail and be recorded as skips, never wrong values
            continue
    # carry the arbiter constraints across the resync so later ON
    # CONFLICT / constraint-check statements keep their semantics
    try:
        cons = con.execute(
            "SELECT table_name, constraint_type, constraint_column_names "
            "FROM duckdb_constraints() WHERE constraint_type IN ('PRIMARY KEY', 'UNIQUE')"
        ).fetchall()
    except Exception:
        cons = []
    from myduckdb_spark.sql import _MANAGED

    for tname, ctype, ccols in cons:
        if tname in _MANAGED and ccols:
            if ctype == "PRIMARY KEY":
                _MANAGED[tname].set_key(list(ccols))
            else:
                _MANAGED[tname].add_unique(list(ccols))
    # carry column DEFAULTs too (a resynced CTAS loses them; later
    # INSERT (cols) statements must still fill defaulted columns)
    try:
        drows = con.execute(
            "SELECT table_name, column_name, column_default "
            "FROM information_schema.columns "
            "WHERE table_schema = 'main' AND column_default IS NOT NULL"
        ).fetchall()
    except Exception:
        drows = []
    by_tbl: dict = {}
    for tname, cname, dexpr in drows:
        by_tbl.setdefault(tname, {})[cname.lower()] = dexpr
    for tname, dfl in by_tbl.items():
        if tname in _MANAGED:
            _MANAGED[tname].set_defaults(dfl)
    # carry declared duck type names (UUID, unsigned, JSON…) — the
    # resync CTAS registers the Spark CARRIER types, which would break
    # typeof()/ingest-normalization binds against the registry
    try:
        from myduckdb_spark import infoschema as ischema
        from myduckdb_spark.functions.typenames import ERASED

        trows = con.execute(
            "SELECT table_name, column_name, data_type "
            "FROM information_schema.columns WHERE table_schema = 'main'"
        ).fetchall()
        for tname, cname, dt in trows:
            if dt.upper() not in ERASED:
                continue
            for c in ischema.COLUMN_META.get(tname.lower(), []):
                if c["name"].lower() == cname.lower():
                    c["dtype"] = dt.upper()
    except Exception:
        pass


def run_file_dual(
    spark, path: str, con=None, max_queries: int | None = None,
    collect_mismatches: bool = False,
    skip_substrings: tuple[str, ...] = (),
    float_6dp: bool = False,
):
    """Run one DML .test file with parallel engine/DuckDB state.

    Counts: res.queries = value-checked SELECTs, res.statements = DML/DDL
    applied by BOTH engines. Raises AssertionError on a value mismatch
    (unless collect_mismatches, for sweep triage — then mismatches land in
    res.mismatches)."""
    import duckdb

    from myduckdb_spark.sql import reset_dml_state
    from myduckdb_spark.sql import sql as engine_sql

    global _FLOAT_6DP
    _FLOAT_6DP = bool(float_6dp)
    con = con if con is not None else duckdb.connect()
    res = RunResult()
    res.mismatches = []
    res.resyncs = 0
    reset_dml_state(spark)
    from myduckdb_spark.sql import SETTINGS

    SETTINGS["default_null_order"] = "nulls_last"  # fresh-connection default

    import os as _os
    import tempfile

    _td = tempfile.mkdtemp(prefix="sltd_")
    _duck_dir = _os.path.join(_td, "duck")
    _spark_dir = _os.path.join(_td, "spark")
    _os.makedirs(_duck_dir, exist_ok=True)
    _os.makedirs(_spark_dir, exist_ok=True)

    def duck_try(sql: str):
        try:
            cur = con.execute(localize_paths(sql, _duck_dir))
            return cur, None
        except Exception as e:
            return None, e

    def engine_try(sql: str):
        try:
            df = engine_sql(spark, localize_paths(sql, _spark_dir))
            rows = df.collect() if df is not None else []
            if df is not None and rows:
                rows = _utc_normalize_ltz(spark, df, rows)
            return (df, rows), None
        except Exception as e:
            return None, e

    def resync(sql: str, note: str) -> None:
        res.resyncs += 1
        res.skipped_statements.append((sql, note + " [resynced]"))
        _resync_from_duck(spark, con)

    for rec in parse(path):
        sql = rec.sql
        if not sql.strip():
            continue
        if any(sub in sql for sub in skip_substrings):
            # documented gap / native-crasher fence: never runs on EITHER
            # engine (some fenced statements segfault live DuckDB itself)
            (res.skipped_queries if rec.kind == "query"
             else res.skipped_statements).append((sql, "documented gap"))
            continue
        if re.match(r"\s*PRAGMA", sql, re.I):
            continue
        if rec.kind in ("statement_ok", "statement_maybe"):
            _, derr = duck_try(sql)
            if derr is not None and "transaction is aborted" in str(derr).lower():
                # DuckDB no-ops every statement until ROLLBACK; mirroring
                # means NOT running it on the engine either
                res.skipped_statements.append((sql, "duckdb transaction aborted (statement not applied)"))
                continue
            if derr is None and re.search(
                # uuid() / gen_random_uuid() take no arguments — a bare
                # `uuid (` also appears as a TABLE NAME in column-def
                # position (parquet_write_uuid.test), so require ()
                r"\b(random|setseed)\s*\(|\b(uuid|gen_random_uuid)\s*\(\s*\)",
                sql, re.I
            ) and re.match(
                r"\s*(CREATE|INSERT|UPDATE)\b", sql, re.I
            ):
                # nondeterministic state builder: the two engines would
                # legitimately diverge — mirror DuckDB's materialized rows
                resync(sql, "nondeterministic builder (random/uuid)")
                continue
            _, eerr = engine_try(sql)
            if derr is None and eerr is None:
                res.statements += 1
            elif derr is None:
                resync(sql, f"engine: {eerr}".split("\n")[0][:200])
            elif eerr is None:
                resync(sql, f"duckdb rejected, engine applied: {derr}")
            elif rec.kind == "statement_ok":
                res.skipped_statements.append((sql, f"both engines rejected: {derr}"))
        elif rec.kind == "statement_error":
            dcur, derr = duck_try(sql)
            if derr is None and dcur is not None:
                try:
                    dcur.fetchall()  # force lazy runtime errors
                except Exception as e:
                    derr = e
            if derr is not None and "transaction is aborted" in str(derr).lower():
                res.statements += 1  # expected error; engine must not run it
                continue
            _, eerr = engine_try(sql)
            if derr is not None and eerr is not None:
                res.statements += 1  # both reject — parity
                res.rejects += 1
            elif derr is not None:
                resync(sql, "expected error: duckdb rejected, engine applied")
            elif eerr is not None:
                # live DuckDB accepts (version drift) but engine rejected
                resync(sql, f"expected error: live duckdb accepts, engine: {eerr}")
            else:
                res.statements += 1  # both accept (version drift, in sync)
        else:  # query
            if max_queries is not None and res.queries >= max_queries:
                break
            if re.match(r"\s*(EXPLAIN|PRAGMA)\b", sql, re.I):
                res.skipped_queries.append((sql, "plan/metadata query"))
                continue
            if re.match(
                r"\s*(CREATE|INSERT|UPDATE|DELETE|DROP|ALTER|SET|ATTACH|COPY|BEGIN|COMMIT|ROLLBACK)\b",
                sql, re.I,
            ) or (
                re.search(r"\b(INSERT|UPDATE|DELETE|CREATE|DROP|ALTER)\b", sql, re.I)
                and re.match(r"\s*(WITH|FROM)\b", sql, re.I)
            ):
                # DML mislabeled as `query` (returns a Count) — run as state
                _, derr = duck_try(sql)
                _, eerr = engine_try(sql)
                if derr is None and eerr is None:
                    res.statements += 1
                elif derr is None:
                    resync(sql, f"engine: {eerr}".split("\n")[0][:200])
                elif eerr is None:
                    resync(sql, f"duckdb rejected, engine applied: {derr}")
                continue
            try:
                cur = con.execute(localize_paths(sql, _duck_dir))
                if cur.description is None:
                    res.statements += 1
                    continue
                duck_cols = [d[0] for d in cur.description]
                want = _canon(cur.fetchall())
            except Exception as e:
                res.skipped_queries.append((sql, f"duckdb: {e}"))
                continue
            eres, eerr = engine_try(sql)
            if eerr is not None:
                res.skipped_queries.append((sql, f"engine: {eerr}"))
                continue
            df, rows = eres
            low = {c.lower(): c for c in df.columns}
            if (
                len(df.columns) == len(duck_cols)
                and len(set(c.lower() for c in duck_cols)) == len(duck_cols)
                and all(c.lower() in low for c in duck_cols)
            ):
                idx = [df.columns.index(low[c.lower()]) for c in duck_cols]
                rows = [tuple(r[i] for i in idx) for r in rows]
            else:
                rows = [tuple(r) for r in rows]
            got = _canon(rows)
            if got != want and not _approx_equal(sql, got, want):
                if collect_mismatches:
                    res.mismatches.append((sql[:300], got[:3], want[:3]))
                    continue
                raise AssertionError(
                    f"mismatch for {sql!r}:\n spark={got[:5]}\n duck={want[:5]}"
                )
            res.queries += 1
    import shutil

    shutil.rmtree(_td, ignore_errors=True)
    return res

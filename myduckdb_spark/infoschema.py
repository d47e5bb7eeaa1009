"""Catalog-introspection state: information_schema views + CREATE SCHEMA.

Reference: src/catalog/default/default_views.cpp (the information_schema
view definitions), duckdb_constraints()/duckdb_views() table functions,
and Postgres-compatible constraint naming (<table>_<cols>_pkey/_key/
_check/_fkey).

Every surface that lists columns (DESCRIBE, SHOW ALL TABLES, PRAGMA
table_info, information_schema.columns, duckdb_columns(), pg_description,
EXPORT DATABASE) renders ``column_records``, which reads each column fact
from the one store that owns it, as the reference reads one catalog entry
per table (duck_table_entry.cpp):

* column set, order and storage type: the live Spark schema
  (``ManagedTable.scan()`` or ``spark.table``);
* declared DuckDB type name: ``COLUMN_META`` (``declare``) — the catalog
  remembers what the user wrote where the Spark carrier erases it
  (HUGEINT stored as DECIMAL(38,0) still reports HUGEINT);
* NOT NULL: ``CONSTRAINTS`` plus the table's primary key;
* DEFAULT and PRI/UNI: the ManagedTable manifest (``defaults``,
  ``key()``/``keys()``).

``COLUMN_META`` rows are the whole record only for objects the engine
does not store: a view's CREATE-time snapshot, a file scan's footer
types, and DuckDB state the sqllogictest harness mirrors per file
(``mirror_duckdb``, tools/slt.py). The engine then computes every
information_schema row itself (schema membership, constraint names,
usage expansion).

At scale this surface is driver-side metadata only — no executor work.
"""

from __future__ import annotations

import re

from myduckdb_spark.functions import typenames

# user-created schemas (beyond the main/information_schema/pg_catalog
# baseline) in catalog 'memory': name -> oid. Oids are assigned once at
# creation and never reused (pg_namespace.test: an entry's oid must not
# change as later schemas arrive); iteration treats this as a name set.
SCHEMAS: dict[str, int] = {}
_NEXT_OID = [2000]


def create_schema(name: str) -> int:
    if name not in SCHEMAS:
        SCHEMAS[name] = _NEXT_OID[0]
        _NEXT_OID[0] += 1
    return SCHEMAS[name]

# lowercase object key -> row metadata. ``key`` is the engine view name
# (schema-qualified duck tables mirror as `<schema>__<table>`).
# {catalog, schema, name, type}  type: BASE TABLE | VIEW | LOCAL TEMPORARY
TABLE_META: dict[str, dict] = {}

# lowercase object key -> column rows with dtype spelled in duck type
# names: [{name, dtype}] declared names of an engine-stored table, or the
# whole [{name, ordinal, dtype, prec, scale, nullable, default}] record of
# an object the engine does not store
COLUMN_META: dict[str, list[dict]] = {}

# [{catalog, schema, table, ctype, text, columns}]
# ctype: PRIMARY KEY | UNIQUE | CHECK | FOREIGN KEY | NOT NULL
CONSTRAINTS: list[dict] = []

# lowercase object key -> CREATE VIEW sql text
VIEW_SQL: dict[str, str] = {}

# COMMENT ON registry (reference src/parser/statement/
# comment_on_statement; surfaced in the duckdb_*() catalog TVFs):
# (kind, lowered key) -> comment text (None = reverted to NULL).
# kind: table | column (key "tbl.col") | view | index | sequence |
#       type | macro | function
COMMENTS: dict[tuple, str | None] = {}

# CREATE INDEX registry (duckdb_indexes()): lowered index name ->
# {table, columns, unique}
INDEXES: dict[str, dict] = {}

# CREATE TYPE alias registry (duckdb_types()): lowered name -> base duck
# type text (e.g. "INT32"); translate() rewrites ::name casts to it
TYPE_ALIASES: dict[str, str] = {}

_BASE_SCHEMAS = ("information_schema", "main", "pg_catalog")
_BASE_CATALOGS = ("memory", "system", "temp")

def reset() -> None:
    SCHEMAS.clear()
    TABLE_META.clear()
    COLUMN_META.clear()
    CONSTRAINTS.clear()
    VIEW_SQL.clear()
    COMMENTS.clear()
    INDEXES.clear()
    TYPE_ALIASES.clear()


def constraint_name(table: str, ctype: str, columns: list[str],
                    text: str) -> str:
    """DuckDB's Postgres-style generated constraint names, matching the
    live-DuckDB-1.x oracle the corpus compares against:
    <table>_<cols>_pkey / _key / _check / _not_null / _fkey."""
    cols = "_".join(columns)
    if ctype == "PRIMARY KEY":
        # multi-column keys drop the column list (live: multi_pkey)
        return f"{table}_{cols}_pkey" if len(columns) == 1 else f"{table}_pkey"
    if ctype == "UNIQUE":
        return f"{table}_{cols}_key" if len(columns) == 1 else f"{table}_key"
    if ctype == "CHECK":
        return (f"{table}_{cols}_check" if len(columns) == 1
                else f"{table}_check")
    if ctype == "NOT NULL":
        return f"{table}_{cols}_not_null"
    if ctype == "FOREIGN KEY":
        return (f"{table}_{cols}_fkey" if len(columns) == 1
                else f"{table}_fkey")
    return f"{table}_{cols}_{ctype.lower().replace(' ', '_')}"


def _kcu_name(table: str, ctype: str, columns: list[str]) -> str:
    """key_column_usage renders multi-column keys under a FIRST-COLUMN
    name (live oracle: UNIQUE(a1,a2) on `a` appears as `a_a1_key`) —
    inconsistent with table_constraints' column-less `a_key`, but it is
    what the corpus compares against."""
    return constraint_name(table, ctype, columns[:1], "")


def _fk_referenced(c: dict) -> tuple[str, list[str]] | None:
    """(referenced_table, referenced_columns) parsed from a FOREIGN KEY
    constraint_text; columns empty when the short REFERENCES t form
    names no column list (then the target's PRIMARY KEY applies)."""
    m = re.search(
        r"REFERENCES\s+\"?([\w.]+)\"?\s*(?:\(([^)]*)\))?", c["text"], re.I
    )
    if not m:
        return None
    tbl = m.group(1).split(".")[-1]
    cols = [x.strip().strip('"') for x in m.group(2).split(",")] \
        if m.group(2) else []
    return tbl, cols


def _unique_constraint_for(ref_tbl: str, ref_cols: list[str]):
    """The PRIMARY KEY / UNIQUE constraint a foreign key points at."""
    low = [c.lower() for c in ref_cols]
    for c in CONSTRAINTS:
        if c["table"].lower() != ref_tbl.lower():
            continue
        if c["ctype"] == "PRIMARY KEY" and (
            not low or [x.lower() for x in c["columns"]] == low
        ):
            return c
        if c["ctype"] == "UNIQUE" and low and \
                [x.lower() for x in c["columns"]] == low:
            return c
    return None


def register_table(key: str, catalog: str, schema: str, name: str,
                   ttype: str) -> None:
    TABLE_META[key.lower()] = {
        "catalog": catalog, "schema": schema, "name": name, "type": ttype,
    }


def register_columns(key: str, cols: list[dict]) -> None:
    COLUMN_META[key.lower()] = cols


def column_row(name: str, ordinal: int, dtype: str,
               nullable: bool = True, default=None) -> dict:
    """Build one column-metadata record from a DuckDB type name in any
    spelling DuckDB accepts (``INT`` and ``STRING`` record as ``INTEGER``
    and ``VARCHAR``)."""
    dt = typenames.canonical(dtype)
    p, s = typenames.numeric_precision(dt)
    return {
        "name": name, "ordinal": ordinal, "dtype": dt, "prec": p,
        "scale": s, "nullable": nullable, "default": default,
    }


def declare(key: str, cols: list[tuple[str, str]]) -> None:
    """Record the declared DuckDB types of (name, type) columns of the
    engine-stored table ``key`` (CREATE TABLE, ADD COLUMN, ALTER TYPE);
    the rest of each record is read where it is owned (column_records)."""
    names = {n.lower() for n, _t in cols}
    rows = [r for r in COLUMN_META.get(key.lower(), [])
            if r["name"].lower() not in names]
    COLUMN_META[key.lower()] = rows + [
        {"name": n, "dtype": typenames.canonical(t)} for n, t in cols
    ]


def declared_types(key: str) -> dict[str, str]:
    """Lowercase column name -> declared DuckDB type of object ``key``."""
    return {r["name"].lower(): r["dtype"] for r in COLUMN_META.get(key.lower(), [])}


def constraints_of(key: str) -> list[dict]:
    m = TABLE_META.get(key.lower())
    schema, bare = (m["schema"], m["name"]) if m else ("main", key)
    return [c for c in CONSTRAINTS if c["schema"] == schema and c["table"] == bare]


def not_null(key: str) -> set[str]:
    """Lowercase names of the columns a NOT NULL constraint covers."""
    return {c["columns"][0].lower() for c in constraints_of(key)
            if c["ctype"] == "NOT NULL" and c["columns"]}


def column_records(key: str, fields=None, table=None) -> list[dict]:
    """Column records of catalog object ``key``: {name, ordinal, dtype,
    prec, scale, nullable, default, key (PRI/UNI/None)}, what every
    introspection surface renders. ``fields`` is the object's live Spark
    schema, None for an object the engine does not store (its registry
    rows are the whole record); ``table`` is the ManagedTable that stores
    it, owning defaults and keys (a table's nullability is its
    constraints, not its Spark carrier's). PRI/UNI of an object no
    ManagedTable stores come from its registered constraints."""
    if table is not None:
        pk = set(table.key() or [])
        uni = {c for ks in table.keys() for c in ks}
    else:
        cons = constraints_of(key)
        pk = {x for c in cons if c["ctype"] == "PRIMARY KEY" for x in c["columns"]}
        uni = {x for c in cons if c["ctype"] == "UNIQUE" for x in c["columns"]}

    def key_of(name: str) -> str | None:
        return "PRI" if name in pk else "UNI" if name in uni else None

    if fields is None:
        return [{**r, "key": key_of(r["name"])} for r in COLUMN_META.get(key.lower(), [])]
    declared = declared_types(key)
    dflt = table.defaults if table else {}
    nn = not_null(key)
    out = []
    for i, f in enumerate(fields, 1):
        low = f.name.lower()
        r = column_row(
            f.name, i,
            typenames.column_type(declared.get(low), f.dataType.simpleString()),
            nullable=(table is not None or f.nullable)
            and f.name not in pk and low not in nn,
            default=dflt.get(low),
        )
        r["key"] = key_of(f.name)
        out.append(r)
    return out


def rename_column(key: str, old: str, new: str) -> None:
    """RENAME COLUMN: the declared type, constraint columns and comment
    follow the column (duckdb_table_entry.cpp RenameColumn)."""
    for r in COLUMN_META.get(key.lower(), []):
        if r["name"].lower() == old.lower():
            r["name"] = new
    for c in constraints_of(key):
        c["columns"] = [new if x.lower() == old.lower() else x for x in c["columns"]]
        if c["ctype"] in ("PRIMARY KEY", "UNIQUE"):
            c["text"] = f"{c['ctype']}({', '.join(c['columns'])})"
    ck = ("column", f"{key.lower()}.{old.lower()}")
    if ck in COMMENTS:
        COMMENTS[("column", f"{key.lower()}.{new.lower()}")] = COMMENTS.pop(ck)


def add_constraint(key: str, ctype: str, columns: list[str],
                   text: str | None = None) -> None:
    """Record a constraint of object ``key``; PRIMARY KEY / UNIQUE / NOT
    NULL spell their own text."""
    m = TABLE_META.get(key.lower(), {})
    CONSTRAINTS.append({
        "catalog": m.get("catalog", "memory"), "schema": m.get("schema", "main"),
        "table": m.get("name", key), "ctype": ctype, "columns": columns,
        "text": text or (ctype if ctype == "NOT NULL"
                         else f"{ctype}({', '.join(columns)})"),
    })


def set_not_null(key: str, col: str, on: bool) -> None:
    """ALTER COLUMN SET / DROP NOT NULL."""
    drop = [c for c in constraints_of(key) if c["ctype"] == "NOT NULL"
            and [x.lower() for x in c["columns"]] == [col.lower()]]
    CONSTRAINTS[:] = [c for c in CONSTRAINTS if c not in drop]
    if on:
        add_constraint(key, "NOT NULL", [col])


def drop_column(key: str, col: str) -> None:
    """DROP COLUMN: the column's declared type, NOT NULL constraint and
    comment go with it."""
    COLUMN_META[key.lower()] = [r for r in COLUMN_META.get(key.lower(), [])
                                if r["name"].lower() != col.lower()]
    set_not_null(key, col, False)
    COMMENTS.pop(("column", f"{key.lower()}.{col.lower()}"), None)


def rename_object(old: str, new: str) -> None:
    """ALTER TABLE RENAME TO: the registry rows of ``old`` move to ``new``."""
    o, n = old.lower(), new.lower()
    for c in constraints_of(old):
        c["table"] = new
    if o in TABLE_META:
        TABLE_META[n] = {**TABLE_META.pop(o), "name": new}
    if o in COLUMN_META:
        COLUMN_META[n] = COLUMN_META.pop(o)
    for k, kk in list(COMMENTS):
        if k == "table" and kk == o:
            COMMENTS[(k, n)] = COMMENTS.pop((k, kk))
        elif k == "column" and kk.startswith(o + "."):
            COMMENTS[(k, n + kk[len(o):])] = COMMENTS.pop((k, kk))
    for v in INDEXES.values():
        if v["table"].lower() == o:
            v["table"] = new


def drop_object(key: str) -> None:
    """Forget object ``key``: its rows, constraints, comments and indexes."""
    k = key.lower()
    drop = constraints_of(key)
    CONSTRAINTS[:] = [c for c in CONSTRAINTS if c not in drop]
    TABLE_META.pop(k, None)
    COLUMN_META.pop(k, None)
    VIEW_SQL.pop(k, None)
    for c in list(COMMENTS):
        if c[1] == k and c[0] in ("table", "view") or \
                c[0] == "column" and c[1].startswith(k + "."):
            COMMENTS.pop(c)
    for n in [n for n, v in INDEXES.items() if v["table"].lower() == k]:
        INDEXES.pop(n)
        COMMENTS.pop(("index", n), None)


def drop_schema(schema: str) -> list[str]:
    """Remove a schema and its objects; returns the dropped object keys
    (engine view names) so the caller can drop the temp views."""
    SCHEMAS.pop(schema, None)
    dropped = [
        k for k, m in TABLE_META.items()
        if m["schema"] == schema or k.startswith(schema.lower() + "__")
    ]
    for k in dropped:
        drop_object(k)
    global CONSTRAINTS
    CONSTRAINTS[:] = [c for c in CONSTRAINTS if c["schema"] != schema]
    return dropped


def schemata_rows() -> list[tuple]:
    rows = [
        (c, s, "duckdb", None, None, None, None)
        for c in _BASE_CATALOGS
        for s in _BASE_SCHEMAS
    ]
    rows += [("memory", s, "duckdb", None, None, None, None)
             for s in sorted(SCHEMAS)]
    return rows


SCHEMATA_DDL = (
    "catalog_name string, schema_name string, schema_owner string, "
    "default_character_set_catalog string, default_character_set_schema "
    "string, default_character_set_name string, sql_path string"
)

CHARACTER_SETS_ROWS = [
    (None, None, "UTF8", "UCS", "UTF8", "memory", "pg_catalog",
     "ucs_basic"),
]
CHARACTER_SETS_DDL = (
    "character_set_catalog string, character_set_schema string, "
    "character_set_name string, character_repertoire string, "
    "form_of_use string, default_collate_catalog string, "
    "default_collate_schema string, default_collate_name string"
)


def views_rows() -> list[tuple]:
    rows = []
    for key, sql_text in VIEW_SQL.items():
        m = TABLE_META.get(key, {})
        rows.append((
            m.get("catalog", "memory"), m.get("schema", "main"),
            m.get("name", key), sql_text, "NONE", "NO", "NO", "NO",
            "NO", "NO",
        ))
    return rows


VIEWS_DDL = (
    "table_catalog string, table_schema string, table_name string, "
    "view_definition string, check_option string, is_updatable string, "
    "is_insertable_into string, is_trigger_updatable string, "
    "is_trigger_deletable string, is_trigger_insertable_into string"
)


def _named_constraints():
    for c in CONSTRAINTS:
        yield c, constraint_name(c["table"], c["ctype"], c["columns"],
                                 c["text"])


def table_constraints_rows() -> list[tuple]:
    rows = []
    for c, name in _named_constraints():
        # live DuckDB lists NOT NULL as a CHECK-typed row named _not_null
        ctype = "CHECK" if c["ctype"] == "NOT NULL" else c["ctype"]
        rows.append((
            c["catalog"], c["schema"], name,
            c["catalog"], c["schema"], c["table"], ctype,
            "NO", "NO", "YES", "YES" if c["ctype"] == "UNIQUE" else None,
        ))
    return rows


TABLE_CONSTRAINTS_DDL = (
    "constraint_catalog string, constraint_schema string, "
    "constraint_name string, table_catalog string, table_schema string, "
    "table_name string, constraint_type string, is_deferrable string, "
    "initially_deferred string, enforced string, nulls_distinct string"
)


def referential_constraints_rows() -> list[tuple]:
    rows = []
    for c, name in _named_constraints():
        if c["ctype"] != "FOREIGN KEY":
            continue
        # live-oracle quirks the corpus compares against: multi-column
        # FKs are absent from this view, and the referenced table is
        # resolved CASE-SENSITIVELY against the name as written in the
        # DDL (`REFERENCES A` on table `a` resolves nothing), with
        # unresolved rows omitted rather than NULL-filled
        if len(c["columns"]) != 1:
            continue
        ref = _fk_referenced(c)
        if not ref:
            continue
        uc = _unique_constraint_for(*ref)
        if not uc or uc["table"] != ref[0]:
            continue
        uniq_name = constraint_name(
            uc["table"], uc["ctype"], uc["columns"], uc["text"]
        )
        rows.append((
            c["catalog"], c["schema"], name, uc["catalog"], uc["schema"],
            uniq_name, "NONE", "NO ACTION", "NO ACTION",
        ))
    return rows


REFERENTIAL_CONSTRAINTS_DDL = (
    "constraint_catalog string, constraint_schema string, "
    "constraint_name string, unique_constraint_catalog string, "
    "unique_constraint_schema string, unique_constraint_name string, "
    "match_option string, update_rule string, delete_rule string"
)


def key_column_usage_rows() -> list[tuple]:
    # live oracle lists ONE row per key constraint — the first column
    # only, ordinal 1 — under the first-column name (see _kcu_name)
    rows = []
    for c, _name in _named_constraints():
        if c["ctype"] not in ("PRIMARY KEY", "UNIQUE", "FOREIGN KEY") \
                or not c["columns"]:
            continue
        col = c["columns"][0]
        rows.append((
            c["catalog"], c["schema"],
            _kcu_name(c["table"], c["ctype"], c["columns"]),
            c["catalog"], c["schema"], c["table"], col, 1,
            1 if c["ctype"] == "FOREIGN KEY" else None,
        ))
    return rows


KEY_COLUMN_USAGE_DDL = (
    "constraint_catalog string, constraint_schema string, "
    "constraint_name string, table_catalog string, table_schema string, "
    "table_name string, column_name string, ordinal_position int, "
    "position_in_unique_constraint int"
)


def constraint_column_usage_rows() -> list[tuple]:
    rows = []
    for c, name in _named_constraints():
        if c["ctype"] == "NOT NULL":
            continue
        for col in c["columns"]:
            rows.append((
                c["catalog"], c["schema"], c["table"], col,
                c["catalog"], c["schema"], name,
            ))
    return rows


CONSTRAINT_COLUMN_USAGE_DDL = (
    "table_catalog string, table_schema string, table_name string, "
    "column_name string, constraint_catalog string, constraint_schema "
    "string, constraint_name string"
)


def constraint_table_usage_rows() -> list[tuple]:
    rows = []
    for c, name in _named_constraints():
        if c["ctype"] == "NOT NULL":
            continue
        rows.append((
            c["catalog"], c["schema"], c["table"],
            c["catalog"], c["schema"], name,
        ))
    return rows


CONSTRAINT_TABLE_USAGE_DDL = (
    "table_catalog string, table_schema string, table_name string, "
    "constraint_catalog string, constraint_schema string, "
    "constraint_name string"
)


def duckdb_constraints_rows() -> list[tuple]:
    """The duckdb_constraints() table function (reference
    src/function/table/system/duckdb_constraints.cpp)."""
    rows = []
    for i, c in enumerate(CONSTRAINTS):
        rows.append((
            c["catalog"], None, c["schema"], None, c["table"], None,
            c.get("index", i), c["ctype"], c["text"],
            c.get("expression"), c.get("col_indexes", []),
            list(c["columns"]),
        ))
    return rows


DUCKDB_CONSTRAINTS_DDL = (
    "database_name string, database_oid bigint, schema_name string, "
    "schema_oid bigint, table_name string, table_oid bigint, "
    "constraint_index bigint, constraint_type string, constraint_text "
    "string, expression string, constraint_column_indexes array<bigint>, "
    "constraint_column_names array<string>"
)


def check_constraints_rows() -> list[tuple]:
    rows = []
    for c, name in _named_constraints():
        if c["ctype"] == "CHECK":
            rows.append((c["catalog"], c["schema"], name, c["text"]))
        elif c["ctype"] == "NOT NULL":
            rows.append((
                c["catalog"], c["schema"],
                f"{c['table']}_{'_'.join(c['columns'])}_not_null",
                f"{' ,'.join(c['columns'])} IS NOT NULL",
            ))
    return rows


CHECK_CONSTRAINTS_DDL = (
    "constraint_catalog string, constraint_schema string, "
    "constraint_name string, check_clause string"
)


# ------------------------------------------------------- pg_catalog views
# (reference src/catalog/default/default_views.cpp pg_catalog section)

def pg_namespace_rows() -> list[tuple]:
    rows = [(0, "main", 0, None), (1, "information_schema", 0, None),
            (2, "pg_catalog", 0, None)]
    rows += [(oid, s, 0, None) for s, oid in sorted(SCHEMAS.items())]
    return rows


PG_NAMESPACE_DDL = (
    "oid bigint, nspname string, nspowner bigint, nspacl string"
)


def pg_tables_rows() -> list[tuple]:
    return [
        (m["schema"], m["name"], "duckdb", None, False, False, False)
        for m in TABLE_META.values() if m["type"] != "VIEW"
    ]


PG_TABLES_DDL = (
    "schemaname string, tablename string, tableowner string, tablespace "
    "string, hasindexes boolean, hasrules boolean, hastriggers boolean"
)


def pg_views_rows() -> list[tuple]:
    rows = []
    for key, sql_text in VIEW_SQL.items():
        m = TABLE_META.get(key, {})
        rows.append((m.get("schema", "main"), m.get("name", key),
                     "duckdb", sql_text))
    return rows


PG_VIEWS_DDL = (
    "schemaname string, viewname string, viewowner string, "
    "definition string"
)

PG_DATABASE_DDL = "oid bigint, datname string"


def database_rows() -> list[tuple]:
    """(database_name, internal, readonly, path, type) — the base
    memory/system/temp trio plus ATTACHed catalogs (reference
    duckdb_databases.cpp)."""
    rows = [("memory", False, False, None, "duckdb"),
            ("system", True, False, None, "duckdb"),
            ("temp", True, False, None, "duckdb")]
    try:
        from myduckdb_spark.storage import attached_paths, attached_readonly

        ro = attached_readonly()
        for alias, path in sorted(attached_paths().items()):
            rows.append((alias, False, bool(ro.get(alias)), path, "duckdb"))
    except Exception:
        pass
    return rows


DUCKDB_DATABASES_DDL = (
    "database_name string, internal boolean, readonly boolean, "
    "path string, type string"
)


def pg_database_rows() -> list[tuple]:
    return [(i, r[0]) for i, r in enumerate(database_rows())]


def mirror_duckdb(con) -> None:
    """Mirror a live DuckDB connection's catalog STATE (schemas, declared
    table/column metadata, constraint structure, view SQL) into the
    registry — used by the sqllogictest harness so engine-side
    information_schema queries see the file's CREATE statements."""
    reset()
    for s, oid in con.execute(
        "SELECT schema_name, oid FROM duckdb_schemas() WHERE NOT internal"
    ).fetchall():
        if s != "main":
            SCHEMAS[s] = int(oid)  # mirror the oracle's stable oid
    for cat, sch, name, ttype in con.execute(
        "SELECT table_catalog, table_schema, table_name, table_type "
        "FROM information_schema.tables"
    ).fetchall():
        key = name if sch == "main" else f"{sch}__{name}"
        register_table(key, cat, sch, name, ttype)
    cols: dict[str, list[dict]] = {}
    for sch, name, cname, ordinal, dflt, nullable, dtype in con.execute(
        "SELECT table_schema, table_name, column_name, ordinal_position,"
        " column_default, is_nullable, data_type "
        "FROM information_schema.columns ORDER BY table_name, "
        "ordinal_position"
    ).fetchall():
        key = (name if sch == "main" else f"{sch}__{name}").lower()
        cols.setdefault(key, []).append(
            column_row(cname, ordinal, dtype, nullable == "YES", dflt)
        )
    COLUMN_META.update(cols)
    for db, sch, tbl, idx, ctype, text, expr, cidx, ccols in con.execute(
        "SELECT database_name, schema_name, table_name, constraint_index,"
        " constraint_type, constraint_text, expression,"
        " constraint_column_indexes, constraint_column_names "
        "FROM duckdb_constraints()"
    ).fetchall():
        CONSTRAINTS.append({
            "catalog": db, "schema": sch, "table": tbl, "ctype": ctype,
            "text": text, "columns": list(ccols), "index": idx,
            "expression": expr, "col_indexes": list(cidx or []),
        })
    for sch, name, sql_text in con.execute(
        "SELECT schema_name, view_name, sql FROM duckdb_views() "
        "WHERE NOT internal"
    ).fetchall():
        key = name if sch == "main" else f"{sch}__{name}"
        VIEW_SQL[key.lower()] = sql_text

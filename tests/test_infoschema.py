"""Catalog-metadata registry (myduckdb_spark/infoschema.py): constraint
naming parity vs live DuckDB, schema oid stability, mirror round-trip,
every introspection surface tracking ALTER TABLE as DuckDB does, NOT
NULL enforced on every INSERT and UPDATE form, and duckdb_constraints()
numbered as DuckDB numbers it."""

import duckdb
import pytest

from myduckdb_spark import infoschema as ischema
from myduckdb_spark import sql as S


@pytest.fixture(autouse=True)
def _fresh_registry():
    ischema.reset()
    yield
    ischema.reset()


def test_constraint_names_match_live_duckdb():
    con = duckdb.connect()
    con.execute("create table integers(i int primary key, check (i < 10))")
    con.execute(
        "create table test(i varchar unique, k varchar,"
        " check(len(i || k) < 10))"
    )
    con.execute(
        "create table fk_integers(j int,"
        " foreign key (j) references integers(i))"
    )
    con.execute("create table multi (a int, b int, primary key(a, b))")
    want = {
        r[0]
        for r in con.execute(
            "SELECT constraint_name FROM information_schema.table_constraints"
        ).fetchall()
    }
    ischema.mirror_duckdb(con)
    got = {r[2] for r in ischema.table_constraints_rows()}
    assert got == want


def test_referential_resolves_unique_constraint():
    con = duckdb.connect()
    con.execute("create table dept (dept_id int primary key)")
    con.execute("create table emp (dept_id int references dept(dept_id))")
    want = con.execute(
        "SELECT constraint_name, unique_constraint_name "
        "FROM information_schema.referential_constraints"
    ).fetchall()
    ischema.mirror_duckdb(con)
    got = [(r[2], r[5]) for r in ischema.referential_constraints_rows()]
    assert got == [tuple(w) for w in want]


def test_schema_oid_stable_across_later_creates():
    first = ischema.create_schema("myschema")
    ischema.create_schema("bla")
    ischema.create_schema("test33")
    assert ischema.SCHEMAS["myschema"] == first
    assert len({*ischema.SCHEMAS.values()}) == 3  # unique oids


def test_drop_schema_removes_members_and_constraints():
    ischema.create_schema("s1")
    ischema.register_table("s1__t", "memory", "s1", "t", "BASE TABLE")
    ischema.register_columns(
        "s1__t", [ischema.column_row("i", 1, "INTEGER", nullable=False)]
    )
    ischema.CONSTRAINTS.append({
        "catalog": "memory", "schema": "s1", "table": "t",
        "ctype": "PRIMARY KEY", "text": "PRIMARY KEY(i)", "columns": ["i"],
    })
    dropped = ischema.drop_schema("s1")
    assert dropped == ["s1__t"]
    assert not ischema.TABLE_META and not ischema.CONSTRAINTS
    assert "s1" not in ischema.SCHEMAS


def test_column_row_declared_types():
    r = ischema.column_row("h", 1, "HUGEINT")
    assert (r["dtype"], r["prec"], r["scale"]) == ("HUGEINT", 128, 0)
    r = ischema.column_row("d", 2, "DECIMAL(16, 4)")
    assert (r["dtype"], r["prec"], r["scale"]) == ("DECIMAL(16,4)", 16, 4)
    r = ischema.column_row("f", 3, "FLOAT", nullable=False)
    assert (r["prec"], r["scale"], r["nullable"]) == (24, 0, False)
    # engine DDL spells Spark names; the registry records duck spellings
    assert ischema.column_row("i", 4, "INT")["dtype"] == "INTEGER"
    assert ischema.column_row("s", 5, "STRING")["dtype"] == "VARCHAR"


# one table walked through the ALTER TABLE forms; after every step each
# introspection surface must equal DuckDB's
_STEPS = [
    "CREATE TABLE t1 (a INTEGER PRIMARY KEY, b INTEGER DEFAULT 5,"
    " c UTINYINT NOT NULL, d VARCHAR UNIQUE)",
    "ALTER TABLE t1 ALTER COLUMN d SET DEFAULT 'x'",
    "ALTER TABLE t1 ALTER COLUMN b SET NOT NULL",
    "ALTER TABLE t1 ADD COLUMN e HUGEINT",
    "ALTER TABLE t1 RENAME COLUMN b TO b2",
    "ALTER TABLE t1 DROP COLUMN e",
    "ALTER TABLE t1 ALTER COLUMN c TYPE INTEGER",
    "ALTER TABLE t1 RENAME TO t2",
]
_OF_T = "WHERE table_name IN ('t1', 't2') ORDER BY table_name"
_SURFACES = {
    "PRAGMA table_info": "PRAGMA table_info('{t}')",
    "DESCRIBE": "DESCRIBE {t}",
    "information_schema.columns": (
        "SELECT table_name, column_name, ordinal_position, column_default,"
        " is_nullable, data_type, numeric_precision, numeric_scale"
        f" FROM information_schema.columns {_OF_T}, ordinal_position"),
    "duckdb_columns()": (
        "SELECT table_name, column_name, column_index, column_default,"
        " is_nullable, data_type, numeric_precision,"
        " numeric_precision_radix, numeric_scale"
        f" FROM duckdb_columns() {_OF_T}, column_index"),
    "SHOW ALL TABLES": (
        "SELECT database, schema, name, column_names, column_types,"
        " temporary FROM (SHOW ALL TABLES) WHERE name IN ('t1', 't2')"),
}


def _rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def _drop_t12(spark):
    for t in ("t1", "t2"):
        S.sql(spark, f"DROP TABLE IF EXISTS {t}")


def test_surfaces_track_every_alter_like_duckdb(spark):
    con = duckdb.connect()
    _drop_t12(spark)
    diff = []
    try:
        for step in _STEPS:
            con.execute(step)
            S.sql(spark, step).collect()
            t = "t2" if "RENAME TO" in step else "t1"
            for surface, q in _SURFACES.items():
                want = _rows(con.execute(q.format(t=t)).fetchall())
                got = _rows(S.sql(spark, q.format(t=t)).collect())
                if got != want:
                    diff.append((step, surface, got, want))
        q = ("SELECT table_catalog, table_schema, table_name, table_type"
             f" FROM information_schema.tables {_OF_T}")
        tables = (_rows(S.sql(spark, q).collect()),
                  _rows(con.execute(q).fetchall()))
    finally:
        _drop_t12(spark)
    cells = len(_STEPS) * len(_SURFACES)
    assert not diff, f"{len(diff)} of {cells} cells differ: " + "\n".join(
        f"{s} | {k}: got {g} want {w}" for s, k, g, w in diff)
    assert tables[0] == tables[1]


@pytest.mark.parametrize("renamed", [False, True], ids=["t1.c", "t2.c2"])
@pytest.mark.parametrize("insert", [
    "INSERT INTO {t} VALUES (1, NULL)",
    "INSERT INTO {t} SELECT 2, NULL",
    "INSERT INTO {t} (a, {c}) VALUES (3, NULL)",
])
def test_not_null_rejects_every_insert_form(spark, renamed, insert):
    setup = ["CREATE TABLE t1 (a INTEGER, c INTEGER NOT NULL)"]
    if renamed:
        setup += ["ALTER TABLE t1 RENAME COLUMN c TO c2",
                  "ALTER TABLE t1 RENAME TO t2"]
    t, c = ("t2", "c2") if renamed else ("t1", "c")
    stmt = insert.format(t=t, c=c)
    con = duckdb.connect()
    _drop_t12(spark)
    try:
        for s in setup:
            con.execute(s)
            S.sql(spark, s).collect()
        with pytest.raises(duckdb.ConstraintException) as want:
            con.execute(stmt)
        with pytest.raises(ValueError) as got:
            S.sql(spark, stmt).collect()
        assert f"NOT NULL constraint failed: {t}.{c}" in str(want.value)
        assert f"NOT NULL constraint failed: {t}.{c}" in str(got.value)
        assert S.sql(spark, f"SELECT count(*) FROM {t}").collect()[0][0] == 0
    finally:
        _drop_t12(spark)


@pytest.mark.parametrize("stmt", [
    "UPDATE t1 SET c = NULL",
    "UPDATE t1 SET b = NULL, c = NULL WHERE a = 2",
    "UPDATE t1 SET c = s.v FROM s WHERE t1.a = s.k",
    "UPDATE t1 SET c = NULL WHERE a = 99",
    "UPDATE t1 SET b = NULL",
])
def test_update_enforces_not_null_like_duckdb(spark, stmt):
    setup = [_STEPS[0], "INSERT INTO t1 VALUES (1, 2, 3, 'x'), (2, 3, 4, 'y')",
             "CREATE TABLE s (k INTEGER, v INTEGER)", "INSERT INTO s VALUES (1, NULL)"]
    con = duckdb.connect()
    _drop_t12(spark)
    S.sql(spark, "DROP TABLE IF EXISTS s")
    try:
        for q in setup:
            con.execute(q)
            S.sql(spark, q).collect()
        try:
            want = _rows(con.execute(stmt).fetchall())
        except duckdb.ConstraintException as e:
            want = str(e)
        try:
            got = _rows(S.sql(spark, stmt).collect())
        except ValueError as e:
            got = str(e)
        assert got == want
        q = "SELECT * FROM t1 ORDER BY a"
        assert _rows(S.sql(spark, q).collect()) == con.execute(q).fetchall()
    finally:
        _drop_t12(spark)
        S.sql(spark, "DROP TABLE IF EXISTS s")


def test_duckdb_constraints_order_like_duckdb(spark):
    """duckdb_constraints() numbers a table's constraints in declaration
    order, a column's clauses in their textual order, then one implicit
    NOT NULL per PRIMARY KEY column that declares none."""
    names = ("c1", "c2", "c3", "c4")
    stmts = [
        _STEPS[0].replace("t1", "c1"),
        "CREATE TABLE c2 (a INT, b INT NOT NULL, c INT CHECK (c > 0),"
        " PRIMARY KEY (a, b), UNIQUE (c))",
        "CREATE TABLE c3 (a INT NOT NULL PRIMARY KEY, b INT UNIQUE NOT NULL)",
        "CREATE TABLE c4 (x INT, a INT UNIQUE NOT NULL CHECK (a > 1),"
        " b INT PRIMARY KEY CHECK (b > 0), c INT NOT NULL)",
    ]
    # a CHECK's text is DuckDB's deparsed expression (CHECK((c > 0))),
    # which the engine does not reproduce; its position is compared
    q = ("SELECT table_name, constraint_index, constraint_type,"
         " CASE WHEN constraint_type <> 'CHECK' THEN constraint_text END,"
         " constraint_column_names FROM duckdb_constraints()"
         f" WHERE table_name IN {names} ORDER BY constraint_index")
    con = duckdb.connect()
    try:
        for s in stmts:
            con.execute(s)
            S.sql(spark, s).collect()
        assert _rows(S.sql(spark, q).collect()) == _rows(con.execute(q).fetchall())
    finally:
        for t in names:
            S.sql(spark, f"DROP TABLE IF EXISTS {t}")


def test_add_column_default_fills_later_inserts_like_duckdb(spark):
    stmts = ["CREATE TABLE t1 (a INTEGER)",
             "ALTER TABLE t1 ADD COLUMN b INTEGER DEFAULT 7",
             "INSERT INTO t1 (a) VALUES (1)"]
    con = duckdb.connect()
    _drop_t12(spark)
    try:
        for s in stmts:
            con.execute(s)
            S.sql(spark, s).collect()
        for q in ("DESCRIBE t1", "SELECT * FROM t1"):
            assert _rows(S.sql(spark, q).collect()) == con.execute(q).fetchall()
    finally:
        _drop_t12(spark)


def test_object_listings_share_duckdb_order(spark):
    names = "('lz', 'lv', 'la', 'lt', 'ltmp')"
    stmts = ["CREATE TABLE lz (i INTEGER)", "CREATE VIEW lv AS SELECT 1 AS x",
             "CREATE TABLE la (i INTEGER UNIQUE)", "CREATE SCHEMA ls",
             "CREATE TABLE ls.lt (i INTEGER)", "CREATE TEMP TABLE ltmp (i INTEGER)"]
    queries = [
        f"SELECT * FROM (SHOW TABLES) WHERE name IN {names}",
        "SELECT table_catalog, table_schema, table_name, table_type"
        f" FROM information_schema.tables WHERE table_name IN {names}",
        "SELECT database_name, schema_name, table_name, temporary,"
        " has_primary_key, index_count, column_count"
        f" FROM duckdb_tables() WHERE table_name IN {names}",
        "SELECT database, schema, name, column_names, temporary"
        f" FROM (SHOW ALL TABLES) WHERE name IN {names}",
        "SELECT database_name, schema_name, table_name, column_name"
        f" FROM duckdb_columns() WHERE table_name IN {names}",
    ]
    con = duckdb.connect()
    try:
        for s in stmts:
            con.execute(s)
            S.sql(spark, s).collect()
        for q in queries:
            assert _rows(S.sql(spark, q).collect()) == con.execute(q).fetchall(), q
    finally:
        for s in ("DROP VIEW IF EXISTS lv", "DROP SCHEMA IF EXISTS ls CASCADE",
                  *(f"DROP TABLE IF EXISTS {t}" for t in ("lz", "la", "ltmp"))):
            S.sql(spark, s)


def test_view_text_matches_duckdb(spark):
    """duckdb_views() and pg_views render a view as DuckDB does: column
    list and TEMPORARY kept, a closing semicolon (bodies that DuckDB's
    deparser leaves unchanged)."""
    stmts = ["CREATE TABLE vt (i INTEGER, j INTEGER)",
             "CREATE VIEW vv (p, q) AS SELECT i, j FROM vt",
             "CREATE TEMPORARY VIEW vtmp AS SELECT i FROM vt"]
    queries = [
        "SELECT database_name, schema_name, view_name, temporary,"
        " column_count, sql FROM duckdb_views() WHERE NOT internal"
        " ORDER BY view_name",
        "SELECT * FROM pg_views WHERE viewname IN ('vv', 'vtmp')"
        " ORDER BY viewname",
    ]
    con = duckdb.connect()
    try:
        for s in stmts:
            con.execute(s)
            S.sql(spark, s).collect()
        for q in queries:
            assert _rows(S.sql(spark, q).collect()) == con.execute(q).fetchall(), q
    finally:
        for s in ("DROP VIEW IF EXISTS vv", "DROP VIEW IF EXISTS vtmp",
                  "DROP TABLE IF EXISTS vt"):
            S.sql(spark, s)


def test_mirrored_state_renders_like_duckdb(spark):
    """Objects the engine does not store (DuckDB state the sqllogictest
    harness mirrors) render from their registry rows on every surface."""
    con = duckdb.connect()
    for s in ("CREATE TABLE mt1 (a INTEGER PRIMARY KEY,"
              " b UTINYINT NOT NULL DEFAULT 3, c VARCHAR UNIQUE)",
              "CREATE SCHEMA ms", "CREATE TABLE ms.mt2 (h HUGEINT, d DECIMAL(10,2))",
              "CREATE VIEW mtv AS SELECT a, c FROM mt1"):
        con.execute(s)
    views = []
    for sch, t in con.execute(
            "SELECT table_schema, table_name FROM information_schema.tables").fetchall():
        cols = con.execute(
            "SELECT column_name FROM information_schema.columns WHERE"
            f" table_schema = '{sch}' AND table_name = '{t}' ORDER BY ordinal_position"
        ).fetchall()
        views.append(t if sch == "main" else f"{sch}__{t}")
        spark.createDataFrame([], ", ".join(f"{c} string" for c, in cols)) \
            .createOrReplaceTempView(views[-1])
    names = "('mt1', 'mt2', 'mtv')"
    try:
        ischema.mirror_duckdb(con)
        for q in (
            "DESCRIBE mt1", "PRAGMA table_info('mt1')",
            f"SELECT * FROM (SHOW TABLES) WHERE name IN {names}",
            "SELECT table_schema, table_name, column_name, ordinal_position,"
            " column_default, is_nullable, data_type FROM"
            f" information_schema.columns WHERE table_name IN {names} ORDER BY 1, 2, 4",
            "SELECT schema_name, table_name, column_name, is_nullable, data_type"
            f" FROM duckdb_columns() WHERE table_name IN {names} ORDER BY 1, 2",
            "SELECT schema_name, table_name, has_primary_key, index_count,"
            f" column_count FROM duckdb_tables() WHERE table_name IN {names}",
        ):
            assert _rows(S.sql(spark, q).collect()) == con.execute(q).fetchall(), q
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


def test_describe_select_reports_declared_type_like_duckdb(spark, tmp_path):
    """DESCRIBE SELECT reports a bare column's declared type (UTINYINT
    stored as SMALLINT), and the type COPY TO parquet records. Computed
    columns are left out: DuckDB types `c + 1` as UTINYINT by its literal
    typing, which the engine does not model."""
    con = duckdb.connect()
    S.sql(spark, "DROP TABLE IF EXISTS f4")
    try:
        for s in ("CREATE TABLE f4 (c UTINYINT, d INTEGER)",
                  "INSERT INTO f4 VALUES (1, 2)"):
            con.execute(s)
            S.sql(spark, s).collect()
        for side, run in (("duck", con.execute), ("spark", lambda q: S.sql(spark, q))):
            run(f"COPY f4 TO '{tmp_path}/{side}.parquet' (FORMAT PARQUET)")
        for q in ("DESCRIBE SELECT c, d FROM f4", "DESCRIBE SELECT * FROM f4",
                  "DESCRIBE SELECT d AS x, f4.c AS y FROM f4",
                  "DESCRIBE SELECT * FROM '{}/{}.parquet'"):
            want = con.execute(q.format(tmp_path, "duck")).fetchall()
            got = _rows(S.sql(spark, q.format(tmp_path, "spark")).collect())
            assert got == want, q
    finally:
        S.sql(spark, "DROP TABLE IF EXISTS f4")

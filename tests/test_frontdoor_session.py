"""Fixed per-statement costs of the SQL front door, and the session state
that makes them one-off.

* ``catalog.register_views`` is memoised per session: a warm statement
  starts no Spark job and loads no table, while a changed parquet file, a
  dropped view or a user's re-pointed view is registered again.
* Shadowing: a front-door table or view named like a catalog table
  shadows the parquet until it is dropped.
* ``SET TimeZone`` through the front door survives later statements.
* Command results (DML counts, SET, PRAGMA, DESCRIBE, EXPLAIN,
  information_schema rows) are JVM-local relations with the schema and
  rows the Python-row path gave.
* Copy-on-write DML pins the probe schema and finds UPDATE's touched
  files and row count in one aggregate.
"""

import contextlib
import os
import re
import shutil
import uuid

import duckdb
import pyarrow.parquet as pq
import pytest

from myduckdb_spark import catalog
from myduckdb_spark import sql as S


def _rows(spark, q, sf_dir=None):
    return [tuple(r) for r in S.sql(spark, q, sf_dir).collect()]


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(gid))


def _parquet_rows(sf_dir, name):
    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


# ------------------------------------------------------------ view memo


def test_warm_statement_starts_no_job_and_loads_no_table(spark, sf_dir, monkeypatch):
    S.sql(spark, "SELECT 1 AS x", sf_dir)
    loads = []
    real = catalog.load_table
    monkeypatch.setattr(
        catalog, "load_table", lambda *a: loads.append(a[2]) or real(*a)
    )
    with _jobs(spark) as ids:
        S.sql(spark, "SELECT 1 AS x", sf_dir)
    assert ids == []
    assert loads == []


def test_user_temp_view_is_repointed(spark, sf_dir):
    S.sql(spark, "SELECT 1 AS x", sf_dir)
    spark.range(3).toDF("r_regionkey").createOrReplaceTempView("region")
    got = _rows(spark, "SELECT count(*) FROM region", sf_dir)
    assert got == [(_parquet_rows(sf_dir, "region"),)]


def test_dropped_catalog_view_is_registered_again(spark, sf_dir):
    S.sql(spark, "SELECT 1 AS x", sf_dir)
    spark.catalog.dropTempView("nation")
    got = _rows(spark, "SELECT count(*) FROM nation", sf_dir)
    assert got == [(_parquet_rows(sf_dir, "nation"),)]


def test_rewritten_parquet_is_picked_up(spark, sf_dir, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    try:
        n = _parquet_rows(d, "region")
        assert _rows(spark, "SELECT count(*) FROM region", d) == [(n,)]
        p = f"{d}/region.parquet"
        pq.write_table(pq.read_table(p).slice(0, 2), p)
        st = os.stat(p)
        os.utime(p, (st.st_atime, st.st_mtime + 10))
        assert _rows(spark, "SELECT count(*) FROM region", d) == [(2,)]
    finally:
        catalog.register_views(spark, sf_dir)


# ------------------------------------------------------------ shadowing


def test_ctas_of_catalog_name_shadows_until_dropped(spark, sf_dir):
    try:
        S.sql(spark, "CREATE TABLE orders AS SELECT 42 AS o_orderkey", sf_dir)
        assert _rows(spark, "SELECT o_orderkey FROM orders", sf_dir) == [(42,)]
        S.sql(spark, "INSERT INTO orders VALUES (43)", sf_dir)
        got = _rows(spark, "SELECT o_orderkey FROM orders ORDER BY 1", sf_dir)
        assert got == [(42,), (43,)]
        assert _rows(spark, "SELECT count(*) FROM orders") == [(2,)]
    finally:
        S.sql(spark, "DROP TABLE IF EXISTS orders")
    got = _rows(spark, "SELECT count(*) FROM orders", sf_dir)
    assert got == [(_parquet_rows(sf_dir, "orders"),)]


def test_front_door_view_of_catalog_name_shadows_until_dropped(spark, sf_dir):
    try:
        S.sql(spark, "CREATE VIEW region AS SELECT 7 AS r_regionkey", sf_dir)
        assert _rows(spark, "SELECT r_regionkey FROM region", sf_dir) == [(7,)]
    finally:
        S.sql(spark, "DROP VIEW IF EXISTS region")
    got = _rows(spark, "SELECT count(*) FROM region", sf_dir)
    assert got == [(_parquet_rows(sf_dir, "region"),)]


# ------------------------------------------------------------ time zone


def test_set_timezone_survives_next_statement(spark, sf_dir):
    try:
        S.sql(spark, "SET TimeZone = 'America/New_York'", sf_dir)
        S.sql(spark, "SELECT 1 AS x", sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        S.reset_dml_state(spark)
    assert catalog.FRONT_DOOR_ZONE is None
    S.sql(spark, "SELECT 1 AS x", sf_dir)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


# ------------------------------------------------------------ command results


@pytest.fixture()
def parity_state(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(catalog, "FRONT_DOOR_ZONE", None)
    S.sql(spark, "CREATE OR REPLACE TABLE pt_t (k INTEGER PRIMARY KEY, s VARCHAR, d DATE)", sf_dir)
    S.sql(spark, "CREATE OR REPLACE SEQUENCE pt_seq START 3")
    S.sql(spark, "SELECT nextval('pt_seq') AS v")
    yield
    S.sql(spark, "DROP TABLE IF EXISTS pt_t")
    S.sql(spark, "DROP TABLE IF EXISTS pt_c")
    S.sql(spark, "DROP SEQUENCE pt_seq")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@pytest.mark.parametrize("stmt", [
    "CREATE OR REPLACE TABLE pt_c AS SELECT 1 AS a",
    "SET TimeZone = 'UTC'",
    "SET spark.sql.shuffle.partitions = 8",
    "PRAGMA table_info('region')",
    "DESCRIBE SELECT 1 AS a, 'x' AS b",
    "DESCRIBE pt_t",
    "DESCRIBE",
    "SHOW TABLES",
    "SHOW DATABASES",
    "EXPLAIN SELECT 1 AS a",
    "SELECT currval('pt_seq') AS c",
    "SELECT table_name, table_type FROM information_schema.tables ORDER BY 1",
    "SELECT column_name, data_type, is_nullable FROM information_schema.columns "
    "WHERE table_name = 'pt_t' ORDER BY ordinal_position",
    "SELECT table_name, column_count, tags FROM duckdb_tables() ORDER BY 1",
    "SELECT * FROM duckdb_constraints() ORDER BY constraint_index",
])
def test_command_result_is_jvm_local_with_unchanged_schema(spark, sf_dir, parity_state,
                                                           monkeypatch, stmt):
    def collected(df):
        rows = [tuple(r) for r in df.collect()]
        return [tuple(re.sub(r"#\d+L?", "#", v) if isinstance(v, str) else v
                      for v in r) for r in rows]

    new = S.sql(spark, stmt, sf_dir)
    new_schema, new_rows = new.schema, collected(new)
    with monkeypatch.context() as m:
        m.setattr(S, "_rows_df", lambda sp, rows, schema: sp.createDataFrame(rows, schema))
        old = S.sql(spark, stmt, sf_dir)
        old_schema, old_rows = old.schema, collected(old)
    assert new_schema == old_schema  # names, types, nullability, metadata
    assert new_rows == old_rows
    assert "ExistingRDD" not in new._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ DML


def test_dml_result_runs_one_job_without_python_rdd(spark, sf_dir):
    try:
        S.sql(spark, "CREATE OR REPLACE TABLE jr_t AS SELECT n_nationkey FROM nation", sf_dir)
        res = S.sql(spark, "INSERT INTO jr_t VALUES (90), (91)", sf_dir)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        with _jobs(spark) as ids:
            res.write.mode("overwrite").format("noop").save()
        assert len(ids) == 1
        assert res.collect()[0]["Count"] == 2
    finally:
        S.sql(spark, "DROP TABLE IF EXISTS jr_t")


def test_update_on_one_file_table_starts_at_most_three_jobs(spark, sf_dir):
    try:
        S.sql(spark, "CREATE OR REPLACE TABLE up_t AS "
                     "SELECT o_orderkey, o_totalprice FROM orders", sf_dir)
        assert len(S._MANAGED["up_t"]._manifest()["files"]) == 1
        with _jobs(spark) as ids:
            res = S.sql(spark, "UPDATE up_t SET o_totalprice = 0 "
                               "WHERE o_orderkey % 3 = 1", sf_dir)
        assert len(ids) <= 3
        assert len(S._MANAGED["up_t"]._manifest()["files"]) == 1
        want = _rows(spark, "SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1", sf_dir)
        assert [(res.collect()[0]["Count"],)] == want
    finally:
        S.sql(spark, "DROP TABLE IF EXISTS up_t")


def test_dml_counts_match_duckdb(spark, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE TABLE src AS SELECT * FROM '{sf_dir}/orders.parquet'")
    stmts = [
        "CREATE OR REPLACE TABLE cnt_t AS SELECT o_orderkey, o_totalprice, "
        "o_orderpriority FROM {src} WHERE o_orderkey % 3 = 0",
        "INSERT INTO cnt_t VALUES (900001, 1.5, '2-HIGH'), (900002, 2.5, '1-URGENT')",
        "UPDATE cnt_t SET o_totalprice = o_totalprice + 1, o_orderpriority = '3-MEDIUM' "
        "WHERE o_orderkey % 7 = 2",
        "DELETE FROM cnt_t WHERE o_orderkey % 5 = 1",
        "UPDATE cnt_t SET o_totalprice = 0 WHERE o_orderkey < 0",
        "DELETE FROM cnt_t WHERE o_orderkey < 0",
    ]
    try:
        for st in stmts:
            got = S.sql(spark, st.format(src="orders"), sf_dir).collect()[0]["Count"]
            want = con.execute(st.format(src="src")).fetchall()[0][0]
            assert got == want, st
        q = "SELECT count(*), CAST(sum(o_totalprice * 100) AS BIGINT) FROM cnt_t"
        assert _rows(spark, q, sf_dir) == con.sql(q).fetchall()
    finally:
        S.sql(spark, "DROP TABLE IF EXISTS cnt_t")


# ------------------------------------------------------------ dispatch

# sample statements per statement-table handler
_CLAIMS = {
    "_ddl": ["CREATE TABLE t (i INTEGER)", "DROP VIEW IF EXISTS v"],
    "_alter_table": ["ALTER TABLE t ADD COLUMN j INTEGER"],
    "_insert": ["INSERT INTO t VALUES (1)"],
    "_update": ["UPDATE t SET i = 2 WHERE i = 1"],
    "_delete": ["DELETE FROM t WHERE i = 1"],
    "_truncate": ["TRUNCATE t"],
    "_copy_statement": ["COPY t TO 'out.csv' (HEADER)"],
    "_comment_on": ["COMMENT ON TABLE t IS 'x'"],
    "_txn_begin": ["BEGIN TRANSACTION", "START TRANSACTION"],
    "_txn_commit": ["COMMIT"],
    "_txn_rollback": ["ROLLBACK", "ABORT"],
    "_seq_val": ["SELECT nextval('s') AS v"],
    "_set": ["SET default_null_order = 'nulls_first'",
             "SET GLOBAL default_null_order = 'nulls_first'"],
    "_use": ["USE memory"],
    "_pragma_table_info": ["PRAGMA table_info('t')"],
    "_explain": ["EXPLAIN SELECT 1"],
    "_show_tables": ["SHOW TABLES"],
    "_show_databases": ["SHOW DATABASES"],
    "_describe_all": ["DESCRIBE", "SHOW ALL TABLES"],
    "_describe_select": ["DESCRIBE SELECT 1 AS a", "SHOW (SELECT 1)"],
    "_describe_table": ["DESCRIBE t", "SHOW TABLE t"],
    "_prepare": ["PREPARE p AS SELECT ?"],
    "_execute": ["EXECUTE p(1)"],
    "_deallocate": ["DEALLOCATE p"],
    "_export_db": ["EXPORT DATABASE 'out'"],
    "_import_db": ["IMPORT DATABASE 'out'"],
    "_attach": ["ATTACH 'x.db' AS x"],
    "_detach": ["DETACH x"],
}
# one sample per CREATE / DROP kind
_KINDS = {
    "TABLE": "CREATE TEMP TABLE IF NOT EXISTS t AS SELECT 1",
    "VIEW": "CREATE OR REPLACE VIEW v (a) AS SELECT 1",
    "SCHEMA": "DROP SCHEMA IF EXISTS s CASCADE",
    "SEQUENCE": "CREATE SEQUENCE s START 3",
    "TYPE": "CREATE TYPE ty AS INTEGER",
    "MACRO": "CREATE MACRO m(x) AS x + 1",
    "FUNCTION": "DROP FUNCTION f",
    "MACRO TABLE": "DROP MACRO TABLE tm",
    "INDEX": "CREATE UNIQUE INDEX ix ON t (i)",
}
_QUERIES = ["SELECT 1", "WITH a AS (SELECT 1) SELECT * FROM a", "VALUES (1)",
            "FROM t", "(SELECT 1)", "SHOW FUNCTIONS", "EXPLAIN ANALYZE SELECT 1"]


def test_statement_table_claims_each_sample():
    """Each sample is claimed by its row, every row and every DDL kind
    has a sample (a row no sample reaches fails), and a query is claimed
    by none. No Spark is needed: dispatch reads only the text."""
    reached = set()
    for handler, samples in _CLAIMS.items():
        for text in samples:
            entry, _m = S._claim(text)
            assert entry.handler.__name__ == handler, text
            reached.add(entry)
    assert reached == set(S._STATEMENTS)
    for kind, text in _KINDS.items():
        entry, m = S._claim(text)
        assert entry.handler is S._ddl
        assert " ".join(m["kind"].upper().split()) == kind, text
    assert set(_KINDS) == set(S._DDL_KINDS)
    for text in _QUERIES:
        assert S._claim(text) is None, text


class _Counted:
    def __init__(self, pattern, calls):
        self.pattern, self.calls = pattern, calls

    def match(self, text):
        self.calls.append(self)
        return self.pattern.match(text)


def test_query_tries_only_select_rows(monkeypatch):
    """A query is tested only against the SELECT-keyed rows (nextval /
    currval), never against a DDL or DML pattern."""
    calls = []
    counted = [e._replace(pattern=_Counted(e.pattern, calls)) for e in S._STATEMENTS]
    monkeypatch.setattr(S, "_BY_KEYWORD", S._index(counted))
    select_rows = {id(e.pattern) for e in counted if e.keyword == "SELECT"}
    for text, tries in [("SELECT 1", len(select_rows)), ("WITH a AS (SELECT 1) "
                        "SELECT * FROM a", 0), ("VALUES (1)", 0), ("FROM t", 0)]:
        calls.clear()
        assert S._claim(text) is None
        assert len(calls) == tries, text
        assert {id(c) for c in calls} <= select_rows


@pytest.mark.parametrize("text", [
    "CREATE OR REPLACE VIEW IF NOT EXISTS v AS SELECT 1",
    "CREATE TABLE IF EXISTS t (i INTEGER)",
    "DROP TABLE IF NOT EXISTS t",
    "DROP TEMP TABLE t",
    "CREATE UNIQUE VIEW v AS SELECT 1",
    "CREATE TABLE",
    "CREATE TABLE t",
    "CREATE VIEW v",
    "DROP VIEW v w",
])
def test_unparsable_ddl_is_a_parser_error(text):
    """A CREATE or DROP of a known kind that its row cannot parse is a
    Parser Error, raised before any catalog lookup; it never reaches
    Spark's own DDL."""
    with pytest.raises(ValueError, match="^Parser Error"):
        S._run_statement(None, text)

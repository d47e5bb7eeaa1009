"""Managed copy-on-write storage: DML, sequences, EXPORT/ATTACH.

Every DML path runs the SAME statements against live DuckDB on the same
starting data and compares final table contents — the reference's own
semantics are the oracle (physical_delete.cpp / physical_update.cpp /
sequence_catalog_entry.cpp / physical_export.cpp).
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from myduckdb_spark import storage
from myduckdb_spark.catalog import load_table
from myduckdb_spark.sql import sql as run_sql

SF = "/root/testdata/sf0.001"


def rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def duck_rows(con, q):
    return con.sql(q).fetchall()


@pytest.fixture()
def nation_table(spark, tmp_path):
    df = load_table(spark, SF, "nation")
    return storage.ManagedTable.create(spark, str(tmp_path / "nation"), df)


def duck_nation(con):
    con.sql(f"CREATE TABLE nation AS SELECT * FROM '{SF}/nation.parquet'")


def test_delete_matches_duckdb(spark, nation_table):
    con = duckdb.connect()
    duck_nation(con)
    n = nation_table.delete("n_regionkey = 2")
    con.sql("DELETE FROM nation WHERE n_regionkey = 2")
    assert n == 5  # TPC-H: 5 nations per region
    assert rows(nation_table.scan(), ["n_nationkey"]) == duck_rows(
        con, "SELECT * FROM nation ORDER BY n_nationkey"
    )
    assert nation_table.count() == 20


def test_update_matches_duckdb(spark, nation_table):
    con = duckdb.connect()
    duck_nation(con)
    stmt_set = {"n_name": "lower(n_name)", "n_regionkey": "n_regionkey + 10"}
    n = nation_table.update(stmt_set, "n_regionkey >= 3")
    con.sql(
        "UPDATE nation SET n_name = lower(n_name), n_regionkey = n_regionkey + 10 "
        "WHERE n_regionkey >= 3"
    )
    assert n == 10
    assert rows(nation_table.scan(), ["n_nationkey"]) == duck_rows(
        con, "SELECT * FROM nation ORDER BY n_nationkey"
    )


def test_insert_then_delete_roundtrip(spark, nation_table):
    extra = spark.createDataFrame(
        [(97, "ATLANTIS", 0), (98, "ELBONIA", 1)],
        nation_table.scan().schema,
    )
    assert nation_table.insert(extra) == 2
    assert nation_table.count() == 27
    assert nation_table.delete("n_nationkey >= 97") == 2
    assert nation_table.count() == 25


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write file pruning: a predicate hitting one file's key
    range must carry every other file forward BY REFERENCE."""
    df = spark.range(0, 1000).withColumn("bucket", (F.col("id") / 100).cast("int"))
    t = storage.ManagedTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(10, "id")
    )
    before = {f["path"] for f in t._manifest()["files"]}
    assert len(before) == 10
    deleted = t.delete("id BETWEEN 250 AND 260")
    assert deleted == 11
    after = {f["path"] for f in t._manifest()["files"]}
    # ≥ 8 of the 10 original files survive untouched (the 250-260 range
    # spans at most 2 range-partitioned files)
    assert len(before & after) >= 8
    assert t.scan().count() == 989


def test_snapshot_versions_remain_scannable(spark, nation_table):
    v0 = nation_table.version
    nation_table.delete("n_regionkey = 0")
    assert nation_table.version == v0 + 1
    assert nation_table.scan(version=v0).count() == 25
    assert nation_table.scan().count() == 20


def test_update_unknown_column_raises(spark, nation_table):
    with pytest.raises(ValueError, match="unknown column"):
        nation_table.update({"nope": "1"}, "true")


# -- sequences ---------------------------------------------------------------


def test_sequence_matches_duckdb(tmp_path):
    con = duckdb.connect()
    con.sql("CREATE SEQUENCE s START 5 INCREMENT 3")
    store = storage.SequenceStore(str(tmp_path / "seq.json"))
    s = store.create("s", start=5, increment=3)
    for _ in range(4):
        assert s.nextval() == con.sql("SELECT nextval('s')").fetchone()[0]
    assert s.currval() == con.sql("SELECT currval('s')").fetchone()[0]


def test_sequence_cycle_and_exhaustion(tmp_path):
    store = storage.SequenceStore(str(tmp_path / "seq.json"))
    c = store.create("c", start=1, maxvalue=3, cycle=True)
    assert [c.nextval() for _ in range(5)] == [1, 2, 3, 1, 2]
    e = store.create("e", start=1, maxvalue=2)
    assert e.nextval() == 1 and e.nextval() == 2
    with pytest.raises(OverflowError):
        e.nextval()


def test_sequence_persistence(tmp_path):
    p = str(tmp_path / "seq.json")
    s = storage.SequenceStore(p).create("p", start=10)
    assert s.nextval() == 10
    # fresh store over the same file resumes, like a reopened catalog
    assert storage.SequenceStore(p).get("p").nextval() == 11


def test_sequence_attach_column_distributed(spark, tmp_path):
    """Bulk assignment: one reservation, distributed numbering — ids are
    dense, unique, and ordered by the given key."""
    store = storage.SequenceStore(str(tmp_path / "seq.json"))
    s = store.create("ids", start=100, increment=2)
    df = load_table(spark, SF, "nation")
    out = s.attach_column(df, "row_id", ["n_nationkey"]).orderBy("n_nationkey")
    ids = [r["row_id"] for r in out.collect()]
    assert ids == list(range(100, 100 + 2 * 25, 2))
    # the range really was consumed from the counter
    assert s.nextval() == 100 + 2 * 25


# -- EXPORT / IMPORT / ATTACH ------------------------------------------------


def test_export_import_roundtrip(spark, tmp_path):
    out = str(tmp_path / "exported")
    tables = {
        "nation": load_table(spark, SF, "nation"),
        "region": load_table(spark, SF, "region"),
    }
    storage.export_database(spark, out, tables)
    assert os.path.exists(f"{out}/schema.sql") and os.path.exists(f"{out}/load.sql")
    # DuckDB can rebuild the database from our export layout (schema.sql
    # then load.sql) — the reference's own import contract
    con = duckdb.connect()
    for f in ("schema.sql", "load.sql"):
        for stmt in open(f"{out}/{f}").read().split(";"):
            if stmt.strip():
                con.sql(stmt)
    assert con.sql("SELECT count(*) FROM nation").fetchone()[0] == 25
    names = storage.import_database(spark, out)
    assert sorted(names) == ["nation", "region"]
    assert spark.table("nation").count() == 25


def test_attach_qualified_names_via_front_door(spark, tmp_path):
    out = str(tmp_path / "exported")
    storage.export_database(spark, out, {"nation": load_table(spark, SF, "nation")})
    run_sql(spark, f"ATTACH '{out}' AS ext")
    try:
        got = run_sql(
            spark, "SELECT count(*) AS n FROM ext.nation WHERE n_regionkey = 1"
        ).collect()
        assert got[0]["n"] == 5
    finally:
        run_sql(spark, "DETACH ext")
    assert "ext" not in storage.attached_aliases()


# -- SQL front door DML ------------------------------------------------------


def test_front_door_dml_matches_duckdb(spark):
    con = duckdb.connect()
    stmts = [
        "CREATE OR REPLACE TABLE t_dml AS "
        f"SELECT * FROM '{SF}/nation.parquet' WHERE n_nationkey < 10",
        "INSERT INTO t_dml VALUES (50, 'NARNIA', 3)",
        "DELETE FROM t_dml WHERE n_regionkey = 0",
        "UPDATE t_dml SET n_name = upper(n_name) || '!' WHERE n_regionkey = 1",
    ]
    spark_stmts = [
        "CREATE OR REPLACE TABLE t_dml AS "
        f"SELECT * FROM parquet.`{SF}/nation.parquet` WHERE n_nationkey < 10",
    ] + stmts[1:]
    for s in spark_stmts:
        run_sql(spark, s)
    for s in stmts:
        con.sql(s)
    got = [tuple(r) for r in spark.table("t_dml").orderBy("n_nationkey").collect()]
    want = con.sql("SELECT * FROM t_dml ORDER BY n_nationkey").fetchall()
    assert got == want


def test_front_door_sequence_statements(spark):
    run_sql(spark, "CREATE OR REPLACE SEQUENCE fs START 7")
    one = run_sql(spark, "SELECT nextval('fs') AS v").collect()
    two = run_sql(spark, "SELECT nextval('fs') AS v, currval('fs') AS c").collect()
    assert one[0]["v"] == 7
    assert two[0]["v"] == 8 and two[0]["c"] == 8
    run_sql(spark, "DROP SEQUENCE fs")
    with pytest.raises(KeyError):
        run_sql(spark, "SELECT nextval('fs') AS v")


def test_front_door_export_database(spark, tmp_path):
    run_sql(
        spark,
        "CREATE OR REPLACE TABLE t_exp AS "
        f"SELECT * FROM parquet.`{SF}/region.parquet`",
    )
    out = str(tmp_path / "exp")
    run_sql(spark, f"EXPORT DATABASE '{out}'")
    assert os.path.exists(f"{out}/t_exp.parquet")
    assert "t_exp" in open(f"{out}/schema.sql").read()


def test_front_door_upsert_matches_duckdb(spark):
    """INSERT ... ON CONFLICT / OR REPLACE / OR IGNORE parity (reference
    physical_insert.cpp OnConflictHandling): identical statement text runs
    against both engines; Counts and final table contents must match."""
    con = duckdb.connect()
    stmts = [
        "CREATE OR REPLACE TABLE t_up (i INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t_up VALUES (1, 10), (2, 20)",
        "INSERT INTO t_up VALUES (1, 99), (3, 30) ON CONFLICT DO NOTHING",
        "INSERT INTO t_up VALUES (1, 100), (4, 40) "
        "ON CONFLICT (i) DO UPDATE SET v = excluded.v + t_up.v",
        "INSERT OR REPLACE INTO t_up VALUES (1, -1), (5, 50)",
        "INSERT OR IGNORE INTO t_up VALUES (1, 0), (6, 60)",
        "INSERT INTO t_up VALUES (2, 2000), (6, 6000) "
        "ON CONFLICT (i) DO UPDATE SET v = excluded.v WHERE t_up.v < 100",
    ]
    for s in stmts:
        got = run_sql(spark, s)
        want = con.sql(s)
        if want is not None and s.lstrip().upper().startswith("INSERT"):
            got_n, want_n = got.collect()[0][0], want.fetchall()[0][0]
            assert got_n == want_n, f"Count mismatch for {s!r}: {got_n} != {want_n}"
    got = [tuple(r) for r in spark.table("t_up").orderBy("i").collect()]
    want = con.sql("SELECT * FROM t_up ORDER BY i").fetchall()
    assert got == want


def test_front_door_upsert_constraint_errors(spark):
    con = duckdb.connect()
    for s in (
        "CREATE OR REPLACE TABLE t_uc (i INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t_uc VALUES (1, 10)",
    ):
        run_sql(spark, s)
        con.sql(s)
    # plain INSERT duplicating the key errors in both engines
    with pytest.raises(Exception, match="[Dd]uplicate key"):
        run_sql(spark, "INSERT INTO t_uc VALUES (1, 5)")
    with pytest.raises(Exception, match="[Dd]uplicate key"):
        con.sql("INSERT INTO t_uc VALUES (1, 5)")
    # within-batch duplicate conflict keys error even under ON CONFLICT
    # (the reference cannot see same-statement inserts)
    with pytest.raises(Exception, match="duplicate key"):
        run_sql(spark, "INSERT INTO t_uc VALUES (7, 1), (7, 2) ON CONFLICT DO NOTHING")
    with pytest.raises(Exception, match="duplicate key"):
        con.sql("INSERT INTO t_uc VALUES (7, 1), (7, 2) ON CONFLICT DO NOTHING")


def test_front_door_insert_column_list(spark):
    con = duckdb.connect()
    stmts = [
        "CREATE OR REPLACE TABLE t_cl (a INTEGER, b INTEGER, c VARCHAR)",
        "INSERT INTO t_cl (c, a) VALUES ('x', 1), ('y', 2)",
        "INSERT INTO t_cl VALUES (3, 33, 'z')",
    ]
    for s in stmts:
        run_sql(spark, s)
        con.sql(s)
    got = [tuple(r) for r in spark.table("t_cl").orderBy("a").collect()]
    want = con.sql("SELECT * FROM t_cl ORDER BY a").fetchall()
    assert got == want


def test_front_door_prepared_statements(spark):
    """PREPARE / EXECUTE / DEALLOCATE (reference EP2,
    src/main/prepared_statement.cpp) — positional ?, $n and named $name
    forms, EXECUTE of DML, and DEALLOCATE removal."""
    con = duckdb.connect()
    run_sql(spark, "PREPARE p_add AS SELECT CAST(? AS INT) + CAST(? AS INT) AS s")
    con.sql("PREPARE p_add AS SELECT CAST(? AS INT) + CAST(? AS INT) AS s")
    got = run_sql(spark, "EXECUTE p_add(19, 23)").collect()[0]["s"]
    want = con.sql("EXECUTE p_add(19, 23)").fetchall()[0][0]
    assert got == want == 42
    run_sql(spark, "PREPARE p_named AS SELECT $hi::INT - $lo::INT AS d")
    con.sql("PREPARE p_named AS SELECT $hi::INT - $lo::INT AS d")
    got = run_sql(spark, "EXECUTE p_named(hi := 50, lo := 8)").collect()[0]["d"]
    want = con.sql("EXECUTE p_named(hi := 50, lo := 8)").fetchall()[0][0]
    assert got == want == 42
    # EXECUTE of a DML statement goes through the managed-storage path
    run_sql(spark, "CREATE OR REPLACE TABLE t_prep (i INTEGER PRIMARY KEY, v INTEGER)")
    run_sql(spark, "PREPARE p_ins AS INSERT INTO t_prep VALUES ($1, $2)")
    run_sql(spark, "EXECUTE p_ins(1, 100)")
    run_sql(spark, "EXECUTE p_ins(2, 200)")
    assert [tuple(r) for r in spark.table("t_prep").orderBy("i").collect()] == [
        (1, 100), (2, 200),
    ]
    run_sql(spark, "DEALLOCATE p_add")
    with pytest.raises(Exception):
        run_sql(spark, "EXECUTE p_add(1, 2)")


def _dual(spark, con, stmts):
    """Run the same script against both front doors, return None."""
    for s in stmts:
        run_sql(spark, s)
        con.sql(s)


def _compare(spark, con, table, order):
    got = [tuple(r) for r in spark.table(table).orderBy(order).collect()]
    want = con.sql(f"SELECT * FROM {table} ORDER BY {order}").fetchall()
    assert got == want


def test_front_door_transactions_rollback_commit(spark):
    """BEGIN/COMMIT/ROLLBACK over manifest savepoints (reference MVCC
    rollback src/transaction/undo_buffer.cpp; here a version-pointer
    swap on the copy-on-write manifest)."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_txn(i INTEGER, s VARCHAR)",
        "INSERT INTO t_txn VALUES (1, 'a'), (2, 'b'), (3, 'c')",
        "BEGIN TRANSACTION",
        "DELETE FROM t_txn WHERE i = 2",
        "UPDATE t_txn SET s = 'z' WHERE i = 3",
    ])
    _compare(spark, con, "t_txn", "i")  # in-txn state visible
    _dual(spark, con, ["ROLLBACK"])
    _compare(spark, con, "t_txn", "i")  # pre-txn state restored
    _dual(spark, con, [
        "BEGIN TRANSACTION",
        "INSERT INTO t_txn VALUES (4, 'd')",
        "COMMIT",
    ])
    _compare(spark, con, "t_txn", "i")
    # table created inside a rolled-back txn disappears
    _dual(spark, con, [
        "BEGIN TRANSACTION",
        "CREATE TABLE t_txn2 AS SELECT 1 AS x",
        "ROLLBACK",
    ])
    with pytest.raises(Exception):
        spark.table("t_txn2").collect()
    run_sql(spark, "DROP TABLE t_txn")


def test_front_door_multi_statement_script(spark):
    con = duckdb.connect()
    run_sql(
        spark,
        "CREATE OR REPLACE TABLE t_ms(i INTEGER); "
        "INSERT INTO t_ms VALUES (1), (2); "
        "BEGIN TRANSACTION; DELETE FROM t_ms WHERE i = 1;",
    )
    con.sql(
        "CREATE OR REPLACE TABLE t_ms(i INTEGER); "
        "INSERT INTO t_ms VALUES (1), (2); "
        "BEGIN TRANSACTION; DELETE FROM t_ms WHERE i = 1;"
    )
    _compare(spark, con, "t_ms", "i")
    _dual(spark, con, ["ROLLBACK"])
    _compare(spark, con, "t_ms", "i")
    run_sql(spark, "DROP TABLE t_ms")


def test_front_door_truncate_and_drop(spark):
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_tr AS SELECT * FROM range(100) t(i)",
        "TRUNCATE t_tr",
    ])
    assert spark.table("t_tr").count() == 0
    assert con.sql("SELECT count(*) FROM t_tr").fetchone()[0] == 0
    _dual(spark, con, ["INSERT INTO t_tr VALUES (7)"])  # schema survives
    _compare(spark, con, "t_tr", "i")
    run_sql(spark, "DROP TABLE t_tr")
    with pytest.raises(Exception):
        run_sql(spark, "DROP TABLE t_tr")  # already gone
    run_sql(spark, "DROP TABLE IF EXISTS t_tr")  # no-op


def test_front_door_delete_using(spark):
    """DELETE ... USING (reference test/sql/delete/test_using_delete.test)
    compiles to a correlated EXISTS, planned as a semi join."""
    con = duckdb.connect()
    stmts = [
        "CREATE OR REPLACE TABLE t_du(i INTEGER)",
        "INSERT INTO t_du VALUES (1), (2), (3), (4), (4)",
        "DELETE FROM t_du USING (VALUES (1), (4)) tbl(i) WHERE t_du.i = tbl.i",
    ]
    _dual(spark, con, stmts)
    _compare(spark, con, "t_du", "i")
    # self-referencing USING: delete every i greater than some other i
    _dual(spark, con, [
        "INSERT INTO t_du VALUES (9)",
        "DELETE FROM t_du USING t_du t2 WHERE t_du.i > t2.i",
    ])
    _compare(spark, con, "t_du", "i")
    run_sql(spark, "DROP TABLE t_du")


def test_front_door_null_predicate_delete(spark):
    """Rows where the DELETE predicate evaluates NULL survive (3VL) —
    regression for the ~pred survivors filter."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_np(i INTEGER)",
        "INSERT INTO t_np VALUES (1), (NULL), (10)",
        "DELETE FROM t_np WHERE i > 5",
    ])
    got = sorted((tuple(r) for r in spark.table("t_np").collect()), key=str)
    want = sorted(con.sql("SELECT * FROM t_np").fetchall(), key=str)
    assert got == want
    assert spark.table("t_np").count() == 2  # 1 and NULL survive
    run_sql(spark, "DROP TABLE t_np")


def test_front_door_array_column_defs(spark):
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_arr(k INTEGER, v INTEGER[])",
        "INSERT INTO t_arr VALUES (1, [1, 2, 3]), (2, NULL)",
    ])
    got = [tuple(r) for r in spark.table("t_arr").orderBy("k").collect()]
    want = con.sql("SELECT * FROM t_arr ORDER BY k").fetchall()
    assert [(k, list(v) if v is not None else None) for k, v in got] == want
    run_sql(spark, "DROP TABLE t_arr")


def test_update_from_scratch_dir_cleaned_and_view_scoped(spark):
    """UPDATE ... FROM stamps a full table copy to data/upd_<uuid> — it
    must be deleted after commit (ADVICE r5: unbounded disk leak), and
    the stamped temp view must be per-invocation, not a fixed global."""
    import glob
    import os

    from myduckdb_spark.sql import _MANAGED

    con = duckdb.connect()
    stmts = [
        "CREATE OR REPLACE TABLE t_uf(i INTEGER, v VARCHAR)",
        "INSERT INTO t_uf VALUES (1,'a'), (2,'b'), (3,'c')",
        "UPDATE t_uf SET v = s.nv FROM (VALUES (1,'A'), (3,'C')) s(si, nv) "
        "WHERE t_uf.i = s.si",
        "UPDATE t_uf SET v = s.nv FROM (VALUES (2,'B')) s(si, nv) "
        "WHERE t_uf.i = s.si",
    ]
    _dual(spark, con, stmts)
    _compare(spark, con, "t_uf", "i")
    root = _MANAGED["t_uf"].root
    leaks = glob.glob(os.path.join(root, "data", "upd_*"))
    assert leaks == [], f"stamped UPDATE...FROM scratch dirs leaked: {leaks}"
    # no fixed-name global temp view left behind either
    names = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    assert not any(n.startswith("__upd_target") for n in names)
    run_sql(spark, "DROP TABLE t_uf")


def test_alter_table_add_drop_rename_type(spark):
    """ALTER TABLE ADD/DROP/RENAME COLUMN, ALTER TYPE [USING], RENAME TO
    (reference test/sql/alter/*; executor duckdb_table_entry.cpp). Schema
    changes are metadata-only projection stages; the first write after an
    ALTER materializes them once."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_alt(i INTEGER, j INTEGER)",
        "INSERT INTO t_alt VALUES (1, 1), (2, 2)",
        "ALTER TABLE t_alt ADD COLUMN k INTEGER",
    ])
    _compare(spark, con, "t_alt", "i")
    _dual(spark, con, [
        "ALTER TABLE t_alt ADD COLUMN l VARCHAR DEFAULT 'dflt'",
        "ALTER TABLE t_alt RENAME COLUMN j TO jj",
    ])
    _compare(spark, con, "t_alt", "i")
    # write-after-alter materializes the pending stages, then appends
    _dual(spark, con, [
        "INSERT INTO t_alt VALUES (3, 3, 33, 'x')",
        "ALTER TABLE t_alt DROP COLUMN k",
        "UPDATE t_alt SET l = l || '!' WHERE i = 2",
        "ALTER TABLE t_alt ALTER COLUMN i TYPE VARCHAR",
    ])
    _compare(spark, con, "t_alt", "i")
    _dual(spark, con, [
        "ALTER TABLE t_alt ALTER jj SET DATA TYPE VARCHAR USING 'v' || jj",
        "DELETE FROM t_alt WHERE i = '1'",
    ])
    _compare(spark, con, "t_alt", "i")
    _dual(spark, con, ["ALTER TABLE t_alt RENAME TO t_alt2"])
    _compare(spark, con, "t_alt2", "i")
    # errors match the reference's shape
    with pytest.raises(Exception):
        run_sql(spark, "ALTER TABLE t_alt2 ADD COLUMN jj INTEGER")
    with pytest.raises(Exception):
        run_sql(spark, "ALTER TABLE t_alt2 DROP COLUMN nope")
    with pytest.raises(Exception):
        run_sql(spark, "ALTER TABLE missing_tbl ADD COLUMN x INTEGER")
    run_sql(spark, "ALTER TABLE IF EXISTS missing_tbl ADD COLUMN x INTEGER")
    run_sql(spark, "ALTER TABLE t_alt2 ADD COLUMN IF NOT EXISTS jj INTEGER")
    run_sql(spark, "DROP TABLE t_alt2")


def test_alter_rename_col_carries_key(spark):
    """RENAME COLUMN keeps PRIMARY KEY arbiter usable under the new name
    (reference RenameColumn rewrites dependent index column lists)."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_ak(id INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO t_ak VALUES (1, 'a'), (2, 'b')",
        "ALTER TABLE t_ak RENAME COLUMN id TO pk",
        "INSERT INTO t_ak VALUES (1, 'A') ON CONFLICT (pk) DO UPDATE SET v = excluded.v",
    ])
    _compare(spark, con, "t_ak", "pk")
    # dropping a keyed column is refused
    with pytest.raises(Exception):
        run_sql(spark, "ALTER TABLE t_ak DROP COLUMN pk")
    run_sql(spark, "DROP TABLE t_ak")


def test_front_door_copy_to_from_roundtrip(spark, tmp_path):
    """COPY ... TO / COPY ... FROM (reference physical_copy_to_file.cpp /
    physical_copy_from_file.cpp; test/sql/copy/*): single-file CSV /
    PARQUET round-trips through the managed front door, subquery COPY,
    and the PARTITION_BY directory-tree scale path."""
    con = duckdb.connect()
    run_sql(spark, "CREATE OR REPLACE TABLE t_cp(i INTEGER, s VARCHAR)")
    run_sql(spark, "INSERT INTO t_cp VALUES (1,'a'), (2,'b,c'), (3,NULL)")
    csv = str(tmp_path / "t.csv")
    n = run_sql(spark, f"COPY t_cp TO '{csv}' (HEADER, DELIMITER ',')").collect()
    assert n[0]["Count"] == 3 and os.path.isfile(csv)
    # DuckDB itself can read our single-file output
    got = con.execute(f"SELECT * FROM read_csv_auto('{csv}') ORDER BY i").fetchall()
    assert got == [(1, "a"), (2, "b,c"), (3, None)]
    # round-trip back in
    run_sql(spark, "CREATE OR REPLACE TABLE t_cp2(i INTEGER, s VARCHAR)")
    n2 = run_sql(spark, f"COPY t_cp2 FROM '{csv}' (HEADER)").collect()
    assert n2[0]["Count"] == 3
    got2 = [tuple(r) for r in spark.table("t_cp2").orderBy("i").collect()]
    assert got2 == [(1, "a"), (2, "b,c"), (3, None)]
    # parquet + subquery form
    pq = str(tmp_path / "t.parquet")
    run_sql(spark, f"COPY (SELECT i * 10 AS i10 FROM t_cp) TO '{pq}' (FORMAT PARQUET)")
    assert con.execute(f"SELECT sum(i10) FROM read_parquet('{pq}')").fetchone()[0] == 60
    # PARTITION_BY writes a directory tree (the scale path, no coalesce)
    pdir = str(tmp_path / "part_out")
    run_sql(spark, f"COPY t_cp TO '{pdir}' (FORMAT PARQUET, PARTITION_BY (i))")
    assert os.path.isdir(pdir) and any("i=" in d for d in os.listdir(pdir))
    for t in ("t_cp", "t_cp2"):
        run_sql(spark, f"DROP TABLE {t}")


def test_front_door_copy_column_list(spark, tmp_path):
    """COPY t(cols) FROM: unlisted columns fill NULL (reference
    transform_copy.cpp column binding)."""
    run_sql(spark, "CREATE OR REPLACE TABLE t_cl(a INTEGER, b VARCHAR, c DOUBLE)")
    run_sql(spark, "INSERT INTO t_cl VALUES (1,'x',1.5)")
    csv = str(tmp_path / "cl.csv")
    run_sql(spark, "CREATE OR REPLACE TABLE t_src(a INTEGER, c DOUBLE)")
    run_sql(spark, "INSERT INTO t_src VALUES (7, 7.5)")
    run_sql(spark, f"COPY t_src TO '{csv}' (HEADER)")
    run_sql(spark, f"COPY t_cl (a, c) FROM '{csv}' (HEADER)")
    got = [tuple(r) for r in spark.table("t_cl").orderBy("a").collect()]
    assert got == [(1, "x", 1.5), (7, None, 7.5)]
    for t in ("t_cl", "t_src"):
        run_sql(spark, f"DROP TABLE {t}")


def test_front_door_create_view(spark):
    """CREATE VIEW stores the SELECT's Spark text as a Spark temp view, so
    each use binds the base tables by name and sees the CURRENT table
    state after DML (reference view_catalog_entry.cpp binds the stored
    parse tree at query time). A prefix column list names the first
    columns; the rest keep their own names. Repeated column names read
    as in DuckDB."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_v(i INTEGER, v VARCHAR)",
        "INSERT INTO t_v VALUES (1,'a'), (2,'b'), (3,'c')",
        "CREATE VIEW v_big AS SELECT i, upper(v) AS uv FROM t_v WHERE i > 1",
        "CREATE VIEW v_pre(a, b) AS SELECT i, v, i * 10 AS k FROM t_v",
        "CREATE VIEW v_dup AS SELECT * FROM t_v a, t_v b WHERE a.i = b.i",
    ])
    _compare(spark, con, "v_big", "i")
    _compare(spark, con, "v_pre", "a")
    _compare(spark, con, "v_dup", "i")
    assert spark.table("v_pre").columns == ["a", "b", "k"]
    assert [tuple(r) for r in run_sql(spark, "DESCRIBE v_dup").collect()] == \
        con.sql("DESCRIBE v_dup").fetchall()
    # view reflects subsequent DML on the base table
    _dual(spark, con, [
        "INSERT INTO t_v VALUES (4,'d')",
        "UPDATE t_v SET v = 'z' WHERE i = 2",
        "DELETE FROM t_v WHERE i = 3",
    ])
    _compare(spark, con, "v_big", "i")
    _compare(spark, con, "v_pre", "a")
    _compare(spark, con, "v_dup", "i")
    # column-alias list form + view-on-view
    _dual(spark, con, [
        "CREATE VIEW v_named (k, s) AS SELECT i, uv FROM v_big",
    ])
    _compare(spark, con, "v_named", "k")
    with pytest.raises(Exception):
        run_sql(spark, "CREATE VIEW v_big AS SELECT 1")
    run_sql(spark, "CREATE OR REPLACE VIEW v_big AS SELECT 9 AS i")
    with pytest.raises(Exception):
        run_sql(spark, "DROP VIEW nope_view")
    run_sql(spark, "DROP VIEW IF EXISTS nope_view")
    for s in ("DROP VIEW v_named", "DROP VIEW v_big", "DROP VIEW v_pre",
              "DROP VIEW v_dup", "DROP TABLE t_v"):
        run_sql(spark, s)


def test_view_calling_on_demand_udf_reads_after_dml(spark):
    """The front door registers jaro_winkler_similarity as a Python UDF
    when a statement first names it; a view over it resolves the UDF by
    name on each use, after DML as before."""
    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_jw(i INTEGER, s VARCHAR)",
        "INSERT INTO t_jw VALUES (1, 'martha'), (2, 'dixon')",
        "CREATE VIEW v_jw AS SELECT i,"
        " round(jaro_winkler_similarity(s, 'marhta'), 6) AS sim FROM t_jw",
    ])
    _compare(spark, con, "v_jw", "i")
    _dual(spark, con, ["INSERT INTO t_jw VALUES (3, 'jellyfish')"])
    _compare(spark, con, "v_jw", "i")
    for s in ("DROP VIEW v_jw", "DROP TABLE t_jw"):
        run_sql(spark, s)


def test_dml_translates_no_view(spark, monkeypatch):
    """Views bind when they are used, so a DML statement translates its
    own text once, however many views read the table."""
    from myduckdb_spark import sql as S

    run_sql(spark, "CREATE OR REPLACE TABLE t_cnt(i INTEGER)")
    for n in range(3):
        run_sql(spark, f"CREATE VIEW v_cnt{n} AS SELECT i + {n} AS j FROM t_cnt")
    calls = []
    translate = S.translate
    monkeypatch.setattr(S, "translate",
                        lambda *a, **k: calls.append(a) or translate(*a, **k))
    run_sql(spark, "INSERT INTO t_cnt VALUES (1)")
    monkeypatch.undo()
    assert len(calls) == 1, calls
    assert [tuple(r) for r in spark.table("v_cnt2").collect()] == [(3,)]
    for s in ("DROP VIEW v_cnt0", "DROP VIEW v_cnt1", "DROP VIEW v_cnt2",
              "DROP TABLE t_cnt"):
        run_sql(spark, s)


def test_view_over_helper_relation_is_refused(spark):
    """information_schema rows live in a helper relation that the next
    statement naming it replaces; a late-bound view over it would read
    that statement's rows, so CREATE VIEW refuses and names the form."""
    with pytest.raises(ValueError, match="over information_schema"):
        run_sql(spark, "CREATE VIEW v_is AS SELECT table_name"
                       " FROM information_schema.tables")
    with pytest.raises(KeyError):
        run_sql(spark, "DROP VIEW v_is")


def test_view_over_dropped_table_errors_after_refresh(spark):
    """A view whose base table was dropped: the next DML statement's view
    refresh succeeds, and the view errors on its next use, as in DuckDB
    (which binds a view when it is used)."""
    from pyspark.errors import AnalysisException

    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_gone(i INTEGER)",
        "CREATE OR REPLACE TABLE t_kept(i INTEGER)",
        "INSERT INTO t_gone VALUES (1)",
        "CREATE VIEW v_gone AS SELECT i FROM t_gone",
        "DROP TABLE t_gone",
        "INSERT INTO t_kept VALUES (2)",
    ])
    _compare(spark, con, "t_kept", "i")
    with pytest.raises(duckdb.CatalogException):
        con.sql("SELECT * FROM v_gone")
    with pytest.raises(AnalysisException):
        run_sql(spark, "SELECT * FROM v_gone").collect()
    for s in ("DROP VIEW v_gone", "DROP TABLE t_kept"):
        run_sql(spark, s)


def test_view_column_list_after_alter_errors_on_use(spark):
    """A view with a column list over ``SELECT *``: ALTER TABLE ADD COLUMN
    leaves it one alias short. The ALTER and later DML on other tables
    succeed, and the view errors on use, as in DuckDB; once the column is
    dropped again the view reads as before."""
    from pyspark.errors import AnalysisException

    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_al(a INTEGER, b INTEGER)",
        "CREATE OR REPLACE TABLE t_other(i INTEGER)",
        "INSERT INTO t_al VALUES (1, 2)",
        "CREATE VIEW v_al(p, q) AS SELECT * FROM t_al",
        "ALTER TABLE t_al ADD COLUMN k INTEGER",
        "INSERT INTO t_other VALUES (1)",
        "UPDATE t_other SET i = 2",
    ])
    _compare(spark, con, "t_other", "i")
    with pytest.raises(duckdb.BinderException):
        con.sql("SELECT * FROM v_al")
    with pytest.raises(AnalysisException):
        run_sql(spark, "SELECT * FROM v_al").collect()
    _dual(spark, con, [
        "ALTER TABLE t_al DROP COLUMN k",
        "DELETE FROM t_other",
    ])
    _compare(spark, con, "v_al", "p")
    for s in ("DROP VIEW v_al", "DROP TABLE t_al", "DROP TABLE t_other"):
        run_sql(spark, s)


def test_view_column_list_after_drop_and_add_errors_on_use(spark):
    """``SELECT *`` under a column list, then DROP COLUMN k and ADD COLUMN
    z: the column count is unchanged but the names are not, and the view
    errors on use, as DuckDB's "Contents of view were altered" does,
    instead of reading z as r."""
    from pyspark.errors import AnalysisException

    con = duckdb.connect()
    _dual(spark, con, [
        "CREATE OR REPLACE TABLE t_dz(i INTEGER, j INTEGER, k INTEGER)",
        "INSERT INTO t_dz VALUES (1, 2, 3)",
        "CREATE VIEW w_dz(p, q, r) AS SELECT * FROM t_dz",
    ])
    _compare(spark, con, "w_dz", "p")
    _dual(spark, con, [
        "ALTER TABLE t_dz DROP COLUMN k",
        "ALTER TABLE t_dz ADD COLUMN z INTEGER",
    ])
    with pytest.raises(duckdb.BinderException):
        con.sql("SELECT * FROM w_dz")
    with pytest.raises(AnalysisException):
        run_sql(spark, "SELECT * FROM w_dz").collect()
    for s in ("DROP VIEW w_dz", "DROP TABLE t_dz"):
        run_sql(spark, s)


def _outcome(run):
    """The rows a statement returns, or "error" if it raises. A DDL
    statement's empty result reads as DuckDB's: no rows."""
    try:
        rows = [tuple(r) for r in run()]
    except Exception:
        return "error"
    return [] if rows == [(0,)] else rows


_EXQ_TABLES = ("SELECT table_catalog, table_name, table_type"
               " FROM information_schema.tables"
               " WHERE table_name LIKE 'exq%' ORDER BY ALL")


@pytest.mark.parametrize("stmts, checks, teardown", [
    pytest.param(
        ["CREATE TABLE IF NOT EXISTS exq_c AS SELECT i FROM exq_t",
         "CREATE TABLE IF NOT EXISTS exq_c AS SELECT j FROM exq_t"],
        ["SELECT * FROM exq_c ORDER BY ALL", _EXQ_TABLES],
        ["DROP TABLE exq_c"], id="ctas_if_not_exists"),
    pytest.param(
        ["CREATE TEMP TABLE IF NOT EXISTS exq_tt AS SELECT 1 AS x",
         "CREATE TEMP TABLE IF NOT EXISTS exq_tt AS SELECT 2 AS x"],
        ["SELECT * FROM exq_tt", _EXQ_TABLES],
        ["DROP TABLE exq_tt"], id="temp_ctas_if_not_exists"),
    pytest.param(
        ["CREATE MACRO IF NOT EXISTS exq_m(x) AS x + 1",
         "CREATE MACRO IF NOT EXISTS exq_m(x) AS x + 2",
         "CREATE MACRO exq_m(x) AS x + 3"],
        ["SELECT exq_m(1) AS v"],
        ["DROP MACRO exq_m"], id="macro_if_not_exists"),
    pytest.param(
        ["CREATE VIEW exq_v AS SELECT i FROM exq_t",
         "CREATE VIEW IF NOT EXISTS exq_v AS SELECT j FROM exq_t",
         "CREATE VIEW exq_v AS SELECT j FROM exq_t"],
        ["SELECT * FROM exq_v ORDER BY ALL", _EXQ_TABLES],
        ["DROP VIEW exq_v"], id="view_if_not_exists"),
    pytest.param(
        ["CREATE INDEX exq_ix ON exq_t (i)",
         "CREATE UNIQUE INDEX IF NOT EXISTS exq_ix ON exq_t (j)",
         "CREATE INDEX exq_ix ON exq_t (j)",
         "INSERT INTO exq_t VALUES (5, 2)"],
        ["SELECT * FROM exq_t ORDER BY ALL",
         "SELECT index_name, table_name, is_unique FROM duckdb_indexes()"
         " WHERE index_name LIKE 'exq%'"],
        ["DROP INDEX exq_ix"], id="unique_index_if_not_exists"),
    pytest.param(
        ["DROP INDEX exq_nope", "DROP INDEX IF EXISTS exq_nope",
         "DROP TABLE exq_nope", "DROP SEQUENCE exq_nope"],
        [], [], id="drop_missing"),
    pytest.param(
        ["CREATE VIEW exq_v2 AS SELECT 1 AS a",
         "DROP VIEW IF EXISTS exq_v2 RESTRICT",
         "DROP VIEW IF EXISTS exq_v2 CASCADE"],
        [_EXQ_TABLES], [], id="drop_view_restrict"),
    pytest.param(
        ["CREATE OR REPLACE VIEW IF NOT EXISTS exq_v3 AS SELECT 1 AS a",
         "CREATE OR REPLACE TABLE IF NOT EXISTS exq_t3 (i INTEGER)"],
        [_EXQ_TABLES], [], id="or_replace_if_not_exists"),
])
def test_existence_clauses_match_duckdb(spark, stmts, checks, teardown):
    """IF [NOT] EXISTS and OR REPLACE follow DuckDB for every catalog
    kind: each statement returns what DuckDB returns or raises where it
    raises, and the catalog state read back afterwards is the same."""
    con = duckdb.connect()
    setup = ["CREATE OR REPLACE TABLE exq_t(i INTEGER, j INTEGER)",
             "INSERT INTO exq_t VALUES (1, 2), (3, 4)"]
    try:
        _dual(spark, con, setup)
        for s in stmts + checks:
            want = _outcome(lambda: con.execute(s).fetchall())
            assert _outcome(lambda: run_sql(spark, s).collect()) == want, s
        for s in teardown:
            _dual(spark, con, [s])
    finally:
        run_sql(spark, "DROP TABLE IF EXISTS exq_t")


_QB_BODIES = {
    "information_schema": ("(table_name VARCHAR)",
                           "SELECT table_name FROM information_schema.tables"
                           " WHERE table_name = 'qb_src'"),
    "on_demand_udf": ("(i INTEGER, sim DOUBLE)",
                      "SELECT i, round(jaro_winkler_similarity(s, 'marhta'), 6)"
                      " AS sim FROM qb_src"),
    "alias_in_where": ("(k INTEGER)", "SELECT i AS k FROM qb_src WHERE k > 1"),
}


@pytest.mark.parametrize("form", ["ctas", "insert", "explain"])
@pytest.mark.parametrize("body", list(_QB_BODIES))
def test_query_body_runs_the_query_step(spark, form, body):
    """A query inside CTAS, INSERT … SELECT or EXPLAIN binds as the same
    query does alone: the catalog binders, the on-demand UDFs and the
    select-list alias retry all apply."""
    cols, query = _QB_BODIES[body]
    con = duckdb.connect()
    setup = ["CREATE OR REPLACE TABLE qb_src(i INTEGER, s VARCHAR)",
             "INSERT INTO qb_src VALUES (1, 'martha'), (2, 'dixon'), (3, 'x')"]
    try:
        _dual(spark, con, setup)
        if form == "explain":
            out = run_sql(spark, f"EXPLAIN {query}").collect()
            assert out[0]["explain_key"] == "physical_plan"
            return
        stmts = ([f"CREATE OR REPLACE TABLE qb_out AS {query}"] if form == "ctas"
                 else [f"CREATE OR REPLACE TABLE qb_out {cols}",
                       f"INSERT INTO qb_out {query}"])
        _dual(spark, con, stmts)
        got = [tuple(r) for r in run_sql(spark, "SELECT * FROM qb_out ORDER BY ALL").collect()]
        assert got == con.sql("SELECT * FROM qb_out ORDER BY ALL").fetchall()
        assert got
    finally:
        run_sql(spark, "DROP TABLE IF EXISTS qb_out")
        run_sql(spark, "DROP TABLE IF EXISTS qb_src")

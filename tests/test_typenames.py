"""One DuckDB type table (myduckdb_spark/functions/typenames.py): a column
declared through the SQL front door reports DuckDB's type name on every
surface that names it, and EXPORT DATABASE writes a schema.sql DuckDB
runs."""

import re

import duckdb
import pytest

from myduckdb_spark import sql as S
from myduckdb_spark.functions import typenames

TYPES = [
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    "FLOAT", "DOUBLE", "DECIMAL(10,2)",
    "VARCHAR", "BLOB", "BOOLEAN", "DATE", "TIMESTAMP", "TIMESTAMPTZ",
    "UUID", "JSON",
    "INTEGER[]", "VARCHAR[]", "TIMESTAMPTZ[]", "UTINYINT[]",
    "INT8", "REAL", "TEXT", "BYTEA", "DATETIME", "NUMERIC",
    "TIMESTAMP WITH TIME ZONE",
]


@pytest.fixture(scope="module")
def duck_types():
    """DuckDB's DESCRIBE column_type for each declared type."""
    con = duckdb.connect()
    out = {}
    for t in TYPES:
        con.execute(f"CREATE OR REPLACE TABLE t (c {t})")
        out[t] = con.execute("DESCRIBE t").fetchall()[0][1]
    return out


def _surfaces(spark, name: str, t: str, out_dir) -> dict:
    """Every surface's name for column ``c`` of a one-row table."""
    S.sql(spark, f"CREATE OR REPLACE TABLE {name} (c {t})").collect()
    S.sql(spark, f"INSERT INTO {name} VALUES (NULL)").collect()

    def one(q, col=0):
        return S.sql(spark, q).collect()[0][col]

    got = {
        "typeof": one(f"SELECT typeof(c) FROM {name}"),
        "DESCRIBE": one(f"DESCRIBE {name}", 1),
        "information_schema.columns": one(
            "SELECT data_type FROM information_schema.columns "
            f"WHERE table_name = '{name}'"),
        "duckdb_columns()": one(
            f"SELECT data_type FROM duckdb_columns() WHERE table_name = '{name}'"),
        "PRAGMA table_info": one(f"PRAGMA table_info('{name}')", 2),
    }
    managed = dict(S._MANAGED)
    S._MANAGED.clear()
    S._MANAGED[name] = managed[name]
    try:
        S.sql(spark, f"EXPORT DATABASE '{out_dir}'").collect()
    finally:
        S._MANAGED.clear()
        S._MANAGED.update(managed)
    schema_sql = (out_dir / "schema.sql").read_text()
    got["schema.sql"] = re.search(rf"CREATE TABLE {name} \(c (.*)\);", schema_sql).group(1)
    got["_schema_sql"] = schema_sql
    return got


@pytest.fixture(scope="module")
def surfaces(spark, tmp_path_factory):
    """type -> surfaces, or the exception the declaration raised."""
    out = {}
    for i, t in enumerate(TYPES):
        name = f"tn_{i}"
        try:
            out[t] = _surfaces(spark, name, t, tmp_path_factory.mktemp("export"))
        except Exception as e:  # recorded per type; its test fails on it
            out[t] = e
        finally:
            S.sql(spark, f"DROP TABLE IF EXISTS {name}")
    return out


def _got(surfaces, t: str) -> dict:
    got = surfaces[t]
    if isinstance(got, Exception):
        raise got
    return got


@pytest.mark.parametrize("t", TYPES)
def test_every_surface_reports_duckdb_type_name(surfaces, duck_types, t):
    got = _got(surfaces, t)
    names = {k: v for k, v in got.items()
             if not k.startswith("_") and k != "PRAGMA table_info"}
    assert names == {k: duck_types[t] for k in names}
    con = duckdb.connect()
    con.execute(got["_schema_sql"])  # DuckDB runs the exported schema.sql
    assert con.execute("SELECT data_type FROM information_schema.columns").fetchone()[0] \
        == duck_types[t]


@pytest.mark.parametrize("t", TYPES)
def test_pragma_table_info_reports_duckdb_type_name(surfaces, duck_types, t):
    assert _got(surfaces, t)["PRAGMA table_info"] == duck_types[t]


def test_spark_ddl_and_rendering_round_trip():
    assert typenames.spark_ddl("INT8") == "BIGINT"
    assert typenames.spark_ddl("utinyint[]") == "ARRAY<SMALLINT>"
    assert typenames.spark_ddl("NUMERIC") == "DECIMAL(18,3)"
    assert typenames.spark_ddl("TIME") == "BIGINT"
    assert typenames.spark_ddl("TIME", {"TIME": "STRING"}) == "STRING"
    assert typenames.duck_name("array<timestamp>") == "TIMESTAMP WITH TIME ZONE[]"
    assert typenames.duck_name("struct<k:int,v:array<string>>") == "STRUCT(k INTEGER, v VARCHAR[])"
    # a stale declared name (the column was altered since) yields to the
    # storage type
    assert typenames.column_type("UTINYINT", "smallint") == "UTINYINT"
    assert typenames.column_type("UTINYINT", "int") == "INTEGER"

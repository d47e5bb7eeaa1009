"""CREATE MACRO round-trips (reference scalar_macro_function.hpp:21,
table_macro_function.hpp:21) + SQL front-door QUALIFY rewrite (reference
bind_select_node.cpp) + prepared-statement parameters (reference EP2,
src/main/prepared_statement.cpp)."""

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from myduckdb_spark.functions import macros
from myduckdb_spark.sql import sql, translate


@pytest.fixture(autouse=True)
def _clean_macros():
    yield
    for n in macros.macro_names():
        macros.drop_macro(n)


def test_scalar_macro_dataframe_path(spark):
    add_tax = macros.create_macro("add_tax", ["amount", "rate"], "amount * (1 + rate)")
    df = spark.range(3).select(add_tax(F.col("id").cast("double"), "0.5").alias("v"))
    assert [r["v"] for r in df.collect()] == [0.0, 1.5, 3.0]


def test_scalar_macro_sql_front_door(spark):
    macros.create_macro("add_tax", ["amount", "rate"], "amount * (1 + rate)")
    df = sql(spark, "SELECT add_tax(CAST(id AS DOUBLE), 0.5) AS v FROM range(3)")
    assert [r["v"] for r in df.collect()] == [0.0, 1.5, 3.0]


def test_scalar_macro_default_param(spark):
    eight = macros.create_macro("with_default", ["x", "pct"], "x + pct", pct="8")
    assert spark.range(1).select(eight("1").alias("v")).collect()[0]["v"] == 9


def test_macro_calls_macro(spark):
    macros.create_macro("twice", ["x"], "x * 2")
    macros.create_macro("quad", ["x"], "twice(twice(x))")
    df = sql(spark, "SELECT quad(id) AS v FROM range(3)")
    assert [r["v"] for r in df.collect()] == [0, 4, 8]


def test_macro_cycle_raises():
    macros.create_macro("a_cyc", ["x"], "b_cyc(x)")
    macros.create_macro("b_cyc", ["x"], "a_cyc(x)")
    with pytest.raises(RecursionError):
        macros.expand_macros("SELECT a_cyc(1)")


def test_self_recursive_macro_raises():
    # a macro whose body calls itself hits expand_macros' depth cap; it
    # must not loop inside one call rewrite. A subprocess with a timeout
    # turns a hang into a failure instead of a stalled suite.
    code = (
        "from myduckdb_spark.functions import macros\n"
        "macros.create_macro('rec', ['x'], 'rec(x) + 1')\n"
        "try:\n"
        "    macros.expand_macros('SELECT rec(1)')\n"
        "except RecursionError:\n"
        "    print('RecursionError')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=Path(__file__).resolve().parents[1], timeout=60,
    )
    assert proc.stdout.strip() == "RecursionError", proc.stderr


def test_table_macro_sql_body(spark):
    macros.create_table_macro("first_n", ["n"], "SELECT id FROM range(100) LIMIT n")
    df = macros.run_table_macro(spark, "first_n", "5")
    assert df.count() == 5
    # front door: table macro call expands to a subquery in FROM
    df2 = sql(spark, "SELECT count(*) AS c FROM first_n(7) t")
    assert df2.collect()[0]["c"] == 7


def test_table_macro_python_fn(spark):
    macros.create_table_macro(
        "doubled_range", ["n"], fn=lambda sp, n: sp.range(int(n)).select((F.col("id") * 2).alias("v"))
    )
    df = macros.run_table_macro(spark, "doubled_range", 4)
    assert [r["v"] for r in df.collect()] == [0, 2, 4, 6]


# ------------------------------------------------------------------ QUALIFY


def test_qualify_rewrite_translates():
    out = translate(
        "SELECT o_custkey, o_totalprice AS tp FROM orders "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) <= 2 "
        "ORDER BY o_custkey"
    )
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")
    assert "__qualify" in out and "WHERE __qualify" in out


def test_qualify_runs(spark, sf_dir):
    df = sql(
        spark,
        "SELECT o_custkey, o_totalprice AS tp FROM orders "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2",
        sf_dir=sf_dir,
    )
    pdf = df.toPandas()
    assert (pdf.groupby("o_custkey").size() <= 2).all()
    # spot-check one customer's rows are its top-2 prices
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").toPandas()
    ck = pdf["o_custkey"].iloc[0]
    want = sorted(orders[orders.o_custkey == ck].o_totalprice, reverse=True)[:2]
    got = sorted(pdf[pdf.o_custkey == ck].tp, reverse=True)
    assert got == pytest.approx(want)


def test_qualify_in_subquery(spark):
    df = sql(
        spark,
        "SELECT v FROM (SELECT id AS v FROM range(10) "
        "QUALIFY row_number() OVER (ORDER BY id DESC) <= 3) t ORDER BY v",
    )
    assert [r["v"] for r in df.collect()] == [7, 8, 9]


# ----------------------------------------------------------- parameters EP2


def test_sql_positional_params(spark):
    df = sql(spark, "SELECT id FROM range(10) WHERE id > ? AND id < ?", args=[5, 8])
    assert [r["id"] for r in df.collect()] == [6, 7]


def test_sql_named_params(spark):
    df = sql(spark, "SELECT id FROM range(10) WHERE id = :target", args={"target": 4})
    assert [r["id"] for r in df.collect()] == [4]


def test_sql_dollar_params(spark):
    df = sql(spark, "SELECT id FROM range(10) WHERE id > $1 AND id != $2", args=[6, 8])
    assert [r["id"] for r in df.collect()] == [7, 9]
    df2 = sql(spark, "SELECT id FROM range(10) WHERE id = $pick", args={"pick": 3})
    assert [r["id"] for r in df2.collect()] == [3]


def test_macro_arg_containing_other_param_name(spark):
    """Simultaneous substitution: an argument whose text contains another
    parameter's name must not be re-substituted."""
    macros.create_macro("sub2", ["a", "b"], "a - b")
    out = macros.expand_macros("SELECT sub2(y, x) FROM t")
    assert out == "SELECT (y) - (x) FROM t"
    out2 = macros.expand_macros("SELECT sub2(b, 1) FROM t")  # arg literally named 'b'
    assert out2 == "SELECT (b) - (1) FROM t"


# ------------------------------------------------- SET / PRAGMA / EXPLAIN


def test_set_engine_option(spark):
    from myduckdb_spark.config import get_option, reset_option

    try:
        out = sql(spark, "SET am_us_join_threshold = 500")
        assert out.collect()[0]["name"] == "am_us_join_threshold"
        assert get_option("am_us_join_threshold") == 500
    finally:
        reset_option("am_us_join_threshold")


def test_set_spark_conf(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sql(spark, "SET spark.sql.shuffle.partitions = 7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("scope", ["", "GLOBAL "])
@pytest.mark.parametrize("query", [
    "SELECT x FROM (VALUES (2), (NULL), (1)) t(x) ORDER BY x",
    "SELECT x FROM (VALUES (2), (NULL), (1)) t(x) ORDER BY ALL DESC",
])
def test_set_default_null_order_matches_duckdb(spark, scope, query):
    """SET with or without a scope keyword sets the session null order
    and returns the same (name, value) row; NULLs then sort where
    DuckDB puts them."""
    import duckdb

    from myduckdb_spark.sql import SETTINGS

    stmt = f"SET {scope}default_null_order = 'nulls_first'"
    con = duckdb.connect()
    con.execute(stmt)
    try:
        out = [tuple(r) for r in sql(spark, stmt).collect()]
        assert out == [("default_null_order", "nulls_first")]
        assert SETTINGS["default_null_order"] == "nulls_first"
        assert [tuple(r) for r in sql(spark, query).collect()] == \
            con.execute(query).fetchall()
    finally:
        sql(spark, "SET default_null_order = 'nulls_last'")


def test_set_unknown_option_raises(spark):
    with pytest.raises(KeyError):
        sql(spark, "SET not_a_real_option = 1")


def test_pragma_table_info(spark, sf_dir):
    from myduckdb_spark.catalog import register_views

    register_views(spark, sf_dir, ["nation"])
    out = sql(spark, "PRAGMA table_info('nation')").toPandas()
    assert list(out["name"])[:2] == ["n_nationkey", "n_name"]
    assert set(out.columns) == {"cid", "name", "type", "notnull", "dflt_value", "pk"}


def test_explain_returns_plan(spark, sf_dir):
    out = sql(spark, "EXPLAIN SELECT count(*) FROM nation", sf_dir=sf_dir).collect()
    assert out[0]["explain_key"] == "physical_plan"
    assert "Physical Plan" in out[0]["explain_value"]


def test_amus_threshold_option_drives_join(spark):
    from myduckdb_spark.config import reset_option
    from myduckdb_spark.operators.joins import amus_join

    left = spark.range(50).toDF("a")
    right = spark.range(50).toDF("b")
    try:
        sql(spark, "SET am_us_join_threshold = 1000")
        plan = amus_join(
            left, right, left["a"] != right["b"]
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
    finally:
        reset_option("am_us_join_threshold")


# -------------------------------------------------- DISTINCT ON / EXCLUDE


def test_distinct_on_matches_duckdb(spark, sf_dir):
    import duckdb

    text = (
        "SELECT DISTINCT ON (l_orderkey) l_orderkey, l_partkey, l_quantity "
        "FROM lineitem ORDER BY l_orderkey, l_quantity DESC, l_partkey"
    )
    got = sorted(tuple(r) for r in sql(spark, text, sf_dir=sf_dir).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in con.sql(text).fetchall())
    assert got == want


def test_star_exclude(spark):
    df = sql(spark, "SELECT * EXCLUDE (b) FROM (SELECT id AS a, id*2 AS b FROM range(3)) t")
    assert df.columns == ["a"]


def test_distinct_on_lowercase_select(spark, sf_dir):
    """Lowercase `select distinct on` must rewrite, not hang: the old
    locator used case-sensitive rfind("SELECT") and looped forever."""
    import duckdb

    text = (
        "select distinct on (l_orderkey) l_orderkey, l_quantity "
        "from lineitem order by l_orderkey, l_quantity desc"
    )
    got = sorted(tuple(r) for r in sql(spark, text, sf_dir=sf_dir).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in con.sql(text).fetchall())
    assert got == want


@pytest.mark.parametrize(
    "expr",
    [
        "sum(v) OVER (PARTITION BY p ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW)",
        "sum(v) OVER (PARTITION BY p ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP)",
        "sum(v) OVER (PARTITION BY p ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES)",
        "sum(v) OVER (PARTITION BY p ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)",
        "count(*) OVER (PARTITION BY p ORDER BY i RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)",
        "avg(v) OVER (PARTITION BY p ORDER BY i RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)",
        "sum(v) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP)",
        "sum(v) OVER (PARTITION BY p ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE NO OTHERS)",
        "sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) FROM__WINDOW",
    ],
)
def test_window_exclude_front_door(spark, expr):
    """EXCLUDE CURRENT ROW/GROUP/TIES through the SQL front door matches
    DuckDB (reference window_expression.hpp:63; subtraction expansion of
    operators/window_ex.py). The last case exercises the named-window
    extension form via WINDOW-clause inlining."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(p INTEGER, i INTEGER, v INTEGER)")
    con.execute(
        "INSERT INTO t VALUES (1,1,10),(1,2,20),(1,2,25),(1,3,NULL),(1,4,40),"
        "(2,1,5),(2,1,5),(2,2,NULL),(2,3,15)"
    )
    spark.createDataFrame(con.execute("SELECT * FROM t").arrow()).createOrReplaceTempView("t")
    if expr.endswith("FROM__WINDOW"):
        expr = expr.replace(" FROM__WINDOW", "")
        text = f"SELECT p, i, v, {expr} AS x FROM t WINDOW w AS (PARTITION BY p ORDER BY i)"
    else:
        text = f"SELECT p, i, v, {expr} AS x FROM t"

    def norm(rows):
        return sorted(
            tuple(round(float(c), 9) if c is not None else None for c in r) for r in rows
        )

    got = norm(tuple(r) for r in sql(spark, text).collect())
    want = norm(con.execute(text).fetchall())
    assert got == want, (text, got, want)


def test_qualify_with_distinct_dedupes_output(spark):
    """Reference binder applies DISTINCT after QUALIFY: rows identical in
    output columns but differing in window values must collapse."""
    import duckdb

    text = (
        "SELECT DISTINCT g FROM (VALUES (1, 10), (1, 20), (2, 30)) t(g, v) "
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY v) <= 2"
    )
    got = sorted(r["g"] for r in sql(spark, text).collect())
    want = sorted(r[0] for r in duckdb.sql(text).fetchall())
    assert got == want == [1, 2]

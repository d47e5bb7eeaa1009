"""Function-registry spot checks vs DuckDB (mini sqllogictest: same
expression evaluated in both engines; reference corpus test/sql/function/)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from myduckdb_spark.functions.registry import REGISTRY, fn, has


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


CASES = [
    # (registry name, args (literals), duckdb expression)
    ("upper", ["'abc'"], "upper('abc')"),
    ("concat_ws", [("raw", "-"), "'a'", "'b'"], "concat_ws('-', 'a', 'b')"),
    ("starts_with", ["'hello'", "'he'"], "starts_with('hello', 'he')"),
    ("lpad", ["'7'", 3, "'0'"], "lpad('7', 3, '0')"),
    ("split_part", ["'a,b,c'", "','", 2], "split_part('a,b,c', ',', 2)"),
    ("levenshtein", ["'kitten'", "'sitting'"], "levenshtein('kitten', 'sitting')"),
    ("md5", ["'abc'"], "md5('abc')"),
    ("reverse", ["'abc'"], "reverse('abc')"),
    ("translate", ["'abc'", ("raw", "ab"), ("raw", "xy")], "translate('abc', 'ab', 'xy')"),
    ("instr", ["'hello'", "'ll'"], "instr('hello', 'll')"),
    ("repeat", ["'ab'", 3], "repeat('ab', 3)"),
    ("year", ["TIMESTAMP '2024-03-05 01:02:03'"], "year(TIMESTAMP '2024-03-05 01:02:03')"),
    ("date_trunc", ["'month'", "TIMESTAMP '2024-03-05 01:02:03'"],
     "CAST(date_trunc('month', TIMESTAMP '2024-03-05 01:02:03') AS TIMESTAMP)"),
    ("abs", [-3.5], "abs(-3.5)"),
    ("ceil", [1.2], "ceil(1.2)"),
    ("round", [2.567, 2], "round(2.567, 2)"),
    ("pow", [2, 10], "pow(2, 10)"),
    ("gcd", [12, 18], "gcd(12, 18)"),
    ("lcm", [4, 6], "lcm(4, 6)"),
    ("factorial", [5], "factorial(5)"),
    ("greatest", [1, 7, 3], "greatest(1, 7, 3)"),
    ("sign", [-2.0], "sign(-2.0)"),
]


def _spark_lit(spark, name, args):
    cols = []
    for a in args:
        if isinstance(a, tuple) and a[0] == "raw":
            cols.append(a[1])
        elif isinstance(a, str) and a.startswith("'") and a.endswith("'"):
            cols.append(F.lit(a[1:-1]))
        elif isinstance(a, str) and a.upper().startswith("TIMESTAMP"):
            cols.append(F.expr(a))
        else:
            cols.append(a)
    # date_trunc-style: first arg is a plain string option
    if name in ("date_trunc", "date_part"):
        cols[0] = args[0][1:-1]
    return spark.range(1).select(fn(name)(*cols).alias("v")).collect()[0]["v"]


@pytest.mark.parametrize("name,args,ducksql", CASES, ids=[c[0] for c in CASES])
def test_function_matches_duckdb(spark, duck, name, args, ducksql):
    got = _spark_lit(spark, name, args)
    want = duck.sql(f"SELECT {ducksql}").fetchone()[0]
    if isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-12)
    else:
        sg, sw = str(got), str(want)
        assert sg == sw or got == want


# registry entries whose formula must match the SQL front door's and
# DuckDB's (log10, 1-based inclusive list_slice, NULL-skipping concat,
# list_aggregate by name)
FRONT_DOOR_CASES = [
    ("log", lambda: [F.lit(100.0)], "log(100.0)"),
    ("list_slice", lambda: [F.array(*map(F.lit, [1, 2, 3, 4])), 2, 3],
     "list_slice([1, 2, 3, 4], 2, 3)"),
    ("list_aggregate", lambda: [F.array(*map(F.lit, [1, 2, 3])), "avg"],
     "list_aggregate([1, 2, 3], 'avg')"),
    ("concat", lambda: [F.lit("a"), F.lit(None).cast("string"), F.lit("b")],
     "concat('a', NULL, 'b')"),
]


@pytest.mark.parametrize("name,args,ducksql", FRONT_DOOR_CASES,
                         ids=[c[0] for c in FRONT_DOOR_CASES])
def test_registry_matches_front_door_and_duckdb(spark, duck, name, args, ducksql):
    got = spark.range(1).select(fn(name)(*args()).alias("v")).collect()[0]["v"]
    assert got == duck.sql(f"SELECT {ducksql}").fetchone()[0]


def test_list_aggregate_rejects_unsupported_name():
    with pytest.raises(ValueError, match="unsupported aggregate"):
        fn("list_aggregate")(F.array(F.lit(1)), "no_such_agg")


def test_registry_breadth():
    # the reference registers 382 names (function_list.cpp); we cover the
    # practically-used surface — keep a floor so regressions are caught
    assert len(REGISTRY) >= 170


def test_list_hofs(spark):
    row = spark.range(1).select(
        fn("list_transform")(F.array(F.lit(1), F.lit(2)), lambda x: x + 1).alias("t"),
        fn("list_filter")(F.array(F.lit(1), F.lit(2), F.lit(3)), lambda x: x > 1).alias("f"),
        fn("list_sum")(F.array(F.lit(1.0), F.lit(2.5))).alias("s"),
        fn("list_cosine_similarity")(
            F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(0.0))
        ).alias("cos"),
        fn("list_distance")(
            F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(3.0), F.lit(4.0))
        ).alias("dist"),
    ).collect()[0]
    assert row["t"] == [2, 3]
    assert row["f"] == [2, 3]
    assert row["s"] == 3.5
    assert row["cos"] == pytest.approx(1.0)
    assert row["dist"] == pytest.approx(5.0)


def test_json_functions(spark):
    j = F.lit('{"a": {"b": 7}, "xs": [1, 2, 3]}')
    row = spark.range(1).select(
        fn("json_extract")(j, "$.a.b").alias("e"),
        fn("json_extract")(j, "/a/b").alias("e2"),
        fn("json_array_length")(F.lit("[1,2,3]")).alias("n"),
        fn("json_valid")(F.lit("not json")).alias("bad"),
    ).collect()[0]
    assert row["e"] == "7" and row["e2"] == "7"
    assert row["n"] == 3
    assert row["bad"] is False


def test_missing_intrinsics_raise():
    with pytest.raises(NotImplementedError):
        fn("gamma")(F.lit(1.0))


def test_has():
    assert has("list_transform") and has("LIST_TRANSFORM") and not has("nope_fn")


def test_regr_aggregates_match_duckdb(spark, duck, sf_dir):
    """Native F.regr_* (streaming double accumulation) vs DuckDB's native
    regr_* (reference src/core_functions/aggregate/regression/) — equal to
    1e-9 relative tolerance; the hash-exact moment formulation lives in the
    agg_regression oracle query."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        fn("regr_count")("l_extendedprice", "l_quantity").alias("n"),
        fn("regr_avgx")("l_extendedprice", "l_quantity").alias("ax"),
        fn("regr_avgy")("l_extendedprice", "l_quantity").alias("ay"),
        fn("regr_slope")("l_extendedprice", "l_quantity").alias("sl"),
        fn("regr_intercept")("l_extendedprice", "l_quantity").alias("ic"),
        fn("regr_r2")("l_extendedprice", "l_quantity").alias("r2"),
        fn("regr_sxx")("l_extendedprice", "l_quantity").alias("sxx"),
        fn("regr_syy")("l_extendedprice", "l_quantity").alias("syy"),
        fn("regr_sxy")("l_extendedprice", "l_quantity").alias("sxy"),
    ).collect()[0]
    d = duck.sql(
        f"""
        SELECT regr_count(l_extendedprice, l_quantity),
               regr_avgx(l_extendedprice, l_quantity),
               regr_avgy(l_extendedprice, l_quantity),
               regr_slope(l_extendedprice, l_quantity),
               regr_intercept(l_extendedprice, l_quantity),
               regr_r2(l_extendedprice, l_quantity),
               regr_sxx(l_extendedprice, l_quantity),
               regr_syy(l_extendedprice, l_quantity),
               regr_sxy(l_extendedprice, l_quantity)
        FROM '{sf_dir}/lineitem.parquet'
        """
    ).fetchone()
    got = [row["n"], row["ax"], row["ay"], row["sl"], row["ic"], row["r2"],
           row["sxx"], row["syy"], row["sxy"]]
    for g, e in zip(got, d):
        assert g == pytest.approx(float(e), rel=1e-9), (g, e)


def test_bitstring_family(spark):
    from myduckdb_spark.functions.registry import fn

    df = spark.range(1).select(
        fn("bitstring")(F.lit("101"), 8).alias("bs"),
        fn("get_bit")(F.lit("0110"), 1).alias("g1"),
        fn("set_bit")(F.lit("0110"), 0, 1).alias("s0"),
        fn("bit_position")(F.lit("11"), F.lit("0110")).alias("pos"),
    )
    r = df.collect()[0]
    assert r["bs"] == "00000101"
    assert r["g1"] == 1
    assert r["s0"] == "1110"
    assert r["pos"] == 2  # 1-based, as DuckDB's bit_position


def test_enum_family(spark, duck):
    from myduckdb_spark.functions.registry import create_enum, fn

    create_enum("mood", ["sad", "ok", "happy"])
    df = spark.range(1).select(
        fn("enum_first")("mood").alias("f"),
        fn("enum_last")("mood").alias("l"),
        fn("enum_range")("mood").alias("r"),
        fn("enum_code")("mood", F.lit("ok")).alias("c"),
    )
    r = df.collect()[0]
    assert (r["f"], r["l"], list(r["r"]), r["c"]) == ("sad", "happy", ["sad", "ok", "happy"], 1)


def test_udf_surface(spark):
    from myduckdb_spark.functions.udf import create_aggregate_function, create_scalar_function

    def plus_one(s):
        return s + 1

    create_scalar_function(spark, "py_plus_one", plus_one, "long")
    got = spark.sql("SELECT py_plus_one(id) v FROM range(3)").collect()
    assert [r["v"] for r in got] == [1, 2, 3]

    def p90(s):
        return float(s.quantile(0.9))

    udaf = create_aggregate_function(spark, "py_p90", p90, "double")
    df = spark.range(100).withColumn("g", F.col("id") % 2)
    got = df.groupBy("g").agg(udaf("id").alias("p")).orderBy("g").collect()
    assert got[0]["p"] == pytest.approx(88.2)
    sql_got = spark.sql(
        "SELECT id % 2 g, py_p90(id) p FROM range(100) GROUP BY 1 ORDER BY 1"
    ).collect()
    assert sql_got[1]["p"] == pytest.approx(89.2)


def test_summarize(spark, sf_dir):
    from myduckdb_spark.relation import Relation

    rel = Relation.table(spark, sf_dir, "part").project("p_size", "p_retailprice")
    prof = rel.summarize().df.toPandas()
    assert "summary" in prof.columns and set(prof.columns) >= {"p_size", "p_retailprice"}
    assert "count" in list(prof["summary"]) and "50%" in list(prof["summary"])


def test_interval_and_time_helpers(spark):
    from myduckdb_spark.functions.registry import fn

    df = spark.sql("SELECT TIMESTAMP '2024-01-31 12:00:00' AS ts").select(
        (F.col("ts") + fn("to_days")(F.lit(30))).alias("plus30d"),
        (F.col("ts") + fn("to_hours")(F.lit(5))).alias("plus5h"),
        fn("make_time")(F.lit(13), F.lit(30), F.lit(1.5)).alias("t_us"),
    )
    r = df.collect()[0]
    assert str(r["plus30d"]).startswith("2024-03-01 12:00:00")
    assert str(r["plus5h"]).startswith("2024-01-31 17:00:00")
    assert r["t_us"] == 13 * 3600_000_000 + 30 * 60_000_000 + 1_500_000


def test_long_tail_functions(spark, duck):
    row = spark.range(1).select(
        fn("bar")(F.lit(5.0), 0, 10, 10).alias("bar"),
        fn("parse_path")(F.lit("a/b/c.txt")).alias("pp"),
        fn("parse_filename")(F.lit("a/b/c.txt")).alias("pf"),
        fn("parse_filename")(F.lit("a/b/c.txt"), True).alias("pfe"),
        fn("parse_dirname")(F.lit("a/b/c.txt")).alias("pd"),
        fn("cot")(F.lit(1.0)).alias("cot"),
        fn("julian")(F.lit("2000-01-01")).alias("jd"),
    ).collect()[0]
    assert row["bar"] == "█████"
    assert list(row["pp"]) == ["a", "b", "c.txt"]
    assert row["pf"] == "c.txt" and row["pfe"] == "c"
    assert row["pd"] == "a/b"
    assert row["cot"] == pytest.approx(float(duck.sql("SELECT cot(1.0)").fetchone()[0]))
    assert row["jd"] == pytest.approx(float(duck.sql("SELECT julian(DATE '2000-01-01')").fetchone()[0]))


def test_jaro_registry_routes_to_udf(spark):
    """Registry jaro/damerau names resolve via call_udf to the
    Arrow-batched metrics once register_string_metrics has run."""
    from myduckdb_spark.functions.udf import register_string_metrics

    register_string_metrics(spark)
    row = spark.range(1).select(
        fn("jaro_winkler")(F.lit("martha"), F.lit("marhta")).alias("jw"),
        fn("damerau_levenshtein")(F.lit("ca"), F.lit("abc")).alias("dl"),
    ).collect()[0]
    assert row["jw"] == pytest.approx(0.9611111111111111)
    assert row["dl"] == 2


def test_string_metric_udfs_match_duckdb(spark, duck):
    from myduckdb_spark.functions.udf import register_string_metrics

    register_string_metrics(spark)
    # ('abcxxxxx','abcyyyyyyy') pins the boost gate: common prefix 3 but
    # base jaro <= 0.7, where the reference applies NO Winkler boost
    cases = [("martha", "marhta"), ("dwayne", "duane"), ("kitten", "sitting"),
             ("ca", "abc"), ("", "x"), ("same", "same"),
             ("abcxxxxx", "abcyyyyyyy"), ("prefixonly", "prefabbbbbbbbb")]
    vals = ", ".join(f"('{a}', '{b}')" for a, b in cases)
    got = spark.sql(
        f"SELECT jaro_winkler_similarity(a, b) jw, jaro_similarity(a, b) js,"
        f" damerau_levenshtein(a, b) dl"
        f" FROM VALUES {vals} AS t(a, b)"
    ).collect()
    want = duck.sql(
        f"SELECT jaro_winkler_similarity(a, b), jaro_similarity(a, b),"
        f" damerau_levenshtein(a, b)"
        f" FROM (VALUES {vals}) t(a, b)"
    ).fetchall()
    for g, w in zip(got, want):
        assert g["jw"] == pytest.approx(float(w[0]), abs=1e-9), (g, w)
        assert g["js"] == pytest.approx(float(w[1]), abs=1e-9), (g, w)
        assert g["dl"] == w[2], (g, w)


def test_pattern_matching_family(spark):
    row = spark.range(1).select(
        fn("like")(F.lit("widget"), "w%t").alias("lk"),
        fn("ilike")(F.lit("WIDGET"), "w%t").alias("il"),
        fn("glob")(F.lit("file_01.txt"), "file_??.t*").alias("gl"),
        fn("similar_to")(F.lit("abc123"), "[a-z]+[0-9]+").alias("st"),
        fn("regexp_full_match")(F.lit("abc"), "ab").alias("nf"),
    ).collect()[0]
    assert (row["lk"], row["il"], row["gl"], row["st"], row["nf"]) == (
        True, True, True, True, False,
    )


def test_timetz_reference_literals(spark, duck):
    """The reference's own TIMETZ corpus (test/sql/types/time/
    test_time_tz.test:66-101): parse every literal, render it back, and
    reproduce DuckDB's documented ordering (wall clock first, ties by
    offset DESC) with the packed BIGINT key."""
    from myduckdb_spark.functions.timetz import timetz_format, to_timetz

    lits = [
        "00:00:00+1559", "00:00:00+1558", "02:30:00", "02:30:00+04",
        "02:30:00+04:30", "02:30:00+04:30:45", "16:15:03.123456",
        "02:30:00+1200", "02:30:00-1200", "24:00:00-1558", "24:00:00-1559",
        "2023-08-20 16:15:03.123456",
    ]
    df = spark.createDataFrame([(s,) for s in lits], "s string")
    key = to_timetz(F.col("s"))
    got = [
        r["out"]
        for r in df.select(timetz_format(key).alias("out"))
        .orderBy(key.asc_nulls_last())
        .collect()
    ]
    vals = ", ".join(f"('{s}')" for s in lits)
    want = [
        r[0]
        for r in duck.sql(
            f"SELECT CAST(CAST(s AS TIMETZ) AS VARCHAR) FROM (VALUES {vals}) t(s)"
            " ORDER BY CAST(s AS TIMETZ)"
        ).fetchall()
    ]
    assert got == want
    # invalid inputs -> NULL (DuckDB TRY_CAST behavior)
    bad = spark.createDataFrame([("02:61:00",), ("02:30:00+16",), ("",)], "s string")
    assert [r[0] for r in bad.select(to_timetz("s")).collect()] == [None] * 3

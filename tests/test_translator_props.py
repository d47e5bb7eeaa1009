"""Property-based robustness for the SQL dialect translator (hypothesis):
string literals must NEVER be rewritten, macro expansion must preserve
literal text, and the QUALIFY hoist must keep the predicate intact.
Pure-Python (no SparkSession) — fast.
"""

import re
import subprocess
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from myduckdb_spark.functions import macros
from myduckdb_spark.sql import translate

# literal-safe content: anything printable without single quotes
# (SQL escapes quotes by doubling — covered by an explicit example)
_lit = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="'\x00"),
    min_size=0,
    max_size=40,
)


@settings(max_examples=80, deadline=None)
@given(_lit)
def test_literals_survive_translate(content):
    # content containing function-looking text (len(, list_sort(, ->) must
    # NOT be rewritten inside a string literal
    sql = f"SELECT '{content}' AS c, len(split(x, ',')) AS n FROM t"
    out = translate(sql)
    # the literal's VALUE survives, spelled in Spark escaping: DuckDB
    # literals are raw, Spark literals C-escape, so translate doubles
    # any backslashes inside the quotes
    assert f"'{content.replace(chr(92), chr(92) * 2)}'" in out


@settings(max_examples=40, deadline=None)
@given(_lit)
def test_literals_survive_macro_expansion(content):
    macros.create_macro("prop_m", ["x"], "x + 1")
    try:
        sql = f"SELECT prop_m(a), '{content} prop_m(z) x' AS c FROM t"
        out = macros.expand_macros(sql)
        assert f"'{content} prop_m(z) x'" in out
        assert "(a) + 1" in out
    finally:
        macros.drop_macro("prop_m")


@settings(max_examples=40, deadline=None)
@given(st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True))
def test_qualify_hoist_preserves_alias(alias):
    sql = (
        f"SELECT o_custkey, o_totalprice AS {alias} FROM orders "
        "QUALIFY row_number() OVER (ORDER BY o_totalprice) <= 2"
    )
    out = translate(sql)
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")
    assert f"SELECT o_custkey, {alias} FROM" in out
    # window ORDER BY gets DuckDB's default NULLS LAST pinned explicitly
    assert "row_number() OVER (ORDER BY o_totalprice NULLS LAST ) <= 2" in out


def test_doubled_quote_literal():
    out = translate("SELECT 'it''s len(x)' AS c, len(xs) AS n FROM t")
    assert "'it''s len(x)'" in out


def test_macro_body_comments_are_not_substituted():
    # a quote inside a comment must not shift the literal mask: the
    # parameter name stays untouched in the comment AND in the literal
    macros.create_macro("cmt_m", ["x"], "x /* it's x */ + length('x') -- x\n")
    try:
        out = macros.expand_macros("SELECT cmt_m(a) FROM t")
        assert "(a) /* it's x */ + length('x') -- x\n" in out
    finally:
        macros.drop_macro("cmt_m")


@pytest.mark.parametrize("text", [
    "SELECT '__tof(x)' AS s",
    "SELECT '__rr_all(s, p, r)', '__isnan(x)', '__substr(s, 1)', '__tjm(k, v)' AS s",
    "SELECT 'array_intersect(a, b)' AS s",
    "SELECT sign(x) -- __sig(1)\nFROM t",
    "SELECT 1 /* __printf('%d', 1) __dtr('day', d) */ AS one",
])
def test_placeholder_names_in_literals_and_comments_survive(text):
    # a name that translate() uses internally for an emitted call is only
    # ever renamed in code, never inside a string literal or a comment
    out = translate(text)
    for m in re.finditer(r"'[^']*'|--[^\n]*|/\*.*?\*/", text, re.S):
        assert m.group(0) in out


@pytest.mark.parametrize("text", [
    "SELECT 1 NOT IN (SELECT i FROM in",
    "SELECT sum(x) OVER w FROM t WINDOW w AS (PARTITION BY g ORDER BY ",
    "SELECT 1 = ANY (SELECT i FROM t",
])
def test_unbalanced_subquery_and_window_sites_return(text):
    # an unclosed bracket at an IN-subquery, quantified comparison or
    # WINDOW definition leaves that site alone instead of re-inserting the
    # text forever. A subprocess with a timeout turns a hang into a
    # failure instead of a stalled suite.
    code = (
        "import sys\n"
        "from myduckdb_spark.sql import translate\n"
        "sys.stdout.write(translate(sys.stdin.read()))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], input=text, capture_output=True,
        text=True, cwd=Path(__file__).resolve().parents[1], timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == text

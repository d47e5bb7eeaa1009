"""Golden corpus for the SQL dialect translator: ``translate()`` output is
byte-identical to the recorded output (or raises the recorded exception
class) for every entry of ``translate_golden.json``.

The first 300 entries hold every registered oracle string, the frozen
front-door benchmark statements (``perfbench/frontdoor_sql.py``:
``SELECTS`` plus the DML chain for seeds 0-2), the SQL that
``translate()`` receives while the dialect, macro, streaming and JSON test
files run, and 40 hand-written statements for rewrite passes those sources
never reach (BLOB literals, GLOB, AT TIME ZONE, type aliases, comments
holding quotes and brackets); their outputs were recorded before the
translator's lexer was rewritten. The rest make every call rule fire:
arity probes ``SELECT <name>(<args>) FROM t`` for each call-rule name,
with the argument lists none, ``c1``, ``c1, c2``, ``c1, c2, c3``, ``'a'``,
``'a', 'b'`` and ``[1, 2], 1`` (a probe is kept when translate changes
it), plus hand-written calls for the names no probe reaches; their
outputs were recorded before call rules stopped iterating to a fixpoint.
The last three are truncated statements with an unclosed bracket at an
IN-subquery, a quantified comparison and a WINDOW definition; they hung
until those passes learned to skip an unbalanced site, and their outputs
(the input unchanged) were recorded then. Inputs whose output depends on session state (registered macros,
``CREATE TYPE`` aliases, ATTACH, statement order) were left out; their
own tests cover them.

Translation runs in a fresh interpreter so that state registered by other
test files in the same pytest process cannot leak in. Pure Python, no
SparkSession.
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

_ROOT = Path(__file__).resolve().parents[1]
_CASES = json.loads((Path(__file__).with_name("translate_golden.json")).read_text())

_REPLAY = """
import json, sys
from myduckdb_spark.sql import translate
res = []
for text in json.load(sys.stdin):
    try:
        res.append({"out": translate(text)})
    except Exception as e:
        res.append({"exc": type(e).__name__})
json.dump(res, sys.stdout)
"""


@pytest.fixture(scope="module")
def replayed():
    proc = subprocess.run(
        [sys.executable, "-c", _REPLAY],
        input=json.dumps([c["sql"] for c in _CASES]),
        capture_output=True, text=True, cwd=_ROOT, timeout=600, check=True,
    )
    return json.loads(proc.stdout)


@pytest.mark.parametrize("i", range(len(_CASES)), ids=lambda i: f"case{i:03d}")
def test_translate_matches_golden(replayed, i):
    want = {k: v for k, v in _CASES[i].items() if k != "sql"}
    assert replayed[i] == want, _CASES[i]["sql"]

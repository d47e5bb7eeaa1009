"""Every registered query matches its DuckDB oracle at sf0.001.

The compare is `tools.check.compare`, the one ``tools/check.py`` runs:
both result sets through pandas, strict canonical cells, no float
tolerance."""

import pytest

from myduckdb_spark import queries as q
from tools.check import compare, duck_connect


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(q.queries()))
def test_oracle_parity(spark, duck, sf_dir, name):
    assert name in q.oracle_sql(), f"{name} has no DuckDB oracle"
    _rows, problems = compare(spark, duck, name, sf_dir)
    assert not problems, problems

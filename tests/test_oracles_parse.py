"""Fast oracle hygiene: every registered oracle SQL must at least PLAN in
DuckDB against the real views (catches typos/renames without the full
15-minute value-comparison sweep in tools/check.py)."""

import duckdb
import pytest

from myduckdb_spark import queries as q
from myduckdb_spark.catalog import TABLES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


# every registered oracle, plus the oracle each bench pair runs where it
# differs (the float variants derived by compat.float_sql)
_ORACLES = dict(q.oracle_sql())
_ORACLES.update(
    (f"bench:{n}", o)
    for n, (_b, o) in q.bench_queries().items()
    if o is not None and o != _ORACLES.get(n)
)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_plans(con, name):
    con.sql("EXPLAIN " + _ORACLES[name])


def test_every_query_is_callable():
    qs = q.queries()
    assert len(qs) >= 90
    for fn in qs.values():
        assert callable(fn)

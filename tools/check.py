"""Local correctness harness mirroring the driver's t2 oracle check.

Runs every ``queries()`` entry on Spark at sf0.01, the matching
``oracle_sql()`` in DuckDB over the same parquet, and compares
row count + column names + order-insensitive canonicalized values.
Both result sets go through pandas (DuckDB's ``.df()``, where
HUGEINT/DECIMAL become float64) and compare with no leniency and no
float tolerance: if a query only matches approximately, the query must
be rewritten (decimal-cast aggregation) until it matches exactly — that
is what the driver's hash demands.

Usage: python tools/check.py [name ...] [--sf DIR] [--vanilla]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def canon_cell(v):
    """Canonicalize one cell, with no leniency (driver parity).

    The driver converts BOTH result sets through pandas and hashes cell
    values as-is, so a DuckDB HUGEINT that pandas renders as float64
    `108.0` hash-mismatches a Spark int64 `108`, and a Spark
    Decimal('900.10') mismatches DuckDB's float64 `900.1`. Queries must
    therefore never emit DECIMAL or uncast integer-SUM (HUGEINT) output
    columns; such columns fail here the way they fail on the driver (root
    cause of the round-1/round-2 fn_math_battery, text_token_stats, q12
    red rows)."""
    import numpy as np

    if v is None:
        return "∅"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canon_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, float):
        return repr(v)  # repr → shortest round-trip; exact bit equality check
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        # midnight datetimes normalize to dates: duckdb's pandas
        # conversion renders DATE as datetime64 midnight, and driver
        # evidence shows DATE-output queries (fn_datetime_battery r1,
        # date_series_buckets r2) hash GREEN — the driver tolerates this.
        if v.hour == v.minute == v.second == v.microsecond == 0 and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _isna(x):
    import numpy as np
    import pandas as pd

    if isinstance(x, np.ndarray):
        return False
    try:
        return bool(pd.isna(x))
    except (TypeError, ValueError):
        return False


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def pandas_rows(pdf):
    """pandas DataFrame → list of tuples with NaN/NaT normalized to None
    (mirrors how the driver consumes both result sets)."""
    import pandas as pd

    rows = [tuple(t) for t in pdf.itertuples(index=False, name=None)]
    return [
        tuple(None if (x is not None and not isinstance(x, (list, tuple)) and _isna(x)) else x for x in t)
        for t in rows
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="driver parity: bare SparkSession (default 200 shuffle partitions, "
        "no UTC pin, no tuned confs) — catches session-sensitive queries the "
        "tuned session masks",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from myduckdb_spark import queries as q
    from myduckdb_spark.catalog import TABLES
    from myduckdb_spark.session import get_spark

    if args.vanilla:
        spark = (
            SparkSession.builder.master("local[32]")
            .appName("check-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    all_q = q.queries()
    oracles = q.oracle_sql()
    names = args.names or list(all_q)
    passed = failed = weak = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = all_q[name](spark, args.sf)
            scols = sdf.columns
            # pandas represents SQL NULL as NaN/NaT — normalize to None
            srows = pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failed += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            weak += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = pandas_rows(rel.df())
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            failed += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sc = canon_rows([c.lower() for c in scols], srows)
            dc = canon_rows(dcols, drows)
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failed += 1
        else:
            print(f"ok    {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\n{passed} ok, {weak} weak, {failed} FAILED of {len(names)}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

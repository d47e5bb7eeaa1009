"""Synthesize a larger scale factor by key-shifted replication.

The driver's testdata is read-only and tops out at sf0.1; the sf1 scale
proof (BENCH notes) needs 10x data with the SAME workload character. Each
copy i shifts every key column by i * (max_key + 1), so:

* join selectivities are preserved exactly (each orders copy joins its
  own customer/lineitem copy — fan-outs unchanged);
* group-by cardinalities scale linearly (10x groups for keyed groups,
  same groups for low-cardinality columns like l_returnflag);
* document texts get a distinct ~80-char copy prefix so replication does
  NOT create cross-copy near-duplicates (3-gram Jaccard of two copies of
  the same doc drops below the 0.7 dedup threshold), keeping the
  minhash-LSH candidate volume linear in sf like real data.

Usage: python tools/make_sf_scale.py [copies] [out_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# table -> {column: shift-group}; columns in the same group shift by the
# same modulus so foreign keys stay aligned across copies
KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SMALL_DIMS = ("region", "nation")  # copied once, never replicated


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "testdata_sf1")

    from pyspark.sql import functions as F

    from myduckdb_spark.session import get_spark

    spark = get_spark("make-sf-scale")

    # one modulus per shift-group: max over every column in the group
    mods: dict[str, int] = {}
    frames = {t: spark.read.parquet(f"{SRC}/{t}.parquet") for t in TABLES}
    for t, cols in KEYS.items():
        for col, grp in cols.items():
            m = frames[t].agg(F.max(col)).collect()[0][0] or 0
            mods[grp] = max(mods.get(grp, 0), int(m) + 1)

    for t in TABLES:
        df = frames[t]
        if t in SMALL_DIMS:
            df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
            continue
        parts = []
        for i in range(copies):
            c = df
            for col, grp in KEYS.get(t, {}).items():
                c = c.withColumn(col, (F.col(col) + F.lit(i * mods[grp])).cast("bigint"))
            if t == "documents" and i > 0:
                # 80-char copy-distinct prefix kills cross-copy near-dups
                c = c.withColumn(
                    "text", F.concat(F.lit(f"copyseg{i:03d}xq " * 6), F.col("text"))
                ).withColumn("n_chars", F.length("text").cast("bigint"))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: {copies}x written", file=sys.stderr)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()

"""Table catalog over the driver-generated parquet star schema.

The reference catalogs tables in its own storage (reference:
src/catalog/catalog.cpp, columnar row-groups of 122,880 rows on 256 KiB
blocks — src/include/duckdb/storage/storage_info.hpp:20). Here tables ARE
parquet: Parquet row groups provide the same zone-map (min/max) pruning the
reference implements in src/storage/table/column_data.cpp:343-375, and
Spark's parquet source provides filter/column pushdown equivalent to the
reference TABLE_SCAN (src/function/table/table_scan.cpp:45-147).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Inferred parquet schema per (path, mtime): plain spark.read.parquet()
# re-lists the path and re-reads a footer on EVERY call (~65 ms/table of
# driver-side metadata work — ~0.4s of every 6-table query build).
# Passing the cached schema skips inference; the mtime in the key
# invalidates on rewrite. METADATA only — execution still reads parquet.
_SCHEMA_CACHE: dict = {}


def _table_mtime(path: str) -> float:
    """Cache-invalidation stamp for a table path. For a DIRECTORY table,
    rewriting a part file in place does not change the directory mtime —
    so take the max mtime over the directory and every contained file
    (ADVICE r9: a stale footer row count would mis-gate the dedup
    broadcast/all-pairs policies)."""
    m = os.path.getmtime(path)
    if os.path.isdir(path):
        for dp, _dirs, fs in os.walk(path):
            for f in fs:
                try:
                    m = max(m, os.path.getmtime(os.path.join(dp, f)))
                except OSError:
                    pass
    return m


def _table_schema(spark: SparkSession, path: str):
    try:
        key = (path, _table_mtime(path))
    except OSError:
        key = (path, None)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


# Zone set through the front door's ``SET TimeZone``; None pins UTC.
# ``sql.reset_dml_state`` clears it.
FRONT_DOOR_ZONE: str | None = None


def _pin_session(spark: SparkSession, events: bool) -> None:
    """Session-proofing (callers may bring a vanilla SparkSession — e.g.
    the correctness driver): timestamp LITERALS in queries parse in the
    session timezone, and the DuckDB oracle is timezone-naive, so a
    non-UTC session would shift every TIMESTAMP '...' comparison. Pin UTC,
    or the zone a front-door ``SET TimeZone`` chose, at the same choke
    point as the nanosAsLong conf that reading ``events`` needs."""
    spark.conf.set("spark.sql.session.timeZone", FRONT_DOOR_ZONE or "UTC")
    if events:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (parquet; pushdown-capable).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark reads as BIGINT
    nanos (spark.sql.legacy.parquet.nanosAsLong); converted here to a
    microsecond TIMESTAMP_NTZ (the data carries no sub-µs precision, and
    NTZ matches how Spark reads the other tables' naive timestamps).

    The nanosAsLong conf is set HERE (it is a runtime SQL conf), not only in
    ``session.py``: callers such as the correctness driver build their own
    vanilla SparkSession, which would otherwise fail the read outright with
    PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS).
    """
    _pin_session(spark, name == "events")
    p = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_table_schema(spark, p)).parquet(p)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer DIV, not double division: ns epoch values exceed 2^53 and
        # would round in float, shifting timestamps by ±1µs
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(CAST(ts DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"),
        )
    return df


# On-disk cap below which a dimension-table broadcast HINT is attached.
# A hard F.broadcast hint overrides AQE forever — correct while the dim is
# small, an executor/driver OOM once it is not (e.g. customer at sf100+).
# 256 MB of compressed parquet ≈ 1-2 GB hashed relation: inside Spark's
# 8 GB broadcast cap with headroom, and past it AQE/autoBroadcastThreshold
# make the call from runtime sizes instead.
BROADCAST_HINT_CAP_BYTES = 256 << 20


def source_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of one catalog table (file or directory of parts)."""
    p = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dirs, fs in os.walk(p)
                for f in fs
            )
        return os.path.getsize(p)
    except OSError:
        return 1 << 60  # unknown size → never hint


# Exact row count per (path, mtime), read from parquet footers on the
# driver (no Spark job). Same invalidation rule as _SCHEMA_CACHE.
_ROWCOUNT_CACHE: dict = {}


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of one catalog table from parquet footer metadata.

    Parquet footers record num_rows exactly, so for a bare table scan this
    equals ``df.count()`` — without launching a Spark job (the count job on
    a 1-file table is ~0.2s of scheduling for one number). Used by POLICY
    decisions (e.g. dedup's all-pairs-vs-LSH gate) that only need the
    corpus scale before building the plan. Returns None when the path is
    missing or unreadable — callers must fall back to ``df.count()``.
    """
    p = f"{sf_dir}/{name}.parquet"
    try:
        key = (p, _table_mtime(p))
    except OSError:
        return None
    n = _ROWCOUNT_CACHE.get(key)
    if n is None:
        try:
            import pyarrow.parquet as pq

            if os.path.isdir(p):
                # Spark's reader ingests every non-hidden file regardless
                # of extension (only '_'/'.' prefixes are skipped). If a
                # data file lacks the .parquet suffix we cannot read its
                # footer here — return None so callers fall back to
                # df.count() instead of undercounting (ADVICE r9: an
                # undercount loosens the broadcast/all-pairs safety gates).
                n = 0
                for dp, _dirs, fs in os.walk(p):
                    for f in fs:
                        if f.startswith(("_", ".")):
                            continue
                        if not f.endswith(".parquet"):
                            return None
                        n += pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
            else:
                n = pq.ParquetFile(p).metadata.num_rows
        except Exception:
            return None
        _ROWCOUNT_CACHE[key] = n
    return n


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Broadcast hint gated on the source table's on-disk size.

    The hint is kept while the table is provably small (same plans as the
    old hard hints at every bench scale); above the cap the planner/AQE
    picks the strategy from runtime statistics — the behaviour a 100 TB
    run needs. Filters applied on top of the scan only shrink the side,
    so the on-disk size is a conservative upper bound."""
    from pyspark.sql import functions as F

    if source_bytes(sf_dir, name) <= BROADCAST_HINT_CAP_BYTES:
        return F.broadcast(df)
    return df


# (session, sf_dir, name) → (_table_mtime, the JVM temp-view relation
# register_views created for that name).
_REGISTERED: dict = {}


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every table as a temp view so ``spark.sql`` queries see the
    same names the DuckDB oracle uses.

    Memoised per session and ``sf_dir``: a name is registered again only
    when its parquet changed (``_table_mtime``), its view is missing, or
    its view is no longer the relation this function registered. One JVM
    lookup per name decides that, with no analysis and no file listing, so
    a warm call costs milliseconds, not a rebuild of every view.

    Shadowing rule: every name in ``tables`` that is not this function's
    view is re-pointed at the catalog parquet, so a user's
    ``createOrReplaceTempView("orders")`` is replaced on the next call.
    The SQL front door (``sql.sql``) leaves out the names it holds itself:
    a front-door table or view named like a catalog table (``CREATE TABLE
    orders AS ...``) shadows the parquet until it is dropped, and the next
    call after ``DROP TABLE orders`` brings the parquet back.
    """
    names = TABLES if tables is None else tables
    _pin_session(spark, "events" in names)
    jcat = spark._jsparkSession.sessionState().catalog()
    for name in names:
        try:
            mtime = _table_mtime(f"{sf_dir}/{name}.parquet")
        except OSError:
            mtime = None  # load_table raises the missing path
        key = (spark, sf_dir, name)
        hit = _REGISTERED.get(key)
        if hit and hit[0] == mtime and jcat.getRawTempView(name).equals(hit[1]):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        _REGISTERED[key] = (mtime, jcat.getRawTempView(name))

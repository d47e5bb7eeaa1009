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

import json
import os
from dataclasses import dataclass, replace
from stat import S_ISDIR

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def _nullable(d: dict) -> dict:
    """JSON hook for Spark's ``asNullable``: file sources read every field,
    array element and map value as nullable, whatever the footer says."""
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in d:
            d[k] = True
    return d


def read_footer(path: str) -> tuple[int, StructType] | None:
    """Row count and Spark schema of one parquet file from its footer, with
    no Spark job (about 1 ms; a warm inference job takes 0.1-0.2 s). The
    schema is the one Spark infers: its own row metadata when Spark wrote
    the file (keeps ``duck_type`` field metadata and TIMESTAMP_LTZ), else
    the Arrow schema with naive timestamps as TIMESTAMP_NTZ and ns ones as
    BIGINT (``nanosAsLong``). None where pyarrow cannot open the footer
    (Spark's VARIANT is newer than this pyarrow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        meta = pq.read_metadata(path)
    except OSError:
        return None
    text = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if text is None:
        arrow = pa.schema(
            f.with_type(pa.int64()) if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
            for f in meta.schema.to_arrow_schema()
        )
        text = from_arrow_schema(arrow, prefer_timestamp_ntz=True).json()
    return meta.num_rows, StructType.fromJson(json.loads(text, object_hook=_nullable))


@dataclass(frozen=True)
class TableFacts:
    """One table path as the file system and its footers describe it.
    ``mtime``: newest of the path and every file under it (an in-place
    part rewrite leaves the directory's alone). ``bytes``: every file
    under it. ``schema``: the first data file's (see ``table_facts``).
    ``rows``: the exact footer count (``df.count()`` of a bare scan), or
    None when a data file lacks the ``.parquet`` suffix or has an
    unreadable footer, as an undercount would loosen the size gates."""

    mtime: float
    schema: StructType | None
    rows: int | None
    bytes: int


# TableFacts per (path, mtime); rewriting a table changes its key.
_FACTS: dict = {}


def table_facts(path: str, spark: SparkSession | None = None) -> TableFacts:
    """The record of one table path (a parquet file or a directory of
    parts): one walk gives mtime and bytes, and the footers are read once
    per (path, mtime). Where no footer gives the schema (no ``.parquet``
    data file, or one pyarrow cannot open) it stays None until a caller
    passes its session; Spark then infers it once, raising as a plain read
    would. Raises OSError when the path is missing."""
    top = os.stat(path)
    files, stats = [path], [top]
    if S_ISDIR(top.st_mode):
        files = sorted(os.path.join(dp, f) for dp, _dirs, fs in os.walk(path) for f in fs)
        stats = [os.stat(f) for f in files]
    key = (path, max([top.st_mtime, *(st.st_mtime for st in stats)]))
    facts = _FACTS.get(key)
    if facts is None:
        # Spark skips hidden ('_', '.') files and reads every other one
        data = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
        footers = [read_footer(f) for f in data if f.endswith(".parquet")]
        facts = _FACTS[key] = TableFacts(
            key[1],
            footers[0][1] if footers and footers[0] else None,
            sum(f[0] for f in footers) if len(footers) == len(data) and all(footers) else None,
            sum(st.st_size for st in stats),
        )
    if facts.schema is None and spark is not None:
        facts = _FACTS[key] = replace(facts, schema=spark.read.parquet(path).schema)
    return facts


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
    df = spark.read.schema(table_facts(p, spark).schema).parquet(p)
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
    """On-disk bytes of every file under one catalog table's path."""
    try:
        return table_facts(f"{sf_dir}/{name}.parquet").bytes
    except OSError:
        return 1 << 60  # unknown size → never hint


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of one catalog table from its record (``df.count()``
    of a bare scan, with no Spark job) for the POLICY gates that need the
    scale before the plan exists (dedup's all-pairs-vs-LSH gate, the
    single-partition sorts). None when the path is missing or the record
    has no count; callers then run ``df.count()``."""
    try:
        return table_facts(f"{sf_dir}/{name}.parquet").rows
    except OSError:
        return None


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


# (session, sf_dir, name) → (the table's mtime, the JVM temp-view relation
# register_views created for that name).
_REGISTERED: dict = {}


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every table as a temp view so ``spark.sql`` queries see the
    same names the DuckDB oracle uses.

    Memoised per session and ``sf_dir``: a name is registered again only
    when its parquet changed (``table_facts``' mtime), its view is
    missing, or its view is no longer the relation this function
    registered. One JVM lookup and one walk of the table path per name
    decide that, with no analysis, so a warm call costs milliseconds, not
    a rebuild of every view. A cold call reads each schema from the
    table's footer record, so neither starts a Spark job.

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
            mtime = table_facts(f"{sf_dir}/{name}.parquet").mtime
        except OSError:
            mtime = None  # load_table raises the missing path
        key = (spark, sf_dir, name)
        hit = _REGISTERED.get(key)
        if hit and hit[0] == mtime and jcat.getRawTempView(name).equals(hit[1]):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        _REGISTERED[key] = (mtime, jcat.getRawTempView(name))

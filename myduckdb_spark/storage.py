"""Managed copy-on-write tables: row-level DML, sequences, EXPORT/ATTACH.

Reference surfaces covered (previously documented out of scope):

- DELETE / UPDATE — reference executes row-level DML against its own
  columnar storage with MVCC row versioning
  (src/execution/operator/persistent/physical_delete.cpp,
  physical_update.cpp, src/storage/data_table.cpp).
- CREATE SEQUENCE / nextval / currval — a catalog-entry counter behind a
  lock (src/catalog/catalog_entry/sequence_catalog_entry.cpp).
- EXPORT DATABASE / IMPORT / ATTACH — directory-of-files export with
  schema.sql + load.sql (src/execution/operator/persistent/
  physical_export.cpp, src/main/attached_database.cpp).

Spark-first design (NOT a port of the reference's storage engine):

A managed table is a directory of immutable parquet files plus a JSON
manifest naming the live files (with row counts). DML never mutates a
file — the copy-on-write pattern used by Delta Lake / Iceberg:

1. *Touched-file discovery is a distributed job*: scan the live files
   with the predicate and count matches per ``input_file_name()``.
   Predicate pushdown + parquet zone maps prune row groups JVM-side; the
   driver receives at most one row per touched file (bounded by #files,
   never by #rows), and UPDATE takes its row count from the same rows.
2. Only touched files are rewritten (DELETE: ``filter(NOT pred)``;
   UPDATE: ``CASE WHEN pred THEN expr ELSE col END`` per assignment,
   cast back to the column's original type so the schema never drifts).
   Untouched files carry forward by reference — at 100 TB a DELETE whose
   predicate hits 3 files rewrites 3 files.
3. The manifest swap is atomic (write-new + ``os.replace``), and prior
   manifests are retained (``manifest.v{N}.json``) so earlier versions
   remain scannable — snapshot reads fall out of copy-on-write for free.
4. Every read of a table's files pins the schema of its probe file (the
   first file written with the table's current physical schema), taken
   from the probe's footer record (``catalog.table_facts``). No read
   starts a Spark inference job, and the field order cannot drift
   between reads. Commits keep the probe until a schema change rewrites
   the data. Per-file row counts come from the same footer reader.

Sequences are driver-side counters persisted with the same atomic-swap
discipline — exactly the single point of serialization the reference
implements with a catalog lock. Per-row ``nextval`` inside an arbitrary
distributed query cannot preserve those semantics on a cluster (every
executor would contend on one counter), so the bulk surface
``Sequence.attach_column`` reserves a whole range in ONE counter bump
and assigns it with distributed numbering (the zipWithIndex pattern from
``operators.joins._number_rows``) — the form that scales.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from myduckdb_spark.catalog import read_footer, table_facts
from myduckdb_spark.operators.joins import _number_rows

_MANIFEST = "manifest.json"


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _part_files(spark: SparkSession, snapshot_dir: str) -> list[dict]:
    """The parquet part files Spark wrote, with per-file row counts from
    their footers; Spark counts a file whose footer pyarrow cannot open."""
    out = []
    for name in sorted(os.listdir(snapshot_dir)):
        if name.endswith(".parquet") and not name.startswith("_"):
            p = os.path.join(snapshot_dir, name)
            footer = read_footer(p)
            out.append({"path": p, "rows": footer[0] if footer else spark.read.parquet(p).count()})
    return out


class ManagedTable:
    """A copy-on-write parquet table supporting INSERT/DELETE/UPDATE."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- creation / scan ----------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, root: str, df: DataFrame) -> "ManagedTable":
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        t = cls(spark, root)
        files = t._write_snapshot(df)
        t._commit(0, files)
        return t

    def _manifest_path(self, version: int | None = None) -> str:
        if version is None:
            return os.path.join(self.root, _MANIFEST)
        return os.path.join(self.root, f"manifest.v{version}.json")

    def _manifest(self, version: int | None = None) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    @property
    def version(self) -> int:
        return self._manifest()["version"]

    def _reader(self):
        """A parquet reader of the table's files with the probe file's
        schema pinned: no inference job, and multi-file reads cannot infer
        the schema from a nondeterministically-sampled file (field order
        must never drift across scans — DML rewrites re-read these files
        and write new ones, so drift would compound)."""
        probe = self._manifest().get("schema_probe")
        if not probe:
            raise ValueError("empty table with no schema probe")
        return self.spark.read.schema(table_facts(probe, self.spark).schema)

    def scan(self, version: int | None = None) -> DataFrame:
        """DataFrame over the live files (or a retained prior version)."""
        m = self._manifest(version)
        files = m["files"]
        read = self._reader()
        if not files:
            # empty table: read the probe for its schema, keep 0 rows
            df = read.parquet(self._manifest()["schema_probe"]).limit(0)
        else:
            paths = [f["path"] for f in files]
            if len(paths) <= 64:
                # manifest-ordered scan: Spark's multi-path read packs
                # splits LARGEST-FIRST, so row order would drift from
                # insertion order — observable through LIMIT without
                # ORDER BY (the reference scans in insertion order;
                # parquet_write_issue_5779.test COPYs `LIMIT 10`).
                # A union of per-file reads concatenates partitions in
                # manifest order. Bounded at 64 files: beyond that the
                # linear plan outgrows its value and the multi-path
                # scan (scale path) takes over.
                from functools import reduce

                df = reduce(DataFrame.union, [read.parquet(p) for p in paths])
            else:
                df = read.parquet(*paths)
        # pending ALTER stages (metadata-only schema evolution) apply as
        # projections over the pinned-schema file read
        for stage in m.get("projections", []):
            df = df.selectExpr(
                *[
                    f"CAST(({e}) AS {t}) AS `{n}`" if t else f"({e}) AS `{n}`"
                    for n, e, t in stage
                ]
            )
        return df

    def count(self) -> int:
        return sum(f["rows"] for f in self._manifest()["files"])

    # -- write path ---------------------------------------------------------

    def _write_snapshot(self, df: DataFrame) -> list[dict]:
        out = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(out)
        return _part_files(self.spark, out)

    def _commit(self, version: int, files: list[dict]) -> None:
        cur = self._manifest() if os.path.exists(self._manifest_path()) else {}
        probe = cur.get("schema_probe") or (files[0]["path"] if files else None)
        m = {"version": version, "files": files, "schema_probe": probe}
        if cur.get("key"):
            m["key"] = cur["key"]
        if cur.get("unique"):
            m["unique"] = cur["unique"]
        if cur.get("defaults"):
            m["defaults"] = cur["defaults"]
        if cur.get("projections"):
            m["projections"] = cur["projections"]
        _atomic_write_json(self._manifest_path(version), m)
        _atomic_write_json(self._manifest_path(), m)

    # -- ALTER TABLE (reference src/catalog/catalog_entry/
    #    duckdb_table_entry.cpp AddColumn/RemoveColumn/RenameColumn/
    #    ChangeColumnType — in-memory catalog rewrites) --------------------

    def alter(self, stage: list[tuple[str, str, str | None]]) -> None:
        """Apply a schema change as a METADATA-ONLY projection stage.

        ``stage`` is the table's new column list in order: (name, sql_expr
        over the current logical columns, spark_type|None). The reference's
        ALTER rewrites an in-memory catalog entry in O(1); at 100 TB a data
        rewrite per ADD COLUMN would be absurd, so scan() applies pending
        stages after the pinned-schema file read. The next data WRITE
        materializes all pending stages once (files never mix schemas)."""
        cur = self._manifest()
        stages = cur.get("projections", [])
        stages.append([[n, e, t] for n, e, t in stage])
        cur["projections"] = stages
        cur["version"] = cur["version"] + 1
        _atomic_write_json(self._manifest_path(cur["version"]), cur)
        _atomic_write_json(self._manifest_path(), cur)

    def remap_columns(self, mapping: dict[str, str]) -> None:
        """RENAME COLUMN follows the reference in carrying constraints and
        defaults to the new name (duckdb_table_entry.cpp RenameColumn
        rewrites index column lists)."""
        cur = self._manifest()
        changed = False
        if cur.get("defaults"):
            low = {k.lower(): v.lower() for k, v in mapping.items()}
            nd = {low.get(c, c): d for c, d in cur["defaults"].items()}
            changed = nd != cur["defaults"]
            cur["defaults"] = nd
        if cur.get("key"):
            nk = [mapping.get(c, c) for c in cur["key"]]
            changed = changed or nk != cur["key"]
            cur["key"] = nk
        if cur.get("unique"):
            nu = [[mapping.get(c, c) for c in ks] for ks in cur["unique"]]
            changed = changed or nu != cur["unique"]
            cur["unique"] = nu
        if changed:
            _atomic_write_json(self._manifest_path(cur["version"]), cur)
            _atomic_write_json(self._manifest_path(), cur)

    def _materialize_projection(self) -> None:
        """One-time migration before any data write: fold pending ALTER
        stages into real files so append/partial-rewrite paths keep the
        single-physical-schema invariant."""
        cur = self._manifest()
        if not cur.get("projections"):
            return
        files = self._write_snapshot(self.scan())
        m = {
            "version": cur["version"] + 1,
            "files": files,
            "schema_probe": files[0]["path"] if files else None,
        }
        if cur.get("key"):
            m["key"] = cur["key"]
        if cur.get("unique"):
            m["unique"] = cur["unique"]
        if cur.get("defaults"):
            m["defaults"] = cur["defaults"]
        _atomic_write_json(self._manifest_path(m["version"]), m)
        _atomic_write_json(self._manifest_path(), m)

    def insert(self, df: DataFrame) -> int:
        """Append rows (reference INSERT): new files only, no rewrite.
        Input binds by POSITION to the table schema (the reference INSERT
        binder, physical_insert.cpp) and casts to the column types so the
        file set never drifts in schema."""
        self._materialize_projection()
        cur = self._manifest()
        target = self.scan().limit(0)
        if len(df.columns) != len(target.columns):
            raise ValueError(
                f"INSERT arity {len(df.columns)} != table arity {len(target.columns)}"
            )
        df = df.select(
            *[
                F.col(c).cast(t).alias(name)
                for c, (name, t) in zip(df.columns, target.dtypes)
            ]
        )
        new = self._write_snapshot(df)
        self._commit(cur["version"] + 1, cur["files"] + new)
        return sum(f["rows"] for f in new)

    # -- keyed upsert (reference INSERT ... ON CONFLICT,
    #    physical_insert.cpp OnConflictHandling) -----------------------------

    def key(self) -> list[str] | None:
        """Primary conflict-target columns (the reference's PRIMARY KEY)."""
        return self._manifest().get("key")

    def keys(self) -> list[list[str]]:
        """Every arbiter key set: the PRIMARY KEY plus UNIQUE constraints /
        unique indexes (reference: each is an ART index usable as an ON
        CONFLICT arbiter, physical_insert.cpp)."""
        m = self._manifest()
        out = [m["key"]] if m.get("key") else []
        out += [k for k in m.get("unique", []) if k not in out]
        return out

    def set_defaults(self, defaults: dict) -> None:
        """Persist column DEFAULT expressions (SQL text, applied by the
        front door when an INSERT/COPY column list omits the column)."""
        cur = self._manifest()
        cur["defaults"] = dict(defaults)
        _atomic_write_json(self._manifest_path(cur["version"]), cur)
        _atomic_write_json(self._manifest_path(), cur)

    @property
    def defaults(self) -> dict:
        return self._manifest().get("defaults", {})

    def set_key(self, cols: list[str]) -> None:
        cur = self._manifest()
        missing = set(cols) - set(self.scan().columns)
        if missing:
            raise ValueError(f"key column(s) not in table: {sorted(missing)}")
        cur["key"] = list(cols)
        _atomic_write_json(self._manifest_path(cur["version"]), cur)
        _atomic_write_json(self._manifest_path(), cur)

    def add_unique(self, cols: list[str]) -> None:
        """CREATE UNIQUE INDEX / UNIQUE column constraint: an additional
        arbiter key set."""
        cur = self._manifest()
        missing = set(cols) - set(self.scan().columns)
        if missing:
            raise ValueError(f"key column(s) not in table: {sorted(missing)}")
        uniq = cur.get("unique", [])
        if list(cols) not in uniq:
            uniq.append(list(cols))
        cur["unique"] = uniq
        _atomic_write_json(self._manifest_path(cur["version"]), cur)
        _atomic_write_json(self._manifest_path(), cur)

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str] | None = None,
        action: str = "nothing",  # "nothing" | "update"
        assignments: dict[str, str] | None = None,
        where: str | None = None,
        arbiter_where: str | None = None,
    ) -> int:
        """INSERT ... ON CONFLICT (key) DO NOTHING / DO UPDATE SET.

        Copy-on-write merge: conflicting keys' files are rewritten (DO
        UPDATE) or left untouched (DO NOTHING); non-conflicting incoming
        rows append as new files. Matches the reference's observable
        semantics (physical_insert.cpp): a duplicate conflict key WITHIN
        the incoming batch raises (the reference cannot see rows inserted
        by the same statement), DO UPDATE's SET/WHERE may reference the
        incoming row as ``excluded.col`` and the stored row unqualified,
        and a WHERE that fails leaves the stored row unchanged.

        At scale: the incoming batch's distinct keys broadcast into a
        semi-join against the scan (pushdown projects input_file_name
        only), so the rewrite cost is proportional to files containing
        conflicts, never the table size.
        """
        self._materialize_projection()
        key_cols = list(key_cols or self.key() or [])
        if not key_cols:
            raise ValueError("ON CONFLICT requires conflict-target columns (no table key)")
        cur = self._manifest()
        target = self.scan().limit(0)
        if len(df.columns) != len(target.columns):
            raise ValueError(
                f"INSERT arity {len(df.columns)} != table arity {len(target.columns)}"
            )
        df = df.select(
            *[
                F.col(c).cast(t).alias(name)
                for c, (name, t) in zip(df.columns, target.dtypes)
            ]
        ).cache()
        try:
            dup = (
                df.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                keyval = ", ".join(str(dup[0][k]) for k in key_cols)
                raise ValueError(
                    f"Constraint Error: duplicate key \"{keyval}\" in INSERT batch"
                )
            incoming_keys = df.select(*key_cols).distinct()
            existing = self.scan()
            # conflict detection must broadcast the INCOMING batch's keys
            # (bounded by batch size), never the existing table's (at table
            # scale that's billions of keys). Two passes, each streaming
            # the big side: (1) semi-join the table's keys against the
            # broadcast batch -> the (small) set of conflicting keys,
            # (2) anti-join the batch against that broadcast set.
            conflict_keys = (
                existing.select(*key_cols)
                .join(F.broadcast(incoming_keys), key_cols, "left_semi")
                .distinct()
            )
            if arbiter_where:
                # ON CONFLICT (target) WHERE pred: the arbiter predicate is
                # evaluated over the (stored row, excluded row) pair —
                # stored columns unqualified, incoming as __exc_* — and a
                # conflict whose pair FAILS the predicate has no arbiter
                # and raises, exactly like the reference (verified live:
                # true pred updates, false pred errors)
                pair_exc = df.select(
                    *[F.col(c).alias(f"__exc_{c}") for c in df.columns]
                )
                uncovered = (
                    existing.join(
                        F.broadcast(pair_exc),
                        [existing[k] == pair_exc[f"__exc_{k}"] for k in key_cols],
                        "inner",
                    )
                    .filter(~F.coalesce(F.expr(arbiter_where), F.lit(False)))
                    .limit(1)
                    .collect()
                )
                if uncovered:
                    keyval = ", ".join(f"{k}: {uncovered[0][k]}" for k in key_cols)
                    raise ValueError(
                        f'Constraint Error: Duplicate key "{keyval}" violates '
                        f"primary key constraint."
                    )
            fresh = df.join(F.broadcast(conflict_keys), key_cols, "left_anti")
            n_fresh = fresh.count()
            new_files = self._write_snapshot(fresh) if n_fresh else []
            if action == "nothing":
                self._commit(cur["version"] + 1, cur["files"] + new_files)
                return n_fresh
            # DO UPDATE: rewrite only files holding conflicting keys
            # project input_file_name() directly over the scan (single
            # source) BEFORE joining — Spark's PreReadCheck rejects it
            # when the incoming side is itself a file source
            touched_rows = (
                existing.select(*key_cols, F.input_file_name().alias("f"))
                .join(F.broadcast(incoming_keys), key_cols, "left_semi")
                .select("f")
                .distinct()
                .collect()
            )
            touched = {re.sub(r"^file:/+", "/", r["f"]) for r in touched_rows}
            if not touched:
                self._commit(cur["version"] + 1, cur["files"] + new_files)
                return n_fresh
            keep = [f for f in cur["files"] if f["path"] not in touched]
            src = self._reader().parquet(*sorted(touched))
            types = dict(src.dtypes)
            exc = df.select(
                *[F.col(c).alias(f"__exc_{c}") for c in df.columns],
                F.lit(True).alias("__matched"),
            )
            joined = src.join(
                F.broadcast(exc),
                [src[k] == exc[f"__exc_{k}"] for k in key_cols],
                "left",
            )
            upd_pred = "__matched" + (f" AND ({where})" if where else "")
            n_updated = joined.filter(F.expr(upd_pred)).count()
            rewritten = joined.select(
                *[
                    F.expr(
                        f"CAST(CASE WHEN ({upd_pred}) THEN ({assignments[c]}) "
                        f"ELSE {c} END AS {types[c]}) AS {c}"
                    )
                    if assignments and c in assignments
                    else F.col(c)
                    for c in src.columns
                ]
            )
            new_files += self._write_snapshot(rewritten)
            self._commit(cur["version"] + 1, keep + new_files)
            return n_fresh + n_updated
        finally:
            df.unpersist()

    # -- DML ----------------------------------------------------------------

    def _touched_files(
        self,
        pred: str,
        alias: str | None = None,
        not_null: dict[str, str] | None = None,
    ) -> dict[str, int]:
        """Distributed touched-file discovery: pushdown scan projecting
        only input_file_name(), one aggregate counting the matching rows
        per file; the driver receives ≤ one row per file. ``not_null``
        maps a constraint's name (``t1.c``) to a SQL value that must not
        be NULL on any matching row; the same aggregate counts the NULLs
        and a violation raises DuckDB's constraint error."""
        checks = list((not_null or {}).items())
        scan = self.scan()
        if alias:
            scan = scan.alias(alias)
        rows = (
            scan.filter(F.expr(pred))
            .select(
                F.input_file_name().alias("f"),
                *[F.expr(f"({v}) IS NULL").alias(f"__null{i}")
                  for i, (_, v) in enumerate(checks)],
            )
            .groupBy("f")
            .agg(
                F.count(F.lit(1)).alias("count"),
                *[F.count_if(f"__null{i}").alias(f"__null{i}")
                  for i in range(len(checks))],
            )
            .collect()
        )
        for i, (label, _) in enumerate(checks):
            if any(r[f"__null{i}"] for r in rows):
                raise ValueError(
                    f"Constraint Error: NOT NULL constraint failed: {label}"
                )
        # input_file_name returns a URI (file:///...); manifest holds paths
        return {re.sub(r"^file:/+", "/", r["f"]): r["count"] for r in rows}

    def delete(self, pred: str, alias: str | None = None) -> int:
        """DELETE FROM t WHERE pred. Returns #rows deleted. Only files
        containing matching rows are rewritten. ``alias`` names the scan
        so correlated predicates (DELETE ... USING compiles to EXISTS)
        can reference the outer row by table name."""
        self._materialize_projection()
        cur = self._manifest()
        touched = self._touched_files(pred, alias)
        if not touched:
            return 0
        keep = [f for f in cur["files"] if f["path"] not in touched]
        touched_rows = sum(f["rows"] for f in cur["files"] if f["path"] in touched)
        survivors = self._reader().parquet(*sorted(touched))
        if alias:
            survivors = survivors.alias(alias)
        # DELETE removes rows where pred is TRUE; a NULL predicate keeps
        # the row (three-valued logic) — plain ~pred would drop it
        survivors = survivors.filter(F.coalesce(~F.expr(pred), F.lit(True)))
        new = self._write_snapshot(survivors)
        self._commit(cur["version"] + 1, keep + new)
        return touched_rows - sum(f["rows"] for f in new)

    def truncate(self) -> int:
        """TRUNCATE: drop every live file from the manifest (files stay on
        disk for retained-version reads). Returns #rows removed."""
        cur = self._manifest()
        n = sum(f["rows"] for f in cur["files"])
        self._commit(cur["version"] + 1, [])
        return n

    def restore(self, version: int) -> None:
        """Reset the current manifest to a retained prior version (the
        transaction-rollback primitive: copy-on-write never deletes files,
        so restoring is a pointer swap — reference MVCC rollback
        src/transaction/undo_buffer.cpp, realized Spark-side as manifest
        versioning)."""
        m = self._manifest(version)
        _atomic_write_json(self._manifest_path(), m)

    def update(
        self,
        assignments: dict[str, str],
        pred: str = "true",
        not_null: dict[str, str] | None = None,
    ) -> int:
        """UPDATE t SET col = expr[, ...] WHERE pred. Returns #rows
        updated. Expressions are SQL over the row's columns; assigned
        columns are cast back to their original type (reference UPDATE
        binder casts RHS to the column type, physical_update.cpp).
        ``not_null`` maps each assigned NOT NULL column to the name its
        constraint error reports; a NULL new value raises before any
        file is written."""
        self._materialize_projection()
        cur = self._manifest()
        checks = {}
        if not_null:
            col_types = dict(self.scan().dtypes)
            checks = {
                label: f"CAST(({assignments[c]}) AS {col_types[c]})"
                for c, label in not_null.items()
            }
        touched = self._touched_files(pred, not_null=checks)
        if not touched:
            return 0
        keep = [f for f in cur["files"] if f["path"] not in touched]
        src = self._reader().parquet(*sorted(touched))
        types = dict(src.dtypes)
        unknown = set(assignments) - set(types)
        if unknown:
            raise ValueError(f"UPDATE of unknown column(s): {sorted(unknown)}")
        updated = src.select(
            *[
                F.expr(
                    f"CAST(CASE WHEN ({pred}) THEN ({assignments[c]}) "
                    f"ELSE {c} END AS {types[c]}) AS {c}"
                )
                if c in assignments
                else F.col(c)
                for c in src.columns
            ]
        )
        new = self._write_snapshot(updated)
        self._commit(cur["version"] + 1, keep + new)
        return sum(touched.values())

    def update_from(
        self,
        assignments: dict[str, str],
        from_clause: str,
        pred: str | None,
        alias: str,
        not_null: dict[str, str] | None = None,
    ) -> int:
        """UPDATE t SET ... FROM src [, ...] WHERE pred (reference
        planner joins the target to the FROM sources; one ARBITRARY
        matching source row feeds each target row's assignments, Postgres
        semantics). ``not_null`` is as in ``update``.

        Implementation: stamp every target row with a row id and
        MATERIALIZE the stamped scan (monotonically_increasing_id is
        nondeterministic — re-evaluating it across two plans would break
        the join-back), compute per-rid assignment values over target ×
        FROM (row_number picks one arbitrary match), left-join the values
        back by rid and CASE-merge. A full-table rewrite — row-level
        pruning doesn't apply because assignments may read source rows.
        """
        self._materialize_projection()
        spark = self.spark
        cur = self._manifest()
        target = self.scan()
        types = dict(target.dtypes)
        unknown = set(assignments) - set(types)
        if unknown:
            raise ValueError(f"UPDATE of unknown column(s): {sorted(unknown)}")
        stamp = uuid.uuid4().hex
        stamped_dir = os.path.join(self.root, "data", f"upd_{stamp}")
        view = f"__upd_target_{stamp}"  # per-invocation, no global clash
        target.withColumn("__rid", F.monotonically_increasing_id()).write.parquet(
            stamped_dir
        )
        try:
            stamped = spark.read.parquet(stamped_dir)
            stamped.createOrReplaceTempView(view)
            # ONE source row feeds all of a target row's assignments
            # coherently: aggregate the assignment tuple as a single
            # first(struct(...))
            assign_struct = ", ".join(
                f"'{c}', ({e})" for c, e in assignments.items()
            )
            matched = spark.sql(
                f"SELECT {alias}.__rid AS __mrid, "
                f"first(named_struct({assign_struct})) AS __new "
                f"FROM {view} AS {alias}, {from_clause} "
                + (f"WHERE {pred} " if pred else "")
                + f"GROUP BY {alias}.__rid"
            )
            joined = stamped.join(
                matched, stamped["__rid"] == matched["__mrid"], "left"
            )
            new_df = joined.select(
                *[
                    F.expr(
                        f"CAST(CASE WHEN __mrid IS NOT NULL THEN __new.{c} "
                        f"ELSE {c} END AS {types[c]}) AS {c}"
                    )
                    if c in assignments
                    else F.col(c)
                    for c in target.columns
                ]
            )
            # the matched-row count also counts each NOT NULL column's
            # NULL new values: one aggregate, checked before the write
            checks = list((not_null or {}).items())
            counts = matched.agg(
                F.count(F.lit(1)).alias("n"),
                *[F.count_if(F.expr(f"CAST(__new.`{c}` AS {types[c]}) IS NULL"))
                  .alias(f"__null{i}") for i, (c, _) in enumerate(checks)],
            ).first()
            for i, (_, label) in enumerate(checks):
                if counts[f"__null{i}"]:
                    raise ValueError(
                        f"Constraint Error: NOT NULL constraint failed: {label}"
                    )
            n_updated = counts["n"]
            new = self._write_snapshot(new_df)
            self._commit(cur["version"] + 1, new)
        finally:
            # the new snapshot is fully written — the stamped scratch copy
            # (one full table per UPDATE...FROM) must not accumulate
            spark.catalog.dropTempView(view)
            shutil.rmtree(stamped_dir, ignore_errors=True)
        return n_updated


# ---------------------------------------------------------------------------
# Sequences.
# ---------------------------------------------------------------------------


@dataclass
class Sequence:
    """CREATE SEQUENCE semantics (start/increment/min/max/cycle) with the
    reference's serialized-counter behavior, persisted atomically."""

    store: "SequenceStore"
    name: str

    def nextval(self) -> int:
        return self.store._next(self.name)

    def currval(self) -> int:
        return self.store._curr(self.name)

    def reserve(self, n: int) -> int:
        """Reserve n consecutive values in one counter bump; returns the
        first. The bulk form a cluster needs: one serialization point per
        BATCH, not per row."""
        return self.store._reserve(self.name, n)

    def attach_column(self, df: DataFrame, col: str, order: list[str]) -> DataFrame:
        """Assign sequence values to every row of ``df`` in ``order``:
        count once, reserve the range, number rows distributedly."""
        n = df.count()
        base = self.reserve(n) if n else self.store._peek(self.name)
        inc = self.store._seqs[self.name]["increment"]
        return (
            _number_rows(df, order)
            .withColumn(col, (F.col("__pos") - F.lit(1)) * F.lit(inc) + F.lit(base))
            .drop("__pos")
        )


class SequenceStore:
    """All sequences of one 'database', persisted to a JSON file."""

    def __init__(self, path: str | None = None):
        self.path = path or os.path.join(tempfile.mkdtemp(prefix="mdbs_seq_"), "sequences.json")
        self._seqs: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._seqs = json.load(f)

    def _save(self) -> None:
        _atomic_write_json(self.path, self._seqs)

    def create(
        self,
        name: str,
        start: int | None = None,
        increment: int = 1,
        minvalue: int | None = None,
        maxvalue: int | None = None,
        cycle: bool = False,
        replace: bool = False,
        temp: bool = False,
    ) -> Sequence:
        if name in self._seqs and not replace:
            raise ValueError(f"sequence {name} already exists")
        if increment == 0:
            raise ValueError("increment must be non-zero")
        lo = minvalue if minvalue is not None else (1 if increment > 0 else -(2**63))
        hi = maxvalue if maxvalue is not None else (2**63 - 1 if increment > 0 else -1)
        if start is None:
            # default start: MINVALUE ascending, MAXVALUE descending
            start = lo if increment > 0 else hi
        # parameter validation (reference sequence_catalog_entry.cpp):
        # the bounds must order and the start must fall inside them
        if lo > hi:
            raise ValueError(
                "MINVALUE must be less than or equal to MAXVALUE"
            )
        if start > hi:
            raise ValueError("START value cannot be greater than MAXVALUE")
        if start < lo:
            raise ValueError("START value cannot be less than MINVALUE")
        self._seqs[name] = {
            "next": start,
            "current": None,
            "increment": increment,
            "min": lo,
            "max": hi,
            "cycle": cycle,
            "start": start,
            "temp": temp,
        }
        self._save()
        return Sequence(self, name)

    def drop(self, name: str) -> None:
        self._seqs.pop(name)
        self._save()

    def get(self, name: str) -> Sequence:
        if name not in self._seqs:
            raise KeyError(f"unknown sequence: {name}")
        return Sequence(self, name)

    def _peek(self, name: str) -> int:
        return self._seqs[name]["next"]

    def _next(self, name: str) -> int:
        return self._reserve(name, 1)

    def _reserve(self, name: str, n: int) -> int:
        s = self._seqs[name]
        first = s["next"]
        if not (s["min"] <= first <= s["max"]):
            raise OverflowError(f"sequence {name} out of range")
        last = first + (n - 1) * s["increment"]
        if last > s["max"] or last < s["min"]:
            # a contiguous reservation cannot wrap; CYCLE applies between
            # calls (next wraps below), matching per-call DuckDB semantics
            raise OverflowError(f"sequence {name} exhausted")
        nxt = last + s["increment"]
        if nxt > s["max"]:
            nxt = s["min"] if s["cycle"] else nxt
        elif nxt < s["min"]:
            nxt = s["max"] if s["cycle"] else nxt
        s["next"], s["current"] = nxt, last
        self._save()
        return first

    def _curr(self, name: str) -> int:
        cur = self._seqs[name]["current"]
        if cur is None:
            raise ValueError(f"currval: nextval has not been called on {name}")
        return cur


# ---------------------------------------------------------------------------
# EXPORT DATABASE / IMPORT / ATTACH.
# ---------------------------------------------------------------------------


def export_database(spark: SparkSession, out_dir: str, tables: dict[str, DataFrame]) -> None:
    """EXPORT DATABASE 'dir' (FORMAT PARQUET): one parquet dir per table
    plus schema.sql / load.sql, the reference's export layout
    (physical_export.cpp writes schema.sql + load.sql + data files).
    schema.sql carries each column's DuckDB type name from its column
    record (``infoschema.column_records``: the declared name where the
    Spark type erases it), so DuckDB can run it and load the parquet files
    into the declared types."""
    from myduckdb_spark import infoschema

    os.makedirs(out_dir, exist_ok=True)
    schema_lines, load_lines = [], []
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        cols = ", ".join(f"{c['name']} {c['dtype']}"
                         for c in infoschema.column_records(name, df.schema.fields))
        schema_lines.append(f"CREATE TABLE {name} ({cols});")
        # Spark writes a directory of part files; DuckDB COPY reads globs
        load_lines.append(f"COPY {name} FROM '{path}/*.parquet' (FORMAT PARQUET);")
    with open(os.path.join(out_dir, "schema.sql"), "w") as f:
        f.write("\n".join(schema_lines) + "\n")
    with open(os.path.join(out_dir, "load.sql"), "w") as f:
        f.write("\n".join(load_lines) + "\n")


def import_database(spark: SparkSession, in_dir: str) -> list[str]:
    """IMPORT DATABASE: register every exported table as a temp view."""
    names = []
    with open(os.path.join(in_dir, "schema.sql")) as f:
        for line in f:
            m = re.match(r"CREATE TABLE (\w+)", line)
            if m:
                names.append(m.group(1))
    for name in names:
        spark.read.parquet(os.path.join(in_dir, f"{name}.parquet")).createOrReplaceTempView(name)
    return names


# alias → {table → view}; the SQL front door rewrites alias.table
_ATTACHED: dict[str, dict[str, str]] = {}
# alias → the path given to ATTACH (duckdb_databases()/pg_database rows)
_ATTACH_PATHS: dict[str, str | None] = {}


def attach(spark: SparkSession, in_dir: str, alias: str) -> list[str]:
    """ATTACH 'dir' AS alias: register an exported/parquet directory's
    tables under ``alias.table`` names. Spark temp views are single-part,
    so views register as ``alias__table`` and ``sql.translate`` rewrites
    qualified references (mirrors how the reference resolves catalog
    aliases in src/main/attached_database.cpp). A non-directory path
    (a fresh '.db' file target, ':memory:') attaches as an EMPTY catalog
    — the reference creates a new storage database there."""
    if alias in _ATTACHED:
        raise ValueError(
            f'database with name "{alias}" already exists'
        )
    names = []
    if os.path.isdir(in_dir):
        for entry in sorted(os.listdir(in_dir)):
            if entry.endswith(".parquet"):
                name = entry[: -len(".parquet")]
                view = f"{alias}__{name}"
                spark.read.parquet(
                    os.path.join(in_dir, entry)
                ).createOrReplaceTempView(view)
                _ATTACHED.setdefault(alias, {})[name] = view
                names.append(name)
        if not names:
            raise ValueError(f"ATTACH: no parquet tables under {in_dir}")
        _ATTACH_PATHS[alias] = in_dir
        return names
    _ATTACHED.setdefault(alias, {})
    _ATTACH_PATHS[alias] = None if in_dir == ":memory:" else in_dir
    return names


def detach(spark: SparkSession, alias: str) -> None:
    if alias not in _ATTACHED:
        raise KeyError(f'database with name "{alias}" not found')
    for view in _ATTACHED.pop(alias, {}).values():
        spark.catalog.dropTempView(view)
    _ATTACH_PATHS.pop(alias, None)
    _ATTACH_READONLY.pop(alias, None)


def attached_aliases() -> dict[str, dict[str, str]]:
    return _ATTACHED


def attached_paths() -> dict[str, str | None]:
    return _ATTACH_PATHS


# alias → attached with (READ_ONLY)
_ATTACH_READONLY: dict[str, bool] = {}


def attached_readonly() -> dict[str, bool]:
    return _ATTACH_READONLY

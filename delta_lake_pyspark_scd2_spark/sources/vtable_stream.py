"""Versioned table as a Structured Streaming SOURCE (Delta's
``spark.readStream.format("delta")`` + change-data-feed parity) via
Spark 4's Python DataSource API.

Offsets are table versions: each micro-batch delivers the change rows
of the versions committed since the last batch, so a downstream
pipeline can incrementally consume a table other jobs keep writing —
the storage-level CDC feed that powers incremental materialized views,
replication, and audit sinks. Exactly-once comes from the offset log:
on restart the stream resumes from the last committed version, and
replaying a version yields identical change rows (commits and their
change files are immutable).

**Executor-parallel by design** (the round-2 driver-materialization
fix): planning (`partitions()`) touches COMMIT METADATA only — JSON
manifests plus parquet checkpoints, read with plain ``json``/pyarrow,
no SparkSession and no row materialization on the driver. Row reads
happen in ``read(partition)`` on EXECUTORS, one partition per change
file or data file, via pyarrow directly against the parquet bytes. A
``startingversion=0`` replay of a large table therefore fans out one
task per v0 data file instead of collecting the snapshot through the
driver.

Where change rows come from, per commit (Delta CDF's exact model):

- ``cdc_files`` in the commit record (written at commit time by
  upsert/delete/update when the table property
  ``enableChangeDataFeed=true``): full ``insert`` / ``delete`` /
  ``update_preimage`` / ``update_postimage`` fidelity.
- otherwise, a file-level interpretation of the commit's add/remove
  actions: rows of added files are ``insert``, rows of removed files
  are ``delete``. Correct as a row-multiset diff, because a committed
  file never changes under its path; updates surface as delete+insert.
- commits with ``data_change=false`` (COMPACT/ZORDER re-layouts) are
  skipped, as Delta does.

Registration (per session)::

    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        VTableChangesDataSource,
    )
    spark.dataSource.register(VTableChangesDataSource)
    stream = (spark.readStream.format("vtable_changes")
              .option("path", table_path).load())
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_META_COLS = ("_change_type", "_commit_version")
#: Spark writes timestamps as INT96, which pyarrow reads as nanoseconds
#: by default: the SCD2 far-future sentinel 9999-12-31 overflows that
#: range and would arrive as a date in 1816.
_INT96_UNIT = "us"


def _meta_table(path: str):
    """Metadata-only table handle: versions()/_load_commit()/
    _snapshot_files() are pure json+pyarrow and never touch
    ``self.spark`` — safe in the stream-planner process and cheap."""
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    return VersionedParquetTable(None, path)


def _changes_schema(path: str) -> StructType:
    """Stream schema = latest commit's logical schema + CDF meta
    columns — parsed straight from the commit record (no Spark)."""
    t = _meta_table(path)
    m = t._load_commit(t.latest_version())
    out = StructType.fromJson(json.loads(m["schema"]))
    return out.add("_change_type", "string").add("_commit_version", "long")


def _cast_partition_value(raw: str, type_name: str):
    """Directory-encoded partition value → Python value of the logical
    column type (data files under ``partitionBy`` layouts don't store
    the partition columns; the manifest record carries them as
    strings)."""
    import datetime

    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    t = type_name.lower()
    if t in ("byte", "short", "integer", "int", "long", "bigint", "tinyint", "smallint"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        return datetime.date.fromisoformat(raw)
    if t.startswith("timestamp"):
        return datetime.datetime.fromisoformat(raw)
    return raw


class _ChangesPartition(InputPartition):
    """One executor work unit. ``spec`` keys:

    - kind: "cdc" | "file"
    - version: the commit version stamped into ``_commit_version``
    - table_path: table root (executors resolve files against it)
    - fields: [(logical_name, type_simple_string), ...] in output order
    - cdc: relative path under ``_cdc/`` (kind=cdc)
    - file / partition / change_type / mapping (kind=file):
      data-file record bits + the side's classification
    """

    def __init__(self, spec: dict):
        self.spec = spec


class _VTableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options["path"]
        self.schema_ = schema
        # start offset: "latest" skips history; anything else replays
        # from the first retained version (its snapshot arrives as
        # inserts, matching Delta's startingVersion=0)
        self.from_start = (
            str(options.get("startingversion", "0")).lower() != "latest"
        )
        # kept for API compatibility: classification now comes from the
        # commit log (change files / add-remove actions), not a key join
        self.key_cols = [
            c for c in str(options.get("keycols", "")).split(",") if c
        ]
        self._fields = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if f.name not in _META_COLS
        ]
        # Physical column names are stable across renames (only the
        # logical->physical mapping moves), and the stream's output
        # schema is the LATEST logical schema — so the head commit's
        # mapping is the right lens for files of every version.
        t = _meta_table(self.path)
        self._mapping = (
            t._load_commit(t.latest_version()).get("column_mapping") or {}
        )

    # -- planning (driver, metadata only) ------------------------------------

    def initialOffset(self) -> dict:
        if self.from_start:
            return {"version": -1}
        return {"version": _meta_table(self.path).latest_version()}

    def latestOffset(self) -> dict:
        return {"version": _meta_table(self.path).latest_version()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        t = _meta_table(self.path)
        lo, hi = start["version"], end["version"]
        out: list[InputPartition] = []
        versions = [v for v in t.versions() if lo < v <= hi]
        # Bootstrap/guard decisions belong to the BATCH, decided from
        # its first retained version BEFORE the per-commit loop — a
        # cdc or data_change=false first commit must not skip them:
        #
        # * A full-snapshot replay (all current rows delivered as
        #   inserts) is only ever correct on a FRESH start (cursor at
        #   the -1 sentinel, matching Delta's startingVersion=0
        #   semantics when history has been vacuumed). The snapshot is
        #   taken AT the first retained version regardless of that
        #   commit's own kind — it already reflects the commit's
        #   effect, and a compacted/cdc commit's visible rows are
        #   exactly what the consumer must bootstrap from.
        # * On a RESUMED stream (lo >= 0), versions whose manifests
        #   retention dropped inside (lo, first retained] mean their
        #   changes are UNRECOVERABLE — silently skipping them (or
        #   re-delivering a snapshot) double-applies or loses rows in
        #   a downstream signed-delta fold, so refuse and tell the
        #   caller to re-bootstrap, exactly like the batch CDF reader
        #   does for a vacuumed startingVersion. A retained cdc or
        #   data_change=false first commit with an intact version
        #   chain needs no predecessor manifest and streams normally.
        snapshot_replay_pending = False
        if versions:
            first_v = versions[0]
            if lo >= 0 and first_v > lo + 1:
                raise ValueError(
                    f"stream cursor at version {lo} of {self.path}, but "
                    f"versions {lo + 1}..{first_v - 1} are no longer "
                    "retained (vacuumed); their changes cannot be "
                    "replayed — restart the stream from scratch (fresh "
                    "checkpoint) to re-bootstrap from the current snapshot"
                )
            # fresh start: bootstrap with the snapshot AT the first
            # retained version (for first_v == 0 that equals the
            # genesis diff against an empty predecessor)
            snapshot_replay_pending = lo < 0
        for v in versions:
            base = {
                "version": v,
                "table_path": self.path,
                "fields": self._fields,
            }
            commit = t._load_commit(v)
            snapshot_replay = snapshot_replay_pending
            snapshot_replay_pending = False
            if not snapshot_replay:
                if commit.get("data_change", True) is False:
                    continue  # COMPACT/ZORDER: same visible rows, no feed
                cdc = commit.get("cdc_files") or []
                if cdc:
                    out.extend(
                        _ChangesPartition({**base, "kind": "cdc", "cdc": p})
                        for p in cdc
                    )
                    continue
            prev_v = v - 1
            if not snapshot_replay and prev_v >= 0 and prev_v not in t.versions():
                # diff-path commit whose predecessor manifest was
                # vacuumed: the file diff is uncomputable (can only be
                # the batch's first version — retention is contiguous)
                raise ValueError(
                    f"version {prev_v} of {self.path} is no longer "
                    f"retained (vacuumed); cannot compute incremental "
                    f"changes for version {v} — restart the stream from "
                    "scratch (fresh checkpoint) to re-bootstrap"
                )
            cur_files = {f["path"]: f for f in t._snapshot_files(v)}
            prev_files = (
                {}
                if snapshot_replay
                else {f["path"]: f for f in t._snapshot_files(prev_v)}
            )

            def _file_part(f: dict, change_type: str) -> InputPartition:
                return _ChangesPartition(
                    {
                        **base,
                        "kind": "file",
                        "file": f["path"],
                        "partition": f.get("partition") or {},
                        "change_type": change_type,
                        "mapping": self._mapping,
                    }
                )

            out.extend(
                _file_part(f, "insert")
                for p, f in sorted(cur_files.items())
                if p not in prev_files
            )
            out.extend(
                _file_part(f, "delete")
                for p, f in sorted(prev_files.items())
                if p not in cur_files
            )
        if not out:
            # Spark requires at least one partition per planned batch
            out.append(
                _ChangesPartition(
                    {
                        "kind": "empty",
                        "version": hi,
                        "table_path": self.path,
                        "fields": self._fields,
                    }
                )
            )
        return out

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the query checkpoint

    # -- reading (executors, pyarrow) ----------------------------------------

    def read(self, partition: _ChangesPartition) -> Iterator[tuple]:
        spec = partition.spec
        kind = spec["kind"]
        if kind == "empty":
            return iter(())
        if kind == "cdc":
            return self._read_cdc(spec)
        return self._read_file(spec)

    @staticmethod
    def _read_cdc(spec: dict) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        path = os.path.join(spec["table_path"], "_cdc", spec["cdc"])
        tbl = pq.read_table(path, coerce_int96_timestamp_unit=_INT96_UNIT)
        cols = set(tbl.column_names)
        names = [n for n, _ in spec["fields"]]
        rows = tbl.to_pylist()
        v = spec["version"]
        return iter(
            tuple(r.get(n) if n in cols else None for n in names)
            + (r["_change_type"], v)
            for r in rows
        )

    @staticmethod
    def _read_file(spec: dict) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        root = spec["table_path"]
        fpath = os.path.join(root, "data", spec["file"])
        tbl = pq.read_table(fpath, coerce_int96_timestamp_unit=_INT96_UNIT)
        cols = set(tbl.column_names)
        mapping = spec.get("mapping") or {}
        part_vals = spec.get("partition") or {}
        type_of = dict(spec["fields"])
        rows = tbl.to_pylist()
        ct, v = spec["change_type"], spec["version"]

        def _val(r: dict, name: str):
            phys = mapping.get(name, name)
            if phys in cols:
                return r.get(phys)
            if name in part_vals:
                return _cast_partition_value(part_vals[name], type_of[name])
            return None  # schema-evolved column absent from this file

        names = [n for n, _ in spec["fields"]]
        return iter(tuple(_val(r, n) for n in names) + (ct, v) for r in rows)


class VTableChangesDataSource(DataSource):
    """``format("vtable_changes")`` — streaming CDC over a
    VersionedParquetTable, planned from commit metadata and read
    file-parallel on executors."""

    @classmethod
    def name(cls) -> str:
        return "vtable_changes"

    def schema(self) -> StructType:
        return _changes_schema(self.options["path"])

    def streamReader(self, schema: StructType):
        return _VTableChangesStreamReader(schema, self.options)


def replicate_stream(
    spark,
    src_path: str,
    dst_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
):
    """Continuously replicate a versioned table via its CDC stream —
    the cross-region-replica / disaster-recovery consumer.

    Each micro-batch applies its change rows to the replica in commit
    order: inserts/update-postimages MERGE in, deletes drop their
    keys. Exactly-once end to end: the stream checkpoint dedups
    deliveries and the replica's MERGE is idempotent per key, so a
    replayed batch converges instead of double-applying. Works with
    either change representation: explicit change files, or the
    file-diff fallback where an update arrives as delete+insert of the
    same key in one version (the MERGE applies both together, updates
    win). The replica is a normal table (readable, time-travelable)
    whose history is the APPLIED sequence — version numbers differ
    from the source, row content converges.
    """
    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    def _apply(batch, _n: int) -> None:
        if batch.isEmpty():
            return
        meta = list(_META_COLS)
        versions = sorted(
            r["_commit_version"]
            for r in batch.select("_commit_version").distinct().collect()
        )
        for v in versions:
            b = batch.filter(F.col("_commit_version") == v)
            ups = b.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).drop(*meta)
            dels = (
                b.filter(F.col("_change_type") == "delete")
                .drop(*meta)
                .select(*key_cols)
                # the file-diff fallback can emit delete+insert for the
                # same key; upsert forbids overlapping deletes/updates,
                # and updates win, so drop the overlap here
                .exceptAll(
                    b.filter(
                        F.col("_change_type").isin(
                            "insert", "update_postimage"
                        )
                    ).select(*key_cols)
                )
                .distinct()
            )
            if not VersionedParquetTable.is_table(dst_path):
                VersionedParquetTable.create(spark, ups, dst_path)
                continue
            t = VersionedParquetTable(spark, dst_path)
            t.upsert(
                ups,
                key_cols,
                deletes=dels if dels.limit(1).count() else None,
                operation="REPLICATE",
            )

    q = (
        spark.readStream.format("vtable_changes")
        .option("path", src_path)
        .option("keycols", ",".join(key_cols))
        .load()
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

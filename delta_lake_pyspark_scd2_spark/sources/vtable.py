"""Versioned Parquet table — the storage layer under the SCD2 pipeline.

The reference relies on Delta Lake for: table-exists checks, partitioned
initial writes, MERGE upserts, ``mergeSchema`` appends, time travel and
history (SURVEY.md §2.1 S3-S10). delta-spark is not available in this
environment, so this module supplies the same *capabilities* natively:

  * data files are plain Parquet under ``<path>/data/<k=v>/...`` —
    written once, never mutated (the same contract object stores give);
  * every commit writes a JSON **manifest** ``_manifest/v{N}.json``
    listing the complete live file set (like a Delta checkpoint),
    the table schema, partition columns and operation metrics;
  * readers pin a manifest version → snapshot isolation + time travel;
  * partition-scoped copy-on-write: an update rewrites only the files
    of touched partitions and commits a manifest that swaps them —
    untouched partitions are carried by reference. A write costs the
    whole of every partition it touches, not the rows it changes: the
    SCD2 merge's close copies about 40 rows per row closed on the
    benchmark's daily merge, where the current rows of a batch's
    changed keys spread over most day partitions;
  * copy-on-write is the only way a row leaves the table (``delete``,
    ``update``, ``upsert``, ``replace_partitions``, ``compact``), so a
    committed file entry never changes under its path. A table whose
    records carry a deletion vector (``dv``, written by earlier
    releases of this module) is refused on read, not served with the
    rows the vector marks deleted.

Concurrency: manifest commit is an atomic ``os.link`` (hard-link fails
EEXIST atomically — unlike ``os.rename``, which silently overwrites),
so a version collision is detected, never silently overwritten. Every
writer stages its data files first and then commits through ONE
primitive, ``_transact``, which resolves a lost version race
optimistically (Delta's logical conflict rules at partition
granularity): it rebases its adds/removes onto the new head and
retries when the winner changed no table metadata (or only widened the
schema under ``merge_schema``), touched none of the partitions this
operation read, and this operation assigned no identity values;
anything else is a hard conflict raised to the caller. A blind append
reads no partition, so it only ever conflicts on metadata. A write can
also be staged (``stage_write``) and committed later (``commit_staged``).
One staged write may carry several frames — each prepared on its own,
all written by one Spark job — which is how the SCD2 merge lands its
close and its inserts as one write and one version.

Log layout (Delta's checkpoint + incremental-log split): each commit
``v{N}.json`` is a DELTA record — ``add`` (new file entries) and
``remove`` (dropped paths) against version N-1 — so commit size is
O(files touched by the operation), never O(table). Every
``CHECKPOINT_INTERVAL`` commits a full-snapshot checkpoint
``v{N}.ckpt.parquet`` is also written (derived, idempotent, outside the
atomic-commit path), so snapshot reconstruction replays at most
``CHECKPOINT_INTERVAL`` deltas from the nearest checkpoint at or
below the requested version. At 100 TB a merge touching one day
commits one day's file entries; the million-file live set lives only
in the periodic checkpoint — written as PARQUET (zstd, one row per
file record), so at millions of files it stays columnar and
compressed instead of one giant JSON parse (the same graduation
Delta's checkpoints made; measured at 200k records: 3.9 MB vs
61.5 MB JSON, and a partition-pruning projection read of
path+partition costs 0.02 s vs 1.2 s for the JSON parse). Legacy
``.ckpt.json`` checkpoints and old-format manifests carrying a full
``files`` list still read.

Object-store portability caveat (local-FS assumption, by design in
this environment): the commit primitive needs a conditional PUT
(S3 If-None-Match / GCS x-goog-if-generation-match / ABFS ETag) where
hard links don't exist.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
import warnings
from collections.abc import Iterable, Sequence
from dataclasses import asdict, dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifest"
DATA_DIR = "data"
#: Change-data files (Delta ``_change_data`` analogue): row-level
#: change records written AT COMMIT TIME by upsert/delete/update
#: when the table property ``enableChangeDataFeed`` is true. The CDC
#: streaming source reads these parquet files directly on executors —
#: no driver-side row materialization, no re-deriving changes by join.
CDC_DIR = "_cdc"
#: ``_change_type`` column values, Delta CDF's vocabulary.
CDC_TYPES = ("insert", "delete", "update_preimage", "update_postimage")
#: Full-snapshot checkpoint cadence: reconstruction replays at most
#: this many delta commits. Delta Lake's default is 10 as well.
CHECKPOINT_INTERVAL = 10
#: Table metadata every commit carries forward. A concurrent change to
#: any of it is a hard conflict for every other writer (``_transact``).
META_KEYS = (
    "schema", "partition_cols", "constraints", "column_mapping",
    "retired_physical", "generated_cols", "properties",
)


class _VersionTaken(RuntimeError):
    """``_commit`` lost the race for its version number."""


@dataclass(frozen=True)
class ManifestEntry:
    """One live data file: path relative to ``data/``, its partition
    values (empty dict for unpartitioned tables), and file-level
    statistics — row count plus per-column min/max/null-count read from
    the parquet footer at commit time (the Delta ``add``-action ``stats``
    analogue). ``stats`` maps column name → ``{"min", "max", "nulls"}``;
    columns without usable footer stats are simply absent."""

    path: str
    partition: dict[str, str]
    stats: dict | None = None
    rows: int | None = None


@dataclass
class StagedWrite:
    """A write staged against snapshot ``base`` but not committed yet:
    its data files are on disk, unreferenced, and these
    fields are what its commit must record. Each writer stages one and
    lands it as one version with
    :meth:`VersionedParquetTable.commit_staged`. ``schema`` None keeps
    the base's, ``reads`` is :meth:`VersionedParquetTable._transact`'s,
    and ``metrics`` the writer's default commit metrics."""

    base: dict
    adds: list[ManifestEntry] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)
    reads: "list[dict[str, str]] | None" = field(default_factory=list)
    schema: T.StructType | None = None
    assigned_identity: bool = False
    cdc_files: list[str] | None = None
    metrics: dict = field(default_factory=dict)

    def require_within(self, partitions: "list[dict[str, str]]") -> None:
        """Raise before the commit when a staged file lies outside
        ``partitions`` — the scope a partition rewrite read."""
        allowed = {_pkey(p) for p in partitions}
        stray = [e.path for e in self.adds if _pkey(e.partition) not in allowed]
        if stray:
            raise ValueError(
                f"staged data lands outside the declared partitions: {stray[:3]}"
            )


def _stat_key(v):
    """Normalize a value into the JSON-storable, *order-preserving*
    domain used for both footer stats and pruning predicates.
    Timestamps/dates become fixed-width ISO strings (lexicographic ==
    chronological), numbers/strings/bools pass through. Returns None
    for types min/max pruning can't safely order (binary, decimal,
    nested) — the caller then skips stats for that column."""
    import datetime

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return None


def _file_stats(path: str) -> tuple[dict, int]:
    """Per-column min/max/null-count for one parquet file, merged across
    row groups — read from the FOOTER only (metadata I/O, no data scan,
    no Spark job). Nested columns and types ``_stat_key`` can't order
    are skipped. Returns ``(stats, num_rows)``."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    acc: dict[str, dict] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            rec = acc.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "mm": True, "nn": True}
            )
            st = col.statistics
            if st is None:
                rec["mm"] = rec["nn"] = False
                continue
            if st.null_count is None:
                rec["nn"] = False
            else:
                rec["nulls"] += st.null_count
            if not st.has_min_max:
                # legal for an all-null row group; min/max unusable
                # only if some row group has values we can't see
                if st.null_count != rg.num_rows:
                    rec["mm"] = False
                continue
            try:
                mn, mx = _stat_key(st.min), _stat_key(st.max)
            except Exception:  # pyarrow can't extract for some types
                mn = mx = None
            if mn is None or mx is None:
                rec["mm"] = False
                continue
            rec["min"] = mn if rec["min"] is None else min(rec["min"], mn)
            rec["max"] = mx if rec["max"] is None else max(rec["max"], mx)
    out = {}
    for name, rec in acc.items():
        if not rec["mm"]:
            rec["min"] = rec["max"] = None
        nulls = rec["nulls"] if rec["nn"] else None
        if rec["mm"] or rec["nn"]:
            out[name] = {"min": rec["min"], "max": rec["max"], "nulls": nulls}
    return out, md.num_rows


def _older_than(path: str, cutoff: float) -> bool:
    """``path``'s mtime is before ``cutoff``; False once a concurrent
    writer has removed it."""
    try:
        return os.path.getmtime(path) < cutoff
    except FileNotFoundError:
        return False


def _drop_crc_sidecar(full_path: str) -> None:
    """Remove the local Hadoop FS's ``.<name>.crc`` checksum sidecar
    for ``full_path`` if present — in-place content replacement
    (purge) would otherwise leave it stale and fail every later read
    with ChecksumException."""
    crc = os.path.join(
        os.path.dirname(full_path), "." + os.path.basename(full_path) + ".crc"
    )
    try:
        os.remove(crc)
    except FileNotFoundError:
        pass


def _entry(f: dict) -> ManifestEntry:
    """Rehydrate a manifest file record, carrying stats forward so
    unrewritten files never lose their skipping metadata."""
    return ManifestEntry(f["path"], f["partition"], f.get("stats"), f.get("rows"))


def _pkey(partition: dict[str, str]) -> tuple:
    """Hashable partition identity (``()`` for unpartitioned tables)."""
    return tuple(sorted(partition.items()))


def _schema(m: dict) -> T.StructType:
    return T.StructType.fromJson(json.loads(m["schema"]))


def _txn_applied(m: dict, txn: tuple[str, int] | None) -> bool:
    """True when ``m`` already records writer transaction ``txn`` (or a
    later one of the same app) — the exactly-once replay check."""
    if txn is None:
        return False
    applied = (m.get("txns") or {}).get(txn[0])
    return applied is not None and applied >= txn[1]


def _meta(m: dict) -> dict:
    """The commit's table metadata, empty values normalized to None."""
    return {k: m.get(k) or None for k in META_KEYS}


def _widened_only(old: dict, new: dict) -> bool:
    """True when ``new``'s metadata equals ``old``'s except for schema
    fields added to it (a concurrent ``merge_schema`` write)."""
    if {**_meta(old), "schema": None} != {**_meta(new), "schema": None}:
        return False
    kept = {f.name: f for f in _schema(new).fields}
    return all(kept.get(f.name) == f for f in _schema(old).fields)


def _conflict(
    old: dict, new: dict, scope: "set[tuple] | None", merge_schema: bool,
    assigned_identity: bool,
) -> str | None:
    """Why a commit planned on snapshot ``old`` cannot rebase onto the
    newer head ``new`` (None when it can). ``scope`` is the set of
    partitions the commit read, None for the whole table."""
    if assigned_identity:
        return "lost a commit race while assigning identity values"
    if _meta(new) != _meta(old) and not (
        merge_schema and _widened_only(old, new)
    ):
        return "conflicts with a concurrent schema/constraint/metadata change"
    if scope is not None and not scope:
        return None  # blind: reads no partition
    before = {f["path"] for f in old["files"]}
    after = {f["path"] for f in new["files"]}
    hit = {
        _pkey(f["partition"])
        for f in old["files"] + new["files"]
        if (f["path"] in before) != (f["path"] in after)
    }
    if scope is not None:
        hit &= scope
    if hit:
        return (
            "conflicts with a concurrent commit touching the same "
            f"partition(s) {[dict(k) for k in sorted(hit)][:3]}"
        )
    return None


class VersionedParquetTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # Snapshot-reconstruction cache: version → materialized file
        # records. Commits are immutable once written, so a cached
        # snapshot can never go stale; bounded (LRU-evicted) so long
        # histories don't accumulate full file lists on the driver.
        self._snap_cache: dict[int, list[dict]] = {}
        self._snap_cache_max = 4

    # -- existence / versions ------------------------------------------------

    @classmethod
    def is_table(cls, path: str) -> bool:
        """Reference: ``DeltaTable.isDeltaTable`` (src/header_etl.py:157)."""
        d = os.path.join(path, MANIFEST_DIR)
        return os.path.isdir(d) and any(f.endswith(".json") for f in os.listdir(d))

    def versions(self) -> list[int]:
        d = os.path.join(self.path, MANIFEST_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v")
            and f.endswith(".json")
            and not f.endswith(".ckpt.json")
            and f[1:-5].isdigit()
        )

    def _checkpoint_versions(self) -> list[int]:
        d = os.path.join(self.path, MANIFEST_DIR)
        if not os.path.isdir(d):
            return []
        out = set()
        for f in os.listdir(d):
            if not f.startswith("v"):
                continue
            for suffix in (".ckpt.parquet", ".ckpt.json"):
                if f.endswith(suffix) and f[1 : -len(suffix)].isdigit():
                    out.add(int(f[1 : -len(suffix)]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no manifest under {self.path}")
        return vs[-1]

    def history(self) -> list[dict]:
        """Commit log, newest first (reference S6: ``DeltaTable.history``).
        Reads only the delta commit records — ``num_files`` is stamped
        at commit time, so no snapshot reconstruction happens here."""
        out = []
        for v in reversed(self.versions()):
            m = self._load_commit(v)
            out.append(
                {
                    "version": v,
                    "timestamp": m["timestamp"],
                    "operation": m["operation"],
                    "num_files": m["num_files"]
                    if "num_files" in m
                    else len(m["files"]),
                    "metrics": m.get("metrics", {}),
                    "operation_metrics": m.get("operation_metrics", {}),
                }
            )
        return out

    # -- manifest I/O --------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, MANIFEST_DIR, f"v{version:010d}.json")

    def _ckpt_path(self, version: int) -> str:
        """Canonical (current-format) checkpoint path: PARQUET — at
        millions of files a JSON checkpoint is a single giant parse;
        parquet keeps it columnar, compressed, and row-group-scannable
        (the same graduation Delta's checkpoints made)."""
        return os.path.join(
            self.path, MANIFEST_DIR, f"v{version:010d}.ckpt.parquet"
        )

    def _ckpt_file(self, version: int) -> str | None:
        """Existing checkpoint file for ``version`` in any format
        (parquet preferred, legacy JSON accepted), or None."""
        p = self._ckpt_path(version)
        if os.path.exists(p):
            return p
        legacy = os.path.join(
            self.path, MANIFEST_DIR, f"v{version:010d}.ckpt.json"
        )
        return legacy if os.path.exists(legacy) else None

    @staticmethod
    def _read_ckpt_file(path: str) -> list[dict]:
        if path.endswith(".parquet"):
            import pyarrow.parquet as pq

            rows = pq.read_table(path).to_pylist()
            return [
                {
                    "path": r["path"],
                    "partition": json.loads(r["partition"]),
                    "stats": json.loads(r["stats"]) if r["stats"] else None,
                    "rows": r["rows"],
                    # kept only so that _snapshot_files can refuse it
                    **({"dv": r["dv"]} if r.get("dv") else {}),
                }
                for r in rows
            ]
        with open(path) as fh:
            return json.load(fh)["files"]

    def _load_commit(self, version: int) -> dict:
        """Raw commit record: metadata + either delta actions
        (``add``/``remove``) or, old-format, a full ``files`` list."""
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _snapshot_files(self, version: int) -> list[dict]:
        """Materialize the live file set at ``version``: start from the
        nearest checkpoint (or full-format commit) at or below it, then
        replay the delta commits up to it — at most
        ``CHECKPOINT_INTERVAL`` of them. Cached per instance (commits
        are immutable)."""
        if version in self._snap_cache:
            return self._snap_cache[version]
        # walk back collecting deltas until a self-contained base
        chain: list[dict] = []
        base: list[dict] = []
        ckpts = {v for v in self._checkpoint_versions() if v <= version}
        v = version
        while True:
            if v in self._snap_cache:
                base = self._snap_cache[v]
                break
            if v in ckpts:
                base = self._read_ckpt_file(self._ckpt_file(v))
                break
            m = self._load_commit(v)
            if "files" in m:  # old-format full snapshot
                base = m["files"]
                break
            chain.append(m)
            if v == 0:  # v0 is a delta against the empty table
                break
            v -= 1
        files = list(base)
        for m in reversed(chain):
            gone = set(m.get("remove", []))
            files = [f for f in files if f["path"] not in gone]
            files.extend(m.get("add", []))
        dv = next((f["path"] for f in files if f.get("dv")), None)
        if dv is not None:
            raise ValueError(
                f"table {self.path} v{version}: file {dv} carries a deletion "
                "vector, which this engine no longer applies; reading it "
                "would return the rows the vector marks deleted. Rewrite "
                "the table's files (compact) with a release that still "
                "applies deletion vectors."
            )
        if len(self._snap_cache) >= self._snap_cache_max:
            self._snap_cache.pop(next(iter(self._snap_cache)))
        self._snap_cache[version] = files
        return files

    def _load_manifest(self, version: int) -> dict:
        """Commit metadata with the file set MATERIALIZED under
        ``files`` — the shape every reader of this class consumes;
        the on-disk delta/checkpoint split stays internal."""
        return {**self._load_commit(version), "files": self._snapshot_files(version)}

    def _write_checkpoint(self, version: int, files: list[dict]) -> None:
        """Full-snapshot checkpoint — derived data, written OUTSIDE the
        atomic commit path (a lost checkpoint only means a longer
        replay). ``os.replace`` is fine here: content for a given
        version is deterministic, so concurrent writers racing on the
        same checkpoint write identical bytes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = self._ckpt_path(version) + f".tmp-{uuid.uuid4().hex}"
        table = pa.table(
            {
                "path": [f["path"] for f in files],
                "partition": [json.dumps(f["partition"]) for f in files],
                "stats": [
                    json.dumps(f["stats"]) if f.get("stats") is not None else None
                    for f in files
                ],
                "rows": pa.array(
                    [f.get("rows") for f in files], type=pa.int64()
                ),
            }
        )
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, self._ckpt_path(version))

    def _commit(
        self,
        version: int,
        files: list[ManifestEntry],
        schema: T.StructType,
        partition_cols: list[str],
        operation: str,
        metrics: dict | None = None,
        constraints: dict[str, str] | None = None,
        txns: dict[str, int] | None = None,
        column_mapping: dict[str, str] | None = None,
        retired_physical: list[str] | None = None,
        generated_cols: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
        identity_cols: dict[str, dict] | None = None,
        cdc_files: list[str] | None = None,
        data_change: bool = True,
        started: float | None = None,
    ) -> None:
        """Write manifest ``version`` with exactly the given file set and
        metadata — the atomic step under :meth:`_transact`, its only
        caller. Raises :class:`_VersionTaken` when another writer
        already holds ``version``."""
        os.makedirs(os.path.join(self.path, MANIFEST_DIR), exist_ok=True)
        # Delta record: diff the desired file set against the parent
        # snapshot — commit size ∝ files this operation touched. A file
        # entry never changes under its path, so the diff is of paths.
        prev = {f["path"]: f for f in self._snapshot_files(version - 1)} if version > 0 else {}
        new_records = [
            {"path": e.path, "partition": e.partition, "stats": e.stats,
             "rows": e.rows}
            for e in files
        ]
        new_paths = {r["path"] for r in new_records}
        add = [r for r in new_records if r["path"] not in prev]
        remove = sorted(p for p in prev if p not in new_paths)
        manifest = {
            "version": version,
            "timestamp": time.time(),
            "operation": operation,
            "schema": schema.json(),
            "partition_cols": partition_cols,
            "constraints": constraints or {},
            "add": add,
            "remove": remove,
            "num_files": len(new_records),
            # Row-level change records for this commit (paths under
            # _cdc/) and Delta's dataChange flag: data_change=False
            # marks pure re-layout commits (COMPACT/ZORDER) the change
            # feed must skip.
            "cdc_files": cdc_files or [],
            "data_change": data_change,
            "metrics": metrics or {},
            "operation_metrics": self._operation_metrics(
                prev, add, remove, started
            ),
            "txns": txns or {},
            "column_mapping": column_mapping or {},
            "retired_physical": retired_physical or [],
            "generated_cols": generated_cols or {},
            "properties": properties or {},
            "identity_cols": identity_cols or {},
        }
        tmp = self._manifest_path(version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        target = self._manifest_path(version)
        # Atomic optimistic-concurrency commit: os.link fails with
        # EEXIST atomically, so two writers racing to the same version
        # can never clobber each other's manifest (a bare exists-check +
        # os.rename would — POSIX rename overwrites its target). On an
        # object store this single primitive is what needs replacing
        # with a conditional PUT (If-None-Match) — see module docstring.
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise _VersionTaken(
                f"version {version} already committed (concurrent writer?)"
            ) from None
        finally:
            os.remove(tmp)
        if len(self._snap_cache) >= self._snap_cache_max:
            self._snap_cache.pop(next(iter(self._snap_cache)))
        self._snap_cache[version] = new_records
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(version, new_records)

    def _operation_metrics(
        self, prev: dict, add: list[dict], remove: list[str],
        started: float | None,
    ) -> dict:
        """What a commit did, stamped on its record apart from the
        caller's ``metrics``: files and rows added and removed, bytes
        of the data files it adds, and its wall time in ms."""
        return {
            "files_added": len(add),
            "files_removed": len(remove),
            "rows_added": sum(a.get("rows") or 0 for a in add),
            "rows_removed": sum(prev[p].get("rows") or 0 for p in remove),
            "bytes_added": sum(
                os.path.getsize(os.path.join(self.path, DATA_DIR, a["path"]))
                for a in add
            ),
            "commit_ms": round(1000 * (time.time() - (started or time.time())), 1),
        }

    # -- change-data files (CDF) ---------------------------------------------

    @staticmethod
    def _cdc_enabled(m: dict) -> bool:
        """Delta's ``delta.enableChangeDataFeed`` analogue: row-level
        change files are written only when the table opted in."""
        return (
            (m.get("properties") or {})
            .get("enableChangeDataFeed", "")
            .lower()
            == "true"
        )

    def _write_cdc(self, change_df: DataFrame) -> list[str]:
        """Stage this commit's row-level change records (data columns
        under their LOGICAL names plus ``_change_type``) as parquet
        under ``_cdc/``; returns the relative paths for the commit
        record. Files are uuid-named, never version-named, so an OCC
        rebase (final version unknown until the manifest link wins)
        keeps them valid; files from lost races stay unreferenced and
        are vacuum's garbage. ``_commit_version`` is NOT stored — the
        stream reader stamps it from the commit that references the
        file."""
        rel = f"cdc-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.path, CDC_DIR, rel)
        change_df.write.parquet(out_dir)
        return [
            os.path.join(rel, f)
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ]

    # -- data-file staging ---------------------------------------------------

    def _write_files(
        self,
        df: DataFrame,
        partition_cols: list[str],
        constraints: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        mapping: dict[str, str] | None = None,
        layout_ready: bool = False,
    ) -> list[ManifestEntry]:
        """Write df once via Spark (partitioned layout), then move the
        produced parquet files into ``data/`` under their partition
        dirs. Filenames carry Spark's task UUIDs → never collide with
        live files; a failed write leaves only unreferenced garbage
        (never a corrupt table) exactly like Delta.

        ``constraints`` (name → SQL boolean expr) are CHECK-enforced on
        the written rows via an Observation riding the write job itself
        (no second scan); any violation deletes the staged files and
        raises before a manifest commit, so the table is untouched.
        SQL-standard semantics: NULL evaluations satisfy the check.

        Under a column mapping (post-rename), data files are written
        with PHYSICAL column names — the name each column was born
        with — so every live file agrees on parquet schema regardless
        of how many renames happened; constraints (logical names)
        observe BEFORE the physical rename."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        if generated is None:
            generated = (
                self.generated_columns() if self.is_table(self.path) else {}
            )
        if mapping is None:
            mapping = (
                self.column_mapping() if self.is_table(self.path) else {}
            )
        checks = dict(constraints or {})
        for c, e in generated.items():
            # writer-supplied generated columns must equal their
            # expression — validated on the same write job (null-safe,
            # so a derivable-to-NULL expression matches a NULL value)
            if c in df.columns:
                checks[f"__generated_{c}"] = f"{c} <=> ({e})"
        constraints = checks or None
        obs = None
        if constraints:
            obs = Observation(f"check-{uuid.uuid4().hex[:8]}")
            df = df.observe(
                obs,
                *[
                    F.sum(
                        (~F.coalesce(F.expr(e), F.lit(True))).cast("long")
                    ).alias(n)
                    for n, e in constraints.items()
                ],
            )
        if any(log != phys for log, phys in mapping.items()):
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        if partition_cols and not layout_ready:
            # One shuffle keyed on the partition columns ahead of the
            # partitioned write. Without it every upstream task emits a
            # file into every partition it touches — tasks × partitions
            # small files per commit (measured: a 50k-row SCD2 append
            # across 15 day-partitions wrote ~470 files from 32 shuffle
            # tasks). AQE rebalance lands ~one right-sized file per
            # partition and still splits partitions past the advisory
            # size, so hot days keep write parallelism. Callers that
            # pre-arrange the physical layout (ZORDER's range-sorted
            # files) pass layout_ready=True to skip it.
            df = df.hint("rebalance", *partition_cols)
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)
        if obs is not None:
            got = obs.get
            bad = {n: int(got[n] or 0) for n in constraints if got[n]}
            if bad:
                shutil.rmtree(staging)
                raise ValueError(
                    f"CHECK constraint violation(s), write aborted: "
                    + ", ".join(
                        f"{n} ({constraints[n]!r}): {c} row(s)"
                        for n, c in bad.items()
                    )
                )
        entries: list[ManifestEntry] = []
        data_root = os.path.join(self.path, DATA_DIR)
        for root, _dirs, fnames in os.walk(staging):
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(root, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                partition: dict[str, str] = {}
                for comp in rel_dir.split(os.sep):
                    if "=" in comp:
                        k, v = comp.split("=", 1)
                        partition[k] = v
                dest_dir = os.path.join(data_root, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, fname)
                os.rename(os.path.join(root, fname), dest)
                stats, rows = _file_stats(dest)
                entries.append(
                    ManifestEntry(
                        os.path.join(rel_dir, fname), partition, stats, rows
                    )
                )
        shutil.rmtree(staging)
        return entries

    def _stage(
        self,
        m: dict,
        *frames: DataFrame,
        schema: T.StructType | None = None,
        layout_ready: bool = False,
    ) -> tuple[list[ManifestEntry], T.StructType, bool]:
        """Every writer's staging sequence against base snapshot ``m``:
        each frame gets its absent generated columns derived and its
        absent identity values assigned, and is aligned to ``schema``
        (None keeps the frame's own columns, for writers that replace
        the schema); the union of the frames is then written and
        CHECK-validated by one Spark job. Returns the uncommitted
        entries, the schema they were written under, and whether
        identity values were assigned."""
        ident = m.get("identity_cols") or {}
        gen = m.get("generated_cols") or {}
        lacking = [df for df in frames if any(c not in df.columns for c in ident)]
        if len(lacking) > 1:
            # every frame would number its rows from the same watermark
            raise ValueError("identity values go to at most one frame per write")
        prepared = []
        for df in frames:
            df = self._apply_identity(self._apply_generated(df, gen), ident)
            prepared.append(df if schema is None else _align(df, schema))
        df = reduce(DataFrame.unionByName, prepared)
        files = self._write_files(
            df,
            list(m.get("partition_cols") or []),
            m.get("constraints"),
            generated=gen,
            mapping=m.get("column_mapping") or {},
            layout_ready=layout_ready,
        )
        return files, df.schema, bool(lacking)

    @staticmethod
    def _widen(m: dict, schema: T.StructType) -> T.StructType:
        """``merge_schema`` union: ``m``'s schema plus ``schema``'s new
        fields as nullable columns (old files read them as NULL)."""
        out = _schema(m)
        have = set(out.fieldNames())
        # blocked names: dropped-column tombstones AND the live
        # physical slots of renamed columns — a new logical column
        # with either name would collide with on-disk data
        blocked = set(m.get("retired_physical") or []) | set(
            (m.get("column_mapping") or {}).values()
        )
        for f in schema.fields:
            if f.name not in have:
                if f.name in blocked:
                    raise ValueError(
                        f"cannot add column {f.name}: live files hold "
                        "data under that physical name (dropped or "
                        "renamed-away column) — rewrite the table first"
                    )
                out = out.add(f.name, f.dataType, True)
        return out

    def stage_write(
        self,
        *frames: DataFrame,
        partitions: "list[dict[str, str]] | None" = None,
        base: dict | None = None,
        merge_schema: bool = False,
        layout_ready: bool = False,
    ) -> StagedWrite:
        """Stage ``frames`` as ONE write against snapshot ``base`` (the
        latest by default) without committing it. Each frame is prepared
        on its own (generated columns, identity values only where the
        frame lacks the column, alignment to the table schema — widened
        by every frame's columns under ``merge_schema``), and their
        union is written by one Spark job. ``partitions`` names the
        partitions whose base files the write replaces, and that it
        therefore read; rows landing elsewhere are appended. Without
        it the write is a blind append."""
        m = base or self._current()
        schema = _schema(m)
        if merge_schema:
            for df in frames:
                schema = self._widen({**m, "schema": schema.json()}, df.schema)
        files, _, assigned = self._stage(
            m, *frames, schema=schema, layout_ready=layout_ready
        )
        replaced = {_pkey(p) for p in partitions or ()}
        return StagedWrite(
            m,
            files,
            [f["path"] for f in m["files"] if _pkey(f["partition"]) in replaced],
            reads=list(partitions or ()),
            schema=schema,
            assigned_identity=assigned,
        )

    # -- the commit primitive ------------------------------------------------

    def _transact(
        self,
        base: dict,
        operation: str,
        *,
        adds: "Sequence[ManifestEntry]" = (),
        removes: "Iterable[str]" = (),
        reads: "Iterable[dict[str, str]] | None" = (),
        meta: dict | None = None,
        merge_schema: bool = False,
        assigned_identity: bool = False,
        txn: tuple[str, int] | None = None,
        metrics: dict | None = None,
        cdc_files: list[str] | None = None,
        data_change: bool = True,
    ) -> int:
        """Commit one operation: the only path to a new table version.

        ``base`` is the snapshot the operation read; ``removes`` are the
        paths it drops and ``adds`` the new file entries. ``reads`` names
        the partitions its result depends on: ``()`` for a blind
        append, ``None`` for a whole-table read. ``meta`` overrides
        table metadata (``META_KEYS``) on top of the base's.

        A lost version race rebases — the removes and adds re-applied
        to the new head, the watermarks re-derived — only when the
        winner changed no metadata (or only widened the schema under
        ``merge_schema``), touched none of ``reads``, and this
        operation assigned no identity values (they were allocated
        against the lost head's watermark). Anything else raises. When
        the winner already applied ``txn`` the batch has landed once:
        the head version is returned."""
        started = time.time()
        over = dict(meta or {})
        gone = set(removes)
        scope = None if reads is None else {_pkey(p) for p in reads}
        head = base
        for _attempt in range(10):
            md = {**_meta(head), "identity_cols": head.get("identity_cols"), **over}
            # outside the try: a missing-footer-stats RuntimeError must
            # surface as itself, not read as a lost race
            ident = self._identity_bump(md, adds)
            # every commit carries the full app→version map of writer
            # transactions (Delta ``txn`` actions), so a reader needs
            # one commit record, not a log scan
            txns = dict(head.get("txns") or {})
            if txn is not None:
                txns[txn[0]] = txn[1]
            v = head["version"] + 1
            try:
                self._commit(
                    v,
                    [_entry(f) for f in head["files"] if f["path"] not in gone]
                    + list(adds),
                    _schema(md),
                    list(md["partition_cols"] or []),
                    operation,
                    metrics,
                    md["constraints"],
                    txns,
                    column_mapping=md["column_mapping"],
                    retired_physical=md["retired_physical"],
                    generated_cols=md["generated_cols"],
                    properties=md["properties"],
                    identity_cols=ident,
                    cdc_files=cdc_files,
                    data_change=data_change,
                    started=started,
                )
                return v
            except _VersionTaken:
                new = self._current()
            if _txn_applied(new, txn):
                # the winner WAS this logical transaction (a replica's
                # replay): our staged files stay unreferenced for
                # vacuum to sweep
                return new["version"]
            why = _conflict(head, new, scope, merge_schema, assigned_identity)
            if why:
                raise RuntimeError(
                    f"{operation} on {self.path} {why} — re-read and retry"
                ) from None
            if merge_schema:
                # keep the winner's new columns: head ∪ ours
                over["schema"] = self._widen(new, _schema(md)).json()
            head = new
        raise RuntimeError(
            f"{operation} on {self.path} lost 10 optimistic commit races"
        )

    def commit_staged(
        self,
        operation: str,
        staged: StagedWrite,
        *,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
        metrics: dict | None = None,
        data_change: bool = True,
    ) -> int:
        """Commit one staged write as one version through
        :meth:`_transact`. The files it adds outside the partitions it
        rewrites then go through auto-compaction."""
        v = self._transact(
            staged.base,
            operation,
            adds=staged.adds,
            removes=staged.removes,
            reads=staged.reads,
            meta=None if staged.schema is None else {"schema": staged.schema.json()},
            merge_schema=merge_schema,
            assigned_identity=staged.assigned_identity,
            txn=txn,
            metrics=metrics or staged.metrics,
            cdc_files=staged.cdc_files,
            data_change=data_change,
        )
        live = {f["path"]: f["partition"] for f in staged.base["files"]}
        rewritten = {_pkey(live[p]) for p in staged.removes}
        appended = [
            e for e in staged.adds
            if e.path not in live and _pkey(e.partition) not in rewritten
        ]
        if appended:
            self._maybe_auto_compact(appended)
        return v

    # -- public write API ----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        *,
        partition_cols: list[str] | None = None,
        metrics: dict | None = None,
        txn: tuple[str, int] | None = None,
        generated_cols: dict[str, str] | None = None,
        identity_cols: dict[str, dict] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "VersionedParquetTable":
        """Initial partitioned write (reference S7,
        ``src/header_etl.py:159-162``). ``txn`` records a writer
        transaction in the first commit, so a sink whose very first
        micro-batch creates the table is still replay-idempotent.

        ``generated_cols`` (col → SQL expr) declares ``GENERATED
        ALWAYS AS`` columns: derived automatically when a writer omits
        them, validated on the write job when supplied — the Delta
        pattern that keeps partition-derivation columns (year/month/day
        of an event time) consistent table-wide by construction."""
        t = cls(spark, path)
        if cls.is_table(path):
            raise FileExistsError(path)
        base = {
            "version": -1,
            "files": [],
            "partition_cols": partition_cols or [],
            "generated_cols": generated_cols or {},
            "identity_cols": {
                c: {
                    "start": int(s.get("start", 1)),
                    "step": int(s.get("step", 1)),
                    "next": int(s.get("start", 1)),
                }
                for c, s in (identity_cols or {}).items()
            },
            "properties": {k: str(v) for k, v in (properties or {}).items()},
        }
        files, schema, _ = t._stage(base, df)
        t._transact(
            base, "CREATE", adds=files, meta={"schema": schema.json()},
            txn=txn, metrics=metrics,
        )
        return t

    def register_view(
        self, name: str, version: int | None = None
    ) -> DataFrame:
        """``createOrReplaceTempView`` over a snapshot — the
        ``spark.sql`` surface (reference §2.9) for versioned tables;
        pass ``version`` for a time-travel view."""
        df = self.read(version)
        df.createOrReplaceTempView(name)
        return df

    def _current(self) -> dict:
        return self._load_manifest(self.latest_version())

    def txn_versions(self) -> dict[str, int]:
        """Writer-transaction watermarks at the head: app_id → the
        highest transaction version that app has committed (Delta's
        ``txn`` action / ``txnAppId``+``txnVersion`` analogue)."""
        return dict(self._load_commit(self.latest_version()).get("txns", {}))

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for ``app_id``, or
        None if that app never wrote. The exactly-once handshake for
        streaming ``foreachBatch`` sinks: the writer asks this before
        replaying a micro-batch after a crash."""
        return self.txn_versions().get(app_id)

    def properties(self, version: int | None = None) -> dict[str, str]:
        """Table properties (``TBLPROPERTIES`` analogue), carried per
        commit. Recognized keys: ``autoCompact`` (``"true"`` → every
        commit that adds files outside the partitions it rewrites — an
        append, the SCD2 merge's inserts on days it closes nothing in —
        checks those partitions and compacts any that
        crossed ``autoCompact.minFiles``, default 16 — Delta's
        auto-compaction trade: small steady write tax for never letting
        streaming appends accumulate a small-file problem)."""
        v = self.latest_version() if version is None else version
        return dict(self._load_commit(v).get("properties", {}))

    def set_property(self, key: str, value: str) -> int:
        m = self._current()
        props = {**(m.get("properties") or {}), key: str(value)}
        return self._transact(
            m, "SET_PROPERTY", meta={"properties": props},
            metrics={"key": key, "value": str(value)},
        )

    def unset_property(self, key: str) -> int:
        m = self._current()
        props = dict(m.get("properties") or {})
        if key not in props:
            raise KeyError(key)
        props.pop(key)
        return self._transact(
            m, "UNSET_PROPERTY", meta={"properties": props},
            metrics={"key": key},
        )

    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """col → SQL expression for ``GENERATED ALWAYS AS`` columns
        (Delta generated-columns analogue)."""
        v = self.latest_version() if version is None else version
        return dict(self._load_commit(v).get("generated_cols", {}))

    def identity_columns(self, version: int | None = None) -> dict[str, dict]:
        """col → ``{"start", "step", "next"}`` identity state (Delta
        ``GENERATED BY DEFAULT AS IDENTITY``): ids are unique and move
        in ``step``'s direction, NOT consecutive — exactly Delta's
        contract. ``next`` is the per-commit high watermark."""
        v = self.latest_version() if version is None else version
        return {
            k: dict(s)
            for k, s in self._load_commit(v).get("identity_cols", {}).items()
        }

    def _apply_identity(
        self, df: DataFrame, ident: dict[str, dict] | None
    ) -> DataFrame:
        """Assign identity values to rows of ``df`` lacking the column
        (BY DEFAULT semantics: caller-supplied values pass through).
        ``next + step * monotonically_increasing_id()`` is unique
        within the write with no global window (the single-partition
        hazard Delta also avoids by allocating per-partition ranges);
        gaps are allowed by contract."""
        for c, spec in (ident or {}).items():
            if c not in df.columns:
                df = df.withColumn(
                    c,
                    (
                        F.lit(int(spec["next"]))
                        + F.lit(int(spec["step"]))
                        * F.monotonically_increasing_id()
                    ).cast("long"),
                )
        return df

    def _identity_bump(
        self, m: dict, new_files: list[ManifestEntry]
    ) -> dict[str, dict] | None:
        """Advance each identity column's ``next`` watermark past the
        values just written — read from the new files' FOOTER stats,
        zero extra data I/O."""
        ident = {k: dict(s) for k, s in (m.get("identity_cols") or {}).items()}
        if not ident:
            return None
        for c, spec in ident.items():
            step = int(spec["step"])
            vals = []
            for e in new_files:
                st = (e.stats or {}).get(c)
                if st is None or st.get("max") is None:
                    if e.rows:
                        raise RuntimeError(
                            f"identity column {c}: footer stats missing in "
                            f"{e.path}; cannot advance the watermark safely"
                        )
                    continue
                vals.append(st["max"] if step > 0 else st["min"])
            if vals:
                edge = max(vals) if step > 0 else min(vals)
                cand = int(edge) + step
                spec["next"] = (
                    max(int(spec["next"]), cand)
                    if step > 0
                    else min(int(spec["next"]), cand)
                )
        return ident

    @staticmethod
    def _apply_generated(df: DataFrame, gen: dict[str, str] | None) -> DataFrame:
        """Derive any generated column ABSENT from ``df`` (writers may
        omit them, like Delta); columns the writer did supply are
        validated against their expression at write time instead
        (see ``_write_files``)."""
        for c, e in (gen or {}).items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(e))
        return df

    def column_mapping(self, version: int | None = None) -> dict[str, str]:
        """Logical → physical column-name mapping at ``version`` (Delta
        column-mapping analogue). Physical = the name a column was born
        with; identity for never-renamed columns (absent from the map)."""
        v = self.latest_version() if version is None else version
        return dict(self._load_commit(v).get("column_mapping", {}))

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` without rewriting a single
        data file (Delta column mapping): a metadata-only commit that
        renames the schema field and records logical→physical
        indirection — existing files keep their on-disk (physical)
        name, readers alias it back, and future writes keep emitting
        the physical name so all live files agree on parquet schema.

        Restrictions (hard conflicts, raised): partition columns (their
        name is baked into directory layout and manifest partition
        keys) and columns referenced by a CHECK constraint (the stored
        SQL text would silently stop binding)."""
        m = self._current()
        pc = list(m["partition_cols"])
        schema = _schema(m)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        if old in pc:
            raise ValueError(
                f"cannot rename partition column {old}: partition values "
                "are keyed by name in the directory layout and manifest"
            )
        cons = m.get("constraints") or {}
        referenced = [
            n for n, e in cons.items()
            if re.search(rf"\b{re.escape(old)}\b", e, re.IGNORECASE)
        ]
        if referenced:
            raise ValueError(
                f"cannot rename {old}: referenced by CHECK constraint(s) "
                f"{referenced} — drop them first"
            )
        gen = m.get("generated_cols") or {}
        gen_hits = [
            c for c, e in gen.items()
            if c == old or re.search(rf"\b{re.escape(old)}\b", e, re.IGNORECASE)
        ]
        if gen_hits:
            raise ValueError(
                f"cannot rename {old}: involved in generated column(s) "
                f"{gen_hits}"
            )
        if old in (m.get("identity_cols") or {}):
            raise ValueError(f"cannot rename identity column {old}")
        mapping = dict(m.get("column_mapping") or {})
        mapping[new] = mapping.pop(old, old)
        new_schema = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        return self._transact(
            m, "RENAME_COLUMN",
            meta={"schema": new_schema.json(), "column_mapping": mapping},
            metrics={"renamed": f"{old} -> {new}"},
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` without rewriting data files
        (Delta column-mapping drop): a metadata-only commit removing
        the field from the schema — readers simply never project the
        on-disk column again, and time travel below the commit still
        sees it. Same restrictions as rename: partition columns and
        constraint-referenced columns are hard conflicts; dropping the
        last column is refused."""
        m = self._current()
        pc = list(m["partition_cols"])
        schema = _schema(m)
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name}")
        if name in pc:
            raise ValueError(f"cannot drop partition column {name}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        cons = m.get("constraints") or {}
        referenced = [
            n for n, e in cons.items()
            if re.search(rf"\b{re.escape(name)}\b", e, re.IGNORECASE)
        ]
        if referenced:
            raise ValueError(
                f"cannot drop {name}: referenced by CHECK constraint(s) "
                f"{referenced} — drop them first"
            )
        gen = m.get("generated_cols") or {}
        gen_hits = [
            c for c, e in gen.items()
            if c == name or re.search(rf"\b{re.escape(name)}\b", e, re.IGNORECASE)
        ]
        if gen_hits:
            raise ValueError(
                f"cannot drop {name}: involved in generated column(s) "
                f"{gen_hits}"
            )
        if name in (m.get("identity_cols") or {}):
            raise ValueError(f"cannot drop identity column {name}")
        mapping = dict(m.get("column_mapping") or {})
        physical = mapping.pop(name, name)
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        return self._transact(
            m,
            "DROP_COLUMN",
            meta={
                "schema": new_schema.json(),
                "column_mapping": mapping,
                # tombstone the physical name: live files still hold its
                # data, so a later schema-evolving add of the same name
                # would silently resurrect old values — refused instead
                # (Delta avoids this with GUID physical names)
                "retired_physical": sorted(
                    set(m.get("retired_physical") or []) | {physical}
                ),
            },
            metrics={"dropped": name},
        )

    def append(self, df: DataFrame, *, merge_schema: bool = False,
               metrics: dict | None = None,
               txn: tuple[str, int] | None = None) -> int:
        """Append-only commit (reference S9 ``mergeSchema`` append,
        ``schema_evolution_step1.py:144``): adds files, never rewrites.
        With ``merge_schema`` the committed schema is the union; old
        files simply lack the new columns (read as NULL).

        Concurrency: an append reads no partition, so a version
        collision rebases the new files onto the winner's head and
        retries unless the winner changed table metadata (Delta's
        blind-append semantics, see :meth:`_transact`). The data files
        are written once; only the manifest commit retries.

        ``txn=(app_id, txn_version)`` makes the append **idempotent**
        (Delta's ``txnAppId``/``txnVersion``): if the table has already
        recorded a transaction >= ``txn_version`` for ``app_id``, the
        append is a no-op returning the current version — so a
        micro-batch replayed after a sink crash lands exactly once.
        The check re-runs after every commit-race rebase, closing the
        window where two replicas replay the same batch concurrently."""
        m = self._current()
        if _txn_applied(m, txn):
            return m["version"]
        s = self.stage_write(df, base=m, merge_schema=merge_schema)
        return self.commit_staged(
            "APPEND", s, merge_schema=merge_schema, txn=txn, metrics=metrics
        )

    def _maybe_auto_compact(self, new_files: list[ManifestEntry]) -> None:
        """Post-append auto-compaction (Delta ``autoCompact``): when
        the table property is set, check only the partitions THIS
        commit appended files to (cost ∝ the write, never the table;
        :meth:`commit_staged` passes them) and compact any
        whose live file count crossed ``autoCompact.minFiles``.
        Best-effort: a commit-race loss skips the compaction — the
        next crossing append retries it."""
        # ENTIRELY best-effort, and it runs AFTER the append's commit
        # has durably succeeded: no exception may escape, or a caller
        # would retry an append that actually landed (double-write).
        try:
            props = self.properties()
            if props.get("autoCompact", "").lower() != "true":
                return
            try:
                thr = max(2, int(props.get("autoCompact.minFiles", "16")))
            except ValueError:
                thr = 16  # malformed property: fall back, don't fail
            touched = {_pkey(e.partition) for e in new_files}
            per: dict[tuple, int] = {}
            for f in self._current()["files"]:
                k = _pkey(f["partition"])
                if k in touched:
                    per[k] = per.get(k, 0) + 1
            crowded = [dict(k) for k, n in per.items() if n >= thr]
            if not crowded:
                return
            self.compact(
                max_files_per_partition=thr - 1, only_partitions=crowded
            )
        except Exception as e:  # noqa: BLE001 — commit-race loss, transient FS…
            # keep the no-raise contract, but a PERSISTENTLY failing
            # auto-compaction (corrupt partition, permissions) must not
            # be invisible while small files pile up
            warnings.warn(
                f"auto-compaction skipped on {self.path}: {e!r}",
                RuntimeWarning,
                stacklevel=2,
            )

    def overwrite(self, df: DataFrame, *, metrics: dict | None = None,
                  txn: tuple[str, int] | None = None) -> int:
        """Full-replace commit. ``txn=(app_id, txn_version)`` makes it
        idempotent exactly like :meth:`append`'s — a replayed
        micro-batch that REPLACES state (e.g. a streaming model table)
        must not re-apply its update on top of its own result."""
        m = self._current()
        if _txn_applied(m, txn):
            return m["version"]
        files, schema, assigned = self._stage(m, df)
        return self._transact(
            m, "OVERWRITE", adds=files, removes=[f["path"] for f in m["files"]],
            reads=None, meta={"schema": schema.json()},
            assigned_identity=assigned, txn=txn, metrics=metrics,
        )

    def replace_partitions(
        self,
        df: DataFrame,
        partitions: list[dict[str, str]],
        *,
        operation: str = "REPLACE_PARTITIONS",
        merge_schema: bool = False,
        metrics: dict | None = None,
        layout_ready: bool = False,
        cdc_files: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Partition-scoped copy-on-write: swap the files of exactly
        ``partitions`` for ``df``'s files; every other partition is
        carried by reference. This is the engine's MERGE rewrite
        primitive — cost proportional to touched data, not table size.
        ``merge_schema`` widens the committed schema with ``df``'s new
        nullable columns (untouched partitions read them as NULL).

        Concurrency (Delta's logical conflict rules at partition
        granularity): on a version collision the commit REBASES when
        the winning commit (a) changed no table metadata and (b)
        touched only partitions disjoint from this rewrite — e.g. two
        SCD2 merges for different days, or an unrelated append, land
        concurrently. Any overlap or metadata change is a hard
        conflict (the replacement was computed from a stale read of
        exactly those partitions).
        """
        m = self._current()
        if _txn_applied(m, txn):
            return m["version"]
        s = self.stage_write(
            df, partitions=partitions, base=m, merge_schema=merge_schema,
            layout_ready=layout_ready,
        )
        s.require_within(partitions)
        s.cdc_files = cdc_files
        return self.commit_staged(
            operation,
            s,
            merge_schema=merge_schema,
            txn=txn,
            metrics=metrics,
            # pure re-layout commits rewrite the same visible rows —
            # Delta's dataChange=false; the change feed skips them
            data_change=operation not in ("COMPACT", "ZORDER"),
        )

    def upsert(
        self,
        updates: DataFrame,
        key_cols: "Sequence[str]",
        *,
        deletes: DataFrame | None = None,
        sync_deletes: bool = False,
        operation: str = "UPSERT",
        metrics: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Generic MERGE (reference S8's ``whenMatchedUpdate`` +
        ``whenNotMatchedInsert``, src/header_etl.py:205-215 shape, made
        table-generic): rows of ``updates`` replace same-key rows and
        insert otherwise. ``updates`` must be unique per key (classic
        MERGE multiple-source-rows-match error, left to the caller).
        ``deletes`` (key rows; the ``whenMatchedDelete`` clause) drops
        those keys in the same commit.

        ``sync_deletes=True`` is the ``WHEN NOT MATCHED BY SOURCE THEN
        DELETE`` clause: target keys absent from ``updates`` are
        dropped, making the table an exact mirror of the source — the
        dimension-snapshot-sync shape. Inherently a full-key
        comparison: the key anti-join scans the target's key columns
        (column-pruned), and every partition holding a vanished key is
        rewritten; partition scoping still skips partitions whose rows
        all survive.

        Partition-scoped: only partitions holding a matched/deleted
        key's old row or receiving a new row are rewritten — including
        the move case where an update changes its own partition values.
        Cost ∝ touched partitions, never table size.

        ``txn=(app_id, txn_version)`` makes the merge **idempotent**
        (same contract as :meth:`append`): an already-applied batch is
        skipped before any work, and a lost commit race against the
        same logical transaction lands once — exactly-once foreachBatch
        MERGE sinks.

        Skew: every target-side join (match counts, CDC pre-images,
        the rewrite survivors) is a left-semi or left-anti join against
        ``upd_keys`` or ``gone_keys``, which are key-distinct, so a hot
        target key buffers one row per sort-merge group and AQE's
        skew-join split divides its oversized partition by map ranges.
        """
        keys = list(key_cols)
        m = self._current()
        if _txn_applied(m, txn):
            return {
                "n_updated": 0,
                "n_inserted": 0,
                "n_deleted": 0,
                "skipped_txn": True,
            }
        pc = list(m["partition_cols"])
        cur = self.read()
        updates = self._apply_generated(updates, m.get("generated_cols"))
        # Identity semantics match Delta MERGE with BY DEFAULT columns:
        # only NOT-MATCHED (insert) rows get fresh ids; a matched row
        # whose update omits the identity column KEEPS its existing id
        # (carried from the old row — reassigning would silently break
        # every downstream reference to the surrogate key).
        ident = m.get("identity_cols") or {}
        omitted = [c for c in ident if c not in updates.columns]
        if omitted:
            old_ids = cur.groupBy(*keys).agg(
                *[F.min(c).alias(c) for c in omitted]
            )
            matched_upd = updates.join(old_ids, on=keys, how="inner")
            new_upd = self._apply_identity(
                updates.join(old_ids.select(*keys), on=keys, how="left_anti"),
                ident,
            )
            updates = matched_upd.unionByName(
                new_upd.select(*matched_upd.columns)
            )
        upd_keys = updates.select(*keys).distinct()
        if sync_deletes:
            if deletes is not None:
                raise ValueError("pass deletes or sync_deletes, not both")
            deletes = cur.select(*keys).distinct().join(
                upd_keys, on=keys, how="left_anti"
            )
        del_keys = deletes.select(*keys).distinct() if deletes is not None else None
        gone_keys = (
            upd_keys if del_keys is None else upd_keys.unionByName(del_keys).distinct()
        )
        cur_keys = cur.select(*keys).distinct()
        out = {
            # target rows replaced (several per key on a multi-row target)
            "n_updated": cur.join(upd_keys, on=keys, how="left_semi").count(),
            # update rows whose key matches no target row
            "n_inserted": updates.join(cur_keys, on=keys, how="left_anti").count(),
            "n_deleted": (
                cur.join(del_keys, on=keys, how="left_semi").count()
                if del_keys is not None
                else 0
            ),
        }
        cdc_files = None
        if self._cdc_enabled(m):
            # Row-level change records, written WITH the commit (Delta
            # CDF's _change_data): full update pre/post-image pairing,
            # so the streaming source reads changes from these files on
            # executors instead of re-deriving them by join.
            upd = updates.select(*cur.columns)
            change = (
                cur.join(upd_keys, on=keys, how="left_semi")
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    upd.join(cur_keys, on=keys, how="left_semi")
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                .unionByName(
                    upd.join(cur_keys, on=keys, how="left_anti")
                    .withColumn("_change_type", F.lit("insert"))
                )
            )
            if del_keys is not None:
                # a key in BOTH updates and deletes ends up present
                # (updates win in the merged output), so it must not
                # also emit a delete record
                only_del = del_keys.join(upd_keys, on=keys, how="left_anti")
                change = change.unionByName(
                    cur.join(only_del, on=keys, how="left_semi").withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            cdc_files = self._write_cdc(change)
        if pc:
            # partitions holding the old rows of matched/deleted keys,
            # plus the ones receiving the updates
            parts = (
                cur.join(gone_keys, on=keys, how="left_semi")
                .select(*pc)
                .unionByName(updates.select(*pc))
                .distinct()
            )
            touched = [{k: str(r[k]) for k in pc} for r in parts.collect()]
            base = self.read_partitions(touched)
        else:
            touched = [{}]
            base = cur
        survivors = base.join(gone_keys, on=keys, how="left_anti")
        merged = survivors.unionByName(updates.select(*base.columns))
        self.replace_partitions(
            merged, touched, operation=operation, metrics=metrics or out,
            cdc_files=cdc_files, txn=txn,
        )
        return out

    def delete(
        self,
        filters: "Sequence[tuple]",
        *,
        metrics: dict | None = None,
    ) -> dict:
        """``DELETE FROM`` (Delta deletion analogue) at FILE
        granularity: data skipping (``files_for``) first narrows the
        rewrite set to files whose stats admit a match; only those are
        re-written without the matching rows, every other file is
        carried by reference. Cost ∝ files that might hold deleted
        rows — at 100 TB a predicate on a clustered column touches a
        handful of files, not the table. Rewritten files whose rows all
        matched simply vanish from the manifest.
        """
        m = self._current()
        candidates = {e.path for e in self.files_for(filters, m["version"])}
        if not candidates:
            self._transact(m, "DELETE", metrics=metrics or {"n_deleted": 0})
            return {"n_deleted": 0, "n_files_rewritten": 0}
        cand_df = self._read_paths(m, sorted(candidates))
        hit = _matches(filters)
        survivors = cand_df.filter(~hit)
        cdc_files = None
        if self._cdc_enabled(m):
            cdc_files = self._write_cdc(
                cand_df.filter(hit)
                .withColumn("_change_type", F.lit("delete"))
            )
        n_before = sum(
            f.get("rows") or 0 for f in m["files"] if f["path"] in candidates
        )
        # narrow per-file rewrite: survivors keep their source files'
        # (possibly z-ordered) row order and tight stats; a rebalance
        # here would merge-shuffle them and widen every rewritten
        # file's min/max
        files, _, _ = self._stage(m, survivors, schema=_schema(m), layout_ready=True)
        out = {
            "n_deleted": n_before - sum(e.rows or 0 for e in files),
            "n_files_rewritten": len(candidates),
        }
        self._transact(
            m, "DELETE", adds=files, removes=candidates,
            reads=[f["partition"] for f in m["files"] if f["path"] in candidates],
            metrics=metrics or out, cdc_files=cdc_files,
        )
        return out

    def purge(self, filters: "Sequence[tuple]") -> dict:
        """Right-to-be-forgotten erasure ACROSS RETAINED HISTORY: after
        this, NO retained version — time travel, CDF replay, or CDC
        stream bootstrap — can return a matching row. (Plain
        ``delete`` only removes rows going forward; every older
        version still serves them, which is exactly what GDPR-style
        erasure cannot allow.)

        Mechanics:

        1. A normal :meth:`delete` commits at head first — so the live
           table's evolution is an honest DELETE (CDF pre-images,
           observation metrics, constraints) and downstream MVs fold
           it correctly.
        2. Every earlier retained version's manifests are then
           rewritten IN PLACE: data skipping (``files_for`` per
           version) narrows to files whose stats admit a match, each
           is re-read under the head schema, matching rows are dropped,
           and the replacement entries (fresh footer stats) are
           substituted into every manifest, add/remove delta, and
           checkpoint that referenced the old file. Files whose rows
           all matched vanish from history entirely.
        3. Past commits' change-data files are scrubbed the same way
           (in place, path-stable) so a CDF replay cannot resurrect
           purged rows either.
        4. The replaced physical files are deleted.

        Cost ∝ files-that-might-match across history, not table size —
        the same data-skipping bound as ``delete``, times retained
        versions that share those files (shared files rewrite ONCE).

        Limitations (explicit, never silent): manifest
        rewrites are per-file atomic (``os.replace``) but not
        transactional across versions; a crash mid-purge leaves a
        partially-scrubbed history and RE-RUNNING the same purge
        completes it (idempotent: already-scrubbed files no longer
        match). Rows already delivered to external consumers cannot be
        recalled — that is inherent to erasure, not this mechanism.
        """
        # candidate files across ALL retained versions (dedup by path;
        # a file shared by many versions is rewritten once) — collected
        # BEFORE any mutation
        candidates: dict[str, dict] = {}
        for v in self.versions():
            admitted = {e.path for e in self.files_for(filters, v)}
            for f in self._snapshot_files(v):
                if f["path"] in admitted:
                    candidates.setdefault(f["path"], f)

        head_out = self.delete(filters)
        head = self.latest_version()
        head_m = self._load_manifest(head)
        pc = list(head_m["partition_cols"])
        schema = T.StructType.fromJson(json.loads(head_m["schema"]))
        mapping = head_m.get("column_mapping")

        hit = _matches(filters)
        retained = self.versions()

        # rewrite candidate data files (None = every row matched)
        replacement: dict[str, list[dict] | None] = {}
        n_purged = 0
        for p, f in sorted(candidates.items()):
            df = self._scan([f], schema, mapping=mapping)
            survivors = df.filter(~hit)
            n_kept = survivors.count()
            n_before = f.get("rows")
            if n_before is None:
                # manifest entry lacks a row stat: one extra action on
                # the already-scanned file beats a needless rewrite
                # (and a negative erasure count in the report)
                n_before = df.count()
            if n_kept == n_before:
                continue  # stats admitted, no actual match
            n_purged += n_before - n_kept
            if n_kept == 0:
                replacement[p] = None
                continue
            new_entries = self._write_files(
                _align(survivors, schema), pc, mapping=mapping,
                layout_ready=True,
            )
            replacement[p] = [asdict(e) for e in new_entries]

        def _map_files(entries: list[dict]) -> tuple[list[dict], bool]:
            out_, changed = [], False
            for f in entries:
                if f["path"] not in replacement:
                    out_.append(f)
                    continue
                changed = True
                out_.extend(dict(r) for r in replacement[f["path"]] or [])
            return out_, changed

        if replacement:
            # substitute into every retained manifest (full lists AND
            # add/remove deltas) and checkpoint, atomically per file
            for v in retained:
                raw = self._load_commit(v)
                changed = False
                if "files" in raw:
                    raw["files"], ch = _map_files(raw["files"])
                    changed |= ch
                if raw.get("add"):
                    raw["add"], ch = _map_files(raw["add"])
                    changed |= ch
                if raw.get("remove"):
                    new_rm = []
                    for rp in raw["remove"]:
                        if rp in replacement:
                            changed = True
                            new_rm.extend(
                                r["path"] for r in (replacement[rp] or [])
                            )
                        else:
                            new_rm.append(rp)
                    raw["remove"] = new_rm
                if changed:
                    tmp = self._manifest_path(v) + f".tmp-{uuid.uuid4().hex}"
                    with open(tmp, "w") as fh:
                        json.dump(raw, fh)
                    os.replace(tmp, self._manifest_path(v))
                ck = self._ckpt_file(v)
                if ck:
                    entries = self._read_ckpt_file(ck)
                    mapped, ch = _map_files(entries)
                    if ch:
                        self._write_checkpoint(v, mapped)
                        if ck.endswith(".json"):
                            # the rewrite lands at the canonical parquet
                            # path; a legacy JSON checkpoint left behind
                            # would still hold purged file references
                            os.remove(ck)
            self._snap_cache.clear()
            for p in replacement:
                full = os.path.join(self.path, DATA_DIR, p)
                _drop_crc_sidecar(full)
                try:
                    os.remove(full)
                except FileNotFoundError:
                    pass

        n_cdc = self._purge_cdc(retained, filters)
        return {
            **head_out,
            "n_history_files_rewritten": sum(
                1 for r in replacement.values() if r is not None
            ),
            "n_history_files_dropped": sum(
                1 for r in replacement.values() if r is None
            ),
            "n_history_rows_purged": int(n_purged),
            "n_cdc_files_scrubbed": n_cdc,
        }

    def _purge_cdc(self, retained: list[int], filters) -> int:
        """Scrub matching rows out of past commits' change-data files,
        IN PLACE (paths are referenced by commit records and must not
        move). Files missing a filter column (pre-evolution) cannot
        match and are skipped."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        n = 0
        for v in retained:
            for rel in self._load_commit(v).get("cdc_files") or []:
                full = os.path.join(self.path, CDC_DIR, rel)
                if not os.path.exists(full):
                    continue
                df = self.spark.read.parquet(full)
                if any(c not in df.columns for c, _, _ in filters):
                    continue  # pre-evolution file: cannot match
                survivors = df.filter(~_matches(filters))
                n_kept = survivors.count()
                if n_kept == df.count():
                    continue
                n += 1
                tmp_dir = full + f".tmp-{uuid.uuid4().hex}"
                survivors.coalesce(1).write.parquet(tmp_dir)
                parts = [
                    x for x in os.listdir(tmp_dir) if x.endswith(".parquet")
                ]
                empty_schema = None if parts else pq.read_schema(full)
                # the local Hadoop FS keeps a .<name>.crc sidecar per
                # file; replacing content in place leaves it stale and
                # every later read dies with ChecksumException
                _drop_crc_sidecar(full)
                if parts:
                    os.replace(os.path.join(tmp_dir, parts[0]), full)
                else:  # all rows matched: keep an empty, schema-true file
                    pq.write_table(
                        pa.Table.from_pylist([], schema=empty_schema), full
                    )
                shutil.rmtree(tmp_dir, ignore_errors=True)
        return n

    def update(
        self,
        filters: "Sequence[tuple]",
        set_exprs: dict[str, str],
        *,
        metrics: dict | None = None,
    ) -> dict:
        """``UPDATE ... SET ... WHERE`` (Delta UPDATE analogue) at FILE
        granularity: data skipping narrows the rewrite to files whose
        stats admit a match; those files are re-written with
        ``set_exprs`` (column → SQL expression over the OLD row, so
        ``{"price": "price * 2"}`` works) applied to matching rows,
        everything else carried by reference.

        Updated rows may move partitions (a SET touching a partition
        column lands its rows in their new partition directories, like
        Delta). Generated columns are re-derived for updated rows;
        setting one directly is rejected. CHECK constraints validate
        the rewritten files on the write job. CDF emits
        update_preimage/update_postimage pairs.
        """
        m = self._current()
        gen = m.get("generated_cols") or {}
        bad = sorted(set(set_exprs) & set(gen))
        if bad:
            raise ValueError(
                f"cannot SET generated column(s) {bad}: they derive from "
                "their expression — update the source columns instead"
            )
        unknown = sorted(set(set_exprs) - {f["name"] for f in
                                           json.loads(m["schema"])["fields"]})
        if unknown:
            raise ValueError(f"UPDATE sets unknown column(s): {unknown}")
        candidates = {e.path for e in self.files_for(filters, m["version"])}
        if not candidates:
            self._transact(m, "UPDATE", metrics=metrics or {"n_updated": 0})
            return {"n_updated": 0, "n_files_rewritten": 0}
        cand_df = self._read_paths(m, sorted(candidates))
        hit = _matches(filters)
        matched = cand_df.filter(hit)
        updated = matched.withColumns(
            {c: F.expr(e) for c, e in set_exprs.items()}
        )
        if gen:
            # re-derive generated columns from the updated source values
            updated = self._apply_generated(updated.drop(*gen.keys()), gen)
        survivors = cand_df.filter(~hit)
        merged = survivors.unionByName(updated.select(*cand_df.columns))
        cdc_files = None
        if self._cdc_enabled(m):
            cdc_files = self._write_cdc(
                matched.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    updated.select(*cand_df.columns).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
            )
        # bounded extra scan: candidate files only, column-pruned
        n_updated = matched.count()
        files, _, _ = self._stage(m, merged, schema=_schema(m), layout_ready=True)
        out = {
            "n_updated": n_updated,
            "n_files_rewritten": len(candidates),
        }
        self._transact(
            m, "UPDATE", adds=files, removes=candidates,
            reads=[f["partition"] for f in m["files"] if f["path"] in candidates],
            metrics=metrics or out, cdc_files=cdc_files,
        )
        return out

    def compact(
        self,
        *,
        max_files_per_partition: int = 1,
        zorder_by: "Sequence[str] | None" = None,
        output_files: int = 1,
        only_partitions: "list[dict[str, str]] | None" = None,
    ) -> int:
        """Small-file compaction (Delta ``OPTIMIZE`` analogue — the
        reference flags small files as the partitioning hazard,
        ``partitioning_strategies.md:27``): rewrite every partition
        holding more than ``max_files_per_partition`` files into
        coalesced files, committing one COMPACT snapshot. Readers of
        older versions still see the old files (never deleted here —
        a VACUUM-style retention sweep would remove unreferenced ones).
        At 100 TB this runs per-partition-subset, not whole-table.

        With ``zorder_by`` (``OPTIMIZE ... ZORDER BY`` analogue) EVERY
        partition is rewritten as ``output_files`` files range-split
        and sorted on the interleaved-bits z-value of the named
        columns, so each file's footer min/max is tight on ALL of them
        and ``read_where`` prunes on any — multidimensional data
        skipping, the layout Delta uses for the same job. Plain
        compaction keeps ``output_files=1`` per partition.
        """
        m = self._current()
        pc = list(m["partition_cols"])
        if zorder_by:
            if only_partitions is not None:
                crowded = only_partitions
                if not crowded:  # empty scope = nothing to rewrite
                    return m["version"]
                df = self.read_partitions(crowded)
            else:
                # partitions_of() is [] only for an EMPTY unpartitioned
                # table; [{}] then targets the (empty) root partition
                crowded = self.partitions_of() or [{}]
                df = self.read()
            # String columns get an ORDER-PRESERVING numeric surrogate:
            # the first 7 bytes, NUL-padded to fixed width, read as a
            # big-endian integer (fits a signed long) — lexicographic
            # byte order == numeric order, so width_bucket ranges and
            # the interleaved bits cluster strings correctly and the
            # files' footer min/max stay tight on the STRING column
            # itself (which is what read_where prunes on).
            surrogate: dict[str, str] = {}
            work = df
            for c in zorder_by:
                if isinstance(df.schema[c].dataType, T.StringType):
                    s = f"__zsrc_{c}"
                    surrogate[c] = s
                    # BYTE-accurate: substring on binary slices UTF-8
                    # bytes (rpad on the string would count CHARS — 7
                    # multibyte chars hex to >16 digits and overflow
                    # conv); hex is zero-right-padded to 14 digits, so
                    # short values stay order-consistent with long ones
                    work = work.withColumn(
                        s,
                        F.coalesce(
                            F.conv(
                                F.rpad(
                                    F.hex(
                                        F.substring(
                                            F.col(c).cast("binary"), 1, 7
                                        )
                                    ),
                                    14,
                                    "0",
                                ),
                                16,
                                10,
                            ).cast("long"),
                            F.lit(0),
                        ),
                    )
            zcols = [surrogate.get(c, c) for c in zorder_by]
            bounds = work.agg(
                *[F.min(c).alias(f"mn_{c}") for c in zcols],
                *[F.max(c).alias(f"mx_{c}") for c in zcols],
            ).first()
            z = zorder_column(
                {c: (bounds[f"mn_{c}"], bounds[f"mx_{c}"]) for c in zcols}
            )
            work = work.withColumn("__z", z)
            n = max(1, output_files) * max(1, len(crowded))
            df = (
                work.repartitionByRange(n, *[F.col(c) for c in pc], F.col("__z"))
                .sortWithinPartitions(*pc, "__z")
                .drop("__z", *surrogate.values())
            )
            return self.replace_partitions(
                df, crowded, operation="ZORDER",
                metrics={"n_partitions": len(crowded), "zorder_by": list(zorder_by)},
                # the range-sorted layout IS the point — no rebalance
                layout_ready=True,
            )
        scope = (
            {tuple(sorted(p.items())) for p in only_partitions}
            if only_partitions is not None
            else None
        )
        per_part: dict[tuple, int] = {}
        for f in m["files"]:
            k = tuple(sorted(f["partition"].items()))
            if scope is not None and k not in scope:
                continue
            per_part[k] = per_part.get(k, 0) + 1
        crowded = [dict(k) for k, n in per_part.items() if n > max_files_per_partition]
        if not crowded:
            return m["version"]
        df = self.read_partitions(crowded)
        # Deterministic post-compact layout: exactly one file per
        # partition (the max_files_per_partition<=1 contract the
        # auto-compact trigger sizes its threshold against — an AQE
        # rebalance could re-split an oversized partition above the
        # threshold and turn auto-compact into a rewrite treadmill).
        df = df.repartition(*[F.col(c) for c in pc]) if pc else df.coalesce(1)
        return self.replace_partitions(
            df, crowded, operation="COMPACT",
            metrics={"n_partitions": len(crowded)},
            layout_ready=True,
        )

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` analogue): the restored
        snapshot's file list, schema and partitioning are re-committed
        at head, so history is preserved and the rollback is itself
        time-travelable / auditable. O(1) data I/O — files are
        immutable and carried by reference; fails cleanly if retention
        (``vacuum``) already deleted any file of the target version,
        exactly like Delta."""
        m = self._load_manifest(version)  # raises if version unknown
        data_root = os.path.join(self.path, DATA_DIR)
        missing = [
            f["path"]
            for f in m["files"]
            if not os.path.exists(os.path.join(data_root, f["path"]))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore v{version}: {len(missing)} data file(s) "
                f"removed by retention, e.g. {missing[0]!r}"
            )
        cur = self._current()
        return self._transact(
            cur,
            "RESTORE",
            adds=[_entry(f) for f in m["files"]],
            removes=[f["path"] for f in cur["files"]],
            reads=None,
            # table properties, identity watermarks and writer txns
            # stay at head: rolling those back would re-issue ids and
            # replay applied batches
            meta={k: m.get(k) for k in META_KEYS if k != "properties"},
            metrics={"restored_version": version},
        )

    # -- CHECK constraints ---------------------------------------------------

    def add_constraint(self, name: str, expr_sql: str) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT ... CHECK`` analogue.
        Existing rows are validated first (one column-pruned scan, like
        Delta); from then on every write enforces the check on the
        write job itself and aborts pre-commit on violation."""
        m = self._current()
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        n_bad = (
            self.read()
            .filter(~F.coalesce(F.expr(expr_sql), F.lit(True)))
            .limit(1)
            .count()
        )
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"{expr_sql!r}"
            )
        cons[name] = expr_sql
        # reads=None: the validation scanned every row, so a concurrent
        # data change must re-run it
        return self._transact(
            m, "ADD_CONSTRAINT", reads=None, meta={"constraints": cons},
            metrics={"name": name, "expr": expr_sql},
        )

    def drop_constraint(self, name: str) -> int:
        m = self._current()
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return self._transact(
            m, "DROP_CONSTRAINT", meta={"constraints": cons},
            metrics={"name": name},
        )

    def clone(self, dest_path: str) -> "VersionedParquetTable":
        """Shallow clone (Delta ``CREATE TABLE ... SHALLOW CLONE``
        analogue): a new independent table whose v0 manifest carries the
        source's current snapshot with zero data copied — files are
        hardlinked (copy fallback across filesystems). Because data
        files are immutable-once-written in both tables, later writes,
        compaction or ``vacuum`` on either side never disturb the other:
        each manipulates only its own manifest and link names."""
        if self.is_table(dest_path):
            raise FileExistsError(dest_path)
        m = self._current()
        src_root = os.path.join(self.path, DATA_DIR)
        dst_root = os.path.join(dest_path, DATA_DIR)
        for f in m["files"]:
            src = os.path.join(src_root, f["path"])
            dst = os.path.join(dst_root, f["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device: fall back to a real copy
                shutil.copy2(src, dst)
        t = VersionedParquetTable(self.spark, dest_path)
        # v0 takes every piece of table metadata from the source commit
        # (schema, constraints, generated and identity columns, column
        # mapping, properties); writer txns belong to the source
        t._transact(
            {**m, "version": -1, "files": [], "txns": {}},
            "CLONE",
            adds=[_entry(f) for f in m["files"]],
            metrics={"source_path": self.path, "source_version": m["version"]},
        )
        return t

    def partition_columns(self) -> list[str]:
        """The partition columns the table was created with — manifest
        metadata only, no data or file I/O."""
        return list(self._current()["partition_cols"])

    def detail(self) -> dict:
        """``DESCRIBE DETAIL`` analogue: one dict of table-level facts
        from manifest metadata alone (no data I/O — footer stats were
        captured at commit time)."""
        m = self._current()
        data_root = os.path.join(self.path, DATA_DIR)
        size = 0
        for f in m["files"]:
            p = os.path.join(data_root, f["path"])
            if os.path.exists(p):
                size += os.path.getsize(p)
        rows = [f.get("rows") for f in m["files"]]
        return {
            "location": self.path,
            "version": m["version"],
            "num_files": len(m["files"]),
            "size_bytes": size,
            "num_rows": sum(rows) if None not in rows else None,
            "partition_cols": list(m["partition_cols"]),
            "num_versions": len(self.versions()),
            "constraints": dict(m.get("constraints") or {}),
            "generated_cols": dict(m.get("generated_cols") or {}),
            "properties": dict(m.get("properties") or {}),
        }

    def fsck(self, *, deep: bool = False) -> dict:
        """Read-only storage-integrity audit (the detection half of
        ``FSCK REPAIR TABLE``): re-resolve every RETAINED version's
        manifest and verify each referenced data file is actually
        present on storage;
        ``deep=True`` additionally re-reads every distinct live data
        file's parquet FOOTER and compares its row count to the
        manifest's recorded ``rows`` — catching truncation or
        corruption that an existence check can't.

        Files are immutable once committed, so each distinct path is
        checked once even when many versions reference it. Cost:
        metadata-only (existence stats; ``deep`` adds one footer read
        per live file) — no Spark job, no data scan. Nothing is
        repaired here: a missing file means restoring from storage
        backup or ``restore``-ing to an intact version, which must be
        a human decision.
        """
        checked: set[str] = set()
        missing_files: list[dict] = []
        row_mismatches: list[dict] = []
        n_files = 0
        versions = self.versions()
        for v in versions:
            for f in self._load_manifest(v)["files"]:
                rel = f["path"]
                if rel not in checked:
                    checked.add(rel)
                    n_files += 1
                    full = os.path.join(self.path, DATA_DIR, rel)
                    if not os.path.exists(full):
                        missing_files.append({"version": v, "path": rel})
                    elif deep and f.get("rows") is not None:
                        try:
                            _, footer_rows = _file_stats(full)
                        except Exception as e:  # unreadable footer
                            row_mismatches.append(
                                {"version": v, "path": rel,
                                 "error": str(e)[:200]}
                            )
                        else:
                            if footer_rows != f["rows"]:
                                row_mismatches.append(
                                    {"version": v, "path": rel,
                                     "manifest_rows": f["rows"],
                                     "footer_rows": footer_rows}
                                )
        return {
            "ok": not (missing_files or row_mismatches),
            "deep": deep,
            "versions_checked": versions,
            "n_data_files": n_files,
            "missing_files": missing_files,
            "row_mismatches": row_mismatches,
        }

    def vacuum(
        self,
        *,
        keep_versions: int = 1,
        dry_run: bool = False,
        orphan_grace_s: float = 3600.0,
    ) -> dict:
        """Retention sweep (Delta ``VACUUM`` analogue): delete data
        files referenced ONLY by manifests older than the newest
        ``keep_versions``, then drop those manifests. Time travel is
        retained for the kept versions; older versions become
        unreadable — the same trade Delta makes. Never touches files
        the live manifests still reference, so concurrent readers of
        kept versions are safe.

        Also sweeps **orphans** — files under ``data/`` referenced by
        NO retained manifest, and stale ``_staging-*`` dirs — which
        crashed writes and lost commit races legitimately leave behind
        (the write-once design's garbage, exactly like Delta's).
        Orphans younger than ``orphan_grace_s`` are spared so an
        in-flight concurrent write is never swept mid-commit.

        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``) returns the
        deletion plan — counts and the candidate paths — without
        touching anything; the real run carries out the same plan.
        """
        keep_versions = max(1, keep_versions)
        vs = self.versions()
        kept_vs, dropped_vs = vs[-keep_versions:], vs[:-keep_versions]
        live = {f["path"] for v in kept_vs for f in self._snapshot_files(v)}
        doomed = sorted(
            {f["path"] for v in dropped_vs for f in self._snapshot_files(v)} - live
        )
        referenced = live.union(doomed)
        # orphans: files no retained manifest references — crashed
        # writes, lost txn/commit races. A grace window (mtime) spares
        # what a concurrent writer staged but has not committed yet;
        # the same holds for staging dirs and change-data dirs.
        cutoff = time.time() - max(0.0, orphan_grace_s)
        data_root = os.path.join(self.path, DATA_DIR)
        orphans = sorted(
            rel
            for root, _dirs, fnames in os.walk(data_root)
            for rel in (
                os.path.relpath(os.path.join(root, n), data_root) for n in fnames
            )
            if rel not in referenced
            and _older_than(os.path.join(data_root, rel), cutoff)
        )
        staging = sorted(
            n for n in os.listdir(self.path)
            if n.startswith("_staging-")
            and _older_than(os.path.join(self.path, n), cutoff)
        )
        dead_cdc = self._dead_cdc_dirs(kept_vs, cutoff)
        if dry_run:
            return {
                "dry_run": True,
                "n_data_files": len(doomed),
                "n_versions": len(dropped_vs),
                "paths": doomed,
                "n_orphans": len(orphans) + len(staging),
                "orphan_paths": orphans + staging,
                "n_cdc": len(dead_cdc),
                "oldest_kept_version": kept_vs[0],
            }
        # The oldest kept version must stay reconstructible once the
        # commits below it are gone: materialize it as a checkpoint
        # first (idempotent if one already exists).
        if dropped_vs:
            self._write_checkpoint(kept_vs[0], self._snapshot_files(kept_vs[0]))
        n_deleted = 0
        for rel in doomed:
            p = os.path.join(data_root, rel)
            if os.path.exists(p):
                os.remove(p)
                n_deleted += 1
        for v in dropped_vs:
            os.remove(self._manifest_path(v))
            self._snap_cache.pop(v, None)
        for v in self._checkpoint_versions():
            if v < kept_vs[0]:
                p = self._ckpt_file(v)
                if p:
                    os.remove(p)
        # re-stat before removing: a concurrent writer may have touched
        # or cleaned up a planned path since the listing
        n_orphans = 0
        for rel in orphans:
            p = os.path.join(data_root, rel)
            if _older_than(p, cutoff):
                try:
                    os.remove(p)
                    n_orphans += 1
                except FileNotFoundError:
                    pass
        for name in staging:
            p = os.path.join(self.path, name)
            if _older_than(p, cutoff):
                shutil.rmtree(p, ignore_errors=True)
                n_orphans += 1
        cdc_root = os.path.join(self.path, CDC_DIR)
        for name in dead_cdc:
            shutil.rmtree(os.path.join(cdc_root, name), ignore_errors=True)
        # prune emptied partition dirs so listings stay honest
        for root, dirs, files in os.walk(data_root, topdown=False):
            if root != data_root and not dirs and not files:
                os.rmdir(root)
        return {
            "n_files_deleted": n_deleted,
            "n_versions_dropped": len(dropped_vs),
            "n_cdc_deleted": len(dead_cdc),
            "n_orphans_deleted": n_orphans,
            "oldest_kept_version": kept_vs[0],
        }

    def _dead_cdc_dirs(self, kept_vs: list[int], cutoff: float) -> list[str]:
        """Top-level ``_cdc/`` dirs referenced by NO retained commit and
        older than the grace cutoff."""
        cdc_root = os.path.join(self.path, CDC_DIR)
        if not os.path.isdir(cdc_root):
            return []
        live = {
            p.split(os.sep, 1)[0]
            for v in kept_vs
            for p in (self._load_commit(v).get("cdc_files") or [])
        }
        return [
            name
            for name in sorted(set(os.listdir(cdc_root)) - live)
            if _older_than(os.path.join(cdc_root, name), cutoff)
        ]

    # -- read API ------------------------------------------------------------

    def _scan(
        self,
        files: list[dict],
        schema: T.StructType,
        *,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """One parquet scan over ``files`` under ``schema``.

        ``mapping`` (logical → physical): files are read under their
        on-disk physical names and aliased back to the logical schema —
        how a rename costs zero data I/O."""
        if not files:
            # An empty LocalRelation built on the JVM side, not
            # ``createDataFrame([])``: that is a Python RDD, so every
            # action over it starts Python workers, and Catalyst cannot
            # see it is empty. This one folds at plan time: an anti-join
            # against it reduces to its left side, a union to the other
            # input.
            js = self.spark._jsparkSession
            return DataFrame(
                js.createDataFrame(
                    self.spark._jvm.java.util.ArrayList(),
                    js.parseDataType(schema.json()),
                ),
                self.spark,
            )
        data_root = os.path.abspath(os.path.join(self.path, DATA_DIR))
        mapping = {
            log: phys
            for log, phys in (mapping or {}).items()
            if log != phys
        }
        phys_schema = (
            T.StructType(
                [
                    T.StructField(
                        mapping.get(f.name, f.name), f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
            if mapping
            else schema
        )
        df = (
            self.spark.read.option("basePath", data_root)
            .schema(phys_schema)
            .parquet(*[os.path.join(data_root, f["path"]) for f in files])
        )
        if mapping:
            df = df.select(
                *[
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
        return df

    def version_at_timestamp(self, ts: float) -> int:
        """Largest committed version whose commit timestamp is <= ``ts``
        (epoch seconds) — Delta's ``timestampAsOf`` resolution rule.
        Raises if ``ts`` predates the table. Commit timestamps are
        monotone here (single log, atomic commits), so this is a scan
        of commit records only — no snapshot reconstruction."""
        best = None
        for v in self.versions():
            if self._load_commit(v)["timestamp"] <= ts:
                best = v
            else:
                break
        if best is None:
            raise ValueError(
                f"timestamp {ts} predates the first commit of {self.path}"
            )
        return best

    def read(
        self,
        version: int | None = None,
        *,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read (S3) / time travel (S4): ``version`` is
        Delta's ``versionAsOf``, ``timestamp`` (epoch seconds) is
        ``timestampAsOf`` — mutually exclusive."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            version = self.version_at_timestamp(timestamp)
        m = self._load_manifest(
            self.latest_version() if version is None else version
        )
        schema = _schema(m)
        return self._scan(
            m["files"], schema, mapping=m.get("column_mapping")
        )

    def read_partitions(
        self,
        partitions: list[dict[str, str]],
        version: int | None = None,
    ) -> DataFrame:
        """Manifest-level partition pruning: only the named partitions'
        files are even listed — the scan never sees the rest."""
        m = self._load_manifest(
            self.latest_version() if version is None else version
        )
        schema = _schema(m)
        wanted = {tuple(sorted(p.items())) for p in partitions}
        files = [
            f
            for f in m["files"]
            if tuple(sorted(f["partition"].items())) in wanted
        ]
        return self._scan(files, schema, mapping=m.get("column_mapping"))

    # -- data skipping -------------------------------------------------------

    def files_for(
        self,
        filters: "Sequence[tuple]",
        version: int | None = None,
    ) -> list[ManifestEntry]:
        """The live files that might satisfy ``filters`` — everything
        else is skipped at PLAN time from manifest metadata alone, before
        Spark ever lists a path (Delta data skipping / Zen of file
        pruning). ``filters`` is a conjunction of
        ``(col, op, value)`` with op in ``= < <= > >= in is_null
        not_null``. Pruning is conservative: a file survives unless its
        footer min/max (or partition value) PROVES no row can match;
        files with no stats for a column always survive.

        At 100 TB this is the difference between a query touching one
        day's files and listing the whole table: O(#files) manifest
        arithmetic on the driver, zero data I/O. (A table with millions
        of files would page the manifest into a parquet checkpoint —
        same trade Delta makes.)
        """
        m = self._load_manifest(
            self.latest_version() if version is None else version
        )
        pc = set(m["partition_cols"])
        # file stats are keyed by PHYSICAL column names (renames never
        # touch data files); partition columns cannot be renamed, so
        # partition-value matching stays on the logical name
        mapping = m.get("column_mapping") or {}
        out = []
        for f in m["files"]:
            e = _entry(f)
            if all(
                _file_may_match(e, mapping.get(c, c), op, v, c in pc)
                for c, op, v in filters
            ):
                out.append(e)
        return out

    def read_where(
        self,
        filters: "Sequence[tuple]",
        version: int | None = None,
    ) -> DataFrame:
        """Filtered snapshot read with manifest-level data skipping:
        only ``files_for(filters)`` enter the scan, and the same
        predicate is applied to the rows (pushed into the parquet
        reader by Catalyst), so results are exact whether or not
        pruning fired."""
        m = self._load_manifest(
            self.latest_version() if version is None else version
        )
        schema = _schema(m)
        keep = {e.path for e in self.files_for(filters, version)}
        df = self._scan(
            [f for f in m["files"] if f["path"] in keep],
            schema,
            mapping=m.get("column_mapping"),
        )
        for c, op, v in filters:
            df = df.filter(_filter_expr(c, op, v))
        return df

    # -- change data feed ----------------------------------------------------

    def table_changes(
        self,
        key_cols: "Sequence[str]",
        version_from: int | None = None,
        version_to: int | None = None,
        *,
        timestamp_from: float | None = None,
    ) -> DataFrame:
        """Row-level diff between two snapshots — the Delta change data
        feed (``table_changes``) analogue the reference's consumers
        would use for downstream incremental loads. Output = the
        ``version_to`` schema plus ``_change_type`` (``insert`` /
        ``delete`` / ``update_preimage`` / ``update_postimage``) and
        ``_commit_version``. ``timestamp_from`` (epoch seconds) is the
        ``startingTimestamp`` form and follows Delta CDF's resolution
        rule: the earliest commit at or after the timestamp is the
        first INCLUDED commit (a commit landing exactly at the
        timestamp is part of the feed). Raises if every commit
        precedes the timestamp, as Delta does.

        Scale: the two manifests are diffed FIRST — data files are
        immutable, so any row whose file is referenced by both versions
        is bit-identical in both and cannot be a change. Only files
        dropped or added between the versions are read; with
        partition-scoped copy-on-write that is the touched partitions,
        not the table. The remaining join keys on ``key_cols`` over
        just that changed slice.

        Precondition: ``key_cols`` is unique per row in each of the two
        snapshots. Pre and post rows pair by a full outer join on
        ``key_cols``, so rows of a key that repeats cross-pair into
        spurious updates. The exact per-commit feed is the change
        records each commit writes under ``_cdc/`` on a change-feed
        table (what the stream reader serves).
        """
        keys = list(key_cols)
        if (version_from is None) == (timestamp_from is None):
            raise ValueError("pass exactly one of version_from / timestamp_from")
        if timestamp_from is not None:
            # Delta CDF startingTimestamp: first INCLUDED commit is the
            # earliest one at-or-after ts, so the diff base (excluded)
            # is the version just below it.
            vs = self.versions()
            idx = None
            for i, v in enumerate(vs):
                if self._load_commit(v)["timestamp"] >= timestamp_from:
                    idx = i
                    break
            if idx is None:
                raise ValueError(
                    f"timestamp {timestamp_from} is after the last commit of "
                    f"{self.path}: no changes to feed (Delta CDF raises here)"
                )
            if idx == 0:
                raise ValueError(
                    f"timestamp {timestamp_from} predates the first retained "
                    f"commit of {self.path}: changes since table creation are "
                    "a full snapshot read, not a change feed — use read()"
                )
            version_from = vs[idx - 1]
        v_to = self.latest_version() if version_to is None else version_to
        m_from = self._load_manifest(version_from)
        m_to = self._load_manifest(v_to)
        schema = T.StructType.fromJson(json.loads(m_to["schema"]))

        fa = {f["path"] for f in m_from["files"]}
        fb = {f["path"] for f in m_to["files"]}
        pre_df = _align(
            self._read_paths(m_from, sorted(fa - fb), naming=m_to), schema
        )
        post_df = self._read_paths(m_to, sorted(fb - fa))
        cols = [f.name for f in schema.fields]
        nonkey = [c for c in cols if c not in keys]
        payload = (
            (lambda d: F.struct(*[d[c] for c in nonkey]))
            if nonkey
            else (lambda d: F.lit(0))
        )
        pre = pre_df.select(*keys, payload(pre_df).alias("_pre"))
        post = post_df.select(*keys, payload(post_df).alias("_post"))
        j = pre.join(post, on=keys, how="full_outer")
        inserted = j.filter(F.col("_pre").isNull() & F.col("_post").isNotNull())
        deleted = j.filter(F.col("_post").isNull() & F.col("_pre").isNotNull())
        updated = j.filter(
            F.col("_pre").isNotNull()
            & F.col("_post").isNotNull()
            & ~F.col("_pre").eqNullSafe(F.col("_post"))
        )

        def rows(frame: DataFrame, side: str, change: str) -> DataFrame:
            sel = (
                [
                    F.col(c) if c in keys else F.col(f"{side}.{c}").alias(c)
                    for c in cols
                ]
                if nonkey
                else [F.col(c) for c in cols]
            )
            return frame.select(
                *sel,
                F.lit(change).alias("_change_type"),
                F.lit(v_to).alias("_commit_version"),
            )

        return (
            rows(inserted, "_post", "insert")
            .unionByName(rows(deleted, "_pre", "delete"))
            .unionByName(rows(updated, "_pre", "update_preimage"))
            .unionByName(rows(updated, "_post", "update_postimage"))
        )

    def _read_paths(
        self,
        manifest: dict,
        rel_paths: list[str],
        naming: dict | None = None,
    ) -> DataFrame:
        """Read a path-subset of ``manifest``. ``naming`` (a manifest)
        overrides which version's schema and
        column mapping label the result: physical names are stable, so
        CDF can read an old snapshot's files under the new version's
        logical names after a rename."""
        nm = naming or manifest
        schema = T.StructType.fromJson(json.loads(nm["schema"]))
        wanted = set(rel_paths)
        return self._scan(
            [f for f in manifest["files"] if f["path"] in wanted],
            schema,
            mapping=nm.get("column_mapping"),
        )

    def partitions_of(self, version: int | None = None) -> list[dict[str, str]]:
        m = self._load_manifest(
            self.latest_version() if version is None else version
        )
        seen: dict[tuple, dict[str, str]] = {}
        for f in m["files"]:
            seen[tuple(sorted(f["partition"].items()))] = f["partition"]
        return list(seen.values())


def zorder_column(bounds: "dict[str, tuple]", bits: int = 8):
    """Morton (Z-order) curve value over numeric columns, as a pure
    built-in column expression (JVM whole-stage codegen, no UDF):
    each column is bucketed into ``2**bits`` equal-width bins between
    its ``(min, max)`` bounds via ``width_bucket``, then the bucket
    ids' bits are interleaved. Sorting by this value clusters rows so
    every file's min/max range is tight on ALL the columns at once —
    the layout behind ``OPTIMIZE ... ZORDER BY``.

    Numeric columns only (cast dates to epoch days / timestamps to
    epoch seconds first); null buckets as 0 (sorts first).
    """
    cols = list(bounds)
    if not cols:
        raise ValueError("zorder_column needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError("bits * n_cols must fit a signed 64-bit value")
    nb = 2 ** bits
    buckets = []
    for c, (mn, mx) in bounds.items():
        if mn is None or mx is None or float(mn) == float(mx):
            buckets.append(F.lit(0).cast("long"))
            continue
        b = (
            F.width_bucket(
                F.col(c).cast("double"),
                F.lit(float(mn)),
                F.lit(float(mx)),
                F.lit(nb),
            )
            - 1
        )
        b = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(nb - 1).cast("long"), F.coalesce(b, F.lit(0)).cast("long")),
        )
        buckets.append(b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ji, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(buckets) + ji)
    return z


def _range_may_match(mn, mx, op: str, v) -> bool:
    if op == "=":
        return mn <= v <= mx
    if op == "<":
        return mn < v
    if op == "<=":
        return mn <= v
    if op == ">":
        return mx > v
    if op == ">=":
        return mx >= v
    raise ValueError(f"unknown pruning op {op!r}")


def _file_may_match(
    e: ManifestEntry, col: str, op: str, value, is_partition_col: bool
) -> bool:
    """Conservative can-this-file-contain-a-match test for one
    conjunct. Any uncertainty (no stats, uncastable partition value,
    unorderable predicate value) keeps the file."""
    if is_partition_col and e.partition.get(col) is not None and op not in (
        "is_null",
        "not_null",
    ):
        pv: object = e.partition[col]
        try:
            if isinstance(value, bool):
                pv = pv.lower() == "true"
            elif isinstance(value, int):
                pv = int(pv)
            elif isinstance(value, float):
                pv = float(pv)
        except (TypeError, ValueError):
            return True
        if op == "in":
            return any(pv == x for x in value)
        return _range_may_match(pv, pv, op, value)
    st = (e.stats or {}).get(col)
    nulls = st.get("nulls") if st else None
    if op == "is_null":
        return st is None or nulls is None or nulls > 0
    if op == "not_null":
        if st is None or nulls is None or e.rows is None:
            return True
        return e.rows > nulls
    if st is None:
        return True
    if nulls is not None and e.rows is not None and nulls == e.rows:
        return False  # every row is NULL — no value predicate can match
    if st["min"] is None or st["max"] is None:
        return True
    if op == "in":
        vals = [_stat_key(x) for x in value]
        return any(
            x is not None and _range_may_match(st["min"], st["max"], "=", x)
            for x in vals
        ) or any(x is None for x in vals)
    v = _stat_key(value)
    if v is None:
        return True
    try:
        return _range_may_match(st["min"], st["max"], op, v)
    except TypeError:  # predicate/stat type mismatch — don't prune
        return True


def _matches(filters: "Sequence[tuple]"):
    """Every ``(col, op, value)`` filter holds; NULL counts as false."""
    pred = F.lit(True)
    for c, op, v in filters:
        pred = pred & _filter_expr(c, op, v)
    return F.coalesce(pred, F.lit(False))


def _filter_expr(col: str, op: str, value):
    c = F.col(col)
    if op == "=":
        return c == F.lit(value)
    if op == "<":
        return c < F.lit(value)
    if op == "<=":
        return c <= F.lit(value)
    if op == ">":
        return c > F.lit(value)
    if op == ">=":
        return c >= F.lit(value)
    if op == "in":
        return c.isin(list(value))
    if op == "is_null":
        return c.isNull()
    if op == "not_null":
        return c.isNotNull()
    raise ValueError(f"unknown filter op {op!r}")


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto the table schema: missing columns become NULL,
    order normalized (positional parquet safety)."""
    cols = []
    names = set(df.columns)
    for f in schema.fields:
        if f.name in names:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)

"""Write-side Delta Lake interop — no delta-spark required.

The reader (``sources/delta_reader.py``) lets a user bring their
existing Delta tables IN; this module lets them take results OUT as a
real Delta table any Delta reader (delta-spark, Trino, DuckDB's delta
extension, our own reader) can consume. Same public protocol
(github.com/delta-io/delta PROTOCOL.md), writer side: per-commit
newline-delimited JSON with ``commitInfo`` / ``protocol`` /
``metaData`` / ``add`` / ``remove`` actions; data files are plain
partitioned parquet in the table root.

Conservative writer: protocol (1, 2), no advanced writer features —
the widest-compatibility subset (every Delta reader since 2019 reads
protocol (1, 2) tables). Partition values are string-encoded per the
protocol (readers re-type them from ``schemaString``); per-file
``stats`` carry ``numRecords`` so downstream readers can answer
metadata-only counts.

All filesystem access goes through the Hadoop FileSystem shim
(``sources/fsio.py``): staging, listing, the commit publish — so the
writer targets ``file:``/HDFS/``s3a://``/``abfss://`` paths alike.
Commits are atomically published with ``fsio.put_if_absent``: the
``os.link`` pattern on local filesystems, namenode-arbitrated
``create(overwrite=false)`` on HDFS, and on object stores the
documented conditional-PUT story (see ``fsio.py`` module docstring) —
the same storage-layer contract Delta proper requires.

Scale: the commit is O(files touched) driver-side JSON — identical to
the vtable manifest trade; the data write is a normal distributed
partitioned-parquet job.
"""

from __future__ import annotations

import io
import json
import os
import tempfile
import uuid
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame

from delta_lake_pyspark_scd2_spark.sources import fsio
from delta_lake_pyspark_scd2_spark.sources.delta_reader import (
    LOG_DIR,
    DeltaTableReader,
)

_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _commit_path(table_path: str, version: int) -> str:
    return fsio.join(table_path, LOG_DIR, f"{version:020d}.json")


def _write_commit(
    fs, table_path: str, version: int, actions: list[dict]
) -> None:
    fs.mkdirs(fsio.join(table_path, LOG_DIR))
    payload = "".join(json.dumps(a) + "\n" for a in actions).encode("utf-8")
    try:
        fs.put_if_absent(_commit_path(table_path, version), payload)
    except FileExistsError:
        raise RuntimeError(
            f"delta commit collision at version {version} of {table_path}"
        ) from None


def _num_records(fs, path: str) -> int:
    """numRecords from the parquet footer. Local files use pyarrow's
    footer-only read; remote files are fetched through the shim (one
    extra read of a file this writer just produced — acceptable for a
    commit-time stat; a connector-native footer range-read is the
    optimization if it ever shows up in a profile)."""
    import pyarrow.parquet as pq

    lp = fsio.local_path(path)
    if lp is not None:
        return pq.ParquetFile(lp).metadata.num_rows
    return pq.ParquetFile(io.BytesIO(fs.read_bytes(path))).metadata.num_rows


def _stage_files(
    df: DataFrame, table_path: str, partition_cols: list[str], fs
) -> list[dict]:
    """Write ``df``'s parquet files into the table root (partition
    subdirs per the Delta layout) and return their add-action facts."""
    stage = fsio.join(table_path, f"_delta_stage_{uuid.uuid4().hex}")
    try:
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        root = fsio.join(stage, "out")
        w.parquet(root)
        adds: list[dict] = []
        for rel in fs.walk_files(root):
            name = rel.rsplit("/", 1)[-1]
            if not name.endswith(".parquet"):
                continue
            rel_dir = rel.rsplit("/", 1)[0] if "/" in rel else ""
            # partitionValues from the hive-style path (Spark
            # URL-encodes special chars; __HIVE_DEFAULT_PARTITION__
            # encodes NULL per the shared convention)
            pvals: dict[str, str | None] = {}
            for part in rel_dir.split("/") if rel_dir else []:
                k, _, v = part.partition("=")
                # Spark Hive-escapes special chars in dir names with
                # %xx — partitionValues carry the LOGICAL value, so
                # unescape here
                pvals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
            dest_dir = (
                fsio.join(table_path, rel_dir) if rel_dir else table_path
            )
            fs.mkdirs(dest_dir)
            fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
            dest = fsio.join(dest_dir, fname)
            fs.rename(fsio.join(root, rel), dest)
            rel_path = f"{rel_dir}/{fname}" if rel_dir else fname
            adds.append(
                {
                    "add": {
                        "path": quote(rel_path, safe="/=-"),
                        "partitionValues": pvals,
                        "size": fs.size(dest),
                        "modificationTime": fs.mtime_ms(dest),
                        "dataChange": True,
                        "stats": json.dumps(
                            {"numRecords": _num_records(fs, dest)}
                        ),
                    }
                }
            )
        return adds
    finally:
        fs.delete(stage, recursive=True)


def _metadata_action(schema_json: str, partition_cols: list[str]) -> dict:
    return {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            # Delta schemaString IS Spark's StructType JSON
            "schemaString": schema_json,
            "partitionColumns": list(partition_cols),
            "configuration": {},
            "createdTime": 0,
        }
    }


def _commit_info(op: str) -> dict:
    return {
        "commitInfo": {
            "operation": op,
            "engineInfo": "delta_lake_pyspark_scd2_spark delta_writer",
        }
    }


def write_delta(
    frame: DataFrame,
    path: str,
    *,
    partition_cols: list[str] | None = None,
    mode: str = "create",
) -> int:
    """Write ``frame`` to ``path`` as a Delta table; returns the
    committed version.

    ``mode``: ``create`` (fail if the table exists), ``append`` (new
    commit adding files), ``overwrite`` (new commit removing every
    live file and adding the new ones — time travel to older versions
    still works).
    """
    pc = list(partition_cols or [])
    fs = fsio.get_fs(path, frame.sparkSession)
    fs.mkdirs(path)
    exists = DeltaTableReader.is_delta_table(path)
    if mode == "create":
        if exists:
            raise FileExistsError(f"delta table already exists at {path}")
        adds = _stage_files(frame, path, pc, fs)
        _write_commit(
            fs,
            path,
            0,
            [
                _commit_info("WRITE"),
                _PROTOCOL,
                _metadata_action(frame.schema.json(), pc),
                *adds,
            ],
        )
        return 0
    if not exists:
        raise FileNotFoundError(f"no delta table at {path}")
    reader = DeltaTableReader(frame.sparkSession, path)
    snap = reader.snapshot()
    if [f.name for f in snap.schema.fields] != frame.columns:
        raise ValueError(
            f"schema mismatch: table has {[f.name for f in snap.schema.fields]}, "
            f"df has {frame.columns}"
        )
    version = snap.version + 1
    if mode == "append":
        adds = _stage_files(frame, path, pc or snap.partition_columns, fs)
        _write_commit(fs, path, version, [_commit_info("WRITE"), *adds])
        return version
    if mode == "overwrite":
        removes = [
            {"remove": {"path": p, "dataChange": True}} for p in snap.files
        ]
        adds = _stage_files(frame, path, pc or snap.partition_columns, fs)
        _write_commit(
            fs, path, version, [_commit_info("OVERWRITE"), *removes, *adds]
        )
        return version
    raise ValueError(f"unknown mode {mode!r}")


def export_vtable_as_delta(table, dest: str) -> int:
    """Export a ``VersionedParquetTable``'s CURRENT snapshot as a new
    Delta table at protocol (1,2).

    Data files are byte-copied under their relative layout (vtable's
    hive-style partition dirs ARE Delta's layout): O(data bytes
    copied), no Spark job. A column-mapped table's files hold physical
    column names that differ from its logical schema, so it is instead
    re-written through a read with :func:`write_delta`.
    """
    m = table._current()
    if m.get("column_mapping"):
        return write_delta(
            table.read(), dest, partition_cols=list(m["partition_cols"]),
            mode="create",
        )

    from delta_lake_pyspark_scd2_spark.sources.vtable import DATA_DIR

    fs = fsio.get_fs(dest, table.spark)
    if fs.exists(fsio.join(dest, LOG_DIR)):
        raise FileExistsError(f"Delta table already exists at {dest}")
    src_fs = fsio.get_fs(table.path, table.spark)

    def _copy(src: str, dst: str) -> None:
        lp = fsio.local_path(src)
        if lp is not None:
            fs.put_file(lp, dst)
            return
        with tempfile.NamedTemporaryFile(delete=False) as tmp:
            tmp.write(src_fs.read_bytes(src))
            name = tmp.name
        try:
            fs.put_file(name, dst)
        finally:
            os.unlink(name)

    adds: list[dict] = []
    for f in m["files"]:
        rel = f["path"]
        dst = fsio.join(dest, rel)
        fs.mkdirs(fsio.join(dest, rel.rsplit("/", 1)[0]) if "/" in rel else dest)
        _copy(fsio.join(table.path, DATA_DIR, rel), dst)
        adds.append(
            {
                "add": {
                    "path": quote(rel, safe="/=-"),
                    "partitionValues": dict(f.get("partition") or {}),
                    "size": fs.size(dst),
                    "modificationTime": fs.mtime_ms(dst),
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": int(f.get("rows") or 0)}),
                }
            }
        )
    _write_commit(
        fs,
        dest,
        0,
        [
            _commit_info("EXPORT_VTABLE"),
            _PROTOCOL,
            _metadata_action(m["schema"], m["partition_cols"]),
            *adds,
        ],
    )
    return 0


def write_checkpoint(path: str) -> int:
    """Write a Delta parquet checkpoint of the latest version (+
    ``_last_checkpoint`` pointer); returns the checkpointed version.

    The checkpoint carries the RAW latest ``protocol`` / ``metaData``
    actions and the latest ``add`` action of every live file, verbatim
    from the log (sizes/stats preserved — spec-faithful, not a lossy
    re-derivation), one action per row with null other columns, as
    readers expect. After a checkpoint, older JSON commits are
    replay-redundant and can be dropped with :func:`clean_log`.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs = fsio.get_fs(path)
    log = fsio.join(path, LOG_DIR)
    names = fs.list_names(log)
    versions = sorted(
        int(f[:20]) for f in names if f.endswith(".json") and f[:20].isdigit()
    )
    if not versions:
        raise FileNotFoundError(f"no delta log at {path}")
    latest = versions[-1]
    protocol = metadata = None
    live: dict[str, dict] = {}
    # replay from an existing checkpoint if the early commits are gone
    cps = sorted(
        int(f[:20])
        for f in names
        if f.endswith(".checkpoint.parquet") and f[:20].isdigit()
    )
    start = 0
    if cps and (versions[0] > 0 or cps[-1] >= versions[0]):
        cp_rows = pq.read_table(
            io.BytesIO(
                fs.read_bytes(
                    fsio.join(log, f"{cps[-1]:020d}.checkpoint.parquet")
                )
            )
        ).to_pylist()
        for row in cp_rows:
            a = {k: v for k, v in row.items() if v is not None}
            if "protocol" in a:
                protocol = a["protocol"]
            elif "metaData" in a:
                metadata = a["metaData"]
            elif "add" in a:
                add = dict(a["add"])
                if not isinstance(add.get("partitionValues"), dict):
                    add["partitionValues"] = dict(add.get("partitionValues") or {})
                live[add["path"]] = add
        start = cps[-1] + 1
    for v in range(start, latest + 1):
        for line in fs.read_text(_commit_path(path, v)).splitlines():
            line = line.strip()
            if not line:
                continue
            a = json.loads(line)
            if "protocol" in a:
                protocol = a["protocol"]
            elif "metaData" in a:
                metadata = a["metaData"]
            elif "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
    if protocol is None or metadata is None:
        raise ValueError(f"log at {path} has no protocol/metaData action")

    def _scrub(obj):
        # empty dicts infer as zero-field structs, which parquet cannot
        # write; readers treat absent and empty alike, so drop them
        if isinstance(obj, dict):
            return {
                k: _scrub(v)
                for k, v in obj.items()
                if not (isinstance(v, dict) and not v)
            }
        return obj

    protocol, metadata = _scrub(protocol), _scrub(metadata)
    live = {p: _scrub(a) for p, a in live.items()}
    # one action per row, ALL columns present (pyarrow infers the
    # unified schema across rows only when every row carries every key)
    rows = (
        [
            {"protocol": protocol, "metaData": None, "add": None},
            {"protocol": None, "metaData": metadata, "add": None},
        ]
        + [
            {"protocol": None, "metaData": None, "add": add}
            for add in live.values()
        ]
    )
    tbl = pa.Table.from_pylist(rows)
    fd, tmp = tempfile.mkstemp(suffix=".checkpoint.parquet")
    os.close(fd)
    try:
        pq.write_table(tbl, tmp)
        fs.put_file(tmp, fsio.join(log, f"{latest:020d}.checkpoint.parquet"))
    finally:
        os.unlink(tmp)
    fs.write_text(
        fsio.join(log, "_last_checkpoint"),
        json.dumps({"version": latest, "size": len(rows)}),
    )
    return latest


def clean_log(path: str, *, keep_from: int | None = None) -> int:
    """Delete JSON commits made redundant by the newest checkpoint
    (Delta's metadata log cleanup); returns how many were removed.
    Commits AT or AFTER the checkpoint (or ``keep_from``) are kept —
    time travel to older versions becomes unavailable, exactly as in
    Delta after ``delta.logRetentionDuration`` expiry."""
    fs = fsio.get_fs(path)
    log = fsio.join(path, LOG_DIR)
    names = fs.list_names(log)
    cps = [
        int(f[:20])
        for f in names
        if f.endswith(".checkpoint.parquet") and f[:20].isdigit()
    ]
    if not cps:
        return 0
    cutoff = max(cps) if keep_from is None else keep_from
    n = 0
    for f in sorted(names):
        if f.endswith(".json") and f[:20].isdigit() and int(f[:20]) < cutoff:
            fs.delete(fsio.join(log, f))
            n += 1
    return n

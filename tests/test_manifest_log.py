"""Incremental manifest log: commits are O(touched files) delta
records, periodic checkpoints bound snapshot replay, and vacuum keeps
the log reconstructible. This is the Delta-style checkpoint +
incremental-log split that keeps commit metadata from becoming the
bottleneck at millions of files (vtable.py module docstring)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import (
    CHECKPOINT_INTERVAL,
    VersionedParquetTable,
)


def _batch(spark, lo, n=10):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).coalesce(1)


def test_commit_size_flat_as_table_grows(spark, tmp_path):
    """25 single-file appends: every delta commit lists exactly one
    added file regardless of how many live files the table holds —
    commit metadata cost ∝ operation, not table size."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    sizes = []
    for i in range(1, 26):
        t.append(_batch(spark, i * 10))
        raw = json.load(open(t._manifest_path(i)))
        assert len(raw["add"]) == 1 and raw["remove"] == []
        assert raw["num_files"] == i + 1
        sizes.append(os.path.getsize(t._manifest_path(i)))
    # flat: the 25th commit is no bigger than ~2x the 1st (schema noise),
    # while a full-list manifest would have grown ~25x
    assert sizes[-1] < 2 * sizes[0]
    # checkpoints exist exactly at the interval versions
    assert t._checkpoint_versions() == [
        v for v in range(1, 26) if v % CHECKPOINT_INTERVAL == 0
    ]
    # reconstruction is correct at every version (time travel intact)
    for v in (0, 1, CHECKPOINT_INTERVAL - 1, CHECKPOINT_INTERVAL,
              CHECKPOINT_INTERVAL + 3, 25):
        assert t.read(v).count() == (v + 1) * 10
    # a fresh instance (cold cache) agrees
    t2 = VersionedParquetTable(spark, path)
    assert t2.read().count() == 260
    assert t2.read(7).count() == 80


def test_replace_partitions_commit_lists_only_touched(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("p"), F.col("id").alias("val")
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["p"])
    repl = spark.range(10).select(
        F.col("id"), F.lit(1).alias("p"), (F.col("id") + 1000).alias("val")
    )
    t.replace_partitions(repl, [{"p": "1"}])
    raw = json.load(open(t._manifest_path(1)))
    # only partition p=1's files churn; p=0,2,3 are carried silently
    assert all(e["partition"] == {"p": "1"} for e in raw["add"])
    assert all("p=1/" in p for p in raw["remove"])
    assert t.read().filter("p = 1").agg(F.min("val")).first()[0] == 1000
    assert t.read().filter("p != 1").count() == 75


def test_vacuum_checkpoints_oldest_kept_version(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, 6):
        t.append(_batch(spark, i * 10))
    # drop v0-v3 (all below any checkpoint); v4 must stay readable
    out = t.vacuum(keep_versions=2)
    assert out["oldest_kept_version"] == 4
    t2 = VersionedParquetTable(spark, path)  # cold cache
    assert t2.read(4).count() == 50
    assert t2.read(5).count() == 60
    with pytest.raises(FileNotFoundError):
        t2.read(0)
    # dropped versions' data files are gone, kept ones remain
    assert t2.detail()["num_files"] == 6


def test_old_format_full_manifest_still_reads(spark, tmp_path):
    """A pre-split manifest carrying a full ``files`` list is read as a
    self-checkpoint; later commits on top of it are deltas."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.append(_batch(spark, 10))
    # rewrite v1 on disk into the old full-list format
    m1 = t._load_manifest(1)
    raw = json.load(open(t._manifest_path(1)))
    old = {k: v for k, v in raw.items() if k not in ("add", "remove", "num_files")}
    old["files"] = m1["files"]
    os.remove(t._manifest_path(1))
    with open(t._manifest_path(1), "w") as fh:
        json.dump(old, fh)
    t2 = VersionedParquetTable(spark, path)
    assert t2.read(1).count() == 20
    t2.append(_batch(spark, 20))
    assert "add" in json.load(open(t2._manifest_path(2)))
    assert t2.read().count() == 30
    assert [h["num_files"] for h in t2.history()] == [3, 2, 1]


def test_restore_and_history_over_delta_log(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, 13):  # crosses a checkpoint boundary
        t.append(_batch(spark, i * 10))
    v = t.restore(3)
    assert v == 13
    assert t.read().count() == 40
    h = t.history()
    assert h[0]["operation"] == "RESTORE" and h[0]["num_files"] == 4


def test_parquet_checkpoint_roundtrip_and_legacy_json(spark, tmp_path):
    """Checkpoints are parquet (columnar, zstd — no giant JSON parse at
    millions of files); legacy .ckpt.json checkpoints still replay."""
    import json as _json

    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, CHECKPOINT_INTERVAL + 2):
        t.append(_batch(spark, i * 10))
    ck = t._ckpt_file(CHECKPOINT_INTERVAL)
    assert ck is not None and ck.endswith(".ckpt.parquet")
    # fresh handle reconstructs through the parquet checkpoint
    t2 = VersionedParquetTable(spark, path)
    assert t2.read(CHECKPOINT_INTERVAL).count() == 10 * (CHECKPOINT_INTERVAL + 1)
    assert t2.read().count() == 10 * (CHECKPOINT_INTERVAL + 2)

    # legacy JSON checkpoint: replace the parquet one with old format
    files = t2._snapshot_files(CHECKPOINT_INTERVAL)
    os.remove(ck)
    legacy = os.path.join(
        path, "_manifest", f"v{CHECKPOINT_INTERVAL:010d}.ckpt.json"
    )
    with open(legacy, "w") as fh:
        _json.dump({"version": CHECKPOINT_INTERVAL, "files": files}, fh)
    t3 = VersionedParquetTable(spark, path)
    assert t3.read(CHECKPOINT_INTERVAL).count() == 10 * (CHECKPOINT_INTERVAL + 1)
    assert t3.read().count() == 10 * (CHECKPOINT_INTERVAL + 2)


def test_partitioned_append_writes_one_file_per_partition(spark, tmp_path):
    """A many-task append into a partitioned table lands ~one file per
    touched partition, not tasks x partitions: _write_files rebalances
    on the partition columns ahead of the partitionBy write (the
    small-file hazard the reference's partitioning_strategies.md:27
    flags). Source df is forced to 8 upstream partitions; without the
    rebalance each of the 8 tasks would emit a file into each of the 4
    value-partitions (up to 32 files)."""
    path = str(tmp_path / "t")
    base = (
        spark.range(0, 4000)
        .repartition(8)
        .select(F.col("id"), (F.col("id") % 4).cast("string").alias("p"))
    )
    t = VersionedParquetTable.create(spark, base, path, partition_cols=["p"])
    raw = json.load(open(t._manifest_path(0)))
    assert len(raw["add"]) == 4, [f["path"] for f in raw["add"]]
    t.append(base)
    raw1 = json.load(open(t._manifest_path(1)))
    assert len(raw1["add"]) == 4
    assert t.read().count() == 8000


def _refused(spark, t, tmp_path):
    """Every reader of ``t``'s head refuses it, naming the table."""
    import re

    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        VTableChangesDataSource,
    )

    named = re.escape(t.path) + r" v\d+: file \S+ carries a deletion vector"
    with pytest.raises(ValueError, match=named):
        t.read()
    with pytest.raises(ValueError, match=named):
        t.read_where([("id", ">=", 0)])
    with pytest.raises(ValueError, match=named):
        t.table_changes(["id"], 0)
    spark.dataSource.register(VTableChangesDataSource)
    q = (
        spark.readStream.format("vtable_changes")
        .option("path", t.path)
        .load()
        .writeStream.foreachBatch(lambda df, n: df.collect())
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match=named):
        q.awaitTermination()


def test_deletion_vector_records_fail_loud(spark, tmp_path):
    """A table whose log still references a deletion vector (written by
    a release that had them) is refused by every reader — read,
    read_where, table_changes and the change stream — instead of
    returning the rows the vector marks deleted. The record is found
    in a commit's ``add`` and in a parquet checkpoint's ``dv`` column;
    a checkpoint whose ``dv`` column is all null still reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dv = json.dumps({"paths": ["dv-0"], "count": 1})

    # a commit record
    t = VersionedParquetTable.create(spark, _batch(spark, 0), str(tmp_path / "c"))
    t.append(_batch(spark, 10))
    raw = json.load(open(t._manifest_path(1)))
    raw["add"][0]["dv"] = json.loads(dv)
    with open(t._manifest_path(1), "w") as fh:
        json.dump(raw, fh)
    t = VersionedParquetTable(spark, t.path)
    assert t.read(0).count() == 10  # versions without it still read
    _refused(spark, t, tmp_path / "c_stream")

    # a checkpoint, in the layout that carried a dv column
    t = VersionedParquetTable.create(spark, _batch(spark, 0), str(tmp_path / "k"))
    t.append(_batch(spark, 10))
    files = t._snapshot_files(1)

    def checkpoint(dvs):
        pq.write_table(
            pa.table(
                {
                    "path": [f["path"] for f in files],
                    "partition": [json.dumps(f["partition"]) for f in files],
                    "stats": [json.dumps(f["stats"]) for f in files],
                    "rows": pa.array([f["rows"] for f in files], pa.int64()),
                    "dv": pa.array(dvs, pa.string()),
                }
            ),
            t._ckpt_path(1),
        )

    checkpoint([None] * len(files))
    assert VersionedParquetTable(spark, t.path).read().count() == 20
    checkpoint([dv] + [None] * (len(files) - 1))
    _refused(spark, VersionedParquetTable(spark, t.path), tmp_path / "k_stream")


def _vacuum_targets(path):
    """Data files (relative to ``data/``), staging dirs and change-data
    dirs on disk."""
    data = os.path.join(path, "data")
    cdc = os.path.join(path, "_cdc")
    return (
        {
            os.path.relpath(os.path.join(r, n), data)
            for r, _, ns in os.walk(data)
            for n in ns
        },
        {n for n in os.listdir(path) if n.startswith("_staging-")},
        set(os.listdir(cdc)) if os.path.isdir(cdc) else set(),
    )


def test_vacuum_dry_run_is_the_plan_the_real_run_carries_out(spark, tmp_path):
    """A dry run's ``paths`` and ``orphan_paths`` are exactly what the
    next real run removes, and its ``n_cdc`` the change-data dirs it
    removes — inside the orphan grace window and past it."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0), path,
        properties={"enableChangeDataFeed": "true"},
    )
    t.delete([("id", "<", 3)])         # v1: a change-data dir
    t.overwrite(_batch(spark, 100))    # v2: retires every earlier file
    orphan = os.path.join(path, "data", "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    os.makedirs(os.path.join(path, "_staging-orphan"))

    for grace in (3600.0, 0.0):
        plan = t.vacuum(keep_versions=1, dry_run=True, orphan_grace_s=grace)
        files, staging, cdc = _vacuum_targets(path)
        out = t.vacuum(keep_versions=1, orphan_grace_s=grace)
        files2, staging2, cdc2 = _vacuum_targets(path)
        orphans = [p for p in plan["orphan_paths"] if not p.startswith("_staging-")]
        assert sorted(files - files2) == sorted(plan["paths"] + orphans)
        assert sorted(staging - staging2) == sorted(
            p for p in plan["orphan_paths"] if p.startswith("_staging-")
        )
        assert len(cdc - cdc2) == plan["n_cdc"] == out["n_cdc_deleted"]
        assert out["n_files_deleted"] == plan["n_data_files"]
        assert out["n_orphans_deleted"] == plan["n_orphans"]
        if grace:  # young orphans are spared by both
            assert plan["paths"] and plan["orphan_paths"] == []
            assert plan["n_cdc"] == 0 and os.path.exists(orphan)
        else:
            assert plan["paths"] == [] and plan["n_cdc"] == 1
            assert sorted(plan["orphan_paths"]) == [
                "_staging-orphan", "part-orphan.parquet"
            ]
    assert t.read().count() == 10

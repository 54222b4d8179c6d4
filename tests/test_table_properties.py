"""Table properties (TBLPROPERTIES analogue) and autoCompact: streaming
appends never accumulate a small-file problem; compaction cost scales
with the append's touched partitions, not the table."""

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _batch(spark, lo, part, n=5):
    return spark.createDataFrame(
        [(lo + i, part, (lo + i) * 2) for i in range(n)],
        "id long, part string, val long",
    ).coalesce(1)


def test_set_unset_property_roundtrip(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t")
    )
    t.set_property("autoCompact", "true")
    t.set_property("autoCompact.minFiles", "4")
    assert t.properties() == {"autoCompact": "true", "autoCompact.minFiles": "4"}
    assert t.detail()["properties"]["autoCompact"] == "true"
    t.unset_property("autoCompact.minFiles")
    assert t.properties() == {"autoCompact": "true"}
    with pytest.raises(KeyError):
        t.unset_property("nope")
    # properties survive unrelated commits
    t.append(_batch(spark, 100, "a"))
    assert t.properties(version=None).get("autoCompact") == "true"


def test_auto_compact_bounds_file_count(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t"),
        partition_cols=["part"],
    )
    t.set_property("autoCompact", "true")
    t.set_property("autoCompact.minFiles", "4")
    for i in range(1, 10):
        t.append(_batch(spark, i * 10, "a"))
        n_files = len(t._current()["files"])
        assert n_files < 4, f"append {i}: {n_files} files accumulated"
    assert t.read().count() == 50
    assert "COMPACT" in [h["operation"] for h in t.history()]


def test_auto_compact_only_touches_appended_partition(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t"),
        partition_cols=["part"],
    )
    # partition b accumulates 5 small files BEFORE autoCompact is on
    for i in range(5):
        t.append(_batch(spark, 100 + i * 10, "b"))
    b_files = {
        f["path"] for f in t._current()["files"] if f["partition"]["part"] == "b"
    }
    assert len(b_files) == 5
    t.set_property("autoCompact", "true")
    t.set_property("autoCompact.minFiles", "4")
    # appends to partition a never trigger a rewrite of partition b
    for i in range(1, 6):
        t.append(_batch(spark, i * 10, "a"))
    after = {
        f["path"] for f in t._current()["files"] if f["partition"]["part"] == "b"
    }
    assert after == b_files  # untouched partition carried by reference
    a_files = [
        f for f in t._current()["files"] if f["partition"]["part"] == "a"
    ]
    assert len(a_files) < 4


def test_auto_compact_off_accumulates(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t")
    )
    for i in range(1, 6):
        t.append(_batch(spark, i * 10, "a"))
    assert len(t._current()["files"]) == 6  # no property, no compaction


def test_upsert_sync_deletes_mirrors_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: the table becomes an
    exact mirror of the source snapshot."""
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "id long, part string, val long",
        ),
        str(tmp_path / "t"),
        partition_cols=["part"],
    )
    src = spark.createDataFrame(
        [(1, "a", 11), (4, "b", 40)], "id long, part string, val long"
    )
    out = t.upsert(src, ["id"], sync_deletes=True)
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    assert got == {(1, 11), (4, 40)}
    assert out["n_deleted"] == 2  # ids 2 and 3 vanished from source
    assert out["n_updated"] == 1 and out["n_inserted"] == 1
    with pytest.raises(ValueError, match="not both"):
        t.upsert(src, ["id"], deletes=src.select("id"), sync_deletes=True)


def test_zorder_scoped_to_partitions(spark, tmp_path):
    """OPTIMIZE ... WHERE analogue: z-order rewrite of only the named
    partitions; the rest are carried by reference."""
    rows = [(i, "a" if i < 50 else "b", i % 10, i // 10) for i in range(100)]
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame(rows, "id long, part string, x long, y long"),
        str(tmp_path / "t"),
        partition_cols=["part"],
    )
    b_files = {
        f["path"] for f in t._current()["files"] if f["partition"]["part"] == "b"
    }
    t.compact(zorder_by=["x", "y"], only_partitions=[{"part": "a"}])
    m = t._current()
    after_b = {f["path"] for f in m["files"] if f["partition"]["part"] == "b"}
    assert after_b == b_files  # partition b untouched
    assert t.read().count() == 100
    assert [h["operation"] for h in t.history()][0] == "ZORDER"


def _race_once(t, rival_fn):
    """Make t's next _commit lose one version race to rival_fn()."""
    orig = t._commit
    state = {"done": False}

    def racing(version, files, schema, pc, op, *a, **kw):
        if not state["done"]:
            state["done"] = True
            rival_fn()
        return orig(version, files, schema, pc, op, *a, **kw)

    t._commit = racing
    return orig


def test_replace_partitions_rebases_over_disjoint_commit(spark, tmp_path):
    """Two writers rewriting DIFFERENT partitions both land (Delta's
    partition-level logical conflict rule)."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a").unionByName(_batch(spark, 100, "b")),
        path, partition_cols=["part"],
    )

    def rival():
        VersionedParquetTable(spark, path).replace_partitions(
            _batch(spark, 500, "b"), [{"part": "b"}]
        )

    orig = _race_once(t, rival)
    t.replace_partitions(_batch(spark, 900, "a"), [{"part": "a"}])
    t._commit = orig
    got = {r["id"] for r in t.read().collect()}
    assert got == set(range(900, 905)) | set(range(500, 505))
    assert t.latest_version() == 2  # both rewrites committed


def test_replace_partitions_conflicts_on_overlap(spark, tmp_path):
    """Two writers rewriting the SAME partition: the loser gets a hard
    conflict instead of silently clobbering the winner's result."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), path, partition_cols=["part"]
    )

    def rival():
        VersionedParquetTable(spark, path).replace_partitions(
            _batch(spark, 500, "a"), [{"part": "a"}]
        )

    orig = _race_once(t, rival)
    with pytest.raises(RuntimeError, match="same partition"):
        t.replace_partitions(_batch(spark, 900, "a"), [{"part": "a"}])
    t._commit = orig
    # the winner's rewrite survives intact
    assert {r["id"] for r in t.read().collect()} == set(range(500, 505))


def test_concurrent_scd2_merges_different_days_both_land(spark, tmp_path):
    """The end-to-end payoff: two SCD2 merges whose version rows live in
    different day partitions commit concurrently — backfill one day
    while ingesting another."""
    import datetime

    from delta_lake_pyspark_scd2_spark.pipeline.scd2_pipeline import (
        SCD2Spec,
        run_scd2_batch,
    )

    spec = SCD2Spec(
        key_cols=("k",), event_ts_col="ts", tracked_cols=("v",),
        tiebreak_cols=("k",),
    )
    path = str(tmp_path / "scd2")

    def ev(k, ts, v):
        return (k, datetime.datetime.fromisoformat(ts), v)

    schema = "k string, ts timestamp, v string"
    run_scd2_batch(
        spark, spec,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "a1"),
                               ev("B", "2023-02-05T10:00:00", "b1")], schema),
        path, batch_id="seed",
    )
    t = VersionedParquetTable(spark, path)
    # rival: merge for key B (February partition) wins the race against
    # our merge for key A (January partition)
    day2 = spark.createDataFrame([ev("B", "2023-02-06T09:00:00", "b2")], schema)

    def rival():
        run_scd2_batch(spark, spec, day2, path, batch_id="feb")

    # race the January merge's commit against the whole February
    # merge; the rebase logic must let both land
    day1 = spark.createDataFrame([ev("A", "2023-01-22T09:00:00", "a2")], schema)
    raced = {"done": False}
    orig_commit = VersionedParquetTable._commit

    def racing(self, version, files, schema_, pc, op, *a, **kw):
        if not raced["done"] and op == "SCD2_MERGE" and self.path == path:
            raced["done"] = True
            rival()
        return orig_commit(self, version, files, schema_, pc, op, *a, **kw)

    VersionedParquetTable._commit = racing
    try:
        run_scd2_batch(spark, spec, day1, path, batch_id="jan")
    finally:
        VersionedParquetTable._commit = orig_commit
    rows = {(r["k"], r["v"], r["is_current"]) for r in t.read().collect()}
    assert ("A", "a2", True) in rows and ("B", "b2", True) in rows
    assert ("A", "a1", False) in rows and ("B", "b1", False) in rows


def test_create_with_properties_and_register_view(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t"),
        properties={"autoCompact": "true", "autoCompact.minFiles": 4},
    )
    assert t.properties() == {"autoCompact": "true", "autoCompact.minFiles": "4"}
    for i in range(1, 8):
        t.append(_batch(spark, i * 10, "a"))
    assert len(t._current()["files"]) < 4  # property active from creation
    t.register_view("props_t")
    assert spark.sql("SELECT COUNT(*) AS n FROM props_t").collect()[0]["n"] == 40
    t.register_view("props_t0", version=0)
    assert spark.sql("SELECT COUNT(*) AS n FROM props_t0").collect()[0]["n"] == 5


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    import os

    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t")
    )
    t.overwrite(_batch(spark, 10, "a"))  # v0's file becomes retirable
    report = t.vacuum(keep_versions=1, dry_run=True)
    assert report["dry_run"] and report["n_data_files"] >= 1
    data_root = os.path.join(t.path, "data")
    for p in report["paths"]:
        assert os.path.exists(os.path.join(data_root, p))  # nothing deleted
    assert t.read(0).count() == 5  # old version still readable
    real = t.vacuum(keep_versions=1)
    for p in report["paths"]:
        assert not os.path.exists(os.path.join(data_root, p))


def test_vacuum_sweeps_orphans_with_grace(spark, tmp_path):
    """Files no manifest references (crashed writes, lost txn races)
    are swept — but only past the grace window, so in-flight writes
    are safe."""
    import os
    import time as _time

    t = VersionedParquetTable.create(
        spark, _batch(spark, 0, "a"), str(tmp_path / "t")
    )
    data_root = os.path.join(t.path, "data")
    orphan = os.path.join(data_root, "part-orphan-deadbeef.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    staging = os.path.join(t.path, "_staging-deadbeef")
    os.makedirs(staging)
    # young orphan survives the default grace
    out = t.vacuum(keep_versions=1)
    assert out["n_orphans_deleted"] == 0 and os.path.exists(orphan)
    # aged orphan is swept with grace 0
    out = t.vacuum(keep_versions=1, orphan_grace_s=0)
    assert out["n_orphans_deleted"] == 2
    assert not os.path.exists(orphan) and not os.path.exists(staging)
    assert t.read().count() == 5  # live data untouched

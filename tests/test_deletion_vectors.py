"""Deletion vectors: row-level deletes/updates without file rewrites
(Delta DV analogue). remove_rows marks (file, position) rows dead via
a parquet sidecar and can append replacement rows in the same commit —
the O(changed rows) alternative to partition copy-on-write."""

import json

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _table(spark, tmp_path, n=100, parts=True):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 10).alias("val"),
    )
    return VersionedParquetTable.create(
        spark, df, str(tmp_path / "t"),
        partition_cols=["p"] if parts else None,
    )


def _dead_for(t, pred):
    return (
        t.read_partitions(t.partitions_of(), with_position=True)
        .filter(pred)
        .select("__file", "__pos")
    )


def test_remove_rows_basic_and_time_travel(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.remove_rows(_dead_for(t, F.col("id") < 10))
    assert t.read().count() == 90
    assert t.read().filter("id < 10").count() == 0
    assert t.read(0).count() == 100  # time travel sees pre-DV rows
    d = t.detail()
    assert d["num_rows"] == 90 and d["num_dead_rows"] == 10
    # the commit is a delta that RE-EMITS the dv'd entries, removes none
    raw = json.load(open(t._manifest_path(1)))
    assert raw["remove"] == []
    assert all(a["dv"]["count"] > 0 for a in raw["add"])
    # no data file was rewritten
    assert {f["path"] for f in t._load_manifest(0)["files"]} == {
        f["path"] for f in t._load_manifest(1)["files"]
    }


def test_remove_rows_update_pattern(spark, tmp_path):
    """DV the old row + append its replacement in one commit."""
    t = _table(spark, tmp_path)
    dead = _dead_for(t, F.col("id") == 7)
    repl = spark.createDataFrame([(7, 3, 777)], "id long, p long, val long")
    t.remove_rows(dead, adds=repl, operation="UPDATE_DV")
    assert t.read().count() == 100
    assert t.read().filter("id = 7").select("val").first()[0] == 777
    assert t.history()[0]["operation"] == "UPDATE_DV"


def test_dv_accumulation_and_filters(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.remove_rows(_dead_for(t, F.col("id") < 5))
    t.remove_rows(_dead_for(t, (F.col("id") >= 5) & (F.col("id") < 9)))
    assert t.read().count() == 91
    # read_where applies DVs too
    assert t.read_where([("id", "<", 20)]).count() == 11
    # intermediate version sees only the first DV
    assert t.read(1).count() == 95


def test_compact_materializes_and_clears_dvs(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.remove_rows(_dead_for(t, F.col("id") % 10 == 0))
    assert t.read().count() == 90
    t.compact(max_files_per_partition=1000)  # only DV'd partitions rewrite
    m = t._current()
    assert all(not f.get("dv") for f in m["files"])
    assert t.read().count() == 90
    assert t.detail()["num_dead_rows"] == 0


def test_table_changes_sees_dv_deletes_and_updates(spark, tmp_path):
    t = _table(spark, tmp_path)
    dead = _dead_for(t, F.col("id") == 3)
    repl = spark.createDataFrame([(3, 3, 999)], "id long, p long, val long")
    t.remove_rows(dead, adds=repl)
    ch = t.table_changes(["id"], 0, 1).filter("id = 3").collect()
    kinds = {r["_change_type"] for r in ch}
    assert kinds == {"update_preimage", "update_postimage"}
    post = [r for r in ch if r["_change_type"] == "update_postimage"][0]
    assert post["val"] == 999
    t.remove_rows(_dead_for(t, F.col("id") == 4))
    ch2 = t.table_changes(["id"], 1, 2).collect()
    assert {(r["id"], r["_change_type"]) for r in ch2} == {(4, "delete")}


def test_vacuum_drops_orphaned_sidecars_restore_and_clone(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.remove_rows(_dead_for(t, F.col("id") < 10))      # v1, dv A
    clone = t.clone(str(tmp_path / "c"))               # clone carries DVs
    assert clone.read().count() == 90
    t.compact(max_files_per_partition=1000)            # v2, dv A orphaned
    t.overwrite(spark.range(5).select(
        "id", (F.col("id") % 4).alias("p"), F.col("id").alias("val")
    ))                                                 # v3
    v = t.restore(1)                                   # dv A referenced again
    assert t.read(v).count() == 90
    out = t.vacuum(keep_versions=1)                    # keeps v4 (restore of v1)
    assert out["n_dv_deleted"] == 0                     # dv A still live
    assert t.read().count() == 90
    t.overwrite(spark.range(3).select(
        "id", (F.col("id") % 4).alias("p"), F.col("id").alias("val")
    ))
    out = t.vacuum(keep_versions=1)
    assert out["n_dv_deleted"] == 0                     # orphaned but young: grace spares it
    out = t.vacuum(keep_versions=1, orphan_grace_s=0.0)
    assert out["n_dv_deleted"] == 1                     # dv A now orphaned
    assert clone.read().count() == 90                   # clone unaffected


def test_vacuum_grace_spares_inflight_dv_sidecars(spark, tmp_path):
    """A dv-mode writer stages its sidecar BEFORE its manifest commit;
    a racing vacuum must not delete a young unreferenced sidecar (in
    the real sweep or the dry-run preview) or the just-landed commit
    would reference a missing DV file."""
    import os

    t = _table(spark, tmp_path)
    t.remove_rows(_dead_for(t, F.col("id") < 10))       # v1, dv A (referenced)
    dv_root = os.path.join(t.path, "_dv")
    live = set(os.listdir(dv_root))
    # simulate a sidecar staged by an in-flight concurrent writer
    staged = os.path.join(dv_root, "zz-inflight")
    os.makedirs(staged)
    with open(os.path.join(staged, "dv.parquet"), "w") as f:
        f.write("x")
    preview = t.vacuum(keep_versions=1, dry_run=True)
    assert preview["n_dv"] == 0                          # young: not previewed
    out = t.vacuum(keep_versions=1)
    assert out["n_dv_deleted"] == 0
    assert os.path.isdir(staged)                         # spared
    assert set(os.listdir(dv_root)) >= live
    preview = t.vacuum(keep_versions=1, dry_run=True, orphan_grace_s=0.0)
    assert preview["n_dv"] == 1                          # past grace: previewed
    out = t.vacuum(keep_versions=1, orphan_grace_s=0.0)
    assert out["n_dv_deleted"] == 1                      # past grace: swept
    assert not os.path.isdir(staged)
    assert t.read().count() == 90                        # live DV intact


def test_remove_rows_unknown_file_rejected(spark, tmp_path):
    t = _table(spark, tmp_path)
    bogus = spark.createDataFrame(
        [("nope.parquet", 0)], "__file string, __pos long"
    )
    with pytest.raises(ValueError, match="unknown files"):
        t.remove_rows(bogus)

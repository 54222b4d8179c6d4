"""Streaming CDC source over the versioned table
(sources/vtable_stream.py, Spark 4 Python DataSource API)."""

from __future__ import annotations

import pytest

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable
from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
    VTableChangesDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(VTableChangesDataSource)


def _drain(spark, path, ck, batches, keycols="id"):
    q = (
        spark.readStream.format("vtable_changes")
        .option("path", path)
        .option("keycols", keycols)
        .load()
        .writeStream.foreachBatch(lambda df, n: batches.append(df.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_delivers_versions_incrementally(spark, tmp_path):
    path, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    # enableChangeDataFeed: upserts write row-level change files at
    # commit time, so the stream serves update pre/post-image pairs
    # (without the property, updates arrive as delete+insert)
    t = VersionedParquetTable.create(
        spark, df1, path, properties={"enableChangeDataFeed": "true"}
    )

    batches: list = []
    _drain(spark, path, ck, batches)
    rows = [r for b in batches for r in b]
    # initial snapshot arrives as inserts of version 0
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (1, "insert"),
        (2, "insert"),
    ]

    # new commits: an append and an upsert -> only deltas arrive
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.upsert(spark.createDataFrame([(2, "B!")], "id long, s string"), ["id"])
    batches.clear()
    _drain(spark, path, ck, batches)
    rows = [r for b in batches for r in b]
    kinds = sorted((r["id"], r["_change_type"]) for r in rows)
    assert (3, "insert") in kinds
    assert (2, "update_preimage") in kinds and (2, "update_postimage") in kinds
    assert all(r["_commit_version"] in (1, 2) for r in rows)

    # nothing new -> empty drain (exactly-once, no replay)
    batches.clear()
    _drain(spark, path, ck, batches)
    assert [r for b in batches for r in b] == []


def test_planner_is_metadata_only_and_file_parallel(spark, tmp_path):
    """Round-2 fix pin: the stream planner must never materialize rows
    on the driver. Planning runs against a spark=None metadata handle
    (any Spark touch would AttributeError), the v0 snapshot fans out
    one partition per data file, and each partition's rows come from
    pyarrow in read() — the executor path, exercised here in-process."""
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"s{i}") for i in range(30)], "id long, p long, s string"
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["p"])
    t.append(spark.createDataFrame([(100, 1, "x")], "id long, p long, s string"))
    n_files_v0 = len(t._snapshot_files(0))
    assert n_files_v0 >= 3  # one per partition at least

    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    assert reader.initialOffset() == {"version": -1}
    assert reader.latestOffset() == {"version": 1}
    parts = reader.partitions({"version": -1}, {"version": 1})
    v0_parts = [p for p in parts if p.spec["version"] == 0]
    assert len(v0_parts) == n_files_v0  # file-parallel snapshot replay
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == 31
    assert {r[-2] for r in rows} == {"insert"}
    # partition column values are injected from the manifest record
    got = {(r[0], r[1], r[2]) for r in rows}
    assert (100, 1, "x") in got and (0, 0, "s0") in got


def test_resumed_cursor_on_vacuumed_version_raises(spark, tmp_path):
    """A RESUMED stream whose cursor's successor lost its predecessor
    manifest to vacuum must raise, not silently re-deliver the full
    snapshot as inserts (which would double-apply every row in a
    downstream signed-delta fold). Fresh starts (cursor = -1 sentinel)
    still replay the earliest retained snapshot, matching Delta's
    startingVersion semantics."""
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )

    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    for i in range(2, 5):  # versions 1..3
        t.append(spark.createDataFrame([(i, "x")], "id long, s string"))
    # drop manifests below version 3 (cursor neighborhood vacuumed)
    t.vacuum(keep_versions=1, orphan_grace_s=0.0)
    retained = t.versions()
    assert 2 not in retained and 3 in retained

    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    # resumed cursor at a vacuumed version: refuse
    with pytest.raises(ValueError, match="no longer retained"):
        reader.partitions({"version": 1}, {"version": 3})
    # fresh start: earliest retained snapshot replays as inserts
    parts = reader.partitions({"version": -1}, {"version": 3})
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted(r[0] for r in rows) == [1, 2, 3, 4]
    assert {r[-2] for r in rows} == {"insert"}


def test_bootstrap_and_guard_survive_compact_first_version(spark, tmp_path):
    """The batch-level bootstrap/guard decisions must not be skipped
    when the FIRST retained version is a data_change=false commit
    (review finding: the old per-commit `continue` bypassed both):
    a fresh start must still replay the snapshot (taken at the compact
    version), and a resumed cursor below retention must still raise."""
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )

    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    for i in range(2, 5):  # versions 1..3: appends
        t.append(spark.createDataFrame([(i, "x")], "id long, s string"))
    t.compact()  # version 4: data_change=false
    t.vacuum(keep_versions=1, orphan_grace_s=0.0)  # only v4 retained
    assert t.versions() == [4]
    commit = t._load_commit(4)
    assert commit.get("data_change", True) is False  # compact commit

    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    # fresh start: full snapshot replays AT the compact version
    parts = reader.partitions({"version": -1}, {"version": 4})
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted(r[0] for r in rows) == [1, 2, 3, 4]
    assert {r[-2] for r in rows} == {"insert"}
    # resumed cursor below retention: refuse even though the first
    # retained commit is a compact
    with pytest.raises(ValueError, match="no longer retained"):
        reader.partitions({"version": 2}, {"version": 4})


def test_stream_skips_compaction_and_serves_deletes(spark, tmp_path):
    """data_change=false commits (COMPACT) never enter the feed, and a
    delete arrives as its change records."""
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "v") for i in range(10)], "id long, s string"
    )
    t = VersionedParquetTable.create(
        spark, df, path, properties={"enableChangeDataFeed": "true"}
    )
    t.delete([("id", "<", 3)])  # v1: rewrite + change files
    t.compact()                 # v2: data_change=false
    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    parts = reader.partitions({"version": -1}, {"version": 2})
    assert not [p for p in parts if p.spec["version"] == 2]  # compaction skipped
    v1 = [r for p in parts if p.spec["version"] == 1 for r in reader.read(p)]
    assert sorted((r[0], r[-2]) for r in v1) == [
        (0, "delete"), (1, "delete"), (2, "delete")
    ]
    # fresh consumer starting AFTER the delete: the compaction alone
    # feeds nothing
    reader2 = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    parts2 = reader2.partitions({"version": 1}, {"version": 2})
    assert [p.spec["kind"] for p in parts2] == ["empty"]


def test_stream_without_cdf_rejects_inplace_dv_commits(spark, tmp_path):
    """A commit that re-lists a live file with a deletion vector (how
    earlier releases wrote a row delete without change-data files) is
    refused by the stream, naming the table, not fed as if every row
    of the file were still live."""
    import json
    import re

    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([(i, "v") for i in range(10)], "id long, s string"),
        path,
    )
    v0 = t._load_commit(0)
    dv = {"paths": ["dv-0"], "count": 3}
    with open(t._manifest_path(1), "w") as fh:
        json.dump({**v0, "version": 1, "operation": "DELETE_ROWS",
                   "add": [{**f, "dv": dv} for f in v0["add"]], "remove": []}, fh)
    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    with pytest.raises(ValueError, match=re.escape(path) + " v1: .* deletion vector"):
        reader.partitions({"version": 0}, {"version": 1})


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    path, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    batches: list = []
    _drain(spark, path, ck, batches)
    assert len([r for b in batches for r in b]) == 1

    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))
    batches.clear()
    _drain(spark, path, ck, batches)  # fresh query object, same checkpoint
    rows = [r for b in batches for r in b]
    assert [(r["id"], r["_change_type"]) for r in rows] == [(2, "insert")]


def test_replication_converges_to_source(spark, tmp_path):
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        replicate_stream,
    )

    src, dst, ck = (
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "ck"),
    )
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        src,
    )
    replicate_stream(spark, src, dst, ck, key_cols=["id"])
    # mutate source: append, update, delete
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.upsert(spark.createDataFrame([(1, "A!")], "id long, s string"), ["id"])
    t.delete([("id", "=", 2)])
    replicate_stream(spark, src, dst, ck, key_cols=["id"])
    got = VersionedParquetTable(spark, dst).read()
    want = t.read()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert sorted(r["id"] for r in got.collect()) == [1, 3]


def test_vacuum_sweeps_unreferenced_cdc_dirs(spark, tmp_path):
    import os

    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([(1, "a")], "id long, s string"),
        path,
        properties={"enableChangeDataFeed": "true"},
    )
    t.upsert(spark.createDataFrame([(1, "A")], "id long, s string"), ["id"])
    t.upsert(spark.createDataFrame([(1, "B")], "id long, s string"), ["id"])
    cdc_root = os.path.join(path, "_cdc")
    assert len(os.listdir(cdc_root)) == 2
    # keep only the head version: v1's change files become garbage,
    # but the grace window spares young files...
    out = t.vacuum(keep_versions=1)
    assert out["n_cdc_deleted"] == 0
    # ...and a zero-grace sweep removes exactly the unreferenced dir
    out = t.vacuum(keep_versions=1, orphan_grace_s=0.0)
    assert out["n_cdc_deleted"] == 1
    assert len(os.listdir(cdc_root)) == 1
    # the retained commit's change files still stream
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )
    reader = _VTableChangesStreamReader(_changes_schema(path), {"path": path})
    rows = [
        r
        for p in reader.partitions({"version": 1}, {"version": 2})
        for r in reader.read(p)
    ]
    assert sorted(r[-2] for r in rows) == ["update_postimage", "update_preimage"]


def test_vtable_sink_stream_exactly_once(spark, tmp_path):
    """Generic streaming sink: file-source rows land in the table
    exactly once across triggers, and re-running the stream with the
    same checkpoint (no new files) appends nothing."""
    import json as _json
    import os

    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )
    from delta_lake_pyspark_scd2_spark.streaming.stream_jobs import (
        vtable_sink_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "table")

    def write_file(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    write_file("a.json", [{"k": 1, "v": "x"}, {"k": 2, "v": "y"}])
    stream = spark.readStream.schema("k long, v string").json(str(src))
    vtable_sink_stream(stream, table, ckpt)
    t = VersionedParquetTable(spark, table)
    assert t.read().count() == 2

    write_file("b.json", [{"k": 3, "v": "z"}])
    stream = spark.readStream.schema("k long, v string").json(str(src))
    vtable_sink_stream(stream, table, ckpt)
    assert VersionedParquetTable(spark, table).read().count() == 3

    # no new files: the re-run discovers nothing and the table is unchanged
    v_before = VersionedParquetTable(spark, table).latest_version()
    stream = spark.readStream.schema("k long, v string").json(str(src))
    vtable_sink_stream(stream, table, ckpt)
    assert VersionedParquetTable(spark, table).latest_version() == v_before

    # direct replay of an already-committed batch id is skipped (the
    # crash-between-commit-log-and-table window)
    t2 = VersionedParquetTable(spark, table)
    replay = spark.createDataFrame([(9, "dup")], "k long, v string")
    assert t2.last_txn_version(f"vtable_sink:{table}") is not None
    t2.append(replay, txn=(f"vtable_sink:{table}", 0))
    assert t2.read().count() == 3  # batch 0 already applied; nothing lands

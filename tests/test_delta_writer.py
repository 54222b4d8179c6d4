"""Delta write-side interop (sources/delta_writer.py): tables we write
must replay correctly through the independent log reader."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader
from delta_lake_pyspark_scd2_spark.sources.delta_writer import (
    export_vtable_as_delta,
    write_delta,
)
from delta_lake_pyspark_scd2_spark.sources.tables import load_table
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SF = "/root/testdata/sf0.001"


def test_create_roundtrip_partitioned(spark, tmp_path):
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "d")
    v = write_delta(orders, path, partition_cols=["o_orderpriority"])
    assert v == 0
    r = DeltaTableReader(spark, path)
    back = r.read()
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)
    # value-exact: anti-joins empty both ways
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0
    # partition pruning works through the log's partitionValues
    one = back.filter(F.col("o_orderpriority") == "1-URGENT")
    assert one.count() == orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_writer_works_through_file_scheme_uri(spark, tmp_path):
    """Directive: the writer's staging, listing, and commit publish run
    through the Hadoop FS shim — a ``file:``-scheme table path must
    behave identically to a raw local one, including checkpoints and
    log cleanup."""
    from delta_lake_pyspark_scd2_spark.sources.delta_writer import (
        clean_log,
        write_checkpoint,
    )

    path = "file:" + str(tmp_path / "d")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(3, "c")], "id long, s string")
    assert write_delta(df1, path, partition_cols=["s"]) == 0
    assert write_delta(df2, path, mode="append") == 1
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 3
    assert write_checkpoint(path) == 1
    assert clean_log(path) == 1
    assert DeltaTableReader(spark, path).read().count() == 3


def test_append_and_overwrite_time_travel(spark, tmp_path):
    path = str(tmp_path / "d")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(3, "c")], "id long, s string")
    assert write_delta(df1, path) == 0
    assert write_delta(df2, path, mode="append") == 1
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 3
    assert r.read(version=0).count() == 2
    df3 = spark.createDataFrame([(9, "z")], "id long, s string")
    assert write_delta(df3, path, mode="overwrite") == 2
    assert [x["id"] for x in r.read().collect()] == [9]
    assert r.read(version=1).count() == 3  # history intact


def test_create_refuses_existing_and_schema_mismatch(spark, tmp_path):
    path = str(tmp_path / "d")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    write_delta(df, path)
    with pytest.raises(FileExistsError):
        write_delta(df, path)
    bad = spark.createDataFrame([(1,)], "other long")
    with pytest.raises(ValueError):
        write_delta(bad, path, mode="append")


def test_commit_stats_carry_numrecords(spark, tmp_path):
    path = str(tmp_path / "d")
    df = spark.createDataFrame([(i, "x") for i in range(10)], "id long, s string")
    write_delta(df, path)
    commit = os.path.join(path, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(commit)
        if '"add"' in line
    ]
    assert adds
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 10


def test_export_vtable_snapshot(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    t = VersionedParquetTable.create(
        spark, docs, str(tmp_path / "vt")
    )
    # mutate: delete some rows so the export is a non-trivial snapshot
    t.delete([("doc_id", "<", 5)])
    dest = str(tmp_path / "exported")
    export_vtable_as_delta(t, dest)
    back = DeltaTableReader(spark, dest).read()
    want = t.read()
    assert back.count() == want.count()
    assert back.exceptAll(want).count() == 0


def test_roundtrip_reference_shaped_table(spark, tmp_path):
    # write -> read -> write again -> read: stability under our own
    # reader/writer pair (catches asymmetric encodings)
    li = load_table(spark, SF, "lineitem").limit(200)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_delta(li, p1, partition_cols=["l_returnflag"])
    mid = DeltaTableReader(spark, p1).read()
    write_delta(mid.select(*li.columns), p2, partition_cols=["l_returnflag"])
    final = DeltaTableReader(spark, p2).read()
    assert final.count() == 200
    assert final.select(*li.columns).exceptAll(li).count() == 0


def test_checkpoint_and_log_cleanup(spark, tmp_path):
    from delta_lake_pyspark_scd2_spark.sources.delta_writer import (
        clean_log,
        write_checkpoint,
    )

    path = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    for i in range(2, 6):
        write_delta(
            spark.createDataFrame([(i, "x")], "id long, s string"),
            path,
            mode="append",
        )
    assert write_checkpoint(path) == 4
    assert clean_log(path) == 4  # commits 0-3 now redundant
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 5  # replay = checkpoint + tail
    # a further append after cleanup still reads correctly
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, s string"),
        path,
        mode="append",
    )
    assert DeltaTableReader(spark, path).read().count() == 6
    # and a SECOND checkpoint built on top of the first (early json gone)
    assert write_checkpoint(path) == 5
    assert clean_log(path) == 1
    assert DeltaTableReader(spark, path).read().count() == 6


def test_export_preserve_dvs_roundtrip(spark, tmp_path):
    """Export picks its path from the manifest: a table without a
    column mapping is exported by byte-copying its live data files; a
    column-mapped one (physical names differ from the logical schema)
    is re-written through ``write_delta``. Both read back row-equal by
    the independent reader, on protocol (1,2)."""
    import filecmp
    import json

    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.sources.delta_reader import (
        DeltaTableReader,
    )
    from delta_lake_pyspark_scd2_spark.sources.delta_writer import (
        export_vtable_as_delta,
    )
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    def protocol(dest):
        log = (tmp_path / dest / "_delta_log" / f"{0:020d}.json").read_text()
        prot = next(
            json.loads(l)["protocol"] for l in log.splitlines() if "protocol" in l
        )
        return prot["minReaderVersion"], prot["minWriterVersion"]

    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("part"),
        (F.col("id") * 2).alias("v"),
    )

    # no column mapping: the live files are copied byte for byte
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "t"), partition_cols=["part"]
    )
    t.delete([("k", "<", 4)])
    dest = str(tmp_path / "delta_copy")
    export_vtable_as_delta(t, dest)
    got = DeltaTableReader(spark, dest).read()
    want = sorted(tuple(r) for r in t.read().select("k", "part", "v").collect())
    assert sorted(tuple(r) for r in got.select("k", "part", "v").collect()) == want
    for f in t._current()["files"]:
        assert filecmp.cmp(
            str(tmp_path / "t" / "data" / f["path"]),
            str(tmp_path / "delta_copy" / f["path"]),
            shallow=False,
        )
    assert protocol("delta_copy") == (1, 2)

    # column mapping: the export re-writes under the logical names
    t2 = VersionedParquetTable.create(
        spark, df, str(tmp_path / "t2"), partition_cols=["part"]
    )
    t2.rename_column("v", "value")
    dest2 = str(tmp_path / "delta_mapped")
    export_vtable_as_delta(t2, dest2)
    got2 = DeltaTableReader(spark, dest2).read()
    want2 = sorted(
        tuple(r) for r in t2.read().select("k", "part", "value").collect()
    )
    assert sorted(
        tuple(r) for r in got2.select("k", "part", "value").collect()
    ) == want2
    assert len(want2) == 20
    assert protocol("delta_mapped") == (1, 2)

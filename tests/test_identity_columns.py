"""Identity columns (Delta GENERATED BY DEFAULT AS IDENTITY): unique,
direction-monotone ids assigned at write time with no global window;
watermark advanced from footer stats, zero extra data I/O."""

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _rows(spark, lo, n=5):
    return spark.range(lo, lo + n).select(F.col("id").alias("k"))


def test_identity_assigned_and_unique_across_appends(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 100, "step": 1}},
    )
    t.append(_rows(spark, 10))
    t.append(_rows(spark, 20))
    df = t.read()
    assert df.count() == 15
    rids = [r["rid"] for r in df.collect()]
    assert len(set(rids)) == 15  # unique
    assert min(rids) >= 100  # starts at start
    st = t.identity_columns()["rid"]
    assert st["next"] > max(rids)  # watermark past everything written


def test_identity_by_default_accepts_supplied_values(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    t.append(
        spark.createDataFrame([(99, 1_000_000)], "k long, rid long")
    )
    assert t.read().filter(F.col("k") == 99).collect()[0]["rid"] == 1_000_000
    # watermark advanced past the supplied value; next assignment is above it
    assert t.identity_columns()["rid"]["next"] > 1_000_000
    t.append(_rows(spark, 200, 3))
    rids = [r["rid"] for r in t.read().collect()]
    assert len(set(rids)) == 9


def test_identity_negative_step(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0, 3), str(tmp_path / "t"),
        identity_cols={"rid": {"start": -1, "step": -2}},
    )
    t.append(_rows(spark, 10, 3))
    rids = [r["rid"] for r in t.read().collect()]
    assert len(set(rids)) == 6 and max(rids) <= -1
    assert t.identity_columns()["rid"]["next"] < min(rids) + 1


def test_two_frame_write_assigns_ids_only_to_the_frame_lacking_them(spark, tmp_path):
    """One staged write of two frames keeps the ids the rewritten frame
    carries and assigns fresh ones only to the frame without the column;
    two frames without it would draw from one watermark, so they raise."""
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0, 4), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    s = t.stage_write(t.read(), _rows(spark, 10, 3), partitions=[{}])
    assert s.assigned_identity
    t.commit_staged("MERGE", s)
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert {k: got[k] for k in before} == before
    assert len(got) == 7 and len(set(got.values())) == 7
    with pytest.raises(ValueError, match="at most one frame"):
        t.stage_write(_rows(spark, 20, 2), _rows(spark, 30, 2))


def test_identity_survives_upsert_and_compact(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0, 4), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    # update an existing key, carrying its rid through the merge
    t.upsert(t.read().filter(F.col("k") == 0), ["k"])
    # insert a new key WITHOUT the identity column: fresh id assigned
    t.upsert(spark.createDataFrame([(77,)], "k long"), ["k"])
    after = {r["k"]: r["rid"] for r in t.read().collect()}
    assert after[0] == before[0]  # carried through the merge
    assert after[77] is not None and after[77] not in before.values()
    t.compact()
    again = {r["k"]: r["rid"] for r in t.read().collect()}
    assert again == after  # compaction never reassigns ids


def test_identity_rename_drop_guards(spark, tmp_path):
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0, 2), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    with pytest.raises(ValueError, match="identity column"):
        t.rename_column("rid", "row_id")
    with pytest.raises(ValueError, match="identity column"):
        t.drop_column("rid")


def test_identity_semantics_through_upsert(spark, tmp_path):
    """With the identity column omitted, an upsert's MATCHED key keeps
    its existing id (Delta's BY DEFAULT merge semantics — no silent
    surrogate-key churn), and an upsert that deletes a key and inserts
    a NEW one gives it a fresh id and advances the watermark past it."""
    t = VersionedParquetTable.create(
        spark, _rows(spark, 0, 3), str(tmp_path / "t"),
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    # matched key, rid omitted -> keeps its old rid
    t.upsert(spark.createDataFrame([(0,)], "k long"), ["k"])
    after = {r["k"]: r["rid"] for r in t.read().collect()}
    assert after[0] == before[0]
    assert len(set(after.values())) == 3  # still unique
    # delete key 1 and insert a new key, rid omitted -> fresh id,
    # watermark past it
    t.upsert(
        spark.createDataFrame([(77,)], "k long"), ["k"],
        deletes=spark.createDataFrame([(1,)], "k long"),
    )
    got = {r["k"]: r["rid"] for r in t.read().collect()}
    assert sorted(got) == [0, 2, 77]
    assert got[77] is not None and got[77] not in before.values()
    assert t.identity_columns()["rid"]["next"] > got[77]
    # and the next plain append cannot collide
    t.append(_rows(spark, 100, 2))
    rids2 = [r["rid"] for r in t.read().collect()]
    assert len(rids2) == len(set(rids2)) == 5

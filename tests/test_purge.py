"""Right-to-be-forgotten erasure across retained history
(``VersionedParquetTable.purge``): after a purge, NO retained
version — time travel, change-data-feed replay, snapshot — returns a
matching row, while every non-matching row in every version survives
bit-for-bit."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _mk(spark, tmp_path, *, cdf=False, partitioned=False):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"u{i % 5}", float(i)) for i in range(30)],
        "id long, p long, user string, v double",
    )
    props = {"enableChangeDataFeed": "true"} if cdf else None
    t = VersionedParquetTable.create(
        spark, df, path,
        partition_cols=["p"] if partitioned else None,
        properties=props,
    )
    return t


def _user_rows(t, user, version=None):
    return (
        t.read(version=version)
        .filter(F.col("user") == user)
        .count()
    )


def test_purge_erases_user_from_every_retained_version(spark, tmp_path):
    t = _mk(spark, tmp_path, partitioned=True)
    # build history: appends + an update-ish upsert
    t.append(spark.createDataFrame(
        [(100, 1, "u1", 100.0), (101, 2, "u2", 101.0)],
        "id long, p long, user string, v double",
    ))
    t.upsert(spark.createDataFrame(
        [(5, 2, "u1", 555.0)], "id long, p long, user string, v double",
    ), ["id"])
    versions = t.versions()
    assert len(versions) == 3
    before = {
        v: {
            "u1": _user_rows(t, "u1", v),
            "total": t.read(version=v).count(),
        }
        for v in versions
    }
    assert all(b["u1"] > 0 for b in before.values())

    out = t.purge([("user", "=", "u1")])
    assert out["n_deleted"] > 0  # head delete happened
    assert out["n_history_rows_purged"] > 0

    t2 = VersionedParquetTable(spark, t.path)  # fresh handle, no caches
    for v in versions:
        assert _user_rows(t2, "u1", v) == 0  # erased from time travel
        # every non-matching row survives
        assert (
            t2.read(version=v).count()
            == before[v]["total"] - before[v]["u1"]
        )
    # head (the DELETE commit) clean too
    assert _user_rows(t2, "u1") == 0
    # non-purged users fully intact at head
    assert t2.read().filter(F.col("user") == "u2").count() > 0


def test_purge_preserves_unmatched_values_exactly(spark, tmp_path):
    t = _mk(spark, tmp_path)
    keep_before = {
        (r["id"], r["v"])
        for r in t.read().filter(F.col("user") != "u0").collect()
    }
    t.purge([("user", "=", "u0")])
    t2 = VersionedParquetTable(spark, t.path)
    keep_after = {
        (r["id"], r["v"]) for r in t2.read(version=0).collect()
    }
    assert keep_after == keep_before


def test_purge_scrubs_cdf_history(spark, tmp_path):
    import glob
    import os

    t = _mk(spark, tmp_path, cdf=True)
    # an upsert against u1 records cdc pre/post images carrying u1 rows
    t.upsert(spark.createDataFrame(
        [(1, 1, "u1", 999.0)], "id long, p long, user string, v double",
    ), ["id"])

    def cdc_u1_rows() -> int:
        files = glob.glob(os.path.join(t.path, "_cdc", "**", "*.parquet"),
                          recursive=True)
        assert files  # the upsert staged change-data files
        return (
            spark.read.parquet(*files)
            .filter(F.col("user") == "u1")
            .count()
        )

    assert cdc_u1_rows() > 0  # pre/post images carry the user
    out = t.purge([("user", "=", "u1")])
    assert out["n_cdc_files_scrubbed"] >= 1
    assert cdc_u1_rows() == 0  # scrubbed in place, paths intact
    # the CDC stream still replays the scrubbed history end-to-end
    from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
        _VTableChangesStreamReader,
        _changes_schema,
    )

    reader = _VTableChangesStreamReader(
        _changes_schema(t.path), {"path": t.path}
    )
    parts = reader.partitions(
        {"version": -1}, {"version": t.latest_version()}
    )
    rows = [r for p in parts for r in reader.read(p)]
    assert rows and all(r[2] != "u1" for r in rows)  # user column clean


def test_purge_is_idempotent_and_noop_safe(spark, tmp_path):
    t = _mk(spark, tmp_path)
    out1 = t.purge([("user", "=", "u3")])
    assert out1["n_history_rows_purged"] > 0
    out2 = t.purge([("user", "=", "u3")])
    assert out2["n_history_rows_purged"] == 0
    assert out2["n_history_files_rewritten"] == 0
    # purging a value that never existed: pure no-op, table intact
    out3 = t.purge([("user", "=", "nope")])
    assert out3["n_history_rows_purged"] == 0
    t2 = VersionedParquetTable(spark, t.path)
    assert t2.read(version=0).filter(F.col("user") == "u1").count() > 0


def test_purge_on_upsert_table(spark, tmp_path):
    """Right-to-be-forgotten on a change-feed table after an upsert:
    purge a key whose old row the upsert replaced and whose new row it
    inserted in one commit, and no version, snapshot, or CDF replay
    returns it."""
    import glob
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"u{i % 5}", float(i)) for i in range(20)],
        "id long, user string, v double",
    ).coalesce(1)
    t = VersionedParquetTable.create(
        spark, df, path, properties={"enableChangeDataFeed": "true"}
    )
    # replace u2's row id=2 and insert a new u2 row
    t.upsert(
        spark.createDataFrame(
            [(2, "u2", 222.0), (100, "u2", 100.0)],
            "id long, user string, v double",
        ),
        ["id"],
    )

    out = t.purge([("user", "=", "u2")])
    assert out["n_history_rows_purged"] > 0

    t2 = VersionedParquetTable(spark, path)
    for v in t2.versions():
        assert t2.read(version=v).filter(F.col("user") == "u2").count() == 0
        # other users' rows intact in every version
        assert t2.read(version=v).filter(F.col("user") == "u0").count() == 4
    # CDF files scrubbed: no u2 anywhere in change data
    files = glob.glob(
        os.path.join(path, "_cdc", "**", "*.parquet"), recursive=True
    )
    assert files  # the upsert commit wrote change records
    assert spark.read.parquet(*files).filter(F.col("user") == "u2").count() == 0
    # and the purge is idempotent
    out2 = t2.purge([("user", "=", "u2")])
    assert out2["n_history_rows_purged"] == 0


def test_purge_drops_fully_matching_files_from_history(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "gone" if i < 10 else "keep", float(i)) for i in range(20)],
        "id long, tag string, v double",
    ).repartition(1)
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["tag"])
    # partition tag=gone is one file whose every row matches
    out = t.purge([("tag", "=", "gone")])
    assert out["n_history_files_dropped"] >= 1
    t2 = VersionedParquetTable(spark, path)
    assert t2.read(version=0).filter(F.col("tag") == "gone").count() == 0
    assert t2.read(version=0).count() == 10


def test_purge_across_schema_evolution(spark, tmp_path):
    """Old files written before a column existed are re-read under the
    head schema (missing column = NULL) and rewritten; each version
    still reads back under ITS OWN schema afterward, minus the purged
    rows."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame(
            [(i, f"u{i % 3}") for i in range(12)], "id long, user string"
        ),
        path,
    )
    t.append(
        spark.createDataFrame(
            [(100, "u1", 9.5), (101, "u2", 1.5)],
            "id long, user string, score double",
        ),
        merge_schema=True,
    )
    t.purge([("user", "=", "u1")])
    t2 = VersionedParquetTable(spark, path)
    # v0: old schema, no u1 rows, others intact
    v0 = t2.read(version=0)
    assert "score" not in v0.columns
    assert v0.filter(F.col("user") == "u1").count() == 0
    assert v0.count() == 8  # 12 minus the four u1 rows
    # v1 (evolved): u1 gone incl. the evolved-row id=100; u2 intact
    v1 = t2.read(version=1)
    assert v1.filter(F.col("user") == "u1").count() == 0
    assert v1.filter(F.col("id") == 101).select("score").first()[0] == 1.5


def test_purge_with_missing_rows_stat_reports_exact_counts(spark, tmp_path):
    """A manifest entry without a ``rows`` stat must neither corrupt the
    erasure report (negative ``n_history_rows_purged``) nor trigger a
    needless rewrite when the file has no matching rows (round-4
    ADVICE): the pre-rewrite count is derived from the scanned file."""
    import json
    import os

    from delta_lake_pyspark_scd2_spark.sources.vtable import MANIFEST_DIR

    t = _mk(spark, tmp_path)
    # strip every rows stat from the v0 commit on disk
    mp = os.path.join(t.path, MANIFEST_DIR, f"v{0:010d}.json")
    with open(mp) as fh:
        raw = json.load(fh)
    for key in ("files", "add"):
        for f in raw.get(key) or []:
            f.pop("rows", None)
    with open(mp, "w") as fh:
        json.dump(raw, fh)
    for crc in (os.path.join(os.path.dirname(mp), "." + os.path.basename(mp) + ".crc"),):
        if os.path.exists(crc):
            os.remove(crc)

    t2 = VersionedParquetTable(spark, t.path)  # fresh handle, no caches
    n_u1 = t2.read(version=0).filter(F.col("user") == "u1").count()
    assert n_u1 > 0
    out = t2.purge([("user", "=", "u1")])
    assert out["n_history_rows_purged"] == n_u1  # exact, not negative
    t3 = VersionedParquetTable(spark, t.path)
    assert t3.read(version=0).filter(F.col("user") == "u1").count() == 0
    assert t3.read(version=0).count() == 30 - n_u1

    # second purge of a value that never existed: files (still without a
    # rows stat in v0's rewritten lineage) are scanned but NOT rewritten
    files_before = {f["path"] for f in t3._snapshot_files(0)}
    out2 = t3.purge([("user", "=", "nope")])
    assert out2["n_history_rows_purged"] == 0
    assert out2["n_history_files_rewritten"] == 0
    t4 = VersionedParquetTable(spark, t.path)
    assert {f["path"] for f in t4._snapshot_files(0)} == files_before

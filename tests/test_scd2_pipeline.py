"""End-to-end SCD2 pipeline golden scenarios.

Ports the reference's behavioral test suite
(``test/run_all_test.py:21-175``, FIXTURES.md §3) against the
versioned-Parquet pipeline: initial load, change-close-insert,
intra-batch chaining, dedup, idempotent re-run — plus the invariants
the reference only wrote down (notes.md:132-134).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status", "agent"),
    tiebreak_cols=("rid",),
)

BATCH_SCHEMA = "contract string, event_time timestamp, status string, agent string, rid int"


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def ev(contract, t, status, agent=None, rid=0):
    return Row(contract=contract, event_time=ts(t), status=status, agent=agent, rid=rid)


@pytest.fixture()
def table_path(tmp_path):
    return str(tmp_path / "scd2_table")


def _read(spark, path):
    return VersionedParquetTable(spark, path).read()


def test_1_initial_load(spark, table_path):
    batch = spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    rows = _read(spark, table_path).collect()
    assert m["n_inserted"] == 1 and len(rows) == 1
    r = rows[0]
    assert r.is_current and str(r.valid_to) == "9999-12-31 00:00:00"
    assert (r.valid_from_year, r.valid_from_month, r.valid_from_day) == (2023, 1, 21)


def test_2_change_closes_and_inserts(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-25T09:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert len(rows) == 2
    old, new = rows
    assert not old.is_current and old.valid_to == ts("2023-01-25T09:00:00")
    assert old.closed_by_batch == "b2"
    assert new.is_current and new.status == "Signed"
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_3_intra_batch_two_events_contiguous(spark, table_path):
    batch = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft", rid=1),
            ev("A", "2023-01-21T15:00:00", "Sent", rid=2),
        ], BATCH_SCHEMA
    )
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert m["n_inserted"] == 2
    assert rows[0].valid_to == rows[1].valid_from  # run_all_test.py:98
    assert [r.is_current for r in rows] == [False, True]


def test_4_duplicate_latest_wins(spark, table_path):
    batch = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft", rid=1),
            ev("A", "2023-01-21T10:00:00", "Signed", rid=2),  # same ts dup
        ], BATCH_SCHEMA
    )
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    assert m["n_duplicate_older"] == 1 and m["n_inserted"] == 1
    rows = _read(spark, table_path).collect()
    assert len(rows) == 1 and rows[0].status == "Signed"  # rid tiebreak


def test_5_idempotent_superset_rerun(spark, table_path):
    b1 = spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA)
    run_scd2_batch(spark, SPEC, b1, table_path, batch_id="b1")
    # superset: the old event again + one genuinely new changed event
    b2 = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft"),
            ev("A", "2023-01-26T08:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    m2 = run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b2")
    assert m2["n_inserted"] == 1 and m2["n_closed"] == 1 and m2["n_stale"] == 1
    # exact re-run: nothing moves
    m3 = run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b3")
    assert m3["n_inserted"] == 0 and m3["n_closed"] == 0
    versions = _read(spark, table_path)
    assert versions.count() == 2
    # single-current invariant holds even under superset re-runs
    # (the reference's Phase A/B can double-open a key here)
    assert scd2.check_invariants(versions, "contract").count() == 0


def test_unchanged_event_creates_no_version(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-22T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_inserted"] == 0 and m["n_closed"] == 0
    assert _read(spark, table_path).count() == 1


def test_null_transition_is_a_change(spark, table_path):
    # notes.md:124-130: NULL -> value must close/insert (null-safe compare)
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", None)], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-22T10:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1


def test_multi_key_and_partition_pruned_close(spark, table_path):
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft"),
            ev("B", "2023-02-10T10:00:00", "Draft"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, SPEC, b1, table_path, batch_id="b1")
    # change only A: the close rewrite must touch only A's partition
    b2 = spark.createDataFrame([ev("A", "2023-03-01T10:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b2")
    t = VersionedParquetTable(spark, table_path)
    close_commit = [h for h in t.history() if h["operation"] == "SCD2_MERGE"][0]
    assert close_commit["metrics"]["n_closed"] == 1
    rows = {(r.contract, r.is_current) for r in t.read().collect()}
    assert (("A", False)) in rows and (("A", True)) in rows and (("B", True)) in rows


def test_vtable_time_travel_and_history(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-25T09:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    t = VersionedParquetTable(spark, table_path)
    assert t.read(0).count() == 1      # versionAsOf 0
    assert t.read().count() == 2
    ops = [h["operation"] for h in t.history()]
    assert ops == ["SCD2_MERGE", "CREATE"]  # one atomic commit per merge


REBUILD_SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status", "agent"),
    tiebreak_cols=("rid",),
    late_policy="rebuild",
)


def test_late_event_splits_closed_interval(spark, table_path):
    # notes.md:100-105: late event lands inside a closed interval
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Sent")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    # n_rebuilt counts CHANGED rows: the inserted Sent version plus the
    # Draft version whose valid_to moved to the split point
    assert m["n_stale"] == 1 and m["n_rebuilt"] == 2
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [r.status for r in rows] == ["Draft", "Sent", "Signed"]
    assert rows[0].valid_to == rows[1].valid_from  # split point
    assert rows[1].valid_to == rows[2].valid_from
    assert rows[0].closed_by_batch == "b2"  # newly closed by the split
    assert rows[2].is_current
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_late_event_before_first_version(spark, table_path):
    b1 = spark.createDataFrame([ev("A", "2023-01-20T00:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-05T00:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_rebuilt"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [r.status for r in rows] == ["Draft", "Signed"]
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].is_current and not rows[0].is_current


def test_late_value_identical_collapses(spark, table_path):
    # late event equal to the enclosing version's values: no new version
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_rebuilt"] == 0
    assert _read(spark, table_path).count() == 2


def test_late_same_value_before_first_shifts_valid_from(spark, table_path):
    # regression (hypothesis-found): a late event EARLIER than the first
    # version with the SAME tracked values must shift that version's
    # valid_from back (from-scratch ground truth collapses the pair into
    # one interval starting at the earlier event). Row count does not
    # change, so a count-based rewrite guard would silently skip it.
    b1 = spark.createDataFrame([ev("A", "2023-01-20T00:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-05T00:00:00", "Signed")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_stale"] == 1 and m["n_rebuilt"] == 1
    rows = _read(spark, table_path).collect()
    assert len(rows) == 1 and rows[0].is_current
    assert rows[0].valid_from.isoformat().startswith("2023-01-05")
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_late_rerun_idempotent(spark, table_path):
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Sent")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b3")
    assert m["n_rebuilt"] == 0
    assert _read(spark, table_path).count() == 3
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


DELETE_SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status",),
    tiebreak_cols=("rid",),
    delete_col="deleted",
)

DEL_SCHEMA = BATCH_SCHEMA + ", deleted boolean"


def dev(contract, t, status, deleted=None, rid=0):
    return Row(
        contract=contract, event_time=ts(t), status=status, agent=None,
        rid=rid, deleted=deleted,
    )


def test_soft_delete_tombstone(spark, table_path):
    # notes.md:87-97: delete event closes the live row and opens a
    # tombstone version; a later event re-opens the entity
    run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame([dev("A", "2023-01-10T00:00:00", "Draft")], DEL_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame(
            [dev("A", "2023-01-15T00:00:00", "Draft", deleted=True)], DEL_SCHEMA
        ),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [bool(r.deleted) for r in rows] == [False, True]
    assert rows[1].is_current  # tombstone is the current version
    # re-activation
    m3 = run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame([dev("A", "2023-02-01T00:00:00", "Draft")], DEL_SCHEMA),
        table_path, batch_id="b3",
    )
    assert m3["n_closed"] == 1 and m3["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [bool(r.deleted) for r in rows] == [False, True, False]
    assert rows[2].is_current and not rows[2].deleted


def test_merge_schema_evolution_new_tracked_column(spark, table_path):
    # notes.md:107-108: schema evolution inside the merge itself — a
    # batch carries a new column; when tracked, NULL→value change-detects
    spec1 = SCD2Spec(
        key_cols=("contract",), event_ts_col="event_time",
        tracked_cols=("status",), evolve_schema=True,
    )
    run_scd2_batch(
        spark, spec1,
        spark.createDataFrame([ev("A", "2023-01-10T00:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    spec2 = SCD2Spec(
        key_cols=("contract",), event_ts_col="event_time",
        tracked_cols=("status", "risk_score"), evolve_schema=True,
    )
    b2 = spark.createDataFrame(
        [("A", ts("2023-01-15T00:00:00"), "Draft", None, 0, 0.7)],
        BATCH_SCHEMA + ", risk_score double",
    )
    m = run_scd2_batch(spark, spec2, b2, table_path, batch_id="b2")
    assert m["n_closed"] == 1 and m["n_inserted"] == 1  # NULL -> 0.7 is a change
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert rows[0].risk_score is None and rows[1].risk_score == 0.7
    assert rows[1].is_current
    # idempotent re-run with the evolved schema
    m2 = run_scd2_batch(spark, spec2, b2, table_path, batch_id="b3")
    assert m2["n_closed"] == 0 and m2["n_inserted"] == 0


def test_vtable_compaction(spark, table_path):
    # appends leave multiple files per partition; COMPACT coalesces
    # them without changing data, and time travel still works
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-10T00:00:00", "S0")], BATCH_SCHEMA),
        table_path, batch_id="b0",
    )
    t = VersionedParquetTable(spark, table_path)
    for i in (1, 2):
        t.append(
            t.read(0).withColumns({
                "contract": F.lit(f"K{i}"),
                "valid_from": F.col("valid_from") + F.expr(f"INTERVAL {6 * i} HOURS"),
            })
        )
    before = sorted(t.read().collect(), key=lambda r: r.valid_from)
    v_before = t.latest_version()
    n_files_before = len(t._current()["files"])
    assert n_files_before > 1
    t.compact()
    assert len(t._current()["files"]) == 1  # one partition day => one file
    after = sorted(t.read().collect(), key=lambda r: r.valid_from)
    assert [r.asDict() for r in before] == [r.asDict() for r in after]
    assert t.read(v_before).count() == len(before)  # old snapshot intact


def test_vtable_schema_evolution_append(spark, tmp_path):
    # reference schema_evolution_step1.py:139-178: add nullable column,
    # append with mergeSchema, time-travel across versions
    p = str(tmp_path / "evo")
    df1 = spark.createDataFrame([Row(k="a", v=1)])
    t = VersionedParquetTable.create(spark, df1, p)
    df2 = spark.createDataFrame([Row(k="b", v=2, risk_score=0.5)])
    t.append(df2, merge_schema=True)
    latest = t.read()
    assert set(latest.columns) == {"k", "v", "risk_score"}
    vals = {r.k: r.risk_score for r in latest.collect()}
    assert vals["a"] is None and vals["b"] == 0.5
    assert "risk_score" not in t.read(0).columns  # old snapshot unchanged


def test_vtable_generic_upsert(spark, tmp_path):
    from pyspark.sql import Row

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    rows = [
        Row(k="A", part=1, v="a1"),
        Row(k="B", part=1, v="b1"),
        Row(k="C", part=2, v="c1"),
    ]
    df = spark.createDataFrame(rows, "k string, part int, v string")
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "u"), partition_cols=["part"]
    )
    v0 = t.latest_version()
    updates = spark.createDataFrame(
        [
            Row(k="A", part=2, v="a2"),  # update that MOVES partition 1 -> 2
            Row(k="D", part=3, v="d1"),  # brand-new key, new partition
        ],
        "k string, part int, v string",
    )
    out = t.upsert(updates, ["k"])
    assert out == {"n_updated": 1, "n_inserted": 1, "n_deleted": 0}
    got = {(r.k, r.part, r.v) for r in t.read().collect()}
    assert got == {("A", 2, "a2"), ("B", 1, "b1"), ("C", 2, "c1"), ("D", 3, "d1")}
    # time travel still sees the pre-upsert state
    old = {(r.k, r.part, r.v) for r in t.read(v0).collect()}
    assert old == {("A", 1, "a1"), ("B", 1, "b1"), ("C", 2, "c1")}
    # idempotent re-apply: same updates, same final state
    t.upsert(updates, ["k"])
    assert {(r.k, r.part, r.v) for r in t.read().collect()} == got


def test_vtable_vacuum_retention(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "vac"), partition_cols=["part"]
    )
    # three more versions: two upserts + a compaction
    t.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="a2")], "k string, part int, v string"),
        ["k"],
    )
    t.upsert(
        spark.createDataFrame([Row(k="C", part=3, v="c1")], "k string, part int, v string"),
        ["k"],
    )
    versions_before = t.versions()
    assert len(versions_before) == 3
    out = t.vacuum(keep_versions=1)
    assert out["n_versions_dropped"] == 2 and out["n_files_deleted"] > 0
    # latest snapshot intact
    got = {(r.k, r.part, r.v) for r in t.read().collect()}
    assert got == {("A", 1, "a2"), ("B", 2, "b1"), ("C", 3, "c1")}
    # old versions are gone (time travel beyond retention fails)
    assert t.versions() == [versions_before[-1]]
    with _pytest.raises(FileNotFoundError):
        t._load_manifest(versions_before[0])


def test_late_tombstone_rebuild(spark, table_path):
    # late-arriving DELETE event: the tombstone must split the history
    # through the rebuild path, and the final current row stays the
    # post-deletion reactivation
    spec = SCD2Spec(
        key_cols=("contract",),
        event_ts_col="event_time",
        tracked_cols=("status",),
        tiebreak_cols=("rid",),
        delete_col="deleted",
        late_policy="rebuild",
    )
    b1 = spark.createDataFrame(
        [
            dev("A", "2023-01-10T00:00:00", "Draft"),
            dev("A", "2023-01-20T00:00:00", "Draft"),  # same value: collapses
            dev("A", "2023-01-30T00:00:00", "Signed"),
        ],
        DEL_SCHEMA,
    )
    run_scd2_batch(spark, spec, b1, table_path, batch_id="b1")
    # the delete happened on the 15th but arrives late
    late = spark.createDataFrame(
        [dev("A", "2023-01-15T00:00:00", "Draft", deleted=True)], DEL_SCHEMA
    )
    m = run_scd2_batch(spark, spec, late, table_path, batch_id="b2")
    assert m["n_stale"] == 1 and m["n_rebuilt"] >= 2
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    # ground truth over all events: Draft@10, deleted@15, Draft@20
    # (reactivation IS a change vs the tombstone), Signed@30
    assert [(r.status, bool(r.deleted), r.is_current) for r in rows] == [
        ("Draft", False, False),
        ("Draft", True, False),
        ("Draft", False, False),
        ("Signed", False, True),
    ]
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_vtable_restore(spark, tmp_path):
    """RESTORE analogue: rollback is a new auditable commit; data files
    carry by reference; restore of a vacuumed version fails cleanly."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "res"), partition_cols=["part"]
    )
    t.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="a2")], "k string, part int, v string"),
        ["k"],
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", "a2"), ("B", "b1")}
    v = t.restore(0)
    # head content equals v0, history preserved (3 commits + RESTORE)
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", "a1"), ("B", "b1")}
    assert t.history()[0]["operation"] == "RESTORE"
    assert t.history()[0]["metrics"] == {"restored_version": 0}
    # the pre-restore head is still time-travelable
    assert {(r.k, r.v) for r in t.read(v - 1).collect()} == {("A", "a2"), ("B", "b1")}
    # retention can orphan a restore target: clean failure, head intact
    t.upsert(
        spark.createDataFrame([Row(k="C", part=3, v="c1")], "k string, part int, v string"),
        ["k"],
    )
    t.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        t.restore(v - 1)
    assert {(r.k, r.v) for r in t.read().collect()} == {
        ("A", "a1"),
        ("B", "b1"),
        ("C", "c1"),
    }


def test_vtable_shallow_clone_is_independent(spark, tmp_path):
    """CLONE analogue: zero data copy at clone time, then fully
    independent histories — writes/vacuum on either side never disturb
    the other."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    src = VersionedParquetTable.create(
        spark, df, str(tmp_path / "src"), partition_cols=["part"]
    )
    dst = src.clone(str(tmp_path / "dst"))
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "a1"), ("B", "b1")}
    assert dst.history()[0]["operation"] == "CLONE"
    # diverge both sides
    dst.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="clone")], "k string, part int, v string"),
        ["k"],
    )
    src.upsert(
        spark.createDataFrame([Row(k="B", part=2, v="srcv")], "k string, part int, v string"),
        ["k"],
    )
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "clone"), ("B", "b1")}
    assert {(r.k, r.v) for r in src.read().collect()} == {("A", "a1"), ("B", "srcv")}
    # vacuum on the source must not break the clone's head (hardlinks)
    src.vacuum(keep_versions=1)
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "clone"), ("B", "b1")}


def test_vtable_detail(spark, tmp_path):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "det"), partition_cols=["part"]
    )
    d = t.detail()
    assert d["num_rows"] == 2 and d["num_files"] >= 2
    assert d["partition_cols"] == ["part"] and d["size_bytes"] > 0
    assert d["version"] == 0 and d["constraints"] == {}


def test_vtable_check_constraints(spark, tmp_path):
    """CHECK constraint analogue: validated on add, enforced on every
    write path pre-commit (violating write leaves no trace), carried
    through upsert commits, droppable."""
    from pyspark.sql import Row

    schema = "k string, part int, v int"
    df = spark.createDataFrame([Row(k="A", part=1, v=10), Row(k="B", part=2, v=None)], schema)
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "chk"), partition_cols=["part"]
    )
    # NULL satisfies the check (SQL standard); add passes, is auditable
    t.add_constraint("v_positive", "v > 0")
    assert t.history()[0]["operation"] == "ADD_CONSTRAINT"
    assert t.detail()["constraints"] == {"v_positive": "v > 0"}
    # adding a constraint existing rows violate fails
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("v_big", "v > 100")
    # violating append aborts pre-commit: same version, no stray files
    v_before = t.latest_version()
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([Row(k="C", part=1, v=-5)], schema))
    assert t.latest_version() == v_before
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 10), ("B", None)}
    # violating upsert (replace_partitions path) also aborts
    with pytest.raises(ValueError, match="v_positive"):
        t.upsert(spark.createDataFrame([Row(k="A", part=1, v=0)], schema), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 10), ("B", None)}
    # valid writes pass and keep carrying the constraint
    t.upsert(spark.createDataFrame([Row(k="A", part=1, v=20)], schema), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 20), ("B", None)}
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([Row(k="D", part=2, v=-1)], schema))
    # drop, then the formerly-violating write succeeds
    t.drop_constraint("v_positive")
    t.append(spark.createDataFrame([Row(k="D", part=2, v=-1)], schema))
    assert ("D", -1) in {(r.k, r.v) for r in t.read().collect()}


def test_vtable_concurrent_append_retries(spark, tmp_path):
    """Optimistic concurrency for blind appends: when another writer
    wins the version race, the append rebases onto the new head and
    commits — both writers' rows survive. A concurrent metadata change
    (new constraint) is a real conflict and raises."""
    import json as _json

    from pyspark.sql import Row

    schema = "k string, v int"
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([Row(k="base", v=0)], schema), str(tmp_path / "cc")
    )

    # Simulate a concurrent writer: every _commit first loses one race
    # because a rival manifest appears at the target version.
    orig_commit = t._commit
    rival_done = {"done": False}

    def racing_commit(version, files, sch, pc, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            m0 = t._load_manifest(t.latest_version())
            rival = dict(m0)
            rival["version"] = version
            rival["operation"] = "APPEND"  # the rival's own append
            with open(t._manifest_path(version), "w") as fh:
                _json.dump(rival, fh)
        return orig_commit(version, files, sch, pc, op, *args, **kwargs)

    t._commit = racing_commit
    v = t.append(spark.createDataFrame([Row(k="mine", v=1)], schema))
    t._commit = orig_commit
    # the rival took v1; our append must land at v2 with both visible
    assert v == 2
    assert {(r.k, r.v) for r in t.read().collect()} == {("base", 0), ("mine", 1)}
    assert [h["operation"] for h in t.history()[:2]] == ["APPEND", "APPEND"]

    # concurrent CONSTRAINT change during the race → hard conflict
    rival_done["done"] = False

    def constraint_racing_commit(version, files, sch, pc, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            m0 = t._load_manifest(t.latest_version())
            rival = dict(m0)
            rival["version"] = version
            rival["constraints"] = {"v_pos": "v > 0"}
            with open(t._manifest_path(version), "w") as fh:
                _json.dump(rival, fh)
        return orig_commit(version, files, sch, pc, op, *args, **kwargs)

    t._commit = constraint_racing_commit
    with pytest.raises(RuntimeError, match="concurrent schema/constraint"):
        t.append(spark.createDataFrame([Row(k="late", v=-3)], schema))
    t._commit = orig_commit


def test_vtable_merge_schema_rebase_keeps_winner_columns(spark, tmp_path):
    """Losing an append race to a concurrent schema-changing commit must
    rebase the schema too (new head ∪ ours), not re-commit the stale
    local union — otherwise the winner's new columns silently vanish
    from the table schema and its data reads back as absent."""
    from pyspark.sql import Row

    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([Row(k="base", v=0)], "k string, v int"),
        str(tmp_path / "msr"),
    )
    orig_commit = t._commit
    rival_done = {"done": False}

    def racing_commit(version, files, sch, pc, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            # a REAL rival append through a second handle: adds column w
            t2 = VersionedParquetTable(spark, t.path)
            t2.append(
                spark.createDataFrame([Row(k="rival", w=7)], "k string, w int"),
                merge_schema=True,
            )
        return orig_commit(version, files, sch, pc, op, *args, **kwargs)

    t._commit = racing_commit
    t.append(
        spark.createDataFrame([Row(k="mine", c=5)], "k string, c int"),
        merge_schema=True,
    )
    t._commit = orig_commit

    got = t.read()
    assert {"k", "v", "w", "c"} <= set(got.columns)
    rows = {r.k: r for r in got.collect()}
    assert rows["rival"].w == 7      # the winner's column survived the rebase
    assert rows["mine"].c == 5
    assert rows["base"].v == 0


def test_vtable_commit_is_atomic_no_clobber(tmp_path, spark):
    """_commit must never overwrite an existing manifest, even without
    the pre-existence check having fired (os.link fails EEXIST
    atomically; a check-then-rename can clobber)."""
    import os as _os

    from pyspark.sql import Row

    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([Row(k="base", v=0)], "k string, v int"),
        str(tmp_path / "at"),
    )
    v = t.latest_version()
    before = open(t._manifest_path(v)).read()
    with pytest.raises(RuntimeError, match="already committed"):
        t._commit(v, [], t.read().schema, [], "CLOBBER_ATTEMPT")
    assert open(t._manifest_path(v)).read() == before  # intact
    # no orphaned tmp files left behind
    mdir = _os.path.dirname(t._manifest_path(v))
    assert not [f for f in _os.listdir(mdir) if ".tmp-" in f]


def test_hot_key_merge_counts_and_invariants(spark, tmp_path):
    """A hot-keyed batch through the default spec: key HOT emits 600
    events (one changing per minute) while 50 other keys emit 2 each —
    the single-hot-key shape AQE's skew-join split handles. HOT's 600
    versions, C0's 2 and the 49 new keys' 98 are inserted, and HOT's
    and C0's seeded rows are closed."""

    def batch(n_hot=600):
        rows = []
        for i in range(n_hot):
            t = dt.datetime(2023, 3, 1) + dt.timedelta(minutes=i)
            rows.append(ev("HOT", t.isoformat(), f"S{i}", rid=i))
        for k in range(50):
            for j in range(2):
                t = dt.datetime(2023, 3, 2) + dt.timedelta(hours=j)
                rows.append(ev(f"C{k}", t.isoformat(), f"S{j}", rid=j))
        return spark.createDataFrame(rows, BATCH_SCHEMA)

    path = str(tmp_path / "t")
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame(
            [ev("HOT", "2023-02-01T00:00:00", "init"),
             ev("C0", "2023-02-01T00:00:00", "init")],
            BATCH_SCHEMA,
        ),
        path, batch_id="b0",
    )
    m = run_scd2_batch(spark, SPEC, batch(), path, batch_id="b1")

    assert (m["n_inserted"], m["n_closed"], m["n_stale"]) == (700, 2, 0)
    assert scd2.check_invariants(_read(spark, path), "contract").count() == 0


def test_dq_metrics_tallies_every_discard_reason(spark):
    """``dq_metrics`` tallies every discard reason in one aggregate:
    null key, duplicate-older and batch-date mismatch, including a key
    whose rows are all discarded."""
    from delta_lake_pyspark_scd2_spark.operators import validation

    rows = [
        ev("A", "2023-03-01T00:00:00", "S0", rid=0),
        ev("A", "2023-03-01T01:00:00", "S1", rid=1),
        ev("A", "2023-03-01T02:00:00", "S2", rid=2),
        ev("B", "2023-03-01T00:00:00", "S0", rid=0),
        # duplicate (key, ts) pair: loser discarded as DUPLICATE_OLDER
        ev("B", "2023-03-01T00:00:00", "S1", rid=-1),
        ev(None, "2023-03-01T00:00:00", "S0", rid=0),  # NULL_KEY
        # key D: every row lands on the wrong batch date -> all discarded
        ev("D", "2023-02-28T00:00:00", "S0", rid=0),
    ]
    batch = spark.createDataFrame(rows, BATCH_SCHEMA).withColumn(
        "batch_date", F.lit("2023-03-01").cast("date")
    )
    tagged = validation.tag_discards(
        batch, ["contract"], "event_time",
        batch_date_col="batch_date", tiebreak_cols=["rid"],
    )
    assert validation.dq_metrics(tagged) == {
        "n_total": 7,
        "n_kept": 4,
        "n_null_key": 1,
        "n_batch_date_mismatch": 1,
        "n_duplicate_older": 1,
    }


def test_skew_preflight_auto_stays_off_on_uniform_batches(spark, table_path):
    """A uniform batch closes and re-inserts every key through the
    default spec. (The name predates the removal of the skew
    pre-flight this test once checked as well.)"""
    batch = spark.createDataFrame(
        [ev(f"K{k}", "2023-03-01T00:00:00", "S0") for k in range(40)],
        BATCH_SCHEMA,
    )
    run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame(
            [ev(f"K{k}", "2023-03-02T00:00:00", "S1") for k in range(40)],
            BATCH_SCHEMA,
        ),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 40 and m["n_inserted"] == 40


def test_spec_rejects_unknown_enum_values():
    """A typo in an enum-valued spec field must fail at spec
    construction, not silently take some default branch."""
    import dataclasses

    for field, bad in [
        ("dedup_mode", "keep_first"),
        ("late_policy", "ignore"),
    ]:
        with pytest.raises(ValueError, match=field):
            dataclasses.replace(SPEC, **{field: bad})


def test_same_day_close_replay_and_new_key_history(spark, table_path):
    """One merge holding every case that shares a partition: closes and
    inserts for A and B on the day of their current rows, a replay of
    A's first event (stale, no row), and a new key C on that day. The
    exact version history, and one new file for the day."""
    b1 = [
        ev("A", "2023-01-21T10:00:00", "Draft"),
        ev("B", "2023-01-21T11:00:00", "Draft"),
    ]
    b2 = [
        ev("A", "2023-01-21T10:00:00", "Draft"),  # replay: no-op
        ev("A", "2023-01-21T15:00:00", "Active"),
        ev("B", "2023-01-21T16:00:00", "Closed"),
        ev("C", "2023-01-21T17:00:00", "Draft"),
    ]
    run_scd2_batch(
        spark, SPEC, spark.createDataFrame(b1, BATCH_SCHEMA), table_path,
        batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC, spark.createDataFrame(b2, BATCH_SCHEMA), table_path,
        batch_id="b2",
    )
    assert (m["n_closed"], m["n_inserted"], m["n_stale"]) == (2, 3, 1)
    cols = ["contract", "valid_from", "valid_to", "is_current",
            "status", "agent", "closed_by_batch"]
    t = VersionedParquetTable(spark, table_path)
    got = sorted(tuple(str(r[c]) for c in cols) for r in t.read().collect())
    end = "9999-12-31 00:00:00"
    assert got == [
        ("A", "2023-01-21 10:00:00", "2023-01-21 15:00:00", "False", "Draft", "None", "b2"),
        ("A", "2023-01-21 15:00:00", end, "True", "Active", "None", "None"),
        ("B", "2023-01-21 11:00:00", "2023-01-21 16:00:00", "False", "Draft", "None", "b2"),
        ("B", "2023-01-21 16:00:00", end, "True", "Closed", "None", "None"),
        ("C", "2023-01-21 17:00:00", end, "True", "Draft", "None", "None"),
    ]
    assert len(t._current()["files"]) == 1
    assert scd2.check_invariants(t.read(), "contract").count() == 0

"""Golden-scenario tests for the SCD2 operator layer.

Ports the reference's behavioral specs (SURVEY.md §5 / FIXTURES.md §3,
``test/run_all_test.py:40-159``) as operator-level assertions: interval
contiguity, latest-wins dedup, null-safe change detection, as-of
semantics, invariants.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import scd2


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def batch(spark):
    rows = [
        # key A: three events, the middle two share a timestamp (tiebreak)
        Row(k="A", ts=ts("2023-01-21T10:00:00"), v="draft", eid=1),
        Row(k="A", ts=ts("2023-01-21T12:00:00"), v="sent", eid=2),
        Row(k="A", ts=ts("2023-01-21T12:00:00"), v="signed", eid=3),
        # key B: single event
        Row(k="B", ts=ts("2023-01-21T09:00:00"), v="draft", eid=4),
    ]
    return spark.createDataFrame(rows)


def test_intervalize_contiguity_and_current(batch):
    out = scd2.intervalize(batch, "k", "ts", tiebreak_cols=["eid"]).orderBy(
        "k", "valid_from", "eid"
    )
    rows = out.collect()
    a = [r for r in rows if r.k == "A"]
    # contiguous: each valid_to == next valid_from (run_all_test.py:98)
    assert a[0].valid_to == a[1].valid_from
    assert a[1].valid_to == a[2].valid_from
    # exactly the last is current, sentinel open interval
    assert [r.is_current for r in a] == [False, False, True]
    assert str(a[2].valid_to) == "9999-12-31 00:00:00"
    b = [r for r in rows if r.k == "B"]
    assert len(b) == 1 and b[0].is_current


def test_intervalize_no_invariant_violations(batch):
    versions = scd2.intervalize(batch, "k", "ts", tiebreak_cols=["eid"])
    assert scd2.check_invariants(versions, "k").count() == 0


def test_latest_per_key_dedup(batch):
    out = scd2.latest_per_key(batch, ["k"], "ts", tiebreak_cols=["eid"])
    rows = {r.k: r for r in out.collect()}
    assert rows["A"].eid == 3  # equal-ts tie broken by eid desc
    assert rows["B"].eid == 4


def test_detect_changes_null_safe(spark):
    existing = spark.createDataFrame(
        [
            Row(k="A", v=None),   # NULL -> 'x' must be detected (notes.md:124-130)
            Row(k="B", v="same"),
            Row(k="C", v="old"),
        ]
    )
    staged = spark.createDataFrame(
        [
            Row(k="A", v="x", ts=ts("2023-01-25T10:00:00")),
            Row(k="B", v="same", ts=ts("2023-01-25T10:00:00")),  # no change
            Row(k="C", v="new", ts=ts("2023-01-25T11:00:00")),
            Row(k="C", v="newer", ts=ts("2023-01-25T09:00:00")),  # earlier change
            Row(k="D", v="brand", ts=ts("2023-01-25T10:00:00")),  # not in existing
        ]
    )
    out = scd2.detect_changes(existing, staged, "k", ["v"], "ts")
    got = {r.k: r.first_change_ts for r in out.collect()}
    assert set(got) == {"A", "C"}  # B unchanged, D not matched
    assert got["C"] == ts("2023-01-25T09:00:00")  # min of changing events


def test_asof_join_inclusive_and_strict(spark):
    events = spark.createDataFrame(
        [
            Row(k="u1", ets=ts("2023-01-01T10:00:00"), val=1),
            Row(k="u1", ets=ts("2023-01-01T12:00:00"), val=2),
        ]
    )
    probes = spark.createDataFrame(
        [
            Row(k="u1", pts=ts("2023-01-01T11:00:00"), pid=1),
            Row(k="u1", pts=ts("2023-01-01T12:00:00"), pid=2),  # equal ts
            Row(k="u1", pts=ts("2023-01-01T09:00:00"), pid=3),  # before all
            Row(k="u2", pts=ts("2023-01-01T09:00:00"), pid=4),  # unknown key
        ]
    )
    out = scd2.asof_join(probes, events, "k", "pts", "ets", ["val"])
    got = {r.pid: r.val for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: None, 4: None}

    strict = scd2.asof_join(probes, events, "k", "pts", "ets", ["val"], strict=True)
    got_strict = {r.pid: r.val for r in strict.collect()}
    assert got_strict[2] == 1  # equal-ts event excluded under strict


def test_check_invariants_flags_violations(spark):
    bad = spark.createDataFrame(
        [
            # overlapping intervals for k=X
            Row(k="X", valid_from=ts("2023-01-01T00:00:00"),
                valid_to=ts("2023-01-03T00:00:00"), is_current=False),
            Row(k="X", valid_from=ts("2023-01-02T00:00:00"),
                valid_to=ts("2023-01-04T00:00:00"), is_current=True),
            # two current rows for k=Y
            Row(k="Y", valid_from=ts("2023-01-01T00:00:00"),
                valid_to=ts("9999-12-31T00:00:00"), is_current=True),
            Row(k="Y", valid_from=ts("2023-01-05T00:00:00"),
                valid_to=ts("9999-12-31T00:00:00"), is_current=True),
        ]
    )
    v = scd2.check_invariants(bad, "k")
    kinds = {r.violation for r in v.collect()}
    assert "overlap" in kinds and "multi_current" in kinds


def test_asof_join_forward_inclusive_strict_and_ties(spark):
    events = spark.createDataFrame(
        [
            Row(k="u1", ets=ts("2023-01-01T10:00:00"), eid=1, val=1),
            Row(k="u1", ets=ts("2023-01-01T12:00:00"), eid=2, val=2),
            Row(k="u1", ets=ts("2023-01-01T12:00:00"), eid=3, val=3),  # tie
        ]
    )
    probes = spark.createDataFrame(
        [
            Row(k="u1", pts=ts("2023-01-01T11:00:00"), pid=1),  # next is 12:00
            Row(k="u1", pts=ts("2023-01-01T12:00:00"), pid=2),  # equal ts
            Row(k="u1", pts=ts("2023-01-01T13:00:00"), pid=3),  # after all
            Row(k="u2", pts=ts("2023-01-01T09:00:00"), pid=4),  # unknown key
        ]
    )
    out = scd2.asof_join(
        probes,
        events,
        "k",
        "pts",
        "ets",
        ["val"],
        direction="forward",
        event_tiebreak_cols=["eid"],
    )
    got = {r.pid: r.val for r in out.collect()}
    # equal-ts ties pick the SMALLEST tiebreak (earliest wins forward)
    assert got == {1: 2, 2: 2, 3: None, 4: None}

    strict = scd2.asof_join(
        probes,
        events,
        "k",
        "pts",
        "ets",
        ["val"],
        direction="forward",
        strict=True,
        event_tiebreak_cols=["eid"],
    )
    got_strict = {r.pid: r.val for r in strict.collect()}
    assert got_strict[2] is None  # equal-ts events excluded, none later

    import pytest as _pytest

    with _pytest.raises(ValueError):
        scd2.asof_join(probes, events, "k", "pts", "ets", ["val"], direction="nearest")


def test_asof_join_null_value_field_does_not_tear_events(spark):
    """merge_asof semantics: ALL value columns come from the SAME
    nearest event — an event whose value field is NULL yields NULL,
    never a value borrowed from a farther event."""
    events = spark.createDataFrame(
        [
            Row(k="u1", ets=ts("2023-01-01T10:00:00"), eid=1, val=None),
            Row(k="u1", ets=ts("2023-01-01T08:00:00"), eid=0, val=7),
            Row(k="u1", ets=ts("2023-01-01T12:00:00"), eid=2, val=9),
        ]
    )
    probes = spark.createDataFrame([Row(k="u1", pts=ts("2023-01-01T11:00:00"), pid=1)])
    back = scd2.asof_join(
        probes, events, "k", "pts", "ets", ["eid", "val"]
    ).collect()[0]
    assert back.eid == 1 and back.val is None  # nearest-before, not eid=0's 7
    fwd = scd2.asof_join(
        probes,
        events,
        "k",
        "pts",
        "ets",
        ["eid", "val"],
        direction="forward",
    ).collect()[0]
    assert fwd.eid == 2 and fwd.val == 9
    # probe before the NULL-valued event, forward: nearest is the NULL one
    probes2 = spark.createDataFrame([Row(k="u1", pts=ts("2023-01-01T09:00:00"), pid=2)])
    fwd2 = scd2.asof_join(
        probes2,
        events,
        "k",
        "pts",
        "ets",
        ["eid", "val"],
        direction="forward",
    ).collect()[0]
    assert fwd2.eid == 1 and fwd2.val is None


def test_repair_intervals_heals_all_invariant_classes(spark):
    """Overlap, gap, and stray-open rows all repair to a chain that
    check_invariants certifies clean; rows are never dropped and
    succession order (valid_from, tiebreak) is the truth of record."""
    bad = spark.createDataFrame(
        [
            # k=X: overlap (row1 overshoots row2's start) + stray open row
            Row(k="X", v=1, valid_from=ts("2023-01-01T00:00:00"),
                valid_to=ts("2023-01-05T00:00:00"), is_current=True),
            Row(k="X", v=2, valid_from=ts("2023-01-03T00:00:00"),
                valid_to=ts("2023-01-04T00:00:00"), is_current=True),
            # k=Y: gap between row1's end and row2's start
            Row(k="Y", v=1, valid_from=ts("2023-01-01T00:00:00"),
                valid_to=ts("2023-01-02T00:00:00"), is_current=False),
            Row(k="Y", v=2, valid_from=ts("2023-01-06T00:00:00"),
                valid_to=ts("9999-12-31T00:00:00"), is_current=True),
        ]
    )
    got = scd2.repair_intervals(bad, "k", tiebreak_cols=["v"])
    assert scd2.check_invariants(got, "k").count() == 0
    assert got.count() == 4
    rows = {(r["k"], r["v"]): r for r in got.collect()}
    x1, y1 = rows[("X", 1)], rows[("Y", 1)]
    assert x1["was_overlap"] and not x1["was_gap"]
    assert x1["valid_to"] == ts("2023-01-03T00:00:00")
    assert not x1["is_current"]
    assert y1["was_gap"] and not y1["was_overlap"]
    assert y1["valid_to"] == ts("2023-01-06T00:00:00")
    # last rows: open sentinel, current, no flags
    for key in [("X", 2), ("Y", 2)]:
        r = rows[key]
        assert r["is_current"] and not r["was_overlap"] and not r["was_gap"]
        assert r["valid_to"] == ts("9999-12-31T00:00:00")


def test_repair_intervals_is_idempotent_on_clean_chains(spark):
    clean = spark.createDataFrame(
        [
            Row(k="A", v=1, valid_from=ts("2023-01-01T00:00:00"),
                valid_to=ts("2023-01-02T00:00:00"), is_current=False),
            Row(k="A", v=2, valid_from=ts("2023-01-02T00:00:00"),
                valid_to=ts("9999-12-31T00:00:00"), is_current=True),
        ]
    )
    got = scd2.repair_intervals(clean, "k", tiebreak_cols=["v"])
    assert got.filter(F.col("was_overlap") | F.col("was_gap")).count() == 0
    want = {(r["k"], r["v"]): (r["valid_to"], r["is_current"])
            for r in clean.collect()}
    have = {(r["k"], r["v"]): (r["valid_to"], r["is_current"])
            for r in got.collect()}
    assert have == want


def test_asof_join_hot_probe_key_matches_brute_force(spark):
    """Key HOT carries 500 probes against an 8-event history with
    equal-ts ties and a NULL tiebreak value; cold keys and a key with
    no events ride along. All four (direction, strict) combinations
    must equal a brute-force scan: backward picks the greatest
    (ts, tiebreak) at or before the probe, forward the smallest at or
    after it, NULL tiebreaks ordering first."""
    ev_rows = [
        Row(k="HOT", ets=ts("2023-01-01T02:00:00"), rid=1, val=1, aux="a"),
        Row(k="HOT", ets=ts("2023-01-01T04:00:00"), rid=2, val=2, aux=None),
        Row(k="HOT", ets=ts("2023-01-01T04:00:00"), rid=3, val=3, aux="c"),
        Row(k="HOT", ets=ts("2023-01-01T06:00:00"), rid=None, val=4, aux="d"),
        Row(k="HOT", ets=ts("2023-01-01T06:00:00"), rid=5, val=5, aux="e"),
        Row(k="HOT", ets=ts("2023-01-01T08:00:00"), rid=6, val=6, aux="f"),
        Row(k="C1", ets=ts("2023-01-01T03:00:00"), rid=1, val=10, aux="x"),
        Row(k="C2", ets=ts("2023-01-01T05:00:00"), rid=1, val=20, aux="y"),
    ]
    events = spark.createDataFrame(
        ev_rows, "k string, ets timestamp, rid int, val int, aux string"
    )
    pr_rows = [
        Row(k="HOT", pts=ts("2023-01-01T00:30:00") + dt.timedelta(minutes=i), pid=i)
        for i in range(500)
    ] + [
        Row(k="C1", pts=ts("2023-01-01T03:00:00"), pid=1000),
        Row(k="C1", pts=ts("2023-01-01T02:59:00"), pid=1001),
        Row(k="C2", pts=ts("2023-01-01T09:00:00"), pid=1002),
        Row(k="MISS", pts=ts("2023-01-01T09:00:00"), pid=1003),
    ]
    probes = spark.createDataFrame(pr_rows, "k string, pts timestamp, pid int")

    def order(e):  # window order: ts, then the tiebreak with NULL first
        return (e.ets, e.rid is not None, e.rid or 0)

    def expected(direction, strict):
        out = {}
        for p in pr_rows:
            if direction == "backward":
                cands = [e for e in ev_rows if e.k == p.k and (
                    e.ets < p.pts if strict else e.ets <= p.pts)]
                pick = max(cands, key=order, default=None)
            else:
                cands = [e for e in ev_rows if e.k == p.k and (
                    e.ets > p.pts if strict else e.ets >= p.pts)]
                pick = min(cands, key=order, default=None)
            out[p.pid] = (pick.val, pick.aux) if pick else (None, None)
        return out

    for direction in ("backward", "forward"):
        for strict in (False, True):
            got = scd2.asof_join(
                probes, events, "k", "pts", "ets", ["val", "aux"],
                strict=strict, event_tiebreak_cols=["rid"],
                direction=direction,
            )
            have = {r.pid: (r.val, r.aux) for r in got.collect()}
            assert have == expected(direction, strict), (direction, strict)

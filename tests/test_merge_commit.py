"""One atomic commit per SCD2 merge, and the single vtable commit
primitive under it: every merge version is a consistent SCD2 state, a
failure anywhere before the commit leaves the previous version and no
cached frame behind, and every writer obeys one conflict rule."""

import datetime
import warnings
from collections import Counter

import pytest
from test_persist_hygiene import _cache_empty

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.pipeline import scd2_pipeline
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable
from delta_lake_pyspark_scd2_spark.sources.vtable_stream import (
    _changes_schema,
    _VTableChangesStreamReader,
)

SPEC = SCD2Spec(
    key_cols=("k",), event_ts_col="ts", tracked_cols=("v",), tiebreak_cols=("k",)
)
SCHEMA = "k string, ts timestamp, v string"
COLS = ["k", "valid_from", "valid_to", "is_current", "v", "closed_by_batch"]


def _ev(k, ts, v):
    return (k, datetime.datetime.fromisoformat(ts), v)


B1 = [
    _ev("A", "2023-01-21T10:00:00", "a1"),
    _ev("B", "2023-02-05T10:00:00", "b1"),
    _ev("C", "2023-03-01T10:00:00", "c1"),
]
B2 = [
    _ev("A", "2023-01-22T09:00:00", "a2"),  # closes A
    _ev("B", "2023-02-06T09:00:00", "b1"),  # no change
    _ev("C", "2023-02-01T09:00:00", "c0"),  # stale: before C's current row
    _ev("D", "2023-01-25T09:00:00", "d1"),  # new key
]
B3 = [
    _ev("A", "2023-01-23T09:00:00", "a3"),  # closes A again
    _ev("C", "2023-03-02T09:00:00", "c2"),  # closes C
    _ev("E", "2023-03-03T09:00:00", "e1"),  # new key
]


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.select(*COLS).collect())


@pytest.fixture(scope="module")
def hist(spark, tmp_path_factory):
    """A table created from B1 and merged with B2 and B3, a clone of it
    taken before the merges (with a property set on the clone), and the
    values the stale-count Observation returned during the merges."""
    root = tmp_path_factory.mktemp("merge_commit")
    path = str(root / "t")
    run_scd2_batch(spark, SPEC, spark.createDataFrame(B1, SCHEMA), path, batch_id="b1")
    t = VersionedParquetTable(spark, path)
    seed = t.clone(str(root / "seed"))
    seed.set_property("owner", "etl")
    observed = []
    orig = scd2_pipeline._observed_long

    def recording(obs, key):
        observed.append(orig(obs, key))
        return observed[-1]

    scd2_pipeline._observed_long = recording
    try:
        metrics = [
            run_scd2_batch(spark, SPEC, spark.createDataFrame(b, SCHEMA), path, batch_id=i)
            for i, b in (("b2", B2), ("b3", B3))
        ]
    finally:
        scd2_pipeline._observed_long = orig
    return {"root": root, "t": t, "seed": seed, "metrics": metrics, "observed": observed}


def test_one_commit_per_merge_and_every_version_consistent(hist):
    t, metrics = hist["t"], hist["metrics"]
    assert t.versions() == [0, 1, 2]  # create + 2 merges
    ops = list(reversed(t.history()))
    assert [h["operation"] for h in ops] == ["CREATE", "SCD2_MERGE", "SCD2_MERGE"]
    for h, m in zip(ops[1:], metrics):
        assert h["metrics"]["n_closed"] == m["n_closed"] > 0
        assert h["metrics"]["n_inserted"] == m["n_inserted"] > 0
        om = h["operation_metrics"]
        assert om["files_added"] > 0 and om["bytes_added"] > 0
        assert om["rows_added"] - om["rows_removed"] == m["n_inserted"]
    for v in t.versions():
        assert scd2.check_invariants(t.read(v), "k").count() == 0


def test_stale_count_comes_from_the_observation(hist):
    # the merge of B2 sees one stale event; the pinned pyspark must serve
    # it from the Observation, not the late.count() fallback
    assert hist["metrics"][0]["n_stale"] == 1
    assert hist["observed"][0] == 1
    assert [m["n_observation_fallbacks"] for m in hist["metrics"]] == [0, 0]


def test_observation_fallback_warns_once():
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("default")
        for _ in range(3):  # one call site, as in the merge
            assert scd2_pipeline._observed_long(object(), "n") is None
    assert [w.category for w in got] == [RuntimeWarning]


def _raise_in_commit(monkeypatch):
    orig = VersionedParquetTable._commit

    def failing(self, version, files, schema, pc, op, *a, **kw):
        if op == "SCD2_MERGE":
            raise OSError("injected: commit failed after the files were written")
        return orig(self, version, files, schema, pc, op, *a, **kw)

    monkeypatch.setattr(VersionedParquetTable, "_commit", failing)


def _raise_planning_inserts(monkeypatch):
    def failing(spec, events):
        raise RuntimeError("injected: planning the insert frame failed")

    monkeypatch.setattr(scd2_pipeline, "_prepare_versions", failing)


def _raise_in_stage_write(monkeypatch):
    orig = VersionedParquetTable.stage_write

    def failing(self, *frames, **kw):
        orig(self, *frames, **kw)  # the files are written, uncommitted
        raise RuntimeError("injected: the merge's write failed")

    monkeypatch.setattr(VersionedParquetTable, "stage_write", failing)


def test_failed_merges_leave_previous_version(spark, hist, monkeypatch):
    """Each injected fault leaves the version, the content and the
    CacheManager exactly as they were, so one re-run after all three
    starts from the state each of them left; it must equal a clean run.
    The re-run also loses its stale-count Observation, so it takes the
    explicit-count fallback and must report that in its metrics. The
    table is a clone, so the re-run also shows that a clone merges like
    its source and keeps all of its metadata."""
    t = hist["seed"].clone(str(hist["root"] / "faults"))
    v_before, rows_before = t.latest_version(), _rows(t.read())
    batch = spark.createDataFrame(B2, SCHEMA)
    spark.catalog.clearCache()
    for inject in (_raise_in_commit, _raise_planning_inserts, _raise_in_stage_write):
        with monkeypatch.context() as mp:
            inject(mp)
            with pytest.raises((OSError, RuntimeError), match="injected"):
                run_scd2_batch(spark, SPEC, batch, t.path, batch_id="b2")
        assert t.latest_version() == v_before, inject.__name__
        assert _rows(t.read()) == rows_before, inject.__name__
        assert _cache_empty(spark), f"{inject.__name__} left persisted frames"
    observed_long = scd2_pipeline._observed_long
    monkeypatch.setattr(
        scd2_pipeline,
        "_observed_long",
        lambda obs, key: None if key == "n_stale" else observed_long(obs, key),
    )
    m = run_scd2_batch(spark, SPEC, batch, t.path, batch_id="b2")
    assert m["n_observation_fallbacks"] == 1
    assert m["n_stale"] == hist["metrics"][0]["n_stale"]
    assert _rows(t.read()) == _rows(hist["t"].read(1))
    assert t.generated_columns() == hist["t"].generated_columns() != {}
    assert t.properties() == hist["seed"].properties() == {"owner": "etl"}


def test_close_and_insert_in_one_partition_write_one_file(spark, hist, monkeypatch):
    """A merge whose close and insert land on one day stages ONE write
    of both frames, and leaves one new file in that day."""
    t = hist["seed"].clone(str(hist["root"] / "one_write"))
    before = {f["path"] for f in t._current()["files"]}
    calls = []
    orig = VersionedParquetTable.stage_write

    def counting(self, *frames, **kw):
        calls.append(len(frames))
        return orig(self, *frames, **kw)

    monkeypatch.setattr(VersionedParquetTable, "stage_write", counting)
    # A's current row is on 2023-01-21, and so is its change
    batch = spark.createDataFrame([_ev("A", "2023-01-21T12:00:00", "a2")], SCHEMA)
    m = run_scd2_batch(spark, SPEC, batch, t.path, batch_id="b9")
    assert (m["n_closed"], m["n_inserted"]) == (1, 1)
    assert calls == [2]
    new = [f for f in t._current()["files"] if f["path"] not in before]
    day = {"valid_from_year": "2023", "valid_from_month": "1", "valid_from_day": "21"}
    assert [(f["partition"], f["rows"]) for f in new] == [(day, 2)]


def test_merges_stream_from_a_change_feed_table(spark, hist):
    """On a table with the change feed on, the records the stream
    reader serves for two merge commits, applied as a row multiset to
    the pre-merge snapshot, give the post-merge snapshot."""
    t = hist["seed"].clone(str(hist["root"] / "cdf"))
    t.set_property("enableChangeDataFeed", "true")
    v0 = t.latest_version()
    for i, b in (("b2", B2), ("b3", B3)):
        run_scd2_batch(spark, SPEC, spark.createDataFrame(b, SCHEMA), t.path, batch_id=i)
    schema = _changes_schema(t.path)
    reader = _VTableChangesStreamReader(schema, {"path": t.path})
    parts = reader.partitions({"version": v0}, {"version": t.latest_version()})
    records = [dict(zip(schema.names, r)) for p in parts for r in reader.read(p)]
    assert {r["_commit_version"] for r in records} == {v0 + 1, v0 + 2}
    rows = Counter(_rows(t.read(v0)))
    for r in records:
        sign = 1 if r["_change_type"] in ("insert", "update_postimage") else -1
        rows[tuple(str(r[c]) for c in COLS)] += sign
    assert min(rows.values()) >= 0
    assert sorted(rows.elements()) == _rows(t.read())
    assert _rows(t.read()) == _rows(hist["t"].read())


def test_merge_appends_trigger_auto_compaction(spark, hist):
    t = hist["seed"].clone(str(hist["root"] / "auto_compact"))
    t.set_property("autoCompact", "true")
    t.set_property("autoCompact.minFiles", "2")
    # a new key on the day of A's row: its insert is that day's second file
    batch = spark.createDataFrame([_ev("F", "2023-01-21T12:00:00", "f1")], SCHEMA)
    run_scd2_batch(spark, SPEC, batch, t.path, batch_id="b9")
    assert [h["operation"] for h in t.history()[:2]] == ["COMPACT", "SCD2_MERGE"]
    assert _rows(t.read()) == _rows(t.read(t.latest_version() - 1))


def test_merge_assigning_identity_conflicts_after_a_lost_race(
    spark, hist, monkeypatch
):
    """The merge's inserts draw identity values from the snapshot it
    read; after losing a commit race they could repeat the winner's, so
    the merge must raise instead of rebasing."""
    src = hist["seed"]
    path = str(hist["root"] / "identity")
    VersionedParquetTable.create(
        spark,
        src.read(),
        path,
        partition_cols=src.partition_columns(),
        generated_cols=src.generated_columns(),
        identity_cols={"sk": {}},
    )
    t = VersionedParquetTable(spark, path)
    rival = t.read().limit(0).drop("sk")
    orig = VersionedParquetTable._commit

    def racing(self, version, files, schema, pc, op, *a, **kw):
        if op == "SCD2_MERGE" and t.latest_version() == 0:
            VersionedParquetTable(spark, path).append(rival)
        return orig(self, version, files, schema, pc, op, *a, **kw)

    monkeypatch.setattr(VersionedParquetTable, "_commit", racing)
    with pytest.raises(RuntimeError, match="identity"):
        run_scd2_batch(spark, SPEC, spark.createDataFrame(B2, SCHEMA), path, batch_id="b2")
    assert t.latest_version() == 1  # create, then the rival's append
    assert [h["operation"] for h in t.history()] == ["APPEND", "CREATE"]


# -- the conflict rule, for writers that newly go through it --------------


@pytest.fixture(scope="module")
def parts(spark, tmp_path_factory):
    """Two partitions, ``a`` (ids 0-4) and ``b`` (ids 100-104)."""
    df = spark.createDataFrame(
        [(i, "a", 0) for i in range(5)] + [(100 + i, "b", 0) for i in range(5)],
        "id long, part string, val long",
    )
    path = str(tmp_path_factory.mktemp("parts") / "t")
    return VersionedParquetTable.create(spark, df, path, partition_cols=["part"])


def _delete(t):
    t.delete([("id", "<", 2)])


def _update(t):
    t.update([("id", "<", 2)], {"val": "val + 1"})


def _disjoint_append(spark, path):
    VersionedParquetTable(spark, path).append(
        spark.createDataFrame([(200, "b", 9)], "id long, part string, val long")
    )


def _overlapping_rewrite(spark, path):
    VersionedParquetTable(spark, path).replace_partitions(
        spark.createDataFrame([(300, "a", 9)], "id long, part string, val long"),
        [{"part": "a"}],
    )


@pytest.mark.parametrize("rival", [_disjoint_append, _overlapping_rewrite])
@pytest.mark.parametrize("writer", [_delete, _update])
def test_writer_conflict_rule(spark, tmp_path, parts, writer, rival):
    path = str(tmp_path / "t")
    t = parts.clone(path)
    orig = t._commit
    raced = {"done": False}

    def racing(version, files, schema, pc, op, *a, **kw):
        if not raced["done"]:
            raced["done"] = True
            rival(spark, path)
        return orig(version, files, schema, pc, op, *a, **kw)

    t._commit = racing
    try:
        if rival is _overlapping_rewrite:
            with pytest.raises(RuntimeError, match="same partition"):
                writer(t)
            # the winner's rewrite survives intact
            assert {r.id for r in t.read().collect()} == {300, *range(100, 105)}
            return
        writer(t)
    finally:
        t._commit = orig
    assert t.latest_version() == 2  # clone, the rival's append, then ours
    got = {(r.id, r.val) for r in t.read().collect()}
    assert (200, 9) in got  # the winner's row survived the rebase
    if writer is _update:
        assert {(0, 1), (1, 1), (2, 0)} <= got
    else:
        assert not {i for i, _ in got} & {0, 1} and (2, 0) in got

"""The SCD2 merge's critical path stays on the JVM: a scan of no files
is an empty relation Catalyst folds away at plan time, the DQ tallies
ride the merge's first action as an Observation, and planning a scan of
many files runs no Spark job."""

import datetime
import os
import uuid

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import validation
from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.pipeline import scd2_pipeline
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable, _schema

SPEC = SCD2Spec(
    key_cols=("k",), event_ts_col="ts", tracked_cols=("v",), tiebreak_cols=("v",)
)
SCHEMA = "k string, ts timestamp, v string"
COLS = ["k", "valid_from", "valid_to", "is_current", "v", "closed_by_batch"]


def _ev(k, ts, v):
    return (k, datetime.datetime.fromisoformat(ts), v)


B1 = [
    _ev("A", "2023-01-21T10:00:00", "a1"),
    _ev("B", "2023-02-05T10:00:00", "b1"),
    _ev(None, "2023-02-05T11:00:00", "n1"),  # NULL key
]
# NULL keys and a duplicate (key, ts) the tiebreak drops; the new key D
# opens a day no file holds yet, and so does A's change: the merge's
# idempotency anti-join reads an empty partition set
B2 = [
    _ev("A", "2023-01-22T09:00:00", "a2"),  # closes A
    _ev("A", "2023-01-22T09:00:00", "a0"),  # duplicate, loses the tiebreak
    _ev(None, "2023-01-22T09:00:00", "n2"),
    _ev(None, "2023-01-23T09:00:00", "n3"),
    _ev("D", "2023-04-25T09:00:00", "d1"),  # new key on a new day
]


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.select(*COLS).collect())


def _want_dq(spark, batch):
    tagged = validation.tag_discards(
        spark.createDataFrame(batch, SCHEMA), ["k"], "ts", tiebreak_cols=("v",)
    )
    return validation.dq_metrics(tagged)


@pytest.fixture(scope="module")
def seed(spark, tmp_path_factory):
    """A table created from B1, and its create run's metrics."""
    root = tmp_path_factory.mktemp("first_action")
    path = str(root / "seed")
    m = run_scd2_batch(
        spark, SPEC, spark.createDataFrame(B1, SCHEMA), path, batch_id="b1",
        quarantine_path=str(root / "q_seed"),
    )
    return {"root": root, "t": VersionedParquetTable(spark, path), "create": m}


@pytest.fixture(scope="module")
def clean(spark, seed):
    """B2 merged into a clone of the seed, with no fault and no patch."""
    t = seed["t"].clone(str(seed["root"] / "clean"))
    m = run_scd2_batch(spark, SPEC, spark.createDataFrame(B2, SCHEMA), t.path, batch_id="b2")
    return {"t": t, "m": m}


def _dq_part(m):
    return {k: m[k] for k in ("n_total", "n_kept", "n_null_key",
                              "n_batch_date_mismatch", "n_duplicate_older")}


def test_empty_partition_read_is_an_empty_local_relation(spark, seed):
    t = seed["t"]
    nowhere = [{"valid_from_year": "1999", "valid_from_month": "1", "valid_from_day": "1"}]
    schema = _schema(t._current())
    df = t.read_partitions(nowhere)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation" and plan.data().isEmpty()
    # the manifest's exact types and nullability (is_current is NOT NULL)
    assert df.schema.fields == schema.fields
    assert not df.schema["is_current"].nullable
    # an anti-join against it optimizes to its left side
    left = t.read().select("k", "valid_from")
    anti = left.join(
        t.read_partitions(nowhere).select("k", "valid_from"),
        on=["k", "valid_from"], how="left_anti",
    )
    assert anti._jdf.queryExecution().optimizedPlan().sameResult(
        left._jdf.queryExecution().optimizedPlan()
    )


def test_table_changes_of_an_append_are_exactly_its_inserts(spark, seed):
    t = seed["t"].clone(str(seed["root"] / "changes"))
    v = t.latest_version()
    add = t.read().limit(1).collect()[0].asDict()
    add.update(k="Z", v="z1")
    t.append(spark.createDataFrame([add], t.read().schema))
    got = t.table_changes(["k"], v).collect()
    assert [(r["k"], r["v"], r["_change_type"], r["_commit_version"]) for r in got] == [
        ("Z", "z1", "insert", v + 1)
    ]


def test_planning_a_40_file_read_runs_no_spark_job(spark, tmp_path):
    """Past ``parallelPartitionDiscovery.threshold`` paths Spark lists a
    scan's files with a Spark job; a manifest-named scan must not."""
    t = VersionedParquetTable.create(
        spark, spark.range(40).withColumn("p", F.col("id")), str(tmp_path / "t"),
        partition_cols=["p"],
    )
    assert t.detail()["num_files"] == 40
    sc = spark.sparkContext
    group = f"plan_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "plan a 40-file read")
    try:
        t.read()._jdf.queryExecution().executedPlan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_dq_tallies_ride_the_first_action(spark, seed, clean):
    """On create and on merge the DQ counts equal a separate
    ``dq_metrics`` aggregation and come from the Observation."""
    assert _dq_part(seed["create"]) == _want_dq(spark, B1)
    assert seed["create"]["n_observation_fallbacks"] == 0
    m = clean["m"]
    assert _dq_part(m) == _want_dq(spark, B2)
    assert (m["n_null_key"], m["n_duplicate_older"], m["n_kept"]) == (2, 1, 2)
    assert m["n_observation_fallbacks"] == 0
    assert (m["n_closed"], m["n_inserted"]) == (1, 2)


def test_dq_observation_fallback(spark, seed, clean, monkeypatch):
    """Without any Observation row the merge and the create count
    explicitly instead: same counts and table, each fallback counted —
    on the merge DQ, stale, close and insert; on the create the insert
    and DQ."""
    monkeypatch.setattr(scd2_pipeline, "_observed_row", lambda obs: None)
    t = seed["t"].clone(str(seed["root"] / "fallback"))
    m = run_scd2_batch(spark, SPEC, spark.createDataFrame(B2, SCHEMA), t.path, batch_id="b2")
    assert _dq_part(m) == _dq_part(clean["m"])
    for k in ("n_closed", "n_inserted", "n_stale"):
        assert m[k] == clean["m"][k], k
    assert m["n_observation_fallbacks"] == 4
    assert _rows(t.read()) == _rows(clean["t"].read())
    c = run_scd2_batch(
        spark, SPEC, spark.createDataFrame(B1, SCHEMA),
        str(seed["root"] / "fallback_create"), batch_id="b1",
    )
    assert _dq_part(c) == _dq_part(seed["create"])
    assert c["n_inserted"] == seed["create"]["n_inserted"] == 2
    assert c["n_observation_fallbacks"] == 2


def test_quarantine_lands_before_phase_a(spark, seed, monkeypatch):
    def failing(*a, **kw):
        raise RuntimeError("injected: the merge's write failed")

    monkeypatch.setattr(VersionedParquetTable, "stage_write", failing)
    t = seed["t"].clone(str(seed["root"] / "quarantine"))
    q = str(seed["root"] / "q")
    with pytest.raises(RuntimeError, match="injected"):
        run_scd2_batch(
            spark, SPEC, spark.createDataFrame(B2, SCHEMA), t.path, batch_id="b2",
            quarantine_path=q,
        )
    assert t.latest_version() == seed["t"].latest_version()
    got = spark.read.parquet(os.path.join(q, "batch=b2"))
    assert got.count() == 3  # two NULL keys, one duplicate


def test_upsert_counts_on_a_multi_row_target(spark, tmp_path):
    """Three update rows replacing 603 target rows (one key with 600
    rows, one with 3) and one new key: ``n_updated`` counts replaced
    target rows, ``n_inserted`` update rows matching no target row."""
    target = [("HOT", i, f"v{i}") for i in range(600)] + [
        (f"K{k}", j, f"v{j}") for k in range(50) for j in range(3)
    ]
    upd = [("HOT", -1, "upd"), ("K3", -1, "upd"), ("NEW", -1, "ins")]
    schema = "k string, seq int, val string"
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame(target, schema), str(tmp_path / "t")
    )
    m = t.upsert(
        spark.createDataFrame(upd, schema), ["k"],
        deletes=spark.createDataFrame([("K7",)], "k string"),
    )
    assert (m["n_updated"], m["n_inserted"], m["n_deleted"]) == (603, 1, 3)
    assert t.read().count() == 750 - 603 - 3 + 3

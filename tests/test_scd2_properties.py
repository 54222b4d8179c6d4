"""Property-based SCD2 invariants (hypothesis).

The strongest correctness statement the pipeline can make: for ANY
event stream and ANY partition of it into batches in ANY order, the
final table under ``late_policy="rebuild"`` equals the change-only
history a from-scratch single run would build — and the structural
invariants (single current, contiguity, no overlap) always hold.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SPEC = SCD2Spec(
    key_cols=("k",),
    event_ts_col="ts",
    tracked_cols=("v",),
    late_policy="rebuild",
)

SCHEMA = "k string, ts timestamp, v string"
BASE = dt.datetime(2023, 1, 1)


def expected_versions(events):
    """Pure-python ground truth: change-only interval chains per key."""
    out = {}
    by_key: dict = {}
    for k, h, v in sorted(events):
        by_key.setdefault(k, []).append((BASE + dt.timedelta(hours=h), v))
    for k, evs in by_key.items():
        chain = []
        for t, v in evs:
            if not chain or chain[-1][1] != v:
                chain.append((t, v))
        out[k] = [
            (t, chain[i + 1][0] if i + 1 < len(chain) else None, v)
            for i, (t, v) in enumerate(chain)
        ]
    return out


# unique (key, hour) events over 2 keys / small hour range / 3 values
events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=30),
        st.sampled_from(["x", "y", "z"]),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda e: (e[0], e[1]),
)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, cuts=st.lists(st.integers(0, 11), max_size=2))
def test_any_batching_converges_to_ground_truth(spark, tmp_path_factory, events, cuts):
    _check_batching_converges(spark, tmp_path_factory, events, cuts)


# Default-tier smoke variant: pinned examples only. Three batches with a
# late event (the rebuild path), a same-value event that collapses, a
# new key and a new day (the idempotency anti-join over no files).
@settings(
    deadline=None,
    phases=[Phase.explicit],
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(
    events=[("A", 5, "x"), ("A", 10, "y"), ("B", 3, "z"), ("A", 2, "y"),
            ("B", 26, "z"), ("B", 28, "x")],
    cuts=[2, 4],
)
@given(events=events_strategy, cuts=st.lists(st.integers(0, 11), max_size=2))
def test_pinned_batchings_converge_to_ground_truth(spark, tmp_path_factory, events, cuts):
    _check_batching_converges(spark, tmp_path_factory, events, cuts)


def _check_batching_converges(spark, tmp_path_factory, events, cuts):
    import uuid

    table = str(tmp_path_factory.mktemp("prop") / f"t{uuid.uuid4().hex}")
    # split the (already arbitrary-order) event list at the cut points
    points = sorted({c for c in cuts if c < len(events)})
    batches, prev = [], 0
    for c in points + [len(events)]:
        if c > prev:
            batches.append(events[prev:c])
            prev = c
    if not batches:
        batches = [events]
    for i, b in enumerate(batches):
        df = spark.createDataFrame(
            [Row(k=k, ts=BASE + dt.timedelta(hours=h), v=v) for k, h, v in b],
            SCHEMA,
        )
        run_scd2_batch(spark, SPEC, df, table, batch_id=f"b{i}")

    got = {
        (r.k, r.valid_from, r.valid_to if not r.is_current else None, r.v)
        for r in VersionedParquetTable(spark, table).read().collect()
    }
    want = {
        (k, t_from, t_to, v)
        for k, versions in expected_versions(events).items()
        for (t_from, t_to, v) in versions
    }
    assert got == want
    full = VersionedParquetTable(spark, table).read()
    assert scd2.check_invariants(full, "k").count() == 0


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["A", "B", "C", "D"]),
                st.integers(min_value=1, max_value=3),  # partition value
                st.sampled_from(["p", "q", "r"]),
            ),
            min_size=1,
            max_size=4,
            unique_by=lambda r: r[0],  # upsert batches unique per key
        ),
        min_size=1,
        max_size=4,
    )
)
def test_upsert_sequence_equals_dict_replay(spark, tmp_path_factory, ops):
    """Generic upsert property: any sequence of per-key upsert batches
    leaves the table equal to a python dict replay — including rows
    hopping partitions between batches."""
    import uuid

    from pyspark.sql import Row

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    path = str(tmp_path_factory.mktemp("ups") / f"t{uuid.uuid4().hex}")
    first, rest = ops[0], ops[1:]
    mk = lambda batch: spark.createDataFrame(
        [Row(k=k, part=p, v=v) for k, p, v in batch],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, mk(first), path, partition_cols=["part"]
    )
    replay = {k: (p, v) for k, p, v in first}
    for batch in rest:
        t.upsert(mk(batch), ["k"])
        replay.update({k: (p, v) for k, p, v in batch})
    got = {(r.k, r.part, r.v) for r in t.read().collect()}
    assert got == {(k, p, v) for k, (p, v) in replay.items()}

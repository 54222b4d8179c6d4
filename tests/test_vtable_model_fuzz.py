"""Model-based fuzz of the storage layer: random sequences of
append / upsert / delete / compact / restore / purge are applied both to a
VersionedParquetTable and to an in-memory model; after the sequence,
the live table must equal the model AND every historical version must
still read back as the snapshot recorded when it was committed — the
storage-layer twin of the differential query fuzzer."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

# ops: ("append", [ids]) ("upsert", [ids]) ("delete", threshold)
#      ("compact",) ("restore", back_k) ("update", threshold)
#      ("purge", threshold)
_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("upsert"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("delete"), st.integers(0, 300)),
    st.tuples(st.just("compact")),
    st.tuples(st.just("restore"), st.integers(1, 3)),
    st.tuples(st.just("update"), st.integers(0, 300)),
    st.tuples(st.just("purge"), st.integers(0, 300)),
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, k % 3, v) for k, v in rows], "id long, part long, val long"
    )


def _read_set(t, version=None):
    return {(r["id"], r["part"], r["val"]) for r in t.read(version).collect()}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(ops=st.lists(_OP, min_size=1, max_size=7), data=st.data())
def test_random_op_sequences_match_model(spark, tmp_path_factory, ops, data):
    seq = data.draw(st.integers(0, 10**6))  # distinguish versions' values
    _check_ops_match_model(spark, tmp_path_factory, ops, seq)


# Default-tier smoke variant: pinned sequences only, together covering
# every op — upserts over ids that appends duplicated, a restore to a
# version before a delete, and a purge.
@settings(deadline=None, phases=[Phase.explicit], suppress_health_check=list(HealthCheck))
@example(
    ops=[("append", [1, 4]), ("upsert", [1, 2, 7]), ("delete", 2),
         ("restore", 2), ("compact",)],
    seq=1000,
)
@example(ops=[("append", [3]), ("update", 2), ("purge", 1)], seq=77)
@given(ops=st.lists(_OP, min_size=1, max_size=7), seq=st.integers(0, 10**6))
def test_pinned_op_sequences_match_model(spark, tmp_path_factory, ops, seq):
    _check_ops_match_model(spark, tmp_path_factory, ops, seq)


def _check_ops_match_model(spark, tmp_path_factory, ops, seq):
    path = str(tmp_path_factory.mktemp("fuzz") / "t")

    # model: id -> (id, part, val); versions: list of frozensets by commit
    model: dict[int, tuple] = {}

    def snap():
        return frozenset(model.values())

    t = VersionedParquetTable.create(
        spark, _df(spark, [(0, seq)]), path, partition_cols=["part"]
    )
    model[0] = (0, 0, seq)
    history = [snap()]  # index = version

    for i, op in enumerate(ops):
        val = seq + i + 1
        if op[0] == "append":
            rows = [(k, val) for k in sorted(set(op[1]))]
            t.append(_df(spark, rows))
            for k, v in rows:
                model[(k, len(history))] = (k, k % 3, v)
            history.append(snap())
        elif op[0] == "upsert":
            rows = [(k, val) for k in sorted(set(op[1]))]
            t.upsert(_df(spark, rows), ["id"])
            # upsert keys ALL rows with that id (append may have made dups)
            for mk in [mk for mk, mv in model.items() if mv[0] in dict(rows)]:
                model.pop(mk)
            for k, v in rows:
                model[(k, len(history))] = (k, k % 3, v)
            history.append(snap())
        elif op[0] == "delete":
            thr = seq + (op[1] % 10)  # lands inside the live val range
            t.delete([("val", ">=", thr)])
            for mk in [mk for mk, mv in model.items() if mv[2] >= thr]:
                model.pop(mk)
            history.append(snap())
        elif op[0] == "update":
            thr = seq + (op[1] % 10)
            t.update([("val", "<", thr)], {"val": "val + 37"})
            for mk, mv in list(model.items()):
                if mv[2] < thr:
                    model[mk] = (mv[0], mv[1], mv[2] + 37)
            history.append(snap())
        elif op[0] == "purge":
            # history-rewriting erasure: matching rows vanish from the
            # LIVE table (one DELETE commit) AND from every recorded
            # snapshot
            thr = seq + (op[1] % 10)
            t.purge([("val", ">=", thr)])
            for mk in [mk for mk, mv in model.items() if mv[2] >= thr]:
                model.pop(mk)
            history = [
                frozenset(r for r in h if r[2] < thr) for h in history
            ]
            history.append(snap())
        elif op[0] == "compact":
            v_before = t.latest_version()
            v_after = t.compact(max_files_per_partition=1)
            # compact may be a no-op (no crowded partition -> same version)
            for _ in range(v_after - v_before):
                history.append(snap())
        elif op[0] == "restore":
            back = min(op[1], t.latest_version())
            target = t.latest_version() - back
            t.restore(target)
            restored = history[target]
            model.clear()
            for j, row in enumerate(restored):
                model[("r", len(history), j)] = row
            history.append(snap())

    # 1. head matches the model
    assert _read_set(t) == set(model.values())
    # 2. every version still reads back as the snapshot recorded for it
    for v, expected in enumerate(history):
        assert _read_set(t, v) == set(expected), f"version {v} drifted"
    # 3. manifest row accounting agrees with reality
    d = t.detail()
    if d["num_rows"] is not None:
        assert d["num_rows"] == len(model)
    # 4. no op sequence may leave storage inconsistent: every retained
    # version's data files present, every live file's
    # footer row count matching its manifest stats
    rep = t.fsck(deep=True)
    assert rep["ok"], rep

"""In-memory span tracing around the engine's public calls.

The engine itself carries no tracing. Inside ``with
tracer.installed():`` a timing wrapper stands in for each call listed
in :data:`WRAPPED` (module functions and class methods, which the
pipeline looks up at call time, so its internal calls are wrapped too);
the originals are back when the block ends. Spans are kept in a
list and written out by :meth:`Tracer.dump` when the run ends.

A span records name, start, end, parent and the operation it belongs
to. The tracer also times its own code per operation (span bookkeeping,
the directory walks around writes, the Spark status-tracker reads):
:attr:`Tracer.cost`, the tracing overhead. The merge runs its Phase-B compute on a worker thread; spans opened
on a thread with no open span are parented to the operation's root, so
their time still counts as child time of the merge.

Lazy calls (``tag_discards``, ``intervalize``, ``asof_join``,
``minhash_signatures``, ``lsh_band_buckets`` and the
``read*``/``table_changes`` calls) only build a plan: their spans time
planning (manifest replay, file pruning, plan construction), never the
Spark jobs that later execute the plan.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from delta_lake_pyspark_scd2_spark.operators import dedup, scd2, validation
from delta_lake_pyspark_scd2_spark.pipeline.corpus_ingest import CorpusIngest
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

#: (owner, attribute, span name) of every wrapped call.
WRAPPED = [
    (validation, "tag_discards", "validation.tag_discards"),
    (validation, "dq_metrics_with_key_profile", "validation.dq_profile"),
    (scd2, "intervalize", "scd2.intervalize"),
    (scd2, "asof_join", "scd2.asof_join"),
    (CorpusIngest, "ingest", "corpus_ingest.ingest"),
    (dedup, "minhash_signatures", "dedup.minhash_signatures"),
    (dedup, "lsh_band_buckets", "dedup.lsh_band_buckets"),
    (VersionedParquetTable, "create", "vtable.create"),
    (VersionedParquetTable, "replace_partitions", "vtable.replace_partitions"),
    (VersionedParquetTable, "append", "vtable.append"),
    (VersionedParquetTable, "read", "vtable.read"),
    (VersionedParquetTable, "read_where", "vtable.read_where"),
    (VersionedParquetTable, "read_partitions", "vtable.read_partitions"),
    (VersionedParquetTable, "table_changes", "vtable.table_changes"),
]
WRITE_SPANS = {"vtable.create", "vtable.replace_partitions", "vtable.append"}


def _tree_state(root: str) -> tuple[int, set[str]]:
    """(total bytes, parquet files) under ``root``."""
    size, files = 0, set()
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            size += os.path.getsize(p)
            if n.endswith(".parquet"):
                files.add(p)
    return size, files


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class SparkJobCounter:
    """Spark jobs, stages and tasks of one operation, read through the
    status tracker. Jobs submitted from the operation's own thread
    carry its job group; jobs the engine submits from worker threads
    carry none and are attributed by diffing the ungrouped job ids
    around the operation, after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # no such hook in this Spark build
            time.sleep(0.2)

    def begin(self, op_id: str) -> set[int]:
        self._drain()
        self.sc.setJobGroup(op_id, op_id)
        return set(self.tracker.getJobIdsForGroup(None))

    def end(self, op_id: str, before: set[int]) -> dict[str, int]:
        self._drain()
        self.sc.setJobGroup(None, None)
        jobs = set(self.tracker.getJobIdsForGroup(op_id))
        jobs |= set(self.tracker.getJobIdsForGroup(None)) - before
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.files_for: list[tuple[str | None, str, int]] = []  # (op, table path, files kept)
        #: seconds spent in the tracer's own code, per operation id
        self.cost: dict[str | None, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._op: str | None = None
        self._jobs = SparkJobCounter(spark)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _charge(self, op: str | None, seconds: float) -> None:
        with self._lock:
            self.cost[op] += seconds

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        op = self._op
        rec = {"name": name, "parent": parent, "op": op}
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._charge(op, rec["start"] - t0 + time.perf_counter() - rec["end"])

    @contextmanager
    def op(self, kind: str, op_id: str):
        """Root span of one benchmark operation, plus its Spark counts."""
        t0 = time.perf_counter()
        before = self._jobs.begin(op_id)
        self._op = op_id
        self._charge(op_id, time.perf_counter() - t0)
        try:
            with self.span(kind) as root:
                self._root = self._stack()[-1]
                yield root
        finally:
            self._root = self._op = None
            t0 = time.perf_counter()
            self.ops.append({"id": op_id, "kind": kind, **self._jobs.end(op_id, before)})
            self._charge(op_id, time.perf_counter() - t0)

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            table = args[0] if args and isinstance(args[0], VersionedParquetTable) else None
            if name not in WRITE_SPANS:
                with tracer.span(name):
                    return fn(*args, **kwargs)
            # measured outside the span: the tree walks are tracing cost
            t0 = time.perf_counter()
            path = table.path if table is not None else (args[3] if len(args) > 3 else kwargs["path"])
            size0, files0 = _tree_state(path) if os.path.isdir(path) else (0, set())
            walk = time.perf_counter() - t0
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            t0 = time.perf_counter()
            size1, files1 = _tree_state(path)
            added = files1 - files0
            rec["bytes_written"] = size1 - size0
            rec["files_added"] = len(added)
            if name == "vtable.replace_partitions":
                import pyarrow.parquet as pq

                parts = args[2] if len(args) > 2 else kwargs["partitions"]
                rec["partitions"] = len(parts)
                rec["rows_written"] = sum(pq.read_metadata(p).num_rows for p in added)
            tracer._charge(rec["op"], walk + time.perf_counter() - t0)
            return out

        return wrapper

    def _files_for(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(table, *args, **kwargs):
            out = fn(table, *args, **kwargs)
            t0 = time.perf_counter()
            tracer.files_for.append((tracer._op, table.path, len(out)))
            tracer._charge(tracer._op, time.perf_counter() - t0)
            return out

        return wrapper

    @contextmanager
    def installed(self):
        targets = [(o, a, self._wrap, n) for o, a, n in WRAPPED]
        targets.append((VersionedParquetTable, "files_for", lambda f, _: self._files_for(f), None))
        saved = []
        try:
            for owner, attr, make, name in targets:
                orig = owner.__dict__[attr]
                if isinstance(orig, classmethod):
                    new = classmethod(make(orig.__func__, name))
                else:
                    new = make(orig, name)
                saved.append((owner, attr, orig))
                setattr(owner, attr, new)
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # -- results -------------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's spans."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            clipped = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(i, ())
                if b > s["start"] and a < s["end"]
            ]
            out.append(s["end"] - s["start"] - _covered(clipped))
        return out

    def per_op(self, kind: str) -> dict[str, dict[str, list]]:
        """For each operation of ``kind``: its spans grouped by name, as
        lists of span records (with ``self`` time filled in)."""
        selfs = self.self_times()
        out: dict[str, dict[str, list]] = {}
        for s, st in zip(self.spans, selfs):
            s["self"] = st
        for o in self.ops:
            if o["kind"] == kind:
                out[o["id"]] = defaultdict(list)
        for s in self.spans:
            if s["op"] in out:
                out[s["op"]][s["name"]].append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)

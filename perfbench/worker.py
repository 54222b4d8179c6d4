"""One run of one workload, inside this process (started by run.py).

Prints an environment line, then, as its last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of an untraced run (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import resource
import statistics
import sys
import time

import pyspark

from delta_lake_pyspark_scd2_spark.session import get_spark
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

from inputs import FULL, TINY, documents, write_documents
from spans import Tracer
from workloads import ROUND, Scenario, median, run_ingest, run_reads, tree_bytes

WORKLOADS = ("scd2_daily_merge", "scd2_pit_reads")
#: Repeats of each workload's repeatable set-up unit; ``setup_s``
#: counts the median one.
WARM_UNITS = 3
#: The read path keeps getting faster over its first few dozen queries
#: in a process (after three units of five queries, the timed as-of
#: joins and change feeds still got 20-30 % faster within a run), so
#: the read workload repeats its unit more often.
READ_WARM_UNITS = 6
#: Corpus-ingest batches of a traced run: the first creates the store,
#: the second is screened against it.
INGEST_BATCHES = 2
#: Work per run: ceil(seconds / MERGE_S) daily merges, or
#: ceil(seconds / ROUND_S) rounds of the read mix. Fixed, so every seed
#: measures the same operations on inputs of the same size: at
#: ``--seconds 10`` three merges of 100k rows (about 5 s each on a
#: 4-core machine) or two rounds of fifteen queries (about 6 s each).
MERGE_S = 4.0
ROUND_S = 5.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], q: int) -> float:
    """Linear-interpolation percentile (``q`` in 1..99)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


GC_UNITS = {"B": 2**-20, "K": 2**-10, "M": 1, "G": 2**10}
#: "... Pause Young (Normal) (G1 Evacuation Pause) 212M->35M(2048M) 4.1ms"
GC_LINE = re.compile(r"(\d+)([BKMG])->(\d+)([BKMG])\((\d+)[BKMG]\)")


def peak_live_heap_mb(gc_log: str) -> float:
    """Largest JVM heap occupancy right after a collection, from the
    driver's GC log: the most live data the engine held at once."""
    with open(gc_log) as f:
        after = [int(m[2]) * GC_UNITS[m[3]] for m in GC_LINE.findall(f.read())]
    return max(after, default=0.0)


def peak_mem_mb(gc_log: str) -> float:
    """Peak resident memory of this process plus the JVM's peak live heap."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    heap_mb = peak_live_heap_mb(gc_log)
    log(f"python peak rss {py_mb:.1f} MB, peak live heap {heap_mb:.1f} MB")
    return py_mb + heap_mb


def stored_bytes_per_row(spark, path: str) -> float:
    d = VersionedParquetTable(spark, path).detail()
    return d["size_bytes"] / d["num_rows"]


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(op_s: list[float], op_rows: list[int], *, setup_s, write_bpr, stored_bpr) -> dict:
    """Latency percentiles over the operations; throughput as rows over
    the run's whole operation time."""
    ms = [x * 1000 for x in op_s]
    return {
        "setup_s": (setup_s, "s"),
        "op_ms_p50": (median(ms), "ms"),
        "op_ms_p66": (percentile(ms, 66), "ms"),
        "rows_per_s": (sum(op_rows) / sum(op_s), "rows/s"),
        "write_bytes_per_row": (write_bpr, "B/row"),
        "stored_bytes_per_row": (stored_bpr, "B/row"),
    }


def per_layer(tracer: Tracer, merges: list[dict], ingests: list, spark, timed_ops: list[str]) -> dict:
    """Per-layer numbers of a traced run. Merge-side figures are medians
    per merge batch, read-side figures medians per query, ingest figures
    medians per ingest batch; the tracing overhead is the median over
    ``timed_ops``, the workload's timed operations."""
    merge_ops = list(tracer.per_op("pipeline.merge").values())
    create_ops = list(tracer.per_op("pipeline.create").values())
    ingest_ops = list(tracer.per_op("corpus_ingest").values())
    read_ops = {
        k: list(tracer.per_op(f"read.{k}").values()) for k in ROUND
    }
    all_reads = [o for ops in read_ops.values() for o in ops]

    def span_sum(op, name, key=None):
        return sum((s[key] if key else s["end"] - s["start"]) for s in op.get(name, ()))

    def per_merge(fn) -> float:
        return median([fn(op) for op in merge_ops])

    def root_ms(ops):
        return median([1000 * (o[k][0]["end"] - o[k][0]["start"]) for o in ops for k in o if k.startswith("read.")])

    writes = ("vtable.create", "vtable.replace_partitions", "vtable.append")
    plan = ("vtable.read", "vtable.read_where", "vtable.table_changes")
    rewritten = sum(span_sum(op, "vtable.replace_partitions", "rows_written") for op in merge_ops)
    closed = sum(m["n_closed"] for m in merges)
    read_ids = {o["id"] for o in tracer.ops if o["kind"].startswith("read.")}
    scans = [(p, kept) for op, p, kept in tracer.files_for if op in read_ids]
    live = {p: VersionedParquetTable(spark, p).detail()["num_files"] for p, _ in scans}
    ops_by_kind = lambda pred: [o for o in tracer.ops if pred(o["kind"])]
    merge_jobs = ops_by_kind(lambda k: k == "pipeline.merge")
    read_jobs = ops_by_kind(lambda k: k.startswith("read."))
    ingest_jobs = ops_by_kind(lambda k: k == "corpus_ingest")
    out = {
        "pipeline.validation_s": (median([m["duration_s_validation"] for m in merges]), "s"),
        "pipeline.close_s": (median([m["duration_s_close"] for m in merges]), "s"),
        "pipeline.insert_s": (median([m["duration_s_insert"] for m in merges]), "s"),
        "pipeline.merge.self_s": (per_merge(lambda op: op["pipeline.merge"][0]["self"]), "s"),
        "validation.dq_profile_s": (per_merge(lambda op: span_sum(op, "validation.dq_profile")), "s"),
        "validation.rows_discarded": (median([m["n_null_key"] + m["n_duplicate_older"] for m in merges]), "count"),
        "vtable.create_s": (median([span_sum(op, "vtable.create") for op in create_ops]), "s"),
        "vtable.replace_partitions_s": (per_merge(lambda op: span_sum(op, "vtable.replace_partitions")), "s"),
        "vtable.append_s": (per_merge(lambda op: span_sum(op, "vtable.append")), "s"),
        "vtable.partitions_rewritten": (per_merge(lambda op: span_sum(op, "vtable.replace_partitions", "partitions")), "count"),
        "vtable.bytes_written": (per_merge(lambda op: sum(span_sum(op, n, "bytes_written") for n in writes)), "B"),
        "vtable.files_added": (per_merge(lambda op: sum(span_sum(op, n, "files_added") for n in writes)), "count"),
        "vtable.rewrite_useful_ratio": (closed / rewritten if rewritten else 0.0, "ratio"),
        "vtable.plan_ms": (median([1000 * sum(span_sum(op, n) for n in plan) for op in all_reads]), "ms"),
        "vtable.files_scanned_ratio": (
            sum(k for _, k in scans) / sum(live[p] for p, _ in scans) if scans else 0.0,
            "ratio",
        ),
        "scd2.rows_closed": (median([m["n_closed"] for m in merges]), "count"),
        "scd2.rows_inserted": (median([m["n_inserted"] for m in merges]), "count"),
        "spark.jobs_per_merge": (median([o["spark.jobs"] for o in merge_jobs]), "count"),
        "spark.stages_per_merge": (median([o["spark.stages"] for o in merge_jobs]), "count"),
        "spark.tasks_per_merge": (median([o["spark.tasks"] for o in merge_jobs]), "count"),
        "spark.jobs_per_read": (median([o["spark.jobs"] for o in read_jobs]), "count"),
        "spark.stages_per_read": (median([o["spark.stages"] for o in read_jobs]), "count"),
        "spark.tasks_per_read": (median([o["spark.tasks"] for o in read_jobs]), "count"),
        "corpus_ingest.ingest.self_s": (median([op["corpus_ingest.ingest"][0]["self"] for op in ingest_ops]), "s"),
        "corpus_ingest.vtable_write_s": (
            median([sum(span_sum(op, n) for n in writes) for op in ingest_ops]), "s",
        ),
        "dedup.accept_ratio": (sum(m.accepted for m in ingests) / max(1, sum(m.n_in for m in ingests)), "ratio"),
        "spark.jobs_per_ingest": (median([o["spark.jobs"] for o in ingest_jobs]), "count"),
        "spark.stages_per_ingest": (median([o["spark.stages"] for o in ingest_jobs]), "count"),
        "spark.tasks_per_ingest": (median([o["spark.tasks"] for o in ingest_jobs]), "count"),
        "trace.overhead_ms": (median([1000 * tracer.cost[o] for o in timed_ops]), "ms"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    for kind, ops in read_ops.items():
        out[f"read.{kind}_ms"] = (root_ms(ops), "ms")
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def warm_up(spark, work: str, seed: int) -> list[float]:
    """The repeatable part of the merge workload's set-up, done
    WARM_UNITS times: create a small table and merge one batch into it,
    in a fresh directory.
    The first unit also pays JVM and code-generation warm-up; the
    median leaves that out."""
    scn = Scenario(spark, os.path.join(work, "warm-inputs"), seed, TINY, 1)
    times = []
    for i in range(WARM_UNITS):
        t0 = time.perf_counter()
        b = scn.build(os.path.join(work, f"warm{i}"))
        times.append(time.perf_counter() - t0)
        if b.failed:
            raise RuntimeError("warm-up merge failed its checks")
    return times


def table_metrics(spark, scn: Scenario, path: str, b) -> dict:
    return {
        "write_bpr": tree_bytes(path) / (scn.rows[0] + b.merged_rows),
        "stored_bpr": stored_bytes_per_row(spark, path),
    }


def run_merge(spark, work, scn, tracer) -> tuple[dict, int, int]:
    """The build is verified untimed: table invariants and content; a
    traced build is then followed by one traced round of the read mix."""
    path = os.path.join(work, "merge-table")
    with tracer.installed() if tracer is not None else contextlib.nullcontext():
        b = scn.build(path, tracer=tracer)
    log(f"create {b.load_s:.2f} s, merges {[round(x, 2) for x in b.merge_s]} s")
    ok = b.failed == 0 and scn.verify_table(path, len(scn.paths) - 1)
    log("table verified")
    attempted, failed = b.attempted + 1, b.failed + (0 if ok else 1)
    metrics = {
        "op_s": b.merge_s, "op_rows": scn.rows[1 : len(b.merge_s) + 1], "merges": b.metrics[1:],
        **table_metrics(spark, scn, path, b),
    }
    if tracer is not None:
        # the read-side layer numbers of a traced merge run
        with tracer.installed():
            r = run_reads(scn, path, scn.queries(b.versions, rounds=1), tracer=tracer)
        attempted, failed = attempted + r.attempted, failed + r.failed
    return metrics, attempted, failed


def run_pit_reads(spark, work, scn, rounds, tracer) -> tuple[dict, int, int, float, list[float]]:
    """Set-up builds the fixture (traced in a traced run, for the
    write-side layer numbers) and computes every reference answer, then
    runs READ_WARM_UNITS times one untimed query of each type: the
    repeatable part of this workload's set-up, and the read path's
    warm-up. The warm-up queries come from READ_WARM_UNITS extra rounds,
    so no timed query repeats one the engine has just answered."""
    path = os.path.join(work, "read-table")
    t0 = time.perf_counter()
    with tracer.installed() if tracer is not None else contextlib.nullcontext():
        b = scn.build(path, tracer=tracer)
    if b.failed:
        raise RuntimeError("read fixture build failed its checks")
    per_round = sum(ROUND.values())
    pool = scn.queries(b.versions, rounds=READ_WARM_UNITS + rounds)
    fixture_s = time.perf_counter() - t0
    log(f"read fixture {fixture_s:.2f} s (create {b.load_s:.2f} s, merges {[round(x, 2) for x in b.merge_s]} s)")
    by_kind: dict[str, list] = {}
    for q in pool[: READ_WARM_UNITS * per_round]:
        by_kind.setdefault(q.kind, []).append(q)
    attempted = failed = 0
    warm = []
    for i in range(READ_WARM_UNITS):
        t0 = time.perf_counter()
        w = run_reads(scn, path, [qs[i] for qs in by_kind.values()])
        warm.append(time.perf_counter() - t0)
        attempted, failed = attempted + w.attempted, failed + w.failed
    pool = pool[READ_WARM_UNITS * per_round :]
    with tracer.installed() if tracer is not None else contextlib.nullcontext():
        r = run_reads(scn, path, pool, tracer=tracer)
    log(f"warm-up units {[round(x, 2) for x in warm]} s; query ms "
        + ", ".join(f"{k} {[round(1000 * x) for x in v]}" for k, v in r.latencies.items()))
    attempted, failed = attempted + r.attempted, failed + r.failed
    metrics = {
        "op_s": r.seconds, "op_rows": r.rows, "merges": b.metrics[1:],
        **table_metrics(spark, scn, path, b),
    }
    return metrics, attempted, failed, fixture_s, warm


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    sizes = TINY if args.tiny else FULL
    work = os.path.abspath(args.work)
    gc_log = os.path.join(work, "gc.log")

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap size: the collector's pacing, and with it
            # every timing, no longer depends on when it grew the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xlog:gc:file={gc_log}"
            ),
        },
    )
    session_s = time.perf_counter() - t0
    try:
        print(json.dumps({"env": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "sizes": "tiny" if args.tiny else "full",
            "master": spark.sparkContext.master,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
        }}), flush=True)

        t0 = time.perf_counter()
        merging = args.workload == "scd2_daily_merge"
        n_daily = math.ceil(args.seconds / MERGE_S) if merging else sizes.fixture_batches
        scn = Scenario(spark, os.path.join(work, "inputs"), args.seed, sizes, n_daily)
        gen_s = time.perf_counter() - t0
        if args.trace:
            docs = documents(args.seed, INGEST_BATCHES, sizes.docs)
            doc_paths = [os.path.join(work, "inputs", f"docs{i}.parquet") for i in range(len(docs))]
            for d, p in zip(docs, doc_paths):
                write_documents(d.frame, p)
        log(f"session {session_s:.2f} s, inputs {gen_s:.2f} s")
        tracer = Tracer(spark) if args.trace else None

        if merging:
            warm = warm_up(spark, work, args.seed)
            log(f"warm-up units {[round(x, 2) for x in warm]} s")
            m, attempted, failed = run_merge(spark, work, scn, tracer)
            setup_s = session_s + gen_s + median(warm)
        else:
            rounds = math.ceil(args.seconds / ROUND_S)
            m, attempted, failed, fixture_s, warm = run_pit_reads(spark, work, scn, rounds, tracer)
            setup_s = session_s + gen_s + fixture_s + median(warm)

        if tracer is None:
            metrics = end_to_end(
                m["op_s"], m["op_rows"], setup_s=setup_s, write_bpr=m["write_bpr"],
                stored_bpr=m["stored_bpr"],
            )
        else:
            with tracer.installed():
                ing = run_ingest(spark, os.path.join(work, "corpus"), docs, doc_paths, tracer)
            attempted, failed = attempted + ing.attempted, failed + ing.failed
            timed = [
                o["id"] for o in tracer.ops
                if (o["kind"] == "pipeline.merge" if merging else o["kind"].startswith("read."))
            ]
            metrics = per_layer(tracer, m["merges"], ing.metrics, spark, timed)
            tracer.dump(os.path.join(os.path.dirname(work), "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        stop_spark(spark)
    if tracer is None:  # the JVM has exited, so its GC log is complete
        metrics["peak_mem_mb"] = (peak_mem_mb(gc_log), "MB")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The two workloads and the scenario they share.

A :class:`Scenario` owns one seed's inputs: the backfill month, the
daily batches and the as-of probe batches, all generated in set-up and
written to parquet, plus the reference model that knows what every
merge must report and what every query must return.

* ``scd2_daily_merge`` times the write path: from an empty table,
  create the backfill, then merge a fixed number of daily batches.
* ``scd2_pit_reads`` builds the same kind of table in set-up and times
  a seeded, fixed mix of point-in-time queries against it.

Both check every operation against the model; the merge workload also
checks the final table's invariants and content, untimed, and in a
traced run answers one round of queries on it.

:func:`run_ingest` is not a timed workload: a traced run of either
workload ends with it, so the corpus-ingest layers
(``pipeline.corpus_ingest``, ``operators.dedup``) get per-layer numbers.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.pipeline.corpus_ingest import CorpusIngest
from delta_lake_pyspark_scd2_spark.pipeline.scd2_pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

from inputs import (
    BASE_US, BACKFILL_DAYS, DAY_US, RESULT_COLS, DocBatch, EventGenerator, Sizes, result_hash, write_parquet,
)

SPEC = SCD2Spec(
    key_cols=("user_id",),
    event_ts_col="ts",
    tracked_cols=("status", "value"),
    tiebreak_cols=("rid",),
)
EVENT_DDL = "user_id long, ts timestamp, status string, value double, rid long"
PROBE_DDL = "probe_id long, user_id long, probe_ts timestamp"
PROBE_SCHEMA = pa.schema(
    [("probe_id", pa.int64()), ("user_id", pa.int64()), ("probe_ts", pa.timestamp("us", tz="UTC"))]
)
CHANGE_COLS = RESULT_COLS + ["_change_type"]
ASOF_COLS = ["probe_id", "user_id", "probe_ts", "valid_from", "status", "value"]

#: Queries of each type in one round of the read mix: lookups, as-of
#: joins, one change feed. The counts place the reported percentiles
#: whatever the order: over two rounds (30 queries) the median falls
#: among the 18 lookups, and p66, the highest percentile with ten
#: queries above it, among the 10 as-of joins (slower than any lookup,
#: faster than a change feed).
ROUND = {"current_lookup": 3, "pit_snapshot": 3, "key_history": 3, "asof_probe": 5, "change_feed": 1}
PROBE_FILES = 4


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names
    )


def _us(c: str):
    return F.unix_micros(F.col(c)).alias(c)


def _result(df, extra: tuple[str, ...] = ()) -> pa.Table:
    """Fetch a version-row result to the client (timestamps as µs)."""
    return df.select(
        "user_id", _us("valid_from"), _us("valid_to"), "is_current", "status", "value", *extra
    ).toArrow()


@dataclass
class Query:
    kind: str
    params: dict
    expected: str  # result_hash of the reference answer


@dataclass
class Build:
    """Outcome of building a table from the scenario's batches."""

    load_s: float = 0.0
    merge_s: list[float] = field(default_factory=list)
    merged_rows: int = 0
    versions: list[int] = field(default_factory=list)  # table version after each batch
    attempted: int = 0
    failed: int = 0
    metrics: list[dict] = field(default_factory=list)


class Scenario:
    def __init__(self, spark, root: str, seed: int, sizes: Sizes, n_daily: int):
        self.spark = spark
        self.seed = seed
        os.makedirs(root, exist_ok=True)
        gen = EventGenerator(seed, sizes)
        frames = [gen.backfill()] + [gen.daily(d) for d in range(1, n_daily + 1)]
        self.model = gen.model
        self.counts = [f.attrs["counts"].as_dict() for f in frames]
        self.rows = [len(f) for f in frames]
        self.paths = []
        for i, f in enumerate(frames):
            p = os.path.join(root, f"batch{i:02d}.parquet")
            write_parquet(f, p)
            self.paths.append(p)
        rng = np.random.default_rng([seed, 1])
        self.probe_paths, self.probes = [], []
        span = (BACKFILL_DAYS + n_daily + 1) * DAY_US
        for i in range(PROBE_FILES):
            n = sizes.probes
            probes = pd.DataFrame(
                {
                    "probe_id": np.arange(n, dtype=np.int64),
                    # a few probes ask for keys that never existed
                    "user_id": rng.integers(0, gen.next_key + n // 10, n),
                    "probe_ts": BASE_US - DAY_US + rng.integers(0, span, n),
                }
            )
            p = os.path.join(root, f"probes{i}.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    probes.assign(probe_ts=pd.to_datetime(probes["probe_ts"], unit="us", utc=True)),
                    schema=PROBE_SCHEMA,
                    preserve_index=False,
                ),
                p,
            )
            self.probe_paths.append(p)
            self.probes.append(probes)
        self._frames: dict[int, pd.DataFrame] = {}
        self._changes: dict[int, pd.DataFrame] = {}

    def frame(self, batch: int) -> pd.DataFrame:
        if batch not in self._frames:
            self._frames[batch] = self.model.frame(batch)
        return self._frames[batch]

    # -- write path ----------------------------------------------------------

    def _merge(self, i: int, path: str, tracer) -> tuple[float, dict]:
        batch = self.spark.read.schema(EVENT_DDL).parquet(self.paths[i])
        t0 = time.perf_counter()
        if tracer is None:
            m = run_scd2_batch(self.spark, SPEC, batch, path, batch_id=f"b{i}")
        else:
            kind = "pipeline.create" if i == 0 else "pipeline.merge"
            with tracer.op(kind, f"batch-{i}"):
                m = run_scd2_batch(self.spark, SPEC, batch, path, batch_id=f"b{i}")
        return time.perf_counter() - t0, m

    def build(self, path: str, tracer=None) -> Build:
        """Create the table from the backfill in a fresh directory, then
        merge every daily batch in order."""
        shutil.rmtree(path, ignore_errors=True)
        b = Build()
        for i in range(len(self.paths)):
            b.attempted += 1
            try:
                dt, m = self._merge(i, path, tracer)
            except Exception as e:  # a failed merge ends the build
                print(f"batch {i} raised {type(e).__name__}: {e}", flush=True)
                b.failed += 1
                break
            b.metrics.append(m)
            b.versions.append(VersionedParquetTable(self.spark, path).latest_version())
            wrong = {k: (m.get(k), v) for k, v in self.counts[i].items() if m.get(k) != v}
            if wrong:
                print(f"batch {i} counts (got, want): {wrong}", flush=True)
                b.failed += 1
            if i == 0:
                b.load_s = dt
            else:
                b.merge_s.append(dt)
                b.merged_rows += self.rows[i]
        return b

    def verify_table(self, path: str, batches: int) -> bool:
        """Untimed: no invariant violations, and the whole table equals
        the model's history after ``batches`` daily batches."""
        t = VersionedParquetTable(self.spark, path)
        bad = scd2.check_invariants(t.read(), "user_id").count()
        got = result_hash(_result(t.read()), RESULT_COLS)
        want = result_hash(pa.Table.from_pandas(self.frame(batches), preserve_index=False), RESULT_COLS)
        if bad or got != want:
            print(f"table check: {bad} invariant violations, hash match {got == want}", flush=True)
        return not bad and got == want

    # -- read path -----------------------------------------------------------

    def queries(self, versions: list[int], rounds: int) -> list[Query]:
        """``rounds`` rounds of the :data:`ROUND` mix over the table whose
        version after batch ``j`` is ``versions[j]``, with reference
        hashes recomputed from the model in pandas."""
        rng = np.random.default_rng([self.seed, 2])
        last = len(versions) - 1
        final = self.frame(last)
        n_keys = int(final["user_id"].max()) + 1
        # key ranges start among the backfill's keys, which every day
        # of the history holds: a range of only new keys would be cheap
        # whenever file statistics prune it to the newest days
        old_keys = int(self.frame(0)["user_id"].max()) + 1
        # snapshots and change feeds cycle through the commits instead
        # of drawing them, so every seed reads the same set of versions
        snap_j = (j % (last + 1) for j in itertools.count())
        feed_j = (1 + j % last for j in itertools.count())
        out: list[Query] = []
        for _ in range(rounds):
            kinds = [k for k, n in ROUND.items() for _ in range(n)]
            for kind in (kinds[i] for i in rng.permutation(len(kinds))):
                if kind == "current_lookup":
                    width = max(1, n_keys // 100)
                    lo = int(rng.integers(0, old_keys - width))
                    p = {"lo": lo, "hi": lo + width}
                    f = final[final["is_current"] & final["user_id"].between(p["lo"], p["hi"] - 1)]
                    want, cols = f, RESULT_COLS
                elif kind == "pit_snapshot":
                    j = next(snap_j)
                    width = max(1, n_keys // 20)
                    lo = int(rng.integers(0, old_keys - width))
                    t = BASE_US + int(rng.integers(0, (BACKFILL_DAYS + j) * DAY_US))
                    p = {"version": versions[j], "t": t, "lo": lo, "hi": lo + width}
                    f = self.frame(j)
                    want = f[
                        (f["valid_from"] <= t)
                        & (f["valid_to"] > t)
                        & f["user_id"].between(p["lo"], p["hi"] - 1)
                    ]
                    cols = RESULT_COLS
                elif kind == "key_history":
                    keys = sorted(int(k) for k in rng.choice(n_keys, 20, replace=False))
                    p = {"keys": keys}
                    want, cols = final[final["user_id"].isin(keys)], RESULT_COLS
                elif kind == "asof_probe":
                    i = int(rng.integers(0, PROBE_FILES))
                    p = {"probes": i}
                    want, cols = self._asof_reference(i, final), ASOF_COLS
                else:
                    j = next(feed_j)
                    p = {"v_from": versions[j - 1], "v_to": versions[j]}
                    want, cols = self._change_reference(j), CHANGE_COLS
                table = pa.Table.from_pandas(want[cols], preserve_index=False)
                out.append(Query(kind, p, result_hash(table, cols)))
        return out

    def _asof_reference(self, i: int, final: pd.DataFrame) -> pd.DataFrame:
        ev = final[["user_id", "valid_from", "status", "value"]].assign(
            __ts=final["valid_from"]
        ).sort_values("__ts")
        pr = self.probes[i].sort_values("probe_ts")
        out = pd.merge_asof(
            pr, ev, left_on="probe_ts", right_on="__ts", by="user_id", direction="backward"
        )
        out["valid_from"] = out["valid_from"].astype("Int64")
        return out

    def _change_reference(self, j: int) -> pd.DataFrame:
        """Row changes between the table after batch j-1 and after j."""
        if j not in self._changes:
            self._changes[j] = self._diff(j)
        return self._changes[j]

    def _diff(self, j: int) -> pd.DataFrame:
        key = ["user_id", "valid_from"]
        both = self.frame(j - 1).merge(
            self.frame(j), on=key, how="outer", suffixes=("_a", "_b"), indicator=True
        )
        rest = [c for c in RESULT_COLS if c not in key]

        def side(rows, suffix, kind):
            # the outer merge widened the other side's columns to allow NaN
            return rows[key + [f"{c}{suffix}" for c in rest]].set_axis(
                key + rest, axis=1
            ).astype({"valid_to": "int64", "is_current": bool}).assign(_change_type=kind)

        common = both[both["_merge"] == "both"]
        differs = np.zeros(len(common), dtype=bool)
        for c in rest:
            differs |= (common[f"{c}_a"] != common[f"{c}_b"]).to_numpy()
        upd = common[differs]
        return pd.concat(
            [
                side(both[both["_merge"] == "right_only"], "_b", "insert"),
                side(both[both["_merge"] == "left_only"], "_a", "delete"),
                side(upd, "_a", "update_preimage"),
                side(upd, "_b", "update_postimage"),
            ],
            ignore_index=True,
        )

    def run_query(self, table: VersionedParquetTable, q: Query) -> pa.Table:
        p = q.params
        if q.kind == "current_lookup":
            df = table.read_where(
                [("is_current", "=", True), ("user_id", ">=", p["lo"]), ("user_id", "<", p["hi"])]
            )
            return _result(df)
        if q.kind == "pit_snapshot":
            t = F.timestamp_micros(F.lit(p["t"]))
            df = table.read(version=p["version"]).filter(
                (F.col("valid_from") <= t)
                & (F.col("valid_to") > t)
                & F.col("user_id").between(p["lo"], p["hi"] - 1)
            )
            return _result(df)
        if q.kind == "key_history":
            return _result(table.read_where([("user_id", "in", p["keys"])]))
        if q.kind == "asof_probe":
            probes = self.spark.read.schema(PROBE_DDL).parquet(self.probe_paths[p["probes"]])
            df = scd2.asof_join(
                probes, table.read(), "user_id", "probe_ts", "valid_from",
                ["valid_from", "status", "value"],
            )
            return df.select(
                "probe_id", "user_id", _us("probe_ts"), _us("valid_from"), "status", "value"
            ).toArrow()
        df = table.table_changes(["user_id", "valid_from"], p["v_from"], p["v_to"])
        return _result(df, ("_change_type",))

    def check(self, q: Query, got: pa.Table) -> bool:
        cols = ASOF_COLS if q.kind == "asof_probe" else CHANGE_COLS if q.kind == "change_feed" else RESULT_COLS
        ok = result_hash(got, cols) == q.expected
        if not ok:
            print(f"query {q.kind} {q.params} returned a wrong result", flush=True)
        return ok


@dataclass
class Reads:
    """Outcome of a loop over the query pool: latency and result rows of
    each answered query, in the order issued."""

    seconds: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    @property
    def latencies(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for k, s in zip(self.kinds, self.seconds):
            out.setdefault(k, []).append(s)
        return out


def run_reads(scn: Scenario, path: str, pool: list[Query], tracer=None) -> Reads:
    """Closed loop, one client: issue the pool's queries in order."""
    table = VersionedParquetTable(scn.spark, path)
    r = Reads()
    for i, q in enumerate(pool):
        r.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                got = scn.run_query(table, q)
            else:
                with tracer.op(f"read.{q.kind}", f"read-{i}"):
                    got = scn.run_query(table, q)
        except Exception as e:
            print(f"query {q.kind} raised {type(e).__name__}: {e}", flush=True)
            r.failed += 1
            continue
        r.seconds.append(time.perf_counter() - t0)
        r.rows.append(got.num_rows)
        r.kinds.append(q.kind)
        if not scn.check(q, got):
            r.failed += 1
    return r


DOC_DDL = "doc_id long, text string"


@dataclass
class Ingest:
    """Outcome of ingesting the document batches into a fresh store."""

    metrics: list = field(default_factory=list)  # IngestMetrics per batch
    attempted: int = 0
    failed: int = 0


def run_ingest(spark, root: str, batches: list[DocBatch], paths: list[str], tracer) -> Ingest:
    """Ingest the document batches in order into a fresh corpus store,
    each batch as one traced operation. A batch must accept exactly its
    fresh documents and count every copy as an exact or near duplicate;
    afterwards the corpus must hold exactly the fresh documents, no two
    of them with the same fingerprint (md5 of the normalized text,
    recomputed here)."""
    store = CorpusIngest(spark, os.path.join(root, "store"))
    out = Ingest()
    for i, (b, p) in enumerate(zip(batches, paths)):
        out.attempted += 1
        try:
            with tracer.op("corpus_ingest", f"ingest-{i}"):
                m = store.ingest(spark.read.schema(DOC_DDL).parquet(p))
        except Exception as e:  # a failed batch ends the ingest
            print(f"ingest batch {i} raised {type(e).__name__}: {e}", flush=True)
            out.failed += 1
            return out
        out.metrics.append(m)
        got = (m.accepted, m.exact_in_batch + m.exact_vs_store, m.near_in_batch + m.near_vs_store)
        if got != (len(b.fresh_ids), b.exact, b.near):
            print(f"ingest batch {i} (accepted, exact, near): got {got}", flush=True)
            out.failed += 1
    out.attempted += 1
    docs = store.corpus().select("doc_id", "text").collect()
    fps = {hashlib.md5(" ".join(r["text"].lower().split()).encode()).hexdigest() for r in docs}
    want = sorted(i for b in batches for i in b.fresh_ids)
    if sorted(r["doc_id"] for r in docs) != want or len(fps) != len(docs):
        print(f"corpus check: {len(docs)} docs, {len(fps)} fingerprints, {len(want)} expected", flush=True)
        out.failed += 1
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

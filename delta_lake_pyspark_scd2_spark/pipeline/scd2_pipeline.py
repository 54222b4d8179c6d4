"""SCD2 batch pipeline: validate → intervalize → two-phase merge into a
versioned Parquet table, committed atomically.

Re-derives the reference's E1/E2 lifecycles (SURVEY.md §3:
extract → validate(+quarantine) → transform(window) → 2-phase merge →
audit counts → metrics) with the structural fixes SURVEY.md §7 calls
for: pure operators, config over constants (``SCD2Spec``), injectable
clock, null-safe change detection everywhere (the reference's items
job used NULL-unsafe ``<>`` — notes.md:3-20 marks it a bug), and a
stale-event guard that keeps the single-current invariant under
superset re-runs (the reference's Phase A/B split can double-open a
key there; see tests/test_scd2_pipeline.py).

One commit per batch: Phase A (close the current rows of changed keys)
and Phase B (insert the new version rows) both stage their files
against one pinned table snapshot and land together in a single
``SCD2_MERGE`` commit. Every committed version is a consistent SCD2
state, and a failure anywhere before the commit leaves the previous
version. (The reference ran Phase A and Phase B as two Delta MERGEs,
so its history holds a version between them in which every updated key
has no current row — a documented divergence.)

Scale story (the levers that matter at 100 TB):
  * Phase A touches only the partitions holding the current rows of
    *changed* keys — partition-scoped CoW, cost ∝ changed data.
  * Phase B only adds files (no rewrite at all).
  * Change detection joins staged×current on the key — broadcast when
    the batch is small, AQE-planned shuffle otherwise.
  * The idempotency anti-join reads only (key, valid_from) columns —
    column-pruned parquet scan.
"""

from __future__ import annotations

import time
import uuid
import warnings
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.functions import partition_cols_from
from delta_lake_pyspark_scd2_spark.operators import scd2, validation
from delta_lake_pyspark_scd2_spark.sources.vtable import (
    StagedWrite,
    VersionedParquetTable,
)


@dataclass(frozen=True)
class SCD2Spec:
    """Declarative table spec (reference hardcodes all of this at
    ``src/header_etl.py:23-50``)."""

    key_cols: Sequence[str]
    event_ts_col: str
    tracked_cols: Sequence[str]
    tiebreak_cols: Sequence[str] = ()
    max_ts: str = scd2.MAX_TS
    partition_prefix: str = "valid_from"
    dedup_mode: str = "keep_latest"  # or "drop_all" (items W3 semantics)
    #: "drop" counts events at/before a key's current valid_from as
    #: stale (reference behavior, made explicit); "rebuild" merges them
    #: into the history via interval splitting (notes.md:100-105).
    late_policy: str = "drop"
    #: Column marking soft-delete/tombstone events (notes.md:87-97).
    #: When set, it is normalized to boolean and tracked: a delete event
    #: closes the live version and opens a tombstone version with the
    #: flag true; a later event re-opens normally.
    delete_col: str | None = None
    #: Schema evolution inside the merge (notes.md:107-108, reference
    #: had it only as a standalone mergeSchema append experiment): a
    #: batch may carry new nullable columns — inserts commit the union
    #: schema, pre-existing rows read NULL, and a *tracked* new column
    #: null-safely change-detects against that NULL.
    evolve_schema: bool = False
    #: Phase-A close strategy. "rewrite": partition-scoped copy-on-write
    #: (rewrites every file of a touched partition). "dv": deletion
    #: vectors — mark the closed rows dead in place and append their
    #: closed copies; write cost drops from O(touched partitions) to
    #: O(closed rows), at the price of a broadcast anti-join on reads
    #: until ``compact()`` clears the DVs. At 100 TB, closing a handful
    #: of keys inside a 1 TB day-partition is exactly the case "dv"
    #: exists for.
    close_mode: str = "rewrite"
    #: Skew pre-flight for the Phase-A change-detection joins (merge is
    #: ~75% of ETL wall time; a single hot key — one entity emitting
    #: millions of events in a batch — is the input shape AQE's
    #: skew-join cannot fix, because one key's build rows still
    #: co-locate on one task). "auto": profile the batch's key counts
    #: (one batch-sized aggregation) and, when max-rows-per-key >=
    #: ``skew_hot_rows`` AND >= ``skew_ratio``× the mean, route hot
    #: keys through a broadcast split join (operators/skew.py).
    #: "force" always splits (tests / known-skewed feeds); "off"
    #: disables the profile entirely.
    skew_policy: str = "auto"
    skew_hot_rows: int = 100_000
    skew_ratio: float = 32.0

    def __post_init__(self) -> None:
        # fail loud on typos ('Auto', 'none', …) instead of silently
        # falling into the auto-threshold branch (round-9 advice)
        if self.skew_policy not in {"auto", "force", "off"}:
            raise ValueError(
                f"skew_policy must be one of 'auto'/'force'/'off', "
                f"got {self.skew_policy!r}"
            )
        if self.dedup_mode not in {"keep_latest", "drop_all"}:
            raise ValueError(
                f"dedup_mode must be 'keep_latest' or 'drop_all', "
                f"got {self.dedup_mode!r}"
            )
        if self.late_policy not in {"drop", "rebuild"}:
            raise ValueError(
                f"late_policy must be 'drop' or 'rebuild', "
                f"got {self.late_policy!r}"
            )
        if self.close_mode not in {"rewrite", "dv"}:
            raise ValueError(
                f"close_mode must be 'rewrite' or 'dv', got {self.close_mode!r}"
            )

    @property
    def partition_cols(self) -> list[str]:
        p = self.partition_prefix
        return [f"{p}_year", f"{p}_month", f"{p}_day"]

    @property
    def effective_tracked(self) -> list[str]:
        cols = list(self.tracked_cols)
        if self.delete_col and self.delete_col not in cols:
            cols.append(self.delete_col)
        return cols


def _log_dir(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/_events_log"


def _watermark_dir(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/_events_log_watermarks"


def _append_event_log(spec: SCD2Spec, kept: DataFrame, table_path: str, batch_id: str) -> None:
    """Bronze event-log sidecar (``late_policy="rebuild"`` only): every
    validated event is retained, *including* ones the change-only
    version table collapses away. Without it, a same-value event that
    gets collapsed is unrecoverable when a later out-of-order event
    lands before it — the history silently loses a version (found by
    the batching-convergence property test). Partitioned by batch so a
    re-run overwrites its own slice (idempotent).

    Alongside the events, a compact per-batch watermark file
    (key → max event ts, size ∝ distinct keys) is written: freshness
    classification reads ONLY these, so the per-batch read cost does
    not grow with event volume. The full log is read just on the
    rebuild path, column/key-pruned to the affected keys.
    """
    kept.write.mode("overwrite").parquet(f"{_log_dir(table_path)}/batch={batch_id}")
    (
        kept.groupBy(*spec.key_cols)
        .agg(F.max(spec.event_ts_col).alias("__max_seen"))
        .write.mode("overwrite")
        .parquet(f"{_watermark_dir(table_path)}/batch={batch_id}")
    )


def _list_batch_dirs(
    spark: SparkSession, root: str, *, exclude_batch: str
) -> list[str]:
    """List ``batch=*`` sidecar directories through the Hadoop
    FileSystem API, not ``os.listdir`` — so the sidecars work wherever
    Spark can read (HDFS, s3a://, abfss://, local), and the listing
    semantics match the scans that follow."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return [
        name
        for st in fs.listStatus(path)
        if (name := st.getPath().getName()).startswith("batch=")
        and name != f"batch={exclude_batch}"
    ]


def _read_key_watermarks(
    spark: SparkSession, spec: SCD2Spec, table_path: str, *, exclude_batch: str
) -> DataFrame | None:
    """Per-key max logged ts across prior batches, from the compact
    watermark files; None when absent (pre-log table)."""
    root = _watermark_dir(table_path)
    parts = _list_batch_dirs(spark, root, exclude_batch=exclude_batch)
    if not parts:
        return None
    per_batch = (
        spark.read.option("basePath", root)
        .parquet(*[f"{root}/{d}" for d in parts])
        .drop("batch")
    )
    return per_batch.groupBy(*spec.key_cols).agg(
        F.max("__max_seen").alias("__max_seen")
    )


def _read_event_log(
    spark: SparkSession, table_path: str, *, exclude_batch: str
) -> DataFrame | None:
    """All prior logged events (merged schema), or None if no log —
    pre-log tables fall back to version rows as the event source."""
    root = _log_dir(table_path)
    parts = _list_batch_dirs(spark, root, exclude_batch=exclude_batch)
    if not parts:
        return None
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(*[f"{root}/{d}" for d in parts])
        .drop("batch")
    )


def _observed_long(obs: Observation, key: str) -> int | None:
    """Non-blocking read of one observed long metric; ``None`` when the
    metrics row is unavailable (the action has not run, or AQE's
    empty-relation propagation elided the CollectMetrics node — the
    round-10 rejected-variant failure mode) so the caller can fall back
    to an explicit action. ``Observation.get`` would BLOCK forever in
    the elided case; the JVM-side ``getRowOrEmpty`` does not.

    The read goes through private pyspark APIs (pinned 4.1.2); when it
    fails for any reason other than an empty metrics row, the fallback
    costs every merge an extra job, so it warns; the default warning
    filter shows that once per call site and failure type."""
    try:
        jopt = obs._jo.getRowOrEmpty()
        # an elided node completes with no row, or with an EMPTY one
        if not jopt.isDefined() or jopt.get().length() == 0:
            return None
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        row = CPickleSerializer().loads(utils.toPyRow(jopt.get()))
        v = row.asDict(recursive=False)[key]
        return 0 if v is None else int(v)
    except Exception as e:  # noqa: BLE001 — any pyspark-internals drift
        warnings.warn(
            f"Observation read failed ({type(e).__name__}); falling back "
            "to an explicit count job",
            RuntimeWarning,
            stacklevel=2,
        )
        return None


def _prepare_versions(spec: SCD2Spec, staged_events: DataFrame) -> DataFrame:
    """Collapse + intervalize a batch of events into SCD2 version rows
    with partition columns (reference transform, src/header_etl.py:106-125).

    The collapse enforces this engine's change-only contract uniformly:
    value-identical consecutive events never create a version row — on
    initial loads and new keys too, not just against an existing current
    row (the reference versions *every* event; our documented divergence).
    """
    events = scd2.collapse_unchanged(
        staged_events,
        spec.key_cols,
        spec.event_ts_col,
        spec.effective_tracked,
        tiebreak_cols=spec.tiebreak_cols,
    )
    versions = scd2.intervalize(
        events,
        spec.key_cols,
        spec.event_ts_col,
        tiebreak_cols=spec.tiebreak_cols,
        max_ts=spec.max_ts,
    ).withColumn("closed_by_batch", F.lit(None).cast("string"))
    return partition_cols_from(versions, "valid_from", spec.partition_prefix)


def run_scd2_batch(
    spark: SparkSession,
    spec: SCD2Spec,
    batch: DataFrame,
    table_path: str,
    *,
    batch_id: str = "batch",
    batch_date_col: str | None = None,
    quarantine_path: str | None = None,
) -> dict:
    """Process one batch end-to-end; returns the run-metrics record
    (the reference's ``run_metrics`` flat dict, src/header_etl.py:319-340).
    """
    metrics: dict = {"batch_id": batch_id}
    t0 = time.time()

    if spec.delete_col:
        batch = batch.withColumn(
            spec.delete_col,
            F.coalesce(F.col(spec.delete_col).cast("boolean"), F.lit(False)),
        )

    # -- validate (reference validations_utils.14-150) ----------------------
    tagged = validation.tag_discards(
        batch,
        list(spec.key_cols),
        spec.event_ts_col,
        batch_date_col=batch_date_col,
        tiebreak_cols=spec.tiebreak_cols,
    )
    if spec.dedup_mode == "drop_all":
        # items W3 semantics (src/items_etl.py:56-64): drop EVERY row of
        # a duplicated (key, event_time) group, not keep-one
        w_cnt = F.count(F.lit(1)).over(
            Window.partitionBy(*spec.key_cols, spec.event_ts_col)
        )
        tagged = tagged.withColumn(
            validation.DISCARD_COL,
            F.when(
                F.col(validation.DISCARD_COL).isNull() & (w_cnt > 1),
                F.lit(validation.DUPLICATE_OLDER),
            ).otherwise(F.col(validation.DISCARD_COL)),
        )
    tagged = tagged.persist()
    try:
        kept, discarded = validation.split_valid(tagged)

        # With skew profiling on, the DQ tallies and the merge's key-count
        # profile fold out of ONE per-key aggregation instead of a flat DQ
        # agg plus a dedicated profile job (round-9 directive #5) — the
        # pre-flight becomes free relative to the validation pass.
        def _dq_compute() -> tuple[dict, dict | None]:
            if spec.skew_policy != "off":
                return validation.dq_metrics_with_key_profile(
                    tagged, list(spec.key_cols)
                )
            return validation.dq_metrics(tagged), None

        def _write_quarantine(dq: dict) -> None:
            if quarantine_path is not None and dq["n_total"] > dq["n_kept"]:
                discarded.write.mode("overwrite").parquet(
                    f"{quarantine_path}/batch={batch_id}"
                )

        creating = not VersionedParquetTable.is_table(table_path)
        key_profile: dict | None = None
        dq: dict = {}
        if not creating:
            # the merge needs the key-count profile BEFORE planning the
            # batch×current join (skew pre-flight), so DQ stays inline here
            dq, key_profile = _dq_compute()
            _write_quarantine(dq)
        metrics_val_s = round(time.time() - t0, 3)

        # -- merge ----------------------------------------------------------
        t1 = time.time()
        if spec.late_policy == "rebuild":
            _append_event_log(spec, kept, table_path, batch_id)
        if creating:
            # Initial load: the DQ aggregation and the table write are
            # independent consumers of the tagged cache — overlap them
            # (guide §2.6) instead of paying the validation aggregation as
            # a serial prefix of the load. The quarantine write (gated on
            # the DQ counts) lands after the create commit — i.e. on the
            # CREATE path quarantine durability is guaranteed only after a
            # successful create (round-10 ADVICE, documented contract: a
            # failed create aborts the whole load and the batch is
            # re-submitted, so nothing is lost, merely not yet
            # quarantined); the merge path keeps DQ (and quarantine)
            # strictly before any table mutation.
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            dq_fut = pool.submit(_dq_compute)
            try:
                versions = _prepare_versions(spec, kept)
                # count rides the initial write job (observe) — recomputing
                # the whole versions plan for a count would double the cost
                obs = Observation("scd2_create")
                versions = versions.observe(
                    obs, F.count(F.lit(1)).alias("n_inserted")
                )
                VersionedParquetTable.create(
                    spark,
                    versions,
                    table_path,
                    partition_cols=spec.partition_cols,
                    metrics={"batch_id": batch_id},
                    # partition layout as GENERATED columns: the table
                    # itself re-derives/validates y/m/d from valid_from on
                    # every write path, so no future writer can land a
                    # version row in the wrong partition (the pruning in
                    # Phases A/B relies on it)
                    generated_cols={
                        f"{spec.partition_prefix}_year": "year(valid_from)",
                        f"{spec.partition_prefix}_month": "month(valid_from)",
                        f"{spec.partition_prefix}_day": "dayofmonth(valid_from)",
                    },
                )
            finally:
                pool.shutdown(wait=True)
            dq, _ = dq_fut.result()
            _write_quarantine(dq)
            merge_part: dict = {
                "n_inserted": int(obs.get["n_inserted"] or 0),
                "n_closed": 0,
                "n_stale": 0,
            }
        else:
            table = VersionedParquetTable(spark, table_path)
            merge_part = _merge_batch(
                spec, table, kept, batch_id, key_profile=key_profile
            )
        # canonical key order (dq before durations, merge keys after) so
        # the metrics CSV header is identical whichever path ran and
        # whenever the DQ future resolved
        metrics.update(dq)
        metrics["duration_s_validation"] = metrics_val_s
        metrics.update(merge_part)
        metrics["duration_s_merge"] = round(time.time() - t1, 3)
        metrics["duration_s_total"] = round(time.time() - t0, 3)
    finally:
        # released on every path, a failed merge included
        tagged.unpersist()
    return metrics


def _merge_batch(
    spec: SCD2Spec,
    table: VersionedParquetTable,
    kept: DataFrame,
    batch_id: str,
    *,
    key_profile: dict | None = None,
) -> dict:
    """SCD2 merge (reference Phase A/B, src/header_etl.py:144-280) on the
    versioned table, committed ONCE.

    Phase A closes the current rows of changed keys; Phase B inserts the
    new version rows. Both read one pinned snapshot, stage their files,
    and land in a single ``SCD2_MERGE`` commit — so no reader, time
    travel or crash ever sees a version in which an updated key has no
    current row. (The reference ran two Delta MERGEs; documented
    divergence.) Any failure before that commit leaves the table at its
    previous version and releases every persisted frame.

    Correctness refinements over the reference (documented divergences):
      * events at or before the key's current ``valid_from`` are *stale*
        (late-arriving) — counted and excluded instead of silently
        inserted (which in the reference can yield two open rows for
        one key on superset re-runs);
      * only versions from the first *changing* event onward are
        inserted — value-identical events create no version row;
      * all comparisons null-safe (``<=>``).
    """
    keys = list(spec.key_cols)
    ts = spec.event_ts_col
    # the snapshot every read below pins and the commit rebases from
    base = table._current()

    # Phases A and B derive touched partitions *arithmetically* from
    # valid_from under THIS spec's partition scheme; that is only sound
    # if the table on disk was partitioned the same way. Fail fast on a
    # spec/manifest mismatch instead of silently pruning to the wrong
    # partitions and missing closes.
    if list(base["partition_cols"]) != list(spec.partition_cols):
        raise ValueError(
            f"SCD2 spec partition_cols {list(spec.partition_cols)} do not "
            f"match table manifest partition_cols {base['partition_cols']} "
            f"at {table.path}; merge's partition pruning would be unsound "
            "under a different scheme. Recreate the table or align "
            "spec.partition_prefix."
        )

    tracked = spec.effective_tracked
    # Current rows via manifest data skipping: files whose footer says
    # max(is_current)=false (fully-closed histories) never enter the
    # scan. Inserts are all-current and closes mix, so over time old
    # day-partitions go all-closed and drop out — the per-batch
    # current-row scan tracks the LIVE key count, not the total
    # version-row count.
    cur_src = table.read_where([("is_current", "=", True)], base["version"])
    if spec.evolve_schema:
        cur_src = _pad_columns(cur_src, kept)
    # ONE batch×current join per merge (round-10 optimization, guide
    # §2.4): the staged join carries not just the current row's
    # valid_from but its TRACKED VALUES too (``__curv_<c>``), so change
    # detection, the new-key split and the stale split all become
    # filters/aggregates over the one persisted staged frame. Before,
    # the batch re-joined the current scan three more times (left_semi
    # for change detection, left_anti for new keys, plus the scan
    # itself re-read) — at scale each was a full shuffle against the
    # table's live key set.
    current = cur_src.select(
        *keys,
        F.col("valid_from").alias("__cur_from"),
        *[F.col(c).alias(f"__curv_{c}") for c in tracked],
    )

    # Split staged events: new-key events, fresh events, stale events.
    # Persisted: reused by Phase A and Phase B — without it every
    # downstream action re-runs the batch×current join.
    #
    # Freshness reference point differs by policy. "drop": the current
    # row's valid_from (reference behavior — anything at/before it is
    # discarded as stale). "rebuild": the per-key max ts ever LOGGED —
    # an event may be later than valid_from yet still interleave with a
    # collapsed-away same-value event; only the full event log can see
    # that (convergence property, tests/test_scd2_properties.py).
    # Skew pre-flight (round-8 directive #7): decide BEFORE planning
    # the batch×current join whether a hot key needs the broadcast
    # split path. The profile is one batch-sized aggregation; `hot_df`
    # is ≤ rows/cut keys by construction, so always broadcastable.
    from delta_lake_pyspark_scd2_spark.operators.skew import (
        decide_hot_keys,
        hot_split_join,
    )

    # every frame persisted below; the finally releases them whatever
    # happens, on the Phase-B thread too
    cached: list[DataFrame] = []
    try:
        # profile normally piggybacked on the validation pass's per-key
        # aggregation (run_scd2_batch, round-9 directive #5); the
        # dedicated job inside decide_hot_keys is the fallback for
        # direct _merge_batch callers
        hot_df, _, n_hot_keys = decide_hot_keys(
            kept,
            keys,
            policy=spec.skew_policy,
            hot_rows=spec.skew_hot_rows,
            ratio=spec.skew_ratio,
            profile=key_profile,
        )
        if hot_df is not None:
            cached.append(hot_df)

        def _left_join_current(left: DataFrame, right: DataFrame) -> DataFrame:
            if hot_df is None:
                return left.join(right, on=keys, how="left")
            return hot_split_join(left, right, keys, hot=hot_df, how="left")

        prior_events: DataFrame | None = None
        if spec.late_policy == "rebuild":
            spark = kept.sparkSession
            # classification reads only the compact watermark files (∝
            # distinct keys per batch); the full event log is touched
            # on the rebuild path alone
            seen = _read_key_watermarks(spark, spec, table.path, exclude_batch=batch_id)
            prior_events = _read_event_log(spark, table.path, exclude_batch=batch_id)
            if prior_events is None:  # pre-log table: version rows as events
                existing = table.read(base["version"])
                if spec.evolve_schema:
                    existing = _pad_columns(existing, kept)
                prior_events = existing.select(*kept.columns)
            if seen is None:
                seen = prior_events.groupBy(*keys).agg(F.max(ts).alias("__max_seen"))
            staged = _left_join_current(_left_join_current(kept, current), seen)
            is_new_key = F.col("__cur_from").isNull()
            is_fresh = F.col("__max_seen").isNull() | (F.col(ts) > F.col("__max_seen"))
        else:
            staged = _left_join_current(kept, current)
            is_new_key = F.col("__cur_from").isNull()
            is_fresh = F.col(ts) > F.col("__cur_from")
        # The stale count rides the staged cache's materialization as an
        # Observation INSIDE the persisted plan (round-11, guide §5 "the
        # driver is a single process"): it fires exactly once, on the
        # first action that fills the cache (the `touched` collect
        # below), so no dedicated `late.count()` job runs.
        # when/otherwise (not a bare cast) so NULL predicates count as
        # 0, exactly like filter().
        stale_obs = Observation(f"scd2_stale_{uuid.uuid4().hex[:8]}")
        staged = staged.observe(
            stale_obs,
            F.sum(
                F.when(~is_new_key & ~is_fresh, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_stale"),
        ).persist()
        cached.append(staged)
        t_a = time.time()
        helper_cols = [
            c
            for c in staged.columns
            if c in ("__cur_from", "__max_seen") or c.startswith("__curv_")
        ]
        late = staged.filter(~is_new_key & ~is_fresh).drop(*helper_cols)
        usable = staged.filter(is_new_key | is_fresh).drop(*helper_cols)

        # Null-safe change detection + first changing event per key
        # (J1 + P6 + A1) as a pure filter+aggregate over staged: a
        # usable existing-key event row changes iff any tracked value
        # differs null-safely from the carried current value (same
        # predicate scd2.detect_changes applies after its join — here
        # the join already happened once, in staged). One row per
        # changed key with the first changing event's ts; the current
        # row's valid_from rides along so Phase A's touched partitions
        # derive from `changed` alone — no table re-scan, no second
        # join.
        any_change = F.lit(False)
        for c in tracked:
            any_change = any_change | scd2.null_safe_neq(
                F.col(c), F.col(f"__curv_{c}")
            )
        changed = (
            staged.filter(~is_new_key & is_fresh & any_change)
            .groupBy(*keys)
            .agg(
                F.min(ts).alias("first_change_ts"),
                F.min("__cur_from").alias("__cur_from"),
            )
            .persist()
        )
        cached.append(changed)

        # Phase A scope: the partitions holding the current rows of
        # changed keys, by pure date arithmetic over the (small,
        # persisted) changed set. No forced broadcast of `changed`: its
        # size is data-dependent (≤ all keys in the batch) — AQE picks
        # broadcast when it is actually small and falls back to a
        # shuffle join when it is not.
        close_parts = partition_cols_from(
            changed.filter(F.col("first_change_ts") > F.col("__cur_from")).select(
                F.col("__cur_from").alias("valid_from")
            ),
            "valid_from",
            spec.partition_prefix,
        )
        # this collect materializes the `staged` AND `changed` caches
        # (its plan scans every staged partition) and fires the stale
        # Observation — the single serial prefix of the merge
        touched = [
            {k: str(r[k]) for k in spec.partition_cols}
            for r in close_parts.select(*spec.partition_cols).distinct().collect()
        ]
        # Guarded read (round-10's rejected variant showed AQE's
        # empty-relation propagation can complete a query without its
        # CollectMetrics row): non-blocking getRowOrEmpty, falling back
        # to an explicit count — cheap now, the cache is materialized.
        n_stale = _observed_long(stale_obs, "n_stale")
        if n_stale is None:
            n_stale = late.count()

        def _phase_b() -> tuple[StagedWrite | None, int]:
            # insert version rows from the first change onward for
            # changed keys plus everything for new keys; idempotency
            # key = (key, valid_from) anti-join (reference
            # src/header_etl.py:247-280). New keys read straight off the
            # staged frame (null __cur_from ⇔ the left join found no
            # current row).
            new_key_events = staged.filter(is_new_key).drop(*helper_cols)
            changed_events = (
                usable.join(changed, on=keys, how="inner")
                .filter(F.col(ts) >= F.col("first_change_ts"))
                .drop("first_change_ts", "__cur_from")
            )
            # Persisted: feeds the partition-scope collect AND the
            # anti-join — without it the collapse+intervalize windows
            # run twice.
            versions = _prepare_versions(
                spec, new_key_events.unionByName(changed_events)
            ).persist()
            cached.append(versions)
            # Idempotency conflicts share (key, valid_from), and the
            # partition columns are a pure function of valid_from — so
            # a conflicting existing row can only live in a partition
            # some incoming version also maps to. Scope the anti-join's
            # right side to exactly those partitions (manifest-pruned
            # scan) instead of the whole table: per-batch cost stays ∝
            # batch footprint as the table grows 100×.
            ins_touched = [
                {k: str(r[k]) for k in spec.partition_cols}
                for r in versions.select(*spec.partition_cols).distinct().collect()
            ]
            existing_keys = table.read_partitions(
                ins_touched, base["version"]
            ).select(*keys, "valid_from")
            inserts = versions.join(
                existing_keys, on=[*keys, "valid_from"], how="left_anti"
            ).persist()
            cached.append(inserts)
            # the count materializes the cache the write replays, and is
            # the exact insert count
            n_inserted = inserts.count()
            if not n_inserted:
                return None, 0
            insert = table.stage_write(
                inserts, base=base, merge_schema=spec.evolve_schema
            )
            # not a blind append: the anti-join read these partitions
            insert.reads = ins_touched
            return insert, n_inserted

        # Phase B (compute AND staging) overlaps Phase A's staging
        # (guide §2.6: actions are only sequential because the driver
        # calls them sequentially). Both read the pinned snapshot and
        # stage uncommitted files, so neither can see the other's
        # output; the single commit below orders nothing.
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        try:
            fut = pool.submit(_phase_b)
            closed, close = _phase_a(
                spec, table, base, changed, touched, batch_id, cached
            )
            t_b = time.time()
            insert, n_inserted = fut.result()
        finally:
            # a failed Phase A waits out Phase B, so the finally below
            # also releases the frames Phase B persisted
            pool.shutdown(wait=True)
        staged = [w for w in (close, insert) if w is not None]
        if staged:
            table.commit_staged(
                "SCD2_MERGE",
                *staged,
                merge_schema=spec.evolve_schema,
                metrics={
                    "batch_id": batch_id,
                    "n_closed": closed,
                    "n_inserted": n_inserted,
                },
            )

        # Phase C (optional) — late-arriving interval rebuild, its own
        # commit. Runs after the merge so rebuilt histories include this
        # batch's fresh versions. Event source = full log (prior batches
        # ∪ this batch), so versions collapsed away by earlier
        # change-only loads are recoverable.
        t_c = time.time()
        n_rebuilt = 0
        if spec.late_policy == "rebuild" and n_stale:
            all_events = prior_events.unionByName(kept, allowMissingColumns=True)
            n_rebuilt = _rebuild_late(spec, table, late, all_events, batch_id)
    finally:
        for df in cached:
            df.unpersist()
    out = {
        "n_closed": closed,
        "n_hot_keys": n_hot_keys,
        "n_inserted": n_inserted,
        "n_stale": n_stale,
        # Phase-A scope evidence: partitions actually rewritten (or
        # DV'd) this merge — the number that must track the BATCH's
        # date spread, not the table's, for cost ∝ changed data
        "n_parts_closed": len(touched),
        # phase breakdown (reference tracks per-phase durations,
        # src/header_etl.py:319-331; these localize merge cost the
        # same way at any scale: close = Phase A's staging, insert =
        # the rest of Phase B's compute and staging plus the commit,
        # rebuild = late-history reconstruction)
        "duration_s_close": round(t_b - t_a, 3),
        "duration_s_insert": round(t_c - t_b, 3),
    }
    if spec.late_policy == "rebuild":
        out["n_rebuilt"] = n_rebuilt
        out["duration_s_rebuild"] = round(time.time() - t_c, 3)
    return out


def _phase_a(
    spec: SCD2Spec,
    table: VersionedParquetTable,
    base: dict,
    changed: DataFrame,
    touched: list[dict[str, str]],
    batch_id: str,
    cached: list[DataFrame],
) -> tuple[int, StagedWrite | None]:
    """Stage Phase A against snapshot ``base``: close the current rows
    of ``changed`` keys in the ``touched`` partitions at their first
    change. Returns ``(n_closed, staged close or None)``."""
    if not touched:
        return 0, None
    keys = list(spec.key_cols)
    to_close = changed.drop("__cur_from")
    closing = (
        F.col("is_current")
        & F.col("first_change_ts").isNotNull()
        & (F.col("first_change_ts") > F.col("valid_from"))
    )
    if spec.close_mode == "dv":
        # Deletion-vector close: mark the (few) current rows of changed
        # keys dead at their (file, position) and add their closed
        # copies — no partition rewrite at all. The positional read
        # applies existing DVs, so an already-closed row can't close
        # twice. Write amplification: O(closed rows), not O(partition).
        rows = (
            table.read_partitions(touched, base["version"], with_position=True)
            .join(to_close, on=keys, how="inner")
            .filter(closing)
            .persist()
        )
        cached.append(rows)
        dead = rows.select("__file", "__pos")
        n_closed = dead.count()
        if not n_closed:
            return 0, None
        copies = (
            rows.withColumn("valid_to", F.col("first_change_ts"))
            .withColumn("is_current", F.lit(False))
            .withColumn("closed_by_batch", F.lit(batch_id))
            .drop("first_change_ts", "__file", "__pos")
        )
        return n_closed, table.stage_remove_rows(dead, adds=copies, base=base)
    # copy-on-write: rewrite the touched partitions with the closes
    # applied; the count piggybacks on the write job (observe)
    updated = (
        table.read_partitions(touched, base["version"])
        .join(to_close, on=keys, how="left")
        .withColumn("__close", closing)
        .withColumns(
            {
                "valid_to": F.when(
                    F.col("__close"), F.col("first_change_ts")
                ).otherwise(F.col("valid_to")),
                "is_current": F.when(F.col("__close"), F.lit(False)).otherwise(
                    F.col("is_current")
                ),
                "closed_by_batch": F.when(
                    F.col("__close"), F.lit(batch_id)
                ).otherwise(F.col("closed_by_batch")),
            }
        )
    )
    obs = Observation(f"scd2_close_{uuid.uuid4().hex[:8]}")
    updated = updated.observe(
        obs, F.sum(F.col("__close").cast("long")).alias("n_closed")
    ).drop("first_change_ts", "__close")
    close = table.stage_write(updated, touched, base=base)  # fills obs
    return int(obs.get["n_closed"] or 0), close


def _pad_columns(df: DataFrame, reference: DataFrame) -> DataFrame:
    """Add (as typed NULLs) any columns ``reference`` has that ``df``
    lacks — lets change detection and history rebuilds treat a
    schema-evolving batch uniformly (old data simply has NULLs)."""
    have = set(df.columns)
    for f in reference.schema.fields:
        if f.name not in have:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _rebuild_late(
    spec: SCD2Spec,
    table: VersionedParquetTable,
    late: DataFrame,
    all_events: DataFrame,
    batch_id: str,
) -> int:
    """Rebuild the late keys' histories from scratch over the complete
    event log (``all_events`` = prior logged batches ∪ current batch) +
    partition-scoped copy-on-write. Returns the number of changed
    version rows (rebuilt rows not present in the prior history).

    Scale: cost ∝ (logged events of late keys) + (their partitions),
    never table size. Late data is typically a tiny fraction of a
    batch, so the per-key rebuild join stays broadcast-sized.
    """
    keys = list(spec.key_cols)
    ts = spec.event_ts_col
    affected = late.select(*keys).distinct()
    hist = table.read()
    if spec.evolve_schema:
        hist = _pad_columns(hist, late)
    # (no forced broadcast: late-key volume is data-dependent; AQE
    # broadcasts when small)
    hist = hist.join(affected, on=keys, how="left_semi").persist()
    n_old = hist.count()
    # (key, ts) collisions across log batches resolve by tiebreak —
    # deterministic, and a re-run's identical events are exact no-ops.
    events = all_events.join(affected, on=keys, how="left_semi")
    order = [F.col(c).desc_nulls_last() for c in spec.tiebreak_cols] or [
        F.lit(1).asc()
    ]
    w_dedup = Window.partitionBy(*keys, ts).orderBy(*order)
    events = (
        events.withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rebuilt = _prepare_versions(spec, events)
    # Restore audit lineage: rows whose interval end is unchanged keep
    # their closed_by_batch; newly-closed rows are stamped with this
    # batch; open rows carry NULL.
    old_audit = hist.select(
        *keys,
        "valid_from",
        F.col("valid_to").alias("__old_to"),
        F.col("closed_by_batch").alias("__old_cb"),
    )
    rebuilt = (
        rebuilt.join(old_audit, on=[*keys, "valid_from"], how="left")
        .withColumn(
            "closed_by_batch",
            F.when(F.col("valid_to").eqNullSafe(F.col("__old_to")), F.col("__old_cb"))
            .when(~F.col("is_current"), F.lit(batch_id)),
        )
        .drop("__old_to", "__old_cb")
    ).persist()
    n_new = rebuilt.count()
    # Rewrite iff the rebuilt history differs in CONTENT — a row-count
    # comparison misses the collapse case (late event carrying the same
    # tracked values as the current version shifts valid_from with no
    # net row change). Idempotent re-runs still no-op: identical sets
    # compare empty here.
    cmp_cols = [
        *keys,
        "valid_from",
        "valid_to",
        "is_current",
        *spec.effective_tracked,
    ]
    n_changed = (
        rebuilt.select(*cmp_cols).exceptAll(hist.select(*cmp_cols)).count()
    )
    if n_changed or n_new != n_old:
        parts = (
            hist.select(*spec.partition_cols)
            .unionByName(rebuilt.select(*spec.partition_cols))
            .distinct()
            .collect()
        )
        touched = [{k: str(r[k]) for k in spec.partition_cols} for r in parts]
        others = table.read_partitions(touched).join(
            affected, on=keys, how="left_anti"
        )
        table.replace_partitions(
            others.unionByName(rebuilt, allowMissingColumns=True),
            touched,
            operation="SCD2_REBUILD",
            merge_schema=spec.evolve_schema,
            metrics={"batch_id": batch_id, "n_rebuilt": n_changed},
        )
    hist.unpersist()
    rebuilt.unpersist()
    return n_changed

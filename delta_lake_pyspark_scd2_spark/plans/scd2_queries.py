"""SCD2 capability queries (SURVEY.md §2.5, §2.11) over the ``events``
table — the driver-checkable face of the SCD2 operator layer.

``events(event_id, ts, user_id, event_type, value, props)`` plays the
role of the reference's header batches: ``user_id`` is the business key,
``ts`` the event time, ``event_type`` the tracked column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.plans.registry import REGISTRY, register
from delta_lake_pyspark_scd2_spark.sources.tables import load_table
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

#: Point-in-time / staging cutoff used by several queries below.
CUTOFF = "2024-01-15 00:00:00"

_INTERVALIZED_CTE = """
    intervalized AS (
      SELECT user_id, event_id, event_type, value, ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
             (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) IS NULL
               AS is_current
      FROM events
    )
"""


@register(
    "scd2_intervalize",
    oracle=f"""
    WITH {_INTERVALIZED_CTE}
    SELECT user_id, event_id, valid_from,
           strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to, is_current
    FROM intervalized
    """,
    doc="Intra-batch SCD2 version chaining (W1, src/header_etl.py:106-116): "
    "lead() over (key ORDER BY ts) with open-interval sentinel. The query "
    "surface projects valid_to as a formatted string because the 9999-12-31 "
    "sentinel overflows pandas' datetime64[ns] in the driver canonicalizer; "
    "the operator itself keeps the TIMESTAMP sentinel for reference parity.",
    bench=True,
)
def scd2_intervalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return scd2.intervalize(
        ev, "user_id", "ts", tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        "event_id",
        "valid_from",
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


@register(
    "scd2_point_in_time",
    oracle=f"""
    WITH {_INTERVALIZED_CTE}
    SELECT user_id, event_id, event_type, value FROM intervalized
    WHERE valid_from <= TIMESTAMP '{CUTOFF}' AND valid_to > TIMESTAMP '{CUTOFF}'
    """,
    doc="Point-in-time (as-of) lookup on the interval model "
    "(test/items_etl_test.py:135-141): valid_from <= t < valid_to.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = F.lit(CUTOFF).cast("timestamp")
    return (
        scd2.intervalize(ev, "user_id", "ts", tiebreak_cols=["event_id"])
        .filter((F.col("valid_from") <= t) & (F.col("valid_to") > t))
        .select("user_id", "event_id", "event_type", "value")
    )


@register(
    "scd2_variation_count",
    oracle=f"""
    WITH {_INTERVALIZED_CTE}
    SELECT user_id, COUNT(*) AS n_versions
    FROM intervalized WHERE NOT is_current GROUP BY user_id
    """,
    doc="Closed-version count per key (test/items_etl_test.py:151-161).",
)
def scd2_variation_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        scd2.intervalize(ev, "user_id", "ts", tiebreak_cols=["event_id"])
        .filter(~F.col("is_current"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_versions"))
    )


@register(
    "scd2_detect_changes",
    oracle=f"""
    WITH current AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
      ) WHERE rn = 1
    ),
    staged AS (
      SELECT user_id, ts, event_type FROM events
      WHERE ts >= TIMESTAMP '{CUTOFF}'
    )
    SELECT s.user_id, MIN(s.ts) AS first_change_ts
    FROM staged s JOIN current c USING (user_id)
    WHERE s.event_type IS DISTINCT FROM c.event_type
    GROUP BY s.user_id
    """,
    doc="Null-safe change detection + first-change timestamp "
    "(Phase-A input: J1+P6+A1, src/header_etl.py:183-200).",
)
def scd2_detect_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(CUTOFF).cast("timestamp")
    current = scd2.latest_per_key(
        ev.filter(F.col("ts") < cutoff), "user_id", "ts", tiebreak_cols=["event_id"]
    ).select("user_id", "event_type")
    staged = ev.filter(F.col("ts") >= cutoff).select("user_id", "ts", "event_type")
    return scd2.detect_changes(
        existing_current=current,
        staged=staged,
        key_cols="user_id",
        tracked_cols=["event_type"],
        ts_col="ts",
    )


@register(
    "scd2_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT c.event_id FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_event_id,
           (SELECT c.value FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_value
    FROM purchases p
    """,
    doc="As-of join (first-class here; implicit in the reference's "
    "interval model): last click at-or-before each purchase, via the "
    "scalable union+window plan — one shuffle, no range-join explosion.",
    bench=True,
)
def scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return scd2.asof_join(
        probes=purchases,
        events=clicks,
        key_cols="user_id",
        probe_ts="ts",
        event_ts="ts",
        value_cols=["click_event_id", "click_value"],
        event_tiebreak_cols=["click_event_id"],
    )


@register(
    "scd2_late_rebuild",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER w AS rn,
             LAG(event_type) OVER w AS pe,
             LAG(value) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_id, ts FROM flagged
      WHERE rn = 1 OR (event_type IS DISTINCT FROM pe)
         OR (value IS DISTINCT FROM pv)
    )
    SELECT user_id, event_id, ts AS valid_from,
           strftime(COALESCE(LEAD(ts) OVER w2,
                             TIMESTAMP '9999-12-31 00:00:00'),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           (LEAD(ts) OVER w2) IS NULL AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Late-arriving interval rebuild (notes.md:100-105, unimplemented "
    "in the reference): merging the odd-id half of the events as late "
    "arrivals into the even-id half's history must equal a from-scratch "
    "change-only SCD2 build over ALL events — the oracle recomputes that "
    "ground truth directly. valid_to is projected as a formatted string "
    "(sentinel overflows pandas datetime64[ns]; operator keeps TIMESTAMP).",
)
def scd2_late_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    history = scd2.intervalize(
        ev.filter(F.col("event_id") % 2 == 0),
        "user_id",
        "ts",
        tiebreak_cols=["event_id"],
    )
    late = ev.filter(F.col("event_id") % 2 == 1)
    rebuilt = scd2.merge_late_events(
        history,
        late,
        "user_id",
        "ts",
        tracked_cols=["event_type", "value"],
        tiebreak_cols=["event_id"],
    )
    return rebuilt.select(
        "user_id",
        "event_id",
        "valid_from",
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


@register(
    "scd2_invariants_clean",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS VARCHAR) AS violation
    WHERE FALSE
    """,
    doc="Invariant checker (notes.md:132-134): intervalize() output must "
    "have no overlaps / multi-current / bad intervals — empty result.",
)
def scd2_invariants_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    versions = scd2.intervalize(ev, "user_id", "ts", tiebreak_cols=["event_id"])
    return scd2.check_invariants(versions, "user_id").select(
        "user_id", "event_id", "violation"
    )


@register(
    "s8_generic_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 5 < 4
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             CAST(o_totalprice * 2 AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT * FROM upd
    UNION ALL
    SELECT * FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    """,
    doc="Generic MERGE upsert (reference S8 whenMatchedUpdate/"
    "whenNotMatchedInsert, src/header_etl.py:205-215): updates replace "
    "matched keys (moving partition when their partition value changes) "
    "and insert otherwise; oracle is the equivalent anti-join union. "
    "Partition-scoped CoW — only partitions with a matched old row or "
    "a new row rewrite.",
)
def s8_generic_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_pyspark_scd2_spark.plans.scratch import scratch_path

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 5 < 4).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).cast("double").alias("price"),
    )
    path = scratch_path("s8_generic_upsert")
    t = VersionedParquetTable.create(
        spark, base, path, partition_cols=["o_orderstatus"]
    )
    t.upsert(updates, ["o_orderkey"])
    return t.read().select("o_orderkey", "o_orderstatus", "price")


@register(
    "dv_delete_update",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 5 < 4
    )
    SELECT o_orderkey, o_orderstatus, price FROM base
    WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, 'R' AS o_orderstatus, CAST(0 AS DOUBLE) AS price
    FROM base WHERE o_orderkey % 21 = 0
    """,
    doc="Row delete + replace in one copy-on-write commit (the "
    "update Delta DVs would serve): upsert drops every key % 7 == 0 "
    "and writes the replacement rows of the keys % 21 == 0 in the "
    "same commit, rewriting only the partitions that held or receive "
    "them. Oracle is the equivalent filter+union.",
)
def dv_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_pyspark_scd2_spark.plans.scratch import scratch_path

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 5 < 4).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = scratch_path("dv_delete_update")
    t = VersionedParquetTable.create(
        spark, base, path, partition_cols=["o_orderstatus"]
    )
    repl = base.filter(F.col("o_orderkey") % 21 == 0).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        F.lit(0.0).alias("price"),
    )
    t.upsert(
        repl,
        ["o_orderkey"],
        deletes=base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        operation="UPDATE",
    )
    return t.read().select("o_orderkey", "o_orderstatus", "price")


@register(
    "s8_upsert_multirow_target",
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice) AS BIGINT) AS price
      FROM lineitem
    ),
    upd AS (
      SELECT DISTINCT l_orderkey, 0 AS l_linenumber,
             CAST(-1 AS BIGINT) AS price
      FROM lineitem WHERE l_orderkey % 3 = 0
    )
    SELECT * FROM upd
    UNION ALL
    SELECT * FROM base
    WHERE l_orderkey NOT IN (SELECT l_orderkey FROM upd)
    """,
    doc="Generic MERGE on a target with SEVERAL rows per key "
    "(lineitem keyed by order): every line of a matched order is "
    "replaced by the one update row, through the target-side semi/anti "
    "joins — the merged table must value-hash against the "
    "replace-matched-keys oracle.",
)
def s8_upsert_multirow_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_pyspark_scd2_spark.plans.scratch import scratch_path

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").cast("long").alias("price"),
    )
    updates = (
        li.filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey")
        .distinct()
        .select(
            "l_orderkey",
            F.lit(0).cast("int").alias("l_linenumber"),
            F.lit(-1).cast("long").alias("price"),
        )
    )
    path = scratch_path("s8_upsert_multirow_target")
    t = VersionedParquetTable.create(spark, base, path)
    t.upsert(updates, ["l_orderkey"])
    return t.read().select("l_orderkey", "l_linenumber", "price")


@register(
    "purge_erasure",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderkey % 10 AS seg,
             CAST(floor(o_totalprice) AS BIGINT) AS price
      FROM orders WHERE o_orderkey % 4 < 3
    ),
    appended AS (
      SELECT o_orderkey, o_orderkey % 10 AS seg,
             CAST(floor(o_totalprice) AS BIGINT) AS price
      FROM orders WHERE o_orderkey % 4 = 3
    )
    SELECT CAST(0 AS INT) AS version_tag, o_orderkey, seg, price
    FROM v0 WHERE seg <> 0
    UNION ALL
    SELECT CAST(1 AS INT) AS version_tag, o_orderkey, seg, price
    FROM (SELECT * FROM v0 UNION ALL SELECT * FROM appended)
    WHERE seg <> 0
    """,
    doc="Right-to-be-forgotten PURGE across retained history: build a "
    "two-version table (create + append), purge seg=0, then read BOTH "
    "version 0 (time travel) and the pre-purge head — the oracle is "
    "each version's original content MINUS the purged segment, "
    "proving erasure reaches every retained version, not just the "
    "head, while every other row survives. (The purge's own head "
    "DELETE commit is version 2; versions 0/1 are rewritten in "
    "place.)",
)
def purge_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_pyspark_scd2_spark.plans.scratch import scratch_path

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 10).alias("seg"),
        F.floor("o_totalprice").cast("long").alias("price"),
    )
    path = scratch_path("purge_erasure")
    t = VersionedParquetTable.create(
        spark, orders.filter(F.col("o_orderkey") % 4 < 3), path
    )
    t.append(orders.filter(F.col("o_orderkey") % 4 == 3))
    t.purge([("seg", "=", 0)])
    tag = lambda v, n: t.read(version=v).select(  # noqa: E731
        F.lit(n).cast("int").alias("version_tag"),
        "o_orderkey",
        "seg",
        "price",
    )
    return tag(0, 0).unionByName(tag(1, 1))


@register(
    "scd2_temporal_align",
    oracle="""
    WITH le AS (
      SELECT user_id, event_id AS l_event_id, event_type AS l_event_type,
             ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31 00:00:00') AS valid_to
      FROM events WHERE event_id % 2 = 0
    ),
    re AS (
      SELECT user_id, event_id AS r_event_id, value AS r_value,
             ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31 00:00:00') AS valid_to
      FROM events WHERE event_id % 2 = 1
    )
    SELECT l.user_id,
           GREATEST(l.valid_from, r.valid_from) AS seg_from,
           strftime(LEAST(l.valid_to, r.valid_to), '%Y-%m-%d %H:%M:%S') AS seg_to,
           l.l_event_id, l.l_event_type, r.r_event_id, r.r_value
    FROM le l JOIN re r
      ON l.user_id = r.user_id
     AND l.valid_from < r.valid_to AND r.valid_from < l.valid_to
    WHERE l.valid_from < l.valid_to AND r.valid_from < r.valid_to
    """,
    doc="Temporal (interval-overlap) join of two SCD2 version chains "
    "per key — the reference only has interval predicates ad hoc "
    "(test/items_etl_test.py:135-141); here it is a first-class "
    "operator (operators/scd2.py align_intervals). The engine runs a "
    "JOIN-FREE sweep line: version boundaries union'd, per-key window "
    "carries each side's active version, consecutive boundaries emit "
    "segments — O(|L|+|R|) per key with one hash shuffle, immune to "
    "the quadratic per-key blowup of the equi-join + overlap-residual "
    "plan the oracle uses. seg_to is projected as a formatted string "
    "because the open-interval 9999-12-31 sentinel overflows pandas "
    "datetime64[ns] in the driver canonicalizer.",
)
def scd2_temporal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = scd2.intervalize(
        ev.filter(F.col("event_id") % 2 == 0).select(
            "user_id",
            "ts",
            F.col("event_id").alias("l_event_id"),
            F.col("event_type").alias("l_event_type"),
        ),
        "user_id",
        "ts",
        tiebreak_cols=["l_event_id"],
    )
    right = scd2.intervalize(
        ev.filter(F.col("event_id") % 2 == 1).select(
            "user_id",
            "ts",
            F.col("event_id").alias("r_event_id"),
            F.col("value").alias("r_value"),
        ),
        "user_id",
        "ts",
        tiebreak_cols=["r_event_id"],
    )
    return scd2.align_intervals(
        left,
        right,
        "user_id",
        left_cols=["l_event_id", "l_event_type"],
        right_cols=["r_event_id", "r_value"],
    ).select(
        "user_id",
        "seg_from",
        F.date_format("seg_to", "yyyy-MM-dd HH:mm:ss").alias("seg_to"),
        "l_event_id",
        "l_event_type",
        "r_event_id",
        "r_value",
    )


@register(
    "scd2_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT c.event_id FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts >= p.ts
            ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS click_event_id,
           (SELECT c.value FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts >= p.ts
            ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS click_value
    FROM purchases p
    """,
    doc="Forward as-of join (merge_asof direction='forward'): first "
    "click at-or-after each purchase — the attribution mirror of "
    "scd2_asof_join. Same scalable union+window plan (one shuffle on "
    "the key, first() over the following frame), no range-join "
    "explosion; the oracle's correlated-subquery formulation is the "
    "O(probes x events-per-key) plan this operator avoids.",
)
def scd2_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return scd2.asof_join(
        probes=purchases,
        events=clicks,
        key_cols="user_id",
        probe_ts="ts",
        event_ts="ts",
        value_cols=["click_event_id", "click_value"],
        event_tiebreak_cols=["click_event_id"],
        direction="forward",
    )


@register(
    "scd2_repair_intervals",
    oracle="""
    WITH c AS (
      SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
             o_orderdate + (o_orderkey % 40 - 5) * INTERVAL 1 DAY
               AS valid_to
      FROM orders
    ),
    r AS (
      SELECT o_custkey, o_orderkey, valid_from, valid_to,
             lead(valid_from) OVER (
               PARTITION BY o_custkey
               ORDER BY valid_from ASC, o_orderkey ASC) AS nxt
      FROM c
    )
    SELECT o_custkey, o_orderkey, valid_from,
           strftime(coalesce(nxt, TIMESTAMP '9999-12-31 00:00:00'),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           nxt IS NULL AS is_current,
           nxt IS NOT NULL AND r.valid_to > nxt AS was_overlap,
           nxt IS NOT NULL AND r.valid_to < nxt AS was_gap
    FROM r
    """,
    doc="SCD2 chain repair (operators/scd2.repair_intervals): heal a "
    "corrupted dimension whose valid_to values drifted (overlaps make "
    "point-in-time reads return two rows, gaps return none, stray "
    "open rows break latest-wins) by re-chaining valid_to to the next "
    "version's valid_from per key, re-deriving is_current, and "
    "emitting was_overlap/was_gap audit flags — the repair half of "
    "check_invariants, which only detects. The corrupted input is "
    "synthesized deterministically from orders (valid_to = "
    "o_orderdate + (o_orderkey % 40 - 5) days). One key-partitioned "
    "window, never a global sort; valid_to projects as a formatted "
    "string for the 9999-12-31 sentinel (the scd2_intervalize "
    "convention).",
)
def scd2_repair_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    corrupted = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.expr(
            "o_orderdate + make_dt_interval(o_orderkey % 40 - 5)"
        ).alias("valid_to"),
    )
    repaired = scd2.repair_intervals(
        corrupted, "o_custkey", tiebreak_cols=["o_orderkey"]
    )
    return repaired.select(
        "o_custkey",
        "o_orderkey",
        "valid_from",
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
        "was_overlap",
        "was_gap",
    )


@register(
    "scd2_collapse_unchanged",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS pt,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS pv
      FROM events
    )
    SELECT event_id, user_id, ts, event_type, value
    FROM w
    WHERE rn = 1
       OR event_type IS DISTINCT FROM pt
       OR value IS DISTINCT FROM pv
    """,
    doc="Change-only filter (operators/scd2.collapse_unchanged, the "
    "reference merge rule 'value-identical events create no version' "
    "as a standalone batch operator, notes.md:100-105): drop events "
    "whose tracked values null-safely equal the key's previous event; "
    "the first event per key always survives. One key-partitioned "
    "window — previously proven only through the pipeline golden "
    "tests and scd2_late_rebuild; this row value-hashes the building "
    "block directly.",
)
def scd2_collapse_unchanged(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return scd2.collapse_unchanged(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        "user_id",
        "ts",
        ["event_type", "value"],
        tiebreak_cols=["event_id"],
    )

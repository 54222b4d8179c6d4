"""Incremental-ingestion benchmark: N sequential daily merges into one
growing SCD2 table.

The scale claim under test: per-batch merge cost is ∝ batch size, NOT
table size (the close rewrites only the partitions holding changed
keys' current rows; inserts on other days append; the idempotency
anti-join prunes to key/valid_from columns). A growing table with flat per-batch times is
the evidence.

Usage::

    python tools/daily_bench.py [days] [rows_per_day] [late_policy]

``late_policy`` (default ``drop``): ``rebuild`` turns on the bronze
event-log + per-batch watermark sidecars and injects ~1% genuinely
LATE events per day (timestamps from the previous day), so every batch
exercises the out-of-order rebuild path: freshness classification
reads only the compact watermark files, and the interval-splitting
rebuild is scoped to the affected keys. The claim under test is that
this path ALSO flat-lines as the table and its event log grow.

Measured (local[32], 8 × 500k rows, 50k keys): per-day total ≈ 6-7 s
flat from day 2 onward while the table grows 0.5M → 4M version rows.
With ``late_policy=rebuild`` see README (flat, ~1.5x the drop-policy
per-day cost at 1% lateness).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from delta_lake_pyspark_scd2_spark.pipeline import (  # noqa: E402
    SCD2Spec,
    run_scd2_batch,
)
from delta_lake_pyspark_scd2_spark.session import get_spark  # noqa: E402
from delta_lake_pyspark_scd2_spark.sources import generators as G  # noqa: E402

SPEC = SCD2Spec(
    key_cols=("user_id",),
    event_ts_col="ts",
    tracked_cols=("event_type", "value"),
    tiebreak_cols=("event_id",),
)


def main() -> None:
    days = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    late_policy = sys.argv[3] if len(sys.argv) > 3 else "drop"
    import dataclasses

    spec = dataclasses.replace(SPEC, late_policy=late_policy)
    spark = get_spark("daily_bench")
    with tempfile.TemporaryDirectory() as d:
        for day in range(days):
            batch = (
                G.synthetic_events(
                    spark, n, n_keys=max(1, n // 10), seed=day,
                    start="2024-01-01 00:00:00", span_seconds=86400,
                )
                .withColumn("ts", F.col("ts") + F.make_interval(days=F.lit(day)))
                .withColumn("event_id", F.col("event_id") + day * 10_000_000)
            )
            if late_policy == "rebuild" and day > 0:
                # ~1% of rows arrive a day late (deterministic pick),
                # so the rebuild path fires on every batch
                batch = batch.withColumn(
                    "ts",
                    F.when(
                        F.col("event_id") % 100 == 7,
                        F.col("ts") - F.make_interval(days=F.lit(1)),
                    ).otherwise(F.col("ts")),
                )
            t0 = time.time()
            m = run_scd2_batch(spark, spec, batch, f"{d}/t", batch_id=f"day{day}")
            print(
                json.dumps(
                    {
                        "day": day,
                        "total_s": round(time.time() - t0, 2),
                        "merge_s": m.get("duration_s_merge"),
                        "n_closed": m.get("n_closed", 0),
                        "n_inserted": m.get("n_inserted", 0),
                        "n_stale": m.get("n_stale", 0),
                        "n_rebuilt": m.get("n_rebuilt", 0),
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()

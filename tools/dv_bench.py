"""Close-mode A/B: partition-rewrite vs deletion-vector Phase A.

The regime that matters at 100 TB: a LARGE settled table where each
batch changes a SMALL fraction of keys. Rewrite mode pays
O(touched partitions) of write per batch no matter how few rows
closed; DV mode pays O(closed rows). This bench builds one big day of
history, then applies sparse daily updates under both modes.

Usage::

    python tools/dv_bench.py [base_rows] [update_keys] [days]

Wall-clock on local[32] NVMe is SCAN-bound — writes are nearly free
locally, so both modes time alike and ``merge_s`` mostly shows the
shared scan+join. The metric that transfers to a cluster (object
store, replicated writes) is ``merge_bytes_written``, the bytes the
batch's single merge commit added: rewrite mode re-writes every
touched-partition byte per batch; dv mode writes the closed copies + a
KB-scale sidecar; both add the same inserted rows. Measured on the
close alone (2M base, 2k closes), when closes committed separately:
rewrite ≈ 60 MB/day vs dv ≈ 0.2 MB/day — a ~300x write-amplification
gap that scales with partition fatness, while the dv read-side
anti-join costs ~1 s per 8M scanned rows until compaction clears it.
"""

from __future__ import annotations

import dataclasses
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


def _merge_commit_bytes(table, batch_id: str) -> int:
    """Bytes the merge commit of ``batch_id`` added — new data files
    plus any new DV sidecar — as stamped in its ``operation_metrics``."""
    return sum(
        h["operation_metrics"].get("bytes_added", 0)
        for h in table.history()
        if h["operation"] == "SCD2_MERGE"
        and h["metrics"].get("batch_id") == batch_id
    )


def run_mode(spark, mode: str, base_rows: int, upd_keys: int, days: int) -> dict:
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    spec = dataclasses.replace(SPEC, close_mode=mode)
    out = {"mode": mode, "days": []}
    with tempfile.TemporaryDirectory() as d:
        base = G.synthetic_events(
            spark, base_rows, n_keys=base_rows, seed=0,
            start="2024-01-01 00:00:00", span_seconds=86400,
        )
        t0 = time.time()
        run_scd2_batch(spark, spec, base, f"{d}/t", batch_id="base")
        out["load_s"] = round(time.time() - t0, 2)
        for day in range(1, days + 1):
            upd = (
                G.synthetic_events(
                    spark, upd_keys, n_keys=upd_keys, seed=day,
                    start="2024-01-01 00:00:00", span_seconds=86400,
                )
                # a DIFFERENT key slice of the settled base each day —
                # every close touches the fat base partition, the
                # steady-state of a churning 100 TB table
                .withColumn("user_id", F.col("user_id") + day * upd_keys)
                .withColumn("ts", F.col("ts") + F.make_interval(days=F.lit(day)))
                .withColumn("event_id", F.col("event_id") + day * 10_000_000)
                .withColumn("event_type", F.lit(f"updated_d{day}"))
            )
            t0 = time.time()
            m = run_scd2_batch(
                spark, spec, upd, f"{d}/t", batch_id=f"day{day}"
            )
            out["days"].append(
                {
                    "day": day,
                    "merge_s": m.get("duration_s_merge"),
                    "close_s": m.get("duration_s_close"),
                    "n_closed": m.get("n_closed", 0),
                    "merge_bytes_written": _merge_commit_bytes(
                        VersionedParquetTable(spark, f"{d}/t"), f"day{day}"
                    ),
                }
            )
    return out


def main() -> None:
    base_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    upd_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    days = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark("dv_bench")
    for mode in ("rewrite", "dv"):
        print(json.dumps(run_mode(spark, mode, base_rows, upd_keys, days)),
              flush=True)


if __name__ == "__main__":
    main()

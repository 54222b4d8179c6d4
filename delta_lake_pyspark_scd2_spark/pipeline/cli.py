"""spark-submit entry point — the reference's E1 CLI contract
(``spark-submit header_etl.py <read_path> <base_write_path>``,
src/header_etl.py:343-371) re-expressed over this engine.

Path layout under ``base_write_path`` mirrors the reference
(src/header_etl.py:363-369): ``landing/`` (the versioned SCD2 table),
``discarded/`` (quarantine, one dir per batch), ``metrics/``
(one CSV record per run).

Usage::

    spark-submit -m delta_lake_pyspark_scd2_spark.pipeline.cli \
        <read_path> <base_write_path> \
        [--keys contract] [--ts-col event_time] [--tracked status] \
        [--schema "contract string, event_time string, status string"] \
        [--sep "|"] [--late-policy drop|rebuild]

``read_path`` is a pipe-CSV batch file named ``*_YYYYMMDD.ext``; the
batch date comes from the filename (reference
src/utils/validations_utils.py:54-63) and event dates that disagree
with it are quarantined. Prints the run-metrics record as one JSON
line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import re

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("read_path")
    p.add_argument("base_write_path")
    p.add_argument("--keys", default="contract")
    p.add_argument("--ts-col", default="event_time")
    p.add_argument("--tracked", default="status")
    p.add_argument("--schema", default=None, help="DDL schema; inferred if omitted")
    p.add_argument("--sep", default="|")
    p.add_argument("--late-policy", default="drop", choices=["drop", "rebuild"])
    p.add_argument(
        "--dedup-mode",
        default="keep_latest",
        choices=["keep_latest", "drop_all"],
        help="drop_all = the reference's items-job W3 semantics",
    )
    p.add_argument("--delete-col", default=None, help="soft-delete flag column")
    args = p.parse_args(argv)

    from delta_lake_pyspark_scd2_spark.functions import batch_date_from_filename
    from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
    from delta_lake_pyspark_scd2_spark.pipeline.metrics import append_run_metrics
    from delta_lake_pyspark_scd2_spark.session import get_spark

    spark = get_spark("scd2-cli")
    base = args.base_write_path.rstrip("/")
    spec = SCD2Spec(
        key_cols=tuple(args.keys.split(",")),
        event_ts_col=args.ts_col,
        tracked_cols=tuple(args.tracked.split(",")),
        late_policy=args.late_policy,
        dedup_mode=args.dedup_mode,
        delete_col=args.delete_col,
    )
    reader = spark.read.option("header", "true").option("sep", args.sep)
    if args.schema:
        reader = reader.schema(args.schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(args.read_path).withColumn(
        "batch_date", batch_date_from_filename()
    )
    # messy extracts leave the event time as string — run it through the
    # multi-format fallback chain (reference src/header_etl.py:89-102)
    if dict(df.dtypes)[args.ts_col] == "string":
        from delta_lake_pyspark_scd2_spark.functions import parse_ts_fallback

        df = df.withColumn(args.ts_col, parse_ts_fallback(F.col(args.ts_col)))
    m = re.search(r"_(\d{8})\.\w+$", os.path.basename(args.read_path))
    batch_id = m.group(1) if m else "batch"
    metrics = run_scd2_batch(
        spark,
        spec,
        df,
        f"{base}/landing",
        batch_id=batch_id,
        batch_date_col="batch_date",
        quarantine_path=f"{base}/discarded",
    )
    append_run_metrics(spark, metrics, f"{base}/metrics")
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main()

"""Training-export sink: deterministic sharded corpus dumps.

The last step of a data pipeline is handing the corpus to a trainer,
which wants N equal-ish shards it can map to data-loader workers —
stable across re-runs (resumable training), balanced (no straggler
shard), and self-describing (a manifest with per-shard counts).

Shard assignment is a content hash of the id (md5-derived, the same
engine-portable hash family as ``operators.mixture``), NOT
``spark.write``'s task numbering: the same row lands in the same shard
on any cluster size, any input partitioning, any run. Within a shard,
rows are written sorted by id, so a re-export of identical data is
byte-identical payload-wise.

Scale: one repartition on the shard key (the unavoidable placement
shuffle), then a narrow per-partition sort and write. Manifest stats
pick the cheaper of two shapes by ``num_shards``: up to
``_OBSERVE_MAX_SHARDS`` the per-shard counts AND token sums ride the
write job itself as ``Observation`` metrics (one conditional aggregate
buffer per shard — exactly ONE corpus scan); past that, num_shards
buffers would cost O(num_shards) comparisons per row and overflow
whole-stage codegen, so a second pass with ONE hash aggregate (O(1)
buffer update per row) wins instead. Each shard is one file written by
one task — also the small-files answer at thousands of shards.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_pyspark_scd2_spark.operators.text import token_count_ws

#: Above this, per-shard Observation metrics (O(num_shards) comparisons
#: per row, one aggregate buffer each) cost more than a second hash
#: aggregate and risk codegen fallback — switch to the 2-pass shape.
_OBSERVE_MAX_SHARDS = 256


def shard_of(id_col: str, num_shards: int):
    """Deterministic shard id: first 8 md5 hex chars of the string id,
    mod ``num_shards`` (the shared engine-portable hash primitive)."""
    from delta_lake_pyspark_scd2_spark.functions.hashing import keep_hash

    return keep_hash(F.col(id_col), num_shards).cast("int")


def shard_plan(
    df: DataFrame,
    *,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard statistics of the would-be export (shard, n_docs,
    n_tokens) — the dry-run / audit view of :func:`export_shards`'
    dealing, same ``shard_of`` hash."""
    return (
        df.select(
            shard_of(id_col, n_shards).alias("shard"),
            token_count_ws(F.col(text_col)).alias("__t"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
        )
    )


def export_shards(
    df: DataFrame,
    path: str,
    num_shards: int = 8,
    *,
    fmt: str = "json",
    id_col: str = "doc_id",
    text_col: str | None = None,
) -> dict[str, Any]:
    """Write ``df`` as ``num_shards`` hash shards under ``path`` and a
    ``manifest.json`` beside them; returns the manifest.

    Layout: ``path/shard=K/part-*.{json,parquet}`` — one file per
    shard (each shard's rows are repartitioned onto one task), rows
    sorted by ``id_col`` inside the file. ``text_col`` adds per-shard
    token counts to the manifest (trainer-facing budget accounting).

    The manifest is written LAST, through the Hadoop FS shim — a
    missing manifest marks an incomplete export, so consumers never
    read a half-dealt corpus; and the path works on ``s3a://``-style
    stores, not just the local FS.
    """
    if fmt not in ("json", "parquet"):
        raise ValueError(f"unsupported export format: {fmt}")
    from pyspark.sql import Observation

    sharded = df.withColumn("shard", shard_of(id_col, num_shards))

    def _write(src: DataFrame) -> None:
        (
            src.repartition(num_shards, "shard")
            .sortWithinPartitions("shard", id_col)
            .write.mode("overwrite")
            .partitionBy("shard")
            .format(fmt)
            .save(path)
        )

    counts: dict[int, int]
    tokens: dict[int, int] | None = None
    if num_shards <= _OBSERVE_MAX_SHARDS:
        # per-shard stats ride the WRITE job as Observation metrics:
        # one count_if (and one conditional token sum) buffer per
        # shard — the whole export is a single corpus scan (pinned by
        # test_export_is_single_scan)
        metrics = [
            F.count_if(F.col("shard") == k).alias(f"n_{k}")
            for k in range(num_shards)
        ]
        if text_col is not None:
            tok = token_count_ws(F.col(text_col))
            metrics.extend(
                F.sum(F.when(F.col("shard") == k, tok))
                .cast("long")
                .alias(f"t_{k}")
                for k in range(num_shards)
            )
        obs = Observation("export_shards")
        _write(sharded.observe(obs, *metrics))
        stats = obs.get
        counts = {
            k: int(stats[f"n_{k}"])
            for k in range(num_shards)
            if stats[f"n_{k}"]
        }
        if text_col is not None:
            tokens = {k: int(stats[f"t_{k}"] or 0) for k in counts}
    else:
        # thousands of shards: num_shards conditional-aggregate buffers
        # would cost O(num_shards) comparisons PER ROW and overflow
        # whole-stage codegen — a second pass with ONE hash aggregate
        # (O(1) buffer update per row) is the cheaper shape there
        _write(sharded)
        aggs = [F.count(F.lit(1)).alias("n")]
        if text_col is not None:
            aggs.append(
                F.sum(token_count_ws(F.col(text_col))).cast("long").alias("tok")
            )
        stat_rows = sharded.groupBy("shard").agg(*aggs).collect()
        counts = {int(r["shard"]): int(r["n"]) for r in stat_rows}
        if text_col is not None:
            tokens = {int(r["shard"]): int(r["tok"] or 0) for r in stat_rows}
    manifest = {
        "format": fmt,
        "num_shards": num_shards,
        "total_rows": int(sum(counts.values())),
        "rows_per_shard": {str(k): v for k, v in sorted(counts.items())},
        "columns": [c for c in df.columns],
    }
    if tokens is not None:
        manifest["tokens_per_shard"] = {
            str(k): tokens[k] for k in sorted(tokens)
        }
    from delta_lake_pyspark_scd2_spark.sources import fsio

    fs = fsio.get_fs(path)
    fs.write_text(
        fsio.join(path, "manifest.json"),
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest


def read_shards(spark, path: str, *, shards: list[int] | None = None) -> DataFrame:
    """Read an export back (optionally a subset of shards — partition
    pruning makes the subset read touch only those directories)."""
    from delta_lake_pyspark_scd2_spark.sources import fsio

    manifest = json.loads(
        fsio.get_fs(path, spark).read_text(fsio.join(path, "manifest.json"))
    )
    # load the shard directories only — the root also holds
    # manifest.json, which a parquet/json scan must not swallow
    df = (
        spark.read.format(manifest["format"])
        .option("basePath", path)
        .load(fsio.join(path, "shard=*"))
    )
    if shards is not None:
        df = df.filter(F.col("shard").isin(shards))
    return df


def tokens_before(
    df: DataFrame,
    toks,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_chunks: int = 4096,
):
    """Per-source EXCLUSIVE running token sum in ``id_col`` order,
    computed as a two-level (chunked) prefix sum so no source ever
    lands in a single window task (round-5 VERDICT #3).

    Level 1: each source's id range splits into ≤ ``n_chunks`` + 1
    contiguous chunks (``chunk = floor((id - min_id) / span)`` — pure
    integer arithmetic, monotone in id, so chunk order == id order);
    a window partitioned by (source, chunk) computes the chunk-LOCAL
    exclusive sums in parallel. Level 2: per-chunk totals reduce via
    one map-side-combinable aggregate to ≤ ``n_chunks``·|sources| rows;
    the exclusive chunk-offset scan runs as a window over THAT tiny
    table (per-source, but bounded by construction at ``n_chunks``
    rows), and broadcasts back. ``tok_before = chunk_offset + local``
    — bit-identical to the single-window form (exact integer sums,
    same total order), which remains the oracle shape.

    ``id_col`` must be numeric (the chunk split is integer arithmetic
    on the id — fail loud rather than silently mis-chunk); NULL keys
    (source or id) survive via null-safe joins, matching what the
    single-window form's NULL partitions/NULLS FIRST ordering kept.

    Returns ``df`` plus a ``tok_before`` long column.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, T.NumericType):
        raise ValueError(
            f"tokens_before: id_col {id_col!r} must be numeric for the "
            f"chunked prefix sum, got {id_type.simpleString()} — map "
            "string ids to a numeric surrogate first"
        )
    toks = toks.cast("long")
    # The source bounds and the chunk-offset table only need
    # (source, id, token count) — computing them straight off ``df``
    # re-read (and re-tokenized) the text-bearing frame once per pass.
    # A persisted narrow projection feeds both (round-10 optimization,
    # guide §2.3/§8: decide with small rows); the full frame passes
    # through exactly ONE scan, in the final assembly below.
    from delta_lake_pyspark_scd2_spark.functions.caching import (
        persist_tracked,
    )

    narrow = persist_tracked(
        df.select(F.col(source_col), F.col(id_col), toks.alias("__toks"))
    )
    bounds = narrow.groupBy(F.col(source_col).alias("__bsrc")).agg(
        F.min(id_col).alias("__min_id"),
        F.max(id_col).alias("__max_id"),
    )
    span = (
        F.floor(
            (F.col("__max_id") - F.col("__min_id")) / F.lit(n_chunks)
        ).cast("long")
        + F.lit(1).cast("long")
    )
    chunked = (
        df.join(
            F.broadcast(bounds),
            F.col(source_col).eqNullSafe(F.col("__bsrc")),
        )
        .withColumn(
            "__chunk",
            F.floor((F.col(id_col) - F.col("__min_id")) / span).cast("long"),
        )
        .drop("__bsrc", "__min_id", "__max_id")
    )
    w_local = (
        Window.partitionBy(source_col, "__chunk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(toks).over(w_local), F.lit(0).cast("long"))
    # chunk totals: tiny by construction (<= n_chunks rows per source)
    w_chunks = (
        Window.partitionBy("__osrc")
        .orderBy("__ochunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nchunked = (
        narrow.join(
            F.broadcast(bounds),
            F.col(source_col).eqNullSafe(F.col("__bsrc")),
        )
        .withColumn(
            "__chunk",
            F.floor((F.col(id_col) - F.col("__min_id")) / span).cast("long"),
        )
        .drop("__bsrc", "__min_id", "__max_id")
    )
    offsets = (
        nchunked.groupBy(
            F.col(source_col).alias("__osrc"),
            F.col("__chunk").alias("__ochunk"),
        )
        .agg(F.sum("__toks").alias("__chunk_tok"))
        .withColumn(
            "__chunk_before",
            F.coalesce(
                F.sum("__chunk_tok").over(w_chunks), F.lit(0).cast("long")
            ),
        )
        .drop("__chunk_tok")
    )
    return (
        chunked.join(
            F.broadcast(offsets),
            F.col(source_col).eqNullSafe(F.col("__osrc"))
            & F.col("__chunk").eqNullSafe(F.col("__ochunk")),
        )
        .withColumn(
            "tok_before", (F.col("__chunk_before") + local).cast("long")
        )
        .drop("__osrc", "__ochunk", "__chunk", "__chunk_before")
    )


def export_token_shards(
    df: DataFrame,
    path: str,
    *,
    budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "json",
) -> dict[str, Any]:
    """Token-BUDGET sharded export: within each source, docs pack in id
    order into shards of ~``budget`` whitespace tokens (the
    ``export_token_pack`` assignment), written as
    ``path/shard=<source>_<k>/`` with a manifest — what a
    sequence-packing trainer consumes when it wants shards bounded by
    tokens rather than balanced by row-hash.

    Every shard except a source's last holds ≥ ``budget`` tokens'
    worth of docs minus at most one overshoot doc (a doc is never
    split). Packing uses the two-level chunked prefix sum
    (:func:`tokens_before`), so a 50 TB source still packs across many
    tasks; shard count is data-dependent, so stats use the
    one-hash-aggregate shape (the same reasoning as the >256-shard
    hash path of :func:`export_shards`).
    """
    if fmt not in ("json", "parquet"):
        raise ValueError(f"unsupported export format: {fmt}")
    if budget <= 0:
        raise ValueError(f"token budget must be positive, got {budget}")
    from delta_lake_pyspark_scd2_spark.functions.caching import (
        persist_tracked,
        tracked_scope,
    )

    toks = token_count_ws(F.col(text_col)).cast("long")
    # Shard names are "<source>_<k>": a source containing '_' would
    # make them ambiguous, and partition-path escaping of special
    # characters would make manifest keys differ from on-disk
    # directory names. Validate the (group-cardinality) source set up
    # front — callers with arbitrary labels must pre-map them.
    bad = (
        df.select(F.col(source_col).alias("__s"))
        .distinct()
        # isNull explicitly: rlike(NULL) is NULL, which a bare negation
        # would silently pass through the "fail loud" screen
        .filter(
            F.col("__s").isNull() | ~F.col("__s").rlike(r"^[A-Za-z0-9.+-]+$")
        )
        .take(3)
    )
    if bad:
        raise ValueError(
            "token-budget export: source values must match "
            "[A-Za-z0-9.+-]+ (no '_', no path-escaped characters) so "
            "shard names stay unambiguous and manifest keys equal "
            f"directory names; offending: {[r['__s'] for r in bad]}"
        )
    # scoped release: free only THIS export's caches on the way out
    # (success or failure), never a surrounding caller's tracked frames
    with tracked_scope():
        shard_expr = F.concat_ws(
            "_",
            F.col(source_col),
            F.floor(F.col("tok_before") / F.lit(float(budget))).cast("int"),
        )
        # Shard placement depends only on (source, id, token count) —
        # decide it on a NARROW frame and re-attach by BROADCAST so the
        # text payload crosses exactly ONE shuffle, the shard
        # repartition (guide §8: decide with small rows, move big rows
        # once; round-10 backlog #2 — text previously crossed both the
        # (source, chunk) prefix-sum window exchange AND the shard
        # repartition). The plan table is one (source, id, shard, tok)
        # row per doc, so the attach is gated: broadcast only when its
        # measured size fits autoBroadcastJoinThreshold (a fixed 40 B
        # per row — UnsafeRow null bits plus four 8-byte slots — plus
        # the bytes of its string columns) AND (source, id) is a
        # unique non-null key (the broadcast join on the pair must be
        # 1:1 with the window form; NULL keys take the window path,
        # whose null-safe joins keep them). Oversized or degenerate
        # inputs fall back to the full-frame prefix sum — the plan
        # compute spent on the narrow frame is metadata-sized.
        plan = persist_tracked(
            tokens_before(
                df.select(
                    F.col(source_col), F.col(id_col), toks.alias("__tok_n")
                ),
                F.col("__tok_n"),
                source_col=source_col,
                id_col=id_col,
            ).withColumn("shard", shard_expr)
        )
        str_cols = [
            c
            for c in (source_col, id_col, "shard")
            if isinstance(plan.schema[c].dataType, T.StringType)
        ]
        gate = plan.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                sum(F.coalesce(F.octet_length(c), F.lit(0)) for c in str_cols)
            ).alias("str_bytes"),
            F.count_distinct(F.col(source_col), F.col(id_col)).alias("nk"),
            F.sum(
                (
                    F.col(source_col).isNull() | F.col(id_col).isNull()
                ).cast("long")
            ).alias("nulls"),
        ).first()
        raw_thresh = df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        try:  # Spark's own size-string parser ("64m", "10485760b", ...)
            jvm = df.sparkSession._jvm
            bcast_bytes = int(
                jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw_thresh)
            )
        except Exception:
            try:
                bcast_bytes = int(raw_thresh)
            except ValueError:
                bcast_bytes = 0
        plan_fits = (
            gate["n"] * 40 + (gate["str_bytes"] or 0) <= max(bcast_bytes, 0)
            and gate["nk"] == gate["n"]
            and not gate["nulls"]
        )
        if plan_fits:
            sharded = persist_tracked(
                df.join(
                    F.broadcast(
                        plan.select(source_col, id_col, "shard", "__tok_n")
                    ),
                    on=[source_col, id_col],
                )
            )
            stats_tok = F.sum("__tok_n")
            # same column order as the window path: df's columns + shard
            write_df = sharded.select(*df.columns, "shard")
        else:
            sharded = persist_tracked(
                tokens_before(
                    df, toks, source_col=source_col, id_col=id_col
                )
                .withColumn("shard", shard_expr)
                .drop("tok_before")
            )
            stats_tok = F.sum(toks)
            write_df = sharded
        (
            write_df.repartition("shard")
            .sortWithinPartitions("shard", id_col)
            .write.mode("overwrite")
            .partitionBy("shard")
            .format(fmt)
            .save(path)
        )
        stat_rows = (
            sharded.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                stats_tok.cast("long").alias("tok"),
            )
            .collect()
        )
    manifest = {
        "format": fmt,
        "mode": "token_budget",
        "token_budget": int(budget),
        "num_shards": len(stat_rows),
        "total_rows": int(sum(r["n"] for r in stat_rows)),
        "rows_per_shard": {
            r["shard"]: int(r["n"])
            for r in sorted(stat_rows, key=lambda r: r["shard"])
        },
        "tokens_per_shard": {
            r["shard"]: int(r["tok"] or 0)
            for r in sorted(stat_rows, key=lambda r: r["shard"])
        },
        "columns": [c for c in df.columns],
    }
    from delta_lake_pyspark_scd2_spark.sources import fsio

    fs = fsio.get_fs(path)
    fs.write_text(
        fsio.join(path, "manifest.json"),
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest

"""Validation / data-quality operators.

Re-derivation of the reference's validation layer
(``/root/reference/src/utils/validations_utils.py:14-150``, SURVEY.md
§2.11.3) as pure transforms:

  * three discard reasons with precedence NULL_KEY >
    BATCH_DATE_MISMATCH > DUPLICATE_OLDER (``validations_utils.py:87-93``);
  * latest-wins dedup inside the batch (W2);
  * single-pass DQ metrics — one ``agg`` of conditional sums instead of
    N ``count()`` scans (``validations_utils.py:107-120``, kept as the
    right formulation at any scale);
  * a declarative data-contract checker promoted from the reference's
    test-only metadata dicts (``test/header_etl_test.py:35-47``).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DISCARD_COL = "discard_reason"
NULL_KEY = "NULL_KEY"
BATCH_DATE_MISMATCH = "BATCH_DATE_MISMATCH"
DUPLICATE_OLDER = "DUPLICATE_OLDER"


def tag_discards(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    *,
    batch_date_col: str | None = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Annotate every row with ``discard_reason`` (NULL == keep).

    Precedence (reference ``validations_utils.py:87-93``):
      1. ``NULL_KEY``            — any dedup key is NULL;
      2. ``BATCH_DATE_MISMATCH`` — event date ≠ the batch date column
         (only when ``batch_date_col`` given; unparseable ⇒ mismatch);
      3. ``DUPLICATE_OLDER``     — not the winning row of its
         ``(key, event_time)`` group. Dedup grain includes the event
         timestamp (reference dedup keys are
         ``(contratto_cod, event_time)``, ``src/header_etl.py:79-82``) so
         distinct-time events of one key all survive for intra-batch
         version chaining.

    One window shuffle on the key; everything else is row-local.
    """
    order = [F.col(ts_col).desc_nulls_last()] + [
        F.col(c).desc_nulls_last() for c in tiebreak_cols
    ]
    w = Window.partitionBy(*key_cols, ts_col).orderBy(*order)
    null_key = F.lit(False)
    for k in key_cols:
        null_key = null_key | F.col(k).isNull()
    reason = F.when(null_key, F.lit(NULL_KEY))
    if batch_date_col is not None:
        mismatch = F.col(ts_col).isNull() | (
            F.col(ts_col).cast("date") != F.col(batch_date_col).cast("date")
        )
        reason = reason.when(mismatch, F.lit(BATCH_DATE_MISMATCH))
    reason = reason.when(
        F.row_number().over(w) > 1, F.lit(DUPLICATE_OLDER)
    ).otherwise(F.lit(None).cast("string"))
    return df.withColumn(DISCARD_COL, reason)


def split_valid(df_tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kept, discarded) — discarded rows keep their reason for the
    quarantine sink (reference ``validations_utils.py:95-103``)."""
    kept = df_tagged.filter(F.col(DISCARD_COL).isNull()).drop(DISCARD_COL)
    discarded = df_tagged.filter(F.col(DISCARD_COL).isNotNull())
    return kept, discarded


def dq_aggs() -> list[Column]:
    """The DQ tallies as aggregate expressions — one definition for
    :func:`dq_metrics` and for an ``Observation`` that carries them on
    another action's pass over the tagged rows."""
    return [
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col(DISCARD_COL).isNull().cast("int")).alias("n_kept"),
        F.sum((F.col(DISCARD_COL) == NULL_KEY).cast("int")).alias("n_null_key"),
        F.sum((F.col(DISCARD_COL) == BATCH_DATE_MISMATCH).cast("int")).alias(
            "n_batch_date_mismatch"
        ),
        F.sum((F.col(DISCARD_COL) == DUPLICATE_OLDER).cast("int")).alias(
            "n_duplicate_older"
        ),
    ]


def dq_counts(row: dict) -> dict[str, int]:
    """The tallies of one :func:`dq_aggs` row (a sum over no rows is
    NULL) as ints."""
    return {k: int(v or 0) for k, v in row.items()}


def dq_metrics(df_tagged: DataFrame) -> dict[str, int]:
    """Single-pass DQ tallies (one aggregate, not N counts —
    ``validations_utils.py:106-120`` 'evita molteplici count()')."""
    return dq_counts(df_tagged.agg(*dq_aggs()).collect()[0].asDict())


#: Kept only so perfbench's tracer, which looks this name up in the
#: module's ``__dict__``, still finds it; the engine calls
#: :func:`dq_metrics`.
dq_metrics_with_key_profile = dq_metrics


# ---------------------------------------------------------------------------
# Declarative data contracts (promoted from the reference's test-only
# metadata dicts, test/header_etl_test.py:35-47 / items_etl_test.py:43-57).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FieldContract:
    """Constraint set for one column of a raw (string-typed) extract."""

    name: str
    nullable: bool = True
    key: bool = False
    max_length: int | None = None          # varchar(n)
    date_format: str | None = None         # Spark datetime pattern
    decimal: tuple[int, int] | None = None # (precision, scale)
    allowed: Sequence[str] | None = None   # domain values


@dataclass(frozen=True)
class TableContract:
    fields: Sequence[FieldContract] = field(default_factory=tuple)

    def key_cols(self) -> list[str]:
        return [f.name for f in self.fields if f.key]


def contract_violations(df: DataFrame, contract: TableContract) -> DataFrame:
    """One row per (violating row, rule): columns ``field, rule`` plus
    the original row. Evaluated as a single pass: per-field violation
    flags → one explode — no per-rule scans.
    """
    checks: list[tuple[str, str, Column]] = []
    for f in contract.fields:
        c = F.col(f.name)
        if not f.nullable:
            checks.append((f.name, "not_null", c.isNull()))
        if f.max_length is not None:
            checks.append(
                (f.name, f"max_length_{f.max_length}", F.length(c) > f.max_length)
            )
        if f.date_format is not None:
            checks.append(
                (
                    f.name,
                    "date_format",
                    c.isNotNull() & F.try_to_timestamp(c, F.lit(f.date_format)).isNull(),
                )
            )
        if f.decimal is not None:
            p, s = f.decimal
            checks.append(
                (
                    f.name,
                    f"decimal_{p}_{s}",
                    c.isNotNull() & c.try_cast(f"decimal({p},{s})").isNull(),
                )
            )
        if f.allowed is not None:
            checks.append(
                (f.name, "domain", c.isNotNull() & ~c.isin(list(f.allowed)))
            )
    if not checks:
        return df.limit(0).withColumn("field", F.lit("")).withColumn("rule", F.lit(""))
    pairs = F.array(
        *[
            F.when(cond, F.struct(F.lit(name).alias("field"), F.lit(rule).alias("rule")))
            for name, rule, cond in checks
        ]
    )
    return (
        df.withColumn("__v", F.filter(pairs, lambda x: x.isNotNull()))
        .filter(F.size("__v") > 0)
        .withColumn("__x", F.explode("__v"))
        .select("*", F.col("__x.field").alias("field"), F.col("__x.rule").alias("rule"))
        .drop("__v", "__x")
    )


def embedding_health(
    df: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Vector-table data quality in ONE pass: per group (or globally),
    counts of rows whose vector has the wrong dimension, zero norm, or
    any non-finite component — the checks an embedding pipeline runs
    before the vectors feed ANN indexing or training, where a single
    NaN silently poisons every distance it touches.

    All three flags are JVM higher-order expressions over the array —
    no UDF, no explode (the corpus never fans out), map-side-combined
    aggregation, one shuffle of group-count rows.
    """
    e = F.col(vec_col)
    wrong_dim = (F.size(e) != F.lit(dim)) | e.isNull()
    zero_norm = (
        F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x) == F.lit(0.0)
    )
    nonfinite = F.exists(
        e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    keys = [group_col] if group_col else []
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        flag(wrong_dim).alias("n_wrong_dim"),
        flag(F.coalesce(zero_norm, F.lit(False))).alias("n_zero_norm"),
        flag(F.coalesce(nonfinite, F.lit(False))).alias("n_nonfinite"),
    )

"""Skew-mitigation join helpers.

AQE's skew-join split (enabled in the session factory) is the engine's
only skew handling; no join site profiles keys or routes hot keys on
its own. That is enough for the engine's own joins:

  * In the SCD2 merge and in ``upsert``, the other side of each join
    is key-unique (current rows, ``upd_keys``, ``gone_keys``), so a
    hot key buffers one row per sort-merge group, however many rows
    the streamed side holds for it.
  * AQE splits the streamed side's oversized partition by map ranges
    for left-outer, left-semi and left-anti joins — the join types
    those sites use.
  * In ``asof_join``, one hot probe key's window runs in one task:
    correct but serial (a known limit, see the README).

Salting is the *planned* alternative for a join whose both sides
repeat a hot key, or a broadcast-too-big dimension joined on a
power-law key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    *,
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Equi-join with the hot-key shuffle split across ``salt_buckets``.

    The fact (``left``) side gets a deterministic salt derived from a
    non-key column-free hash of its whole row partition id — here we use
    a uniform salt from ``monotonically_increasing_id`` masked to the
    bucket count, which is allowed because the salt only has to spread
    rows, not be stable across runs. The ``right`` side is exploded
    ``salt_buckets``× so every (key, salt) pair finds its match —
    classic replicate-the-small-side salting. Output equals the plain
    join exactly (proved by the ``j8_salted_join`` oracle).

    Cost model: right side inflates ×buckets (keep it the smaller
    side); the shuffle key becomes (key, salt) so one hot key spreads
    over ``salt_buckets`` tasks.
    """
    keys = [on] if isinstance(on, str) else list(on)
    salt = (F.monotonically_increasing_id() % salt_buckets).cast("int")
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return l_salted.join(r_salted, on=[*keys, "__salt"], how=how).drop("__salt")

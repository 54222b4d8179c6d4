"""Seeded inputs and the independent SCD2 reference model.

Everything here is plain Python, NumPy and pandas: the inputs are drawn
from ``numpy.random.default_rng(seed)`` and the expected results are
recomputed from those raw rows without calling the engine. The engine
only ever sees the parquet files written by :func:`write_parquet`.

Event schema (one row per source event)::

    user_id long (nullable), ts timestamp, status string, value double, rid long

``rid`` is a unique row id and the merge's tiebreak: within a
``(user_id, ts)`` group the highest ``rid`` wins and the rest are
``DUPLICATE_OLDER`` discards.

Corpus-ingest batches (:func:`documents`) are ``doc_id long, text
string`` rows with a known set of exact and near duplicates.
"""

from __future__ import annotations

import hashlib
from datetime import date
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
BASE_US = (date(2024, 1, 1) - date(1970, 1, 1)).days * DAY_US
MAX_US = (date(9999, 12, 31) - date(1970, 1, 1)).days * DAY_US  # scd2.MAX_TS
BACKFILL_DAYS = 30

EVENT_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("status", pa.string()),
        ("value", pa.float64()),
        ("rid", pa.int64()),
    ]
)

#: Columns every result is compared on (timestamps as epoch µs).
RESULT_COLS = ["user_id", "valid_from", "valid_to", "is_current", "status", "value"]


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run. ``FULL`` is what the benchmark measures;
    ``TINY`` keeps the same shape at a size a smoke test can afford.

    ``FULL`` follows the engine's volume experiment
    (``pipeline.etl_bench.run_synthetic_volume_bench``): batches of
    about 100k rows with ``n_keys = n_rows / 10``, every event a distinct
    version, and a daily batch whose keys are half new (``pct_new`` =
    50 %)."""

    keys: int  # backfill keys
    events: int  # mean events per key and batch (drawn from 1..2*events-1)
    docs: int  # documents per corpus-ingest batch
    updates: int  # existing keys updated per daily batch
    noop: int  # of those, keys whose first event repeats the current version
    new_keys: int  # new keys per daily batch
    null_keys: int  # rows with a NULL key per batch
    duplicates: int  # (key, ts) duplicates per batch
    stale: int  # events older than the key's current version per batch
    fixture_batches: int  # batches merged into the read fixture
    probes: int  # rows per as-of probe batch


FULL = Sizes(
    keys=10_000, events=10, docs=500, updates=5_000, noop=250, new_keys=5_000,
    null_keys=500, duplicates=500, stale=100,
    fixture_batches=1, probes=500,
)
TINY = Sizes(
    keys=200, events=3, docs=40, updates=100, noop=5, new_keys=100,
    null_keys=5, duplicates=5, stale=2,
    fixture_batches=1, probes=20,
)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write an event frame with the fixed event schema."""
    table = pa.Table.from_pandas(
        df.assign(ts=pd.to_datetime(df["ts"], unit="us", utc=True)),
        schema=EVENT_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Reference model
# ---------------------------------------------------------------------------


@dataclass
class Version:
    user_id: int
    valid_from: int
    status: str
    value: float
    created: int  # batch index that inserted the row (0 = backfill)
    closed: int | None = None  # batch index that closed it
    valid_to: int = MAX_US


@dataclass
class BatchCounts:
    """What ``run_scd2_batch`` must report for one batch."""

    n_total: int = 0
    n_kept: int = 0
    n_null_key: int = 0
    n_duplicate_older: int = 0
    n_stale: int = 0
    n_closed: int = 0
    n_inserted: int = 0

    def as_dict(self) -> dict:
        return dict(self.__dict__)


@dataclass
class Scd2Model:
    """Change-only SCD2 history, applied batch by batch the way the
    pipeline documents it: NULL keys and older ``(key, ts)`` duplicates
    are discarded, events at or before a key's current ``valid_from``
    are stale, value-identical consecutive events create no version,
    and a changed key's current row closes at its first changing event.
    """

    versions: list[Version] = field(default_factory=list)
    current: dict[int, Version] = field(default_factory=dict)
    batches: int = 0

    def apply(self, batch: pd.DataFrame) -> BatchCounts:
        idx = self.batches
        creating = idx == 0
        self.batches += 1
        c = BatchCounts(n_total=len(batch))
        keyed = batch[batch["user_id"].notna()]
        c.n_null_key = len(batch) - len(keyed)
        keyed = keyed.sort_values(["user_id", "ts", "rid"])
        winner = ~keyed.duplicated(["user_id", "ts"], keep="last")
        c.n_duplicate_older = int((~winner).sum())
        kept = keyed[winner]
        c.n_kept = len(kept)
        uids = kept["user_id"].to_numpy(dtype=np.int64)
        rows = list(zip(kept["ts"].tolist(), kept["status"].tolist(), kept["value"].tolist()))
        starts = np.flatnonzero(np.diff(uids, prepend=-1)).tolist() + [len(uids)]
        for lo, hi in zip(starts[:-1], starts[1:]):
            uid = int(uids[lo])
            events = rows[lo:hi]
            cur = None if creating else self.current.get(uid)
            if cur is not None:
                fresh = [e for e in events if e[0] > cur.valid_from]
                c.n_stale += len(events) - len(fresh)
                first = next(
                    (i for i, e in enumerate(fresh) if (e[1], e[2]) != (cur.status, cur.value)),
                    None,
                )
                if first is None:
                    continue
                events = fresh[first:]
                cur.closed, cur.valid_to = idx, events[0][0]
                c.n_closed += 1
            prev = None
            for ts, status, value in events:
                if prev is not None and (status, value) == (prev.status, prev.value):
                    continue
                if prev is not None:
                    prev.closed, prev.valid_to = idx, ts
                prev = Version(uid, ts, status, value, idx)
                self.versions.append(prev)
                c.n_inserted += 1
            self.current[uid] = prev
        return c

    def frame(self, as_of_batch: int | None = None) -> pd.DataFrame:
        """Version rows as the table holds them after batch
        ``as_of_batch`` (default: the last batch applied)."""
        last = self.batches - 1 if as_of_batch is None else as_of_batch
        rows = [v for v in self.versions if v.created <= last]
        closed = [v.closed is not None and v.closed <= last for v in rows]
        return pd.DataFrame(
            {
                "user_id": np.array([v.user_id for v in rows], dtype=np.int64),
                "valid_from": np.array([v.valid_from for v in rows], dtype=np.int64),
                "valid_to": np.array(
                    [v.valid_to if c else MAX_US for v, c in zip(rows, closed)],
                    dtype=np.int64,
                ),
                "is_current": np.array([not c for c in closed], dtype=bool),
                "status": [v.status for v in rows],
                "value": np.array([v.value for v in rows], dtype=np.float64),
            },
            columns=RESULT_COLS,
        )


def _column_codes(col: pa.ChunkedArray) -> list[np.ndarray]:
    """A column as int64/uint64 arrays that identify its values: the
    validity mask, then the values (floats by their bits, strings by a
    64-bit hash, NULLs as 0)."""
    valid = col.is_valid().to_numpy(zero_copy_only=False).astype(np.int64)
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        vals = pd.util.hash_array(col.fill_null("").to_numpy(zero_copy_only=False).astype(object))
    elif pa.types.is_floating(t):
        vals = col.cast(pa.float64()).fill_null(0.0).to_numpy(zero_copy_only=False).view(np.int64)
    elif pa.types.is_boolean(t):
        vals = col.fill_null(False).to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        vals = col.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
    return [valid, vals]


def result_hash(table: pa.Table, cols: list[str]) -> str:
    """Order-independent digest of ``table[cols]``: a 64-bit hash per
    row over every column's validity and value (floats keep all their
    bits), sorted, then SHA-1."""
    codes = {f"{c}:{j}": a for c in cols for j, a in enumerate(_column_codes(table.column(c)))}
    rows = np.sort(pd.util.hash_pandas_object(pd.DataFrame(codes), index=False).to_numpy())
    h = hashlib.sha1(",".join(codes).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------


class EventGenerator:
    """Backfill month plus daily batches, drawn from one seed.

    Generation advances an :class:`Scd2Model` alongside, because the
    value-identical ("no-op") updates copy each key's current version
    and the stale events must predate it."""

    def __init__(self, seed: int, sizes: Sizes):
        self.rng = np.random.default_rng(seed)
        self.sizes = sizes
        self.model = Scd2Model()
        self.next_key = sizes.keys
        self.next_rid = 1

    def _rids(self, n: int) -> np.ndarray:
        # odd ids for source rows; a duplicate takes its original's id
        # minus one, so it always loses the tiebreak
        out = self.next_rid + 2 * np.arange(n, dtype=np.int64)
        self.next_rid += 2 * n
        return out

    def _statuses(self, n: int, tag: str) -> list[str]:
        codes = self.rng.integers(0, 1_000_000, n)
        return [f"{tag}-{c:06d}" for c in codes]

    def _finish(self, df: pd.DataFrame, day: int) -> pd.DataFrame:
        """Add NULL-key rows and duplicates, shuffle, apply to the model."""
        s, rng = self.sizes, self.rng
        nulls = pd.DataFrame(
            {
                "user_id": pd.array([None] * s.null_keys, dtype="Int64"),
                "ts": BASE_US + day * DAY_US + rng.integers(0, DAY_US, s.null_keys),
                "status": self._statuses(s.null_keys, "null"),
                "value": rng.random(s.null_keys),
                "rid": self._rids(s.null_keys),
            }
        )
        dups = df.iloc[rng.choice(len(df), s.duplicates, replace=False)].copy()
        dups["rid"] -= 1
        dups["status"] = self._statuses(s.duplicates, "dup")
        out = pd.concat([df, nulls, dups], ignore_index=True)
        out["user_id"] = out["user_id"].astype("Int64")
        out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
        counts = self.model.apply(out)
        out.attrs["counts"] = counts
        return out

    def _events(self, keys: np.ndarray, day0: np.ndarray, tag: str) -> pd.DataFrame:
        """``sizes.events`` events per key on average, each a distinct
        version, at random times of the day starting at ``day0``
        (µs, per key); sorted by key and time."""
        rng = self.rng
        per_key = rng.integers(1, 2 * self.sizes.events, len(keys))
        uid = np.repeat(keys, per_key)
        n = len(uid)
        df = pd.DataFrame(
            {
                "user_id": uid,
                "ts": np.repeat(day0, per_key) + rng.integers(0, DAY_US, n),
                "status": self._statuses(n, tag),
                "value": rng.random(n),
            }
        )
        return df.sort_values(["user_id", "ts"], ignore_index=True)

    def backfill(self) -> pd.DataFrame:
        """A month of events for ``sizes.keys`` keys. Each key's events
        fall on one day of the month, drawn per key, so the keys'
        current versions spread evenly over the month's partitions."""
        s, rng = self.sizes, self.rng
        keys = np.arange(s.keys, dtype=np.int64)
        day0 = BASE_US + rng.integers(0, BACKFILL_DAYS, s.keys) * DAY_US
        df = self._events(keys, day0, "b")
        df["rid"] = self._rids(len(df))
        return self._finish(df, 0)

    def daily(self, d: int) -> pd.DataFrame:
        """Daily batch ``d`` (1-based), all fresh events on day 30+d-1:
        events for updated keys spread over the whole history (so the
        merge rewrites many old partitions), the first of them a
        value-identical no-op for ``sizes.noop`` keys, as many new keys,
        and a few stale events."""
        s, rng, model = self.sizes, self.rng, self.model
        day = BACKFILL_DAYS + d - 1
        live = np.fromiter(model.current.keys(), dtype=np.int64)
        picked = rng.choice(live, s.updates + s.stale, replace=False)
        upd, stale = np.sort(picked[: s.updates]), picked[s.updates :]
        new = np.arange(self.next_key, self.next_key + s.new_keys, dtype=np.int64)
        self.next_key += s.new_keys
        keys = np.concatenate([upd, new])
        ev = self._events(keys, np.full(len(keys), BASE_US + day * DAY_US), f"d{d}")
        # the first event of each no-op key repeats its current version
        first = np.flatnonzero(np.diff(ev["user_id"].to_numpy(), prepend=-1))
        noop = set(rng.choice(upd, s.noop, replace=False).tolist())
        for i in first:
            k = int(ev.at[i, "user_id"])
            if k in noop:
                cur = model.current[k]
                ev.at[i, "status"], ev.at[i, "value"] = cur.status, cur.value
        old = pd.DataFrame(
            {
                "user_id": stale,
                # before the backfill month: older than any version
                "ts": BASE_US - DAY_US + rng.integers(0, DAY_US, s.stale),
                "status": self._statuses(s.stale, f"s{d}"),
                "value": rng.random(s.stale),
            }
        )
        df = pd.concat([ev, old], ignore_index=True)
        df["rid"] = self._rids(len(df))
        return self._finish(df, day)


# ---------------------------------------------------------------------------
# Corpus-ingest documents
# ---------------------------------------------------------------------------

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
DOC_WORDS = 200
VOCAB = 5_000


@dataclass
class DocBatch:
    frame: pd.DataFrame
    exact: int  # exact copies of a fresh doc
    near: int  # one-word edits of a fresh doc
    fresh_ids: list[int]  # what a correct ingest accepts


def documents(seed: int, n_batches: int, per_batch: int) -> list[DocBatch]:
    """``n_batches`` ingest batches of ``per_batch`` documents.

    A tenth of each batch are exact copies and a twentieth one-word
    edits of distinct fresh documents, half of them copying this batch
    and half earlier batches (the first batch copies only itself).
    Fresh documents are 200 words drawn from a 5,000-word vocabulary, so
    two of them share almost no 3-word shingle; an edit changes the last
    word and keeps 197 of 199 shingles, which the 16-hash, 4-band
    signature screen misses with odds of about 1 in 10^5 per copy. Every
    copy has a higher id than its source, so in-batch dedup keeps the
    source."""
    rng = np.random.default_rng([seed, 3])
    out: list[DocBatch] = []
    earlier: list[str] = []
    next_id = 0
    for b in range(n_batches):
        n_exact, n_near = per_batch // 10, per_batch // 20
        n_fresh = per_batch - n_exact - n_near
        words = rng.integers(0, VOCAB, (n_fresh, DOC_WORDS))
        texts = [" ".join(f"w{w:04d}" for w in row) for row in words]
        ids = list(range(next_id, next_id + n_fresh))
        next_id += n_fresh
        n_cross = 0 if b == 0 else (n_exact + n_near) // 2
        sources = [texts[i] for i in rng.choice(n_fresh, n_exact + n_near - n_cross, replace=False)]
        sources += [earlier[i] for i in rng.choice(len(earlier), n_cross, replace=False)] if n_cross else []
        order = rng.permutation(len(sources))
        copies = [sources[i] for i in order[:n_exact]]
        copies += [sources[i].rsplit(" ", 1)[0] + f" edit{b}x{k}" for k, i in enumerate(order[n_exact:])]
        frame = pd.DataFrame(
            {
                "doc_id": np.arange(next_id - n_fresh, next_id + len(copies), dtype=np.int64),
                "text": texts + copies,
            }
        )
        next_id += len(copies)
        frame = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
        out.append(DocBatch(frame, n_exact, n_near, ids))
        earlier += texts
    return out


def write_documents(frame: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(frame, schema=DOC_SCHEMA, preserve_index=False), path)

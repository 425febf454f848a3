"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy + pyarrow: the tables are written as
parquet files under the run's work directory before the Spark program
sees them, so the program only ever reads generated tables. The same
seed gives byte-identical tables.

Sequence doc ids follow the default registry convention
``srcNN-{k:012d}``, so ``grid.with_event_time`` derives event time as
``T0 + k * step(source)`` without a registry table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from tokens_ts import config as C

SEQ_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
GAP_SHARE = 0.15


def zipf_budgets(rng: np.random.Generator, n_src: int, total: int) -> list[int]:
    """Per-source grid-slot budgets with a seeded Zipf exponent, scaled
    so they sum to `total` (input size stays fixed across seeds)."""
    a = rng.uniform(0.9, 1.1)
    w = 1.0 / np.arange(1, n_src + 1) ** a
    b = np.maximum(1, np.round(total * w / w.sum())).astype(int)
    return b.tolist()


class TokenModel:
    """Zipf-distributed token ids with a seeded PAD share."""

    def __init__(self, rng: np.random.Generator):
        self.pad_share = rng.uniform(0.01, 0.04)
        self.rank_to_id = rng.permutation(np.arange(1, C.V, dtype=np.int64))

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.minimum(rng.zipf(1.15, n), C.V - 1) - 1
        tok = self.rank_to_id[ranks].astype(np.int32)
        tok[rng.random(n) < self.pad_share] = C.PAD_ID
        return tok


def sequences(
    rng: np.random.Generator,
    model: TokenModel,
    k_ranges: dict[int, tuple[int, int]],
) -> pa.Table:
    """One row per kept grid slot k in [lo, hi) of each source ordinal;
    about GAP_SHARE of the slots are dropped at seeded positions."""
    doc, toks, ntok, src = [], [], [], []
    for s, (lo, hi) in sorted(k_ranges.items()):
        ks = np.arange(lo, hi)
        ks = ks[rng.random(len(ks)) >= GAP_SHARE]
        lens = rng.integers(16, 257, len(ks))
        flat = model.draw(rng, int(lens.sum()))
        offs = np.concatenate([[0], np.cumsum(lens)])
        for j, k in enumerate(ks):
            doc.append(f"src{s:02d}-{k:012d}")
            toks.append(flat[offs[j] : offs[j + 1]])
            ntok.append(int(lens[j]))
            src.append(f"src{s:02d}")
    return pa.table(
        {
            "doc_id": pa.array(doc, pa.string()),
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array(ntok, pa.int32()),
            "source": pa.array(src, pa.string()),
        },
        schema=SEQ_SCHEMA,
    )


def slots_per_day(s: int) -> int:
    return 86400 // C.step_seconds(s)


def increment_batches(
    rng: np.random.Generator, budgets: list[int], n_batches: int
) -> list[dict[int, tuple[int, int]]]:
    """Append-only batches beyond each source's base k-range. Each batch
    takes a contiguous k-range from one source (even batches) or two
    (odd batches), kept inside one day of that source, so it touches one
    or two (source, day) partitions. Which sources, and how many slots,
    come from the seed; the alternation keeps every run's mix the same."""
    nxt = list(budgets)
    out = []
    for i in range(n_batches):
        srcs = rng.choice(len(budgets), size=1 + i % 2, replace=False)
        batch = {}
        for s in sorted(int(x) for x in srcs):
            size = int(rng.integers(30, 81))
            day = slots_per_day(s)
            lo = nxt[s]
            if lo // day != (lo + size - 1) // day:
                lo = (lo // day + 1) * day
            batch[s] = (lo, lo + size)
            nxt[s] = lo + size
        out.append(batch)
    return out


def query_windows(
    rng: np.random.Generator, span_s: int, n: int
) -> list[list[tuple[str, str, int]]]:
    """n rounds of three reads: a 2-hour window at 60 s resolution, a
    1-day window at 3600 s and a 7-day window at 86400 s, each starting
    at a seeded, resolution-aligned offset inside the data's time span."""
    shapes = [(60, 2 * 3600), (3600, 86400), (86400, 7 * 86400)]
    rounds = []
    for _ in range(n):
        reads = []
        for res, width in shapes:
            off = int(rng.integers(0, max(1, span_s // res))) * res
            lo = C.T0_EPOCH + off
            reads.append((_ts(lo), _ts(lo + width), res))
        rounds.append(reads)
    return rounds


def _ts(epoch_s: int) -> str:
    return pd.Timestamp(epoch_s, unit="s").strftime("%Y-%m-%d %H:%M:%S")


def events(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Table:
    """An events table in the schema of the sf testdata (event_id, ts,
    user_id, event_type, value, props): n rows over `days` days from
    `start`."""
    t0 = np.datetime64(start, "us")
    off = np.sort(rng.integers(0, days * 86400 * 10**6, n)).astype("timedelta64[us]")
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": t0 + off,
            "user_id": rng.integers(0, 20, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    return pa.Table.from_pandas(df, preserve_index=False)

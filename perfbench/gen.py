"""Seeded input generator for every workload.

Everything a workload feeds the package is derived here from one
``--seed``: the events table (the source of the options-trades view),
the documents corpus and the new
curation batch with its near-duplicate share, the query order and
``fetch_trades`` parameters, and the trade pages of the ingest
workload with their injected gaps, duplicates, replays and late rows.
The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
# Same closed vocabulary as the corpus the bindings were written
# against; "the" and "a" make every document predict as English.
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts another stream's values for the same seed."""
    return np.random.default_rng([seed, sum(stream.encode()) * 7919 + len(stream)])


# --------------------------------------------------------------- events
def events_table(seed: int, n: int, days: int = 30) -> pa.Table:
    """``events`` rows with the testdata table's shape: increasing
    microsecond timestamps over ``days`` days, 1500 users, five event
    types, exponential values rounded to cents."""
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, days * DAY_US, n)) + EPOCH_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[r.integers(0, 5, n)]),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )


# ------------------------------------------------------------ documents
def _texts(r: np.random.Generator, n: int) -> list[str]:
    lens = r.integers(10, 101, n)
    words = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i : i + k]))
        i += k
    return out


def _near_dup(r: np.random.Generator, text: str) -> str:
    """A near duplicate whose 3-shingle Jaccard with ``text`` stays well
    above the 0.8 dedup threshold: one appended marker token, or one
    word substituted near the end of a long document."""
    toks = text.split()
    if len(toks) >= 60 and r.random() < 0.5:
        toks[-2] = VOCAB[r.integers(0, len(VOCAB))]
        return " ".join(toks)
    return text + " dup"


def _doc_table(ids: np.ndarray, texts: list[str], r: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids.astype(np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[r.choice(len(LANGS), len(ids), p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


@dataclass
class Corpus:
    """Corpus and new batch share one id space: corpus ids have
    ``doc_id % 5 < 3`` and batch ids ``doc_id % 5 >= 3`` (the split the
    ``incremental_dedup`` binding and its oracle use)."""

    corpus: pa.Table
    batch: pa.Table
    batch_kept: set[int]  # batch ids that are not copies of a corpus doc


def corpus_and_batch(seed: int, n_corpus: int, n_batch: int, dup_share: float) -> Corpus:
    r = rng_for(seed, "documents")
    corpus_ids = np.array([i for i in range(n_corpus * 5 // 3 + 5) if i % 5 < 3][:n_corpus])
    batch_ids = np.array([i for i in range((n_batch * 5) // 2 + 5) if i % 5 >= 3][:n_batch])
    texts = _texts(r, n_corpus)
    # in-corpus structure the curation stages must resolve: a few exact
    # duplicates and 5% near duplicates of earlier documents
    for i in range(1, n_corpus):
        u = r.random()
        if u < 0.002:
            texts[i] = texts[int(r.integers(0, i))]
        elif u < 0.052:
            texts[i] = _near_dup(r, texts[int(r.integers(0, i))])
    btexts = _texts(r, n_batch)
    # batch copies: a fifth exact, the rest one appended token. Sources
    # have >= 40 words, so a copy's Jaccard is >= 38/39 and banded LSH
    # misses it with probability < 1e-13: the kept set is known exactly.
    long_docs = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    copies = r.choice(n_batch, int(round(dup_share * n_batch)), replace=False)
    for j in copies:
        src = texts[long_docs[int(r.integers(0, len(long_docs)))]]
        btexts[j] = src if r.random() < 0.2 else src + " dup"
    kept = set(batch_ids.tolist()) - {int(batch_ids[j]) for j in copies}
    return Corpus(_doc_table(corpus_ids, texts, r), _doc_table(batch_ids, btexts, r), kept)


# -------------------------------------------------------- query streams
def fetch_params(seed: int, n: int, underlyings=("BTC", "ETH"), day0: str = "2024-01-01", days: int = 30):
    """Seeded ``api.fetch_trades`` calls: half time-range scans with a
    limit, half point lookups on one (underlying, option type, strike)."""
    r = rng_for(seed, "fetch")
    out = []
    base = np.datetime64(day0)
    for i in range(n):
        d0 = base + np.timedelta64(int(r.integers(0, days - 3)), "D")
        if i % 2 == 0:
            out.append(
                {
                    "underlying": str(underlyings[r.integers(0, len(underlyings))]),
                    "start": str(d0),
                    "end": str(d0 + np.timedelta64(int(r.integers(0, 3)), "D")),
                    "limit": int(r.choice([100, 500, 1000])),
                }
            )
        else:
            out.append(
                {
                    "underlying": str(underlyings[r.integers(0, len(underlyings))]),
                    "option_type": str(r.choice(["C", "P"])),
                    "strike": float((90 + int(r.integers(0, 21))) * 1000),
                    "start": str(d0),
                    "end": str(d0 + np.timedelta64(6, "D")),
                }
            )
    return out


def order(seed: int, stream: str, names: list[str]) -> list[str]:
    """A seeded permutation of ``names``: every round runs each shape
    once, so a run's per-query samples always cover the same mix."""
    return [names[i] for i in rng_for(seed, stream).permutation(len(names))]


# -------------------------------------------------------- trade ingest
STEP_MS = 250  # one trade per 250 ms on the collector's grid


@dataclass
class GappyPages:
    """Paginated trade source with the collector's protocol (newest
    first, at most ``count`` rows at or before the cursor) and seeded
    faults: missing spans of the grid (page gaps) and pages that
    re-send the newest rows of the previous page (duplicates across the
    page boundary). ``fetched`` counts every row handed out."""

    currency: str
    gaps: list[tuple[int, int]]
    dup_every: int
    dup_rows: int
    seed: int
    fetched: int = 0
    gen_s: float = 0.0
    _calls: int = 0
    _last_page: list = field(default_factory=list)

    def _present(self, ts: int) -> bool:
        return not any(lo <= ts < hi for lo, hi in self.gaps)

    def _trade(self, ts: int) -> dict:
        h = (ts // STEP_MS * 2654435761 + self.seed * 97) % 2**32
        return {
            "trade_id": f"{self.currency}-{ts}",
            "instrument_name": f"{self.currency}-27DEC24-{(90 + h % 21) * 1000}-{'C' if h % 3 else 'P'}",
            "timestamp": ts,
            "price": 0.01 + (h % 1000) / 10000.0,
            "amount": 0.1 + (h % 50) / 10.0,
            "direction": "buy" if h % 2 == 0 else "sell",
            "iv": 0.4 + (h % 100) / 250.0,
            "index_price": 100000.0 + (h % 4000) - 2000.0,
        }

    def fetch_page(self, start_ts: int, end_ts: int, count: int = 1000) -> list[dict]:
        t0 = time.perf_counter()
        self._calls += 1
        out = []
        if self._last_page and self._calls % self.dup_every == 0:
            out.extend(self._last_page[-self.dup_rows :])
        ts = (end_ts // STEP_MS) * STEP_MS
        while ts >= start_ts and len(out) < count:
            if self._present(ts):
                out.append(self._trade(ts))
            ts -= STEP_MS
        self._last_page = out
        self.fetched += len(out)
        self.gen_s += time.perf_counter() - t0
        return out

    def expected_ids(self, start_ts: int, end_ts: int) -> set[str]:
        first = -(-start_ts // STEP_MS) * STEP_MS
        return {
            f"{self.currency}-{ts}"
            for ts in range(first, end_ts + 1, STEP_MS)
            if self._present(ts)
        }


def gappy_pages(seed: int, currency: str, start_ts: int, end_ts: int, n_gaps: int) -> GappyPages:
    r = rng_for(seed, f"pages-{currency}")
    span = end_ts - start_ts
    gaps = []
    for lo in np.sort(r.integers(start_ts, end_ts - span // 20, n_gaps)):
        gaps.append((int(lo), int(lo) + int(r.integers(5_000, 60_000))))
    return GappyPages(currency, gaps, dup_every=int(r.integers(3, 6)), dup_rows=int(r.integers(5, 40)), seed=seed)


STREAM_SCHEMA = pa.schema(
    [
        ("trade_id", pa.string()),
        ("instrument_name", pa.string()),
        ("timestamp", pa.timestamp("us")),
        ("price", pa.float64()),
        ("amount", pa.float64()),
        ("direction", pa.string()),
        ("iv", pa.float64()),
        ("index_price", pa.float64()),
    ]
)


def stream_drops(seed: int, n_files: int, rows_per_file: int, out_dir: str) -> set[str]:
    """Forward-in-time page drops for the streaming path. File ``k``
    holds the next ``rows_per_file`` trades in event time; a seeded
    share of each file's rows is withheld and delivered one file late
    (late, but minutes inside the 10-minute watermark), and a seeded
    share of the previous file's rows is re-sent (replays). Returns the
    unique trade ids the files hold."""
    r = rng_for(seed, "stream")
    os.makedirs(out_dir, exist_ok=True)
    step_us = 100_000  # 10 trades a second: a file spans 100 s at 1000 rows
    t0 = EPOCH_2024_US + 40 * DAY_US
    held: list[int] = []
    prev: list[int] = []
    expected: set[str] = set()
    for k in range(n_files):
        idx = np.arange(k * rows_per_file, (k + 1) * rows_per_file)
        late_mask = r.random(len(idx)) < 0.03
        on_time = idx[~late_mask].tolist()
        replay = [] if not prev else r.choice(prev, max(1, len(prev) // 50), replace=False).tolist()
        rows = on_time + held + replay
        held = idx[late_mask].tolist()
        prev = on_time
        if k == n_files - 1:
            rows += held
        ts = t0 + np.array(rows, dtype=np.int64) * step_us
        h = (np.array(rows, dtype=np.int64) * 2654435761 + seed) % 2**32
        tbl = pa.table(
            {
                "trade_id": pa.array([f"S-{i}" for i in rows]),
                "instrument_name": pa.array([f"BTC-27DEC24-{(90 + x % 21) * 1000}-{'C' if x % 3 else 'P'}" for x in h]),
                "timestamp": pa.array(ts, type=pa.timestamp("us")),
                "price": pa.array(0.01 + (h % 1000) / 10000.0),
                "amount": pa.array(0.1 + (h % 50) / 10.0),
                "direction": pa.array(np.where(h % 2 == 0, "buy", "sell")),
                "iv": pa.array(0.4 + (h % 100) / 250.0),
                "index_price": pa.array(100000.0 + (h % 4000) - 2000.0),
            },
            schema=STREAM_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"page-{k:05d}.parquet"))
        expected.update(f"S-{i}" for i in rows)
    return expected

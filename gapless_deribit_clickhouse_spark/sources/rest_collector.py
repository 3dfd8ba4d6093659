"""Resumable paginated batch ingestion (the reference's collector,
Spark-native).

Reference: ``/root/reference/src/gapless_deribit_clickhouse/collectors/
trades_collector.py`` —
- S1/S2 cursor pagination: pages of <=1000 trades walking BACKWARDS
  from end_ts (``current_end_ts = oldest_ts - 1``), :97-144, :290-321
- S3 continuity validation: inter-page gap > threshold ms and
  duplicate trade_ids -> warnings, :58-94
- S4 row projection: API dict -> typed row + derived instrument
  fields, :183-208
- S5 idempotent batched sink: every 10k rows with a dedup token
  sha256(currency,start,end,batch)[:32]; replays rejected, :405-436
- S7 checkpoint: JSON {last_end_ts, batch_number, total_collected,
  pagination_warnings}; resume on identical job key, :158-180

Spark design: the network source is emulated by a deterministic
synthetic page generator (no internet in this environment; the page
protocol — count-limited, descending, cursor-driven — is identical).
The sink is parquet partitioned by ``batch_token``: a replayed batch
overwrites its own partition (idempotent, the Delta ``txnVersion``
pattern without requiring Delta), never duplicating rows.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gapless_deribit_clickhouse_spark.exceptions import SourceError

PAGE_SIZE = 1000  # reference trades_collector.py:43
BATCH_ROWS = 10_000  # reference trades_collector.py:55
GAP_THRESHOLD_MS = int(os.environ.get("PAGINATION_GAP_THRESHOLD_MS", "1000"))

TRADE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.StringType(), False),
        T.StructField("instrument_name", T.StringType(), False),
        T.StructField("timestamp", T.LongType(), False),  # epoch ms
        T.StructField("price", T.DoubleType(), False),
        T.StructField("amount", T.DoubleType(), False),
        T.StructField("direction", T.StringType(), False),
        T.StructField("iv", T.DoubleType(), True),
        T.StructField("index_price", T.DoubleType(), True),
    ]
)


class SyntheticTradePages:
    """Deterministic stand-in for the paginated REST source: trades on
    a fixed grid (one every ``step_ms``), newest-first pages."""

    def __init__(self, currency: str = "BTC", step_ms: int = 1000, seed: int = 42):
        self.currency = currency
        self.step_ms = step_ms
        self.seed = seed

    def _trade_at(self, ts_ms: int) -> dict:
        h = int(hashlib.md5(f"{self.seed}:{ts_ms}".encode()).hexdigest()[:8], 16)
        strike = (90 + h % 21) * 1000
        return {
            "trade_id": f"{self.currency}-{ts_ms}",
            "instrument_name": f"{self.currency}-27DEC24-{strike}-{'C' if h % 3 else 'P'}",
            "timestamp": ts_ms,
            "price": 0.01 + (h % 1000) / 10000.0,
            "amount": 0.1 + (h % 50) / 10.0,
            "direction": "buy" if h % 2 == 0 else "sell",
            "iv": 0.4 + (h % 100) / 250.0,
            "index_price": 100000.0 + (h % 4000) - 2000.0,
        }

    def fetch_page(self, start_ts: int, end_ts: int, count: int = PAGE_SIZE) -> list[dict]:
        """Trades in [start_ts, end_ts], newest first, at most count."""
        newest = (end_ts // self.step_ms) * self.step_ms
        out = []
        ts = newest
        while ts >= start_ts and len(out) < count:
            out.append(self._trade_at(ts))
            ts -= self.step_ms
        return out


def validate_page_continuity(
    prev_page: list[dict], curr_page: list[dict], gap_threshold_ms: int = GAP_THRESHOLD_MS
) -> tuple[bool, list[str]]:
    """Inter-page gap + duplicate checks (reference
    trades_collector.py:58-94): pages are newest-first; the boundary
    gap is prev page's OLDEST ts minus curr page's NEWEST ts."""
    if not prev_page or not curr_page:
        return True, []
    warnings: list[str] = []
    prev_oldest = min(t["timestamp"] for t in prev_page)
    curr_newest = max(t["timestamp"] for t in curr_page)
    gap = prev_oldest - curr_newest
    if gap > gap_threshold_ms:
        warnings.append(f"pagination gap {gap}ms exceeds threshold {gap_threshold_ms}ms")
    dups = {t["trade_id"] for t in prev_page} & {t["trade_id"] for t in curr_page}
    if dups:
        warnings.append(f"{len(dups)} duplicate trade_ids across page boundary")
    return not warnings, warnings


def batch_token(currency: str, start_ts: int, end_ts: int, batch_number: int) -> str:
    """Idempotency token (reference trades_collector.py:147-155)."""
    key = f"{currency}:{start_ts}:{end_ts}:{batch_number}"
    return hashlib.sha256(key.encode()).hexdigest()[:32]


@dataclass
class CheckpointStore:
    """JSON-file checkpoint (reference trades_collector.py:158-180)."""

    directory: str

    def _path(self, currency: str, start_ts: int, end_ts: int) -> str:
        key = hashlib.sha256(f"{currency}:{start_ts}:{end_ts}".encode()).hexdigest()[:16]
        return os.path.join(self.directory, f"checkpoint_{key}.json")

    def load(self, currency: str, start_ts: int, end_ts: int) -> dict | None:
        path = self._path(currency, start_ts, end_ts)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def save(self, currency: str, start_ts: int, end_ts: int, state: dict) -> None:
        os.makedirs(self.directory, exist_ok=True)
        state = dict(state, updated_at=datetime.now(timezone.utc).isoformat())
        # write-then-rename: a crash mid-dump leaves the previous
        # checkpoint in place, never a truncated file ``load`` cannot parse
        path = self._path(currency, start_ts, end_ts)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def clear(self, currency: str, start_ts: int, end_ts: int) -> None:
        path = self._path(currency, start_ts, end_ts)
        if os.path.exists(path):
            os.remove(path)


def _write_batch(spark: SparkSession, rows: list[dict], token: str, output_path: str) -> None:
    """Idempotent write: each batch owns partition batch_token=<token>;
    a replay overwrites the same partition (no duplicates)."""
    df = spark.createDataFrame(rows, schema=TRADE_SCHEMA).withColumn(
        "batch_token", F.lit(token)
    )
    (
        df.withColumn("timestamp", F.timestamp_millis(F.col("timestamp")))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_token")
        .parquet(output_path)
    )


def collect_trades(
    spark: SparkSession,
    source: SyntheticTradePages,
    start_ts: int,
    end_ts: int,
    output_path: str,
    checkpoint_dir: str | None = None,
    batch_rows: int = BATCH_ROWS,
    page_size: int = PAGE_SIZE,
    max_pages: int | None = None,
) -> dict:
    """Cursor-paginated backfill with continuity validation, batched
    idempotent writes and resumable checkpoints. Returns a stats dict
    (reference collect_trades(return_data=False) shape,
    trades_collector.py:371-384)."""
    ckpt = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    state = ckpt.load(source.currency, start_ts, end_ts) if ckpt else None
    cursor = state["last_end_ts"] if state else end_ts
    batch_number = state["batch_number"] if state else 0
    total = state["total_collected"] if state else 0
    warnings: list[str] = state["pagination_warnings"] if state else []

    buffer: list[dict] = []
    prev_page: list[dict] = []
    pages = 0
    while cursor >= start_ts:
        page = source.fetch_page(start_ts, cursor, page_size)
        pages += 1
        if not page:
            break
        ok, w = validate_page_continuity(prev_page, page)
        if not ok:
            warnings.extend(w)
        buffer.extend(page)
        oldest = min(t["timestamp"] for t in page)
        cursor = oldest - 1
        prev_page = page
        while len(buffer) >= batch_rows:
            chunk, buffer = buffer[:batch_rows], buffer[batch_rows:]
            token = batch_token(source.currency, start_ts, end_ts, batch_number)
            _write_batch(spark, chunk, token, output_path)
            total += len(chunk)
            batch_number += 1
            if ckpt:
                # resume point = oldest WRITTEN row − 1: rows still in
                # the buffer are refetched after a crash, never lost
                ckpt.save(
                    source.currency,
                    start_ts,
                    end_ts,
                    {
                        "last_end_ts": min(t["timestamp"] for t in chunk) - 1,
                        "batch_number": batch_number,
                        "total_collected": total,
                        "pagination_warnings": warnings[-100:],
                    },
                )
        if max_pages is not None and pages >= max_pages:
            raise SourceError(f"interrupted after {pages} pages (simulated failure)")
    if buffer:
        token = batch_token(source.currency, start_ts, end_ts, batch_number)
        _write_batch(spark, buffer, token, output_path)
        total += len(buffer)
        batch_number += 1
    if ckpt:
        ckpt.clear(source.currency, start_ts, end_ts)
    return {
        "total_collected": total,
        "batches_written": batch_number,
        "pages_fetched": pages,
        "pagination_warnings": warnings,
    }

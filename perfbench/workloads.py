"""The benchmark's workloads. Each is one closed-loop client that
issues its next request only after the previous one returned.

A workload generates its inputs from the seed (never timed), sets up
(timed as ``setup_s``), computes the expected results of its requests
(never timed), then runs rounds of requests until the measuring time is
used up. A round issues every request of the workload's mix once; its
first round meets each request shape for the first time in the JVM.
Every request is checked after it returns, outside its timed region.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq

import checks
import gen

# Options query mix: shape -> the per-layer metric its latency feeds.
# One or two shapes per package module keep a cold round inside the
# run-time budget; every shape is oracle-checked.
OPTIONS_MIX = {
    "moneyness_pivot": "features.query_s",
    "feature_pipeline": "features.query_s",
    "greeks": "functions.query_s",
    "ohlc_15m": "operators.query_s",
    "asof_join_spot": "operators.query_s",
    "gap_analysis": "validation.query_s",
}
WARM_UP = ("quality_metrics",)
FETCH_PER_ROUND = 2
N_TRADES = 100_000  # sf0.1


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run
        self.data = os.path.join(run.work, "data")

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Repeated per set-up: table resolution and a warm-up query."""
        raise NotImplementedError

    def setup_once(self) -> None:
        """One-time set-up after the last repeat."""

    def expect(self) -> None:
        raise NotImplementedError

    def round(self, i: int) -> list:
        """The requests of round ``i`` as zero-argument callables."""
        raise NotImplementedError


# ------------------------------------------------------------- options
class Options(Workload):
    name = "options_interactive"

    def __init__(self, run):
        super().__init__(run)
        from gapless_deribit_clickhouse_spark import entry_queries

        self.queries = entry_queries.queries()
        self.sql = entry_queries.oracle_sql()
        self.want: dict[str, str] = {}
        self.fetch_want: dict[int, str] = {}

    def generate(self) -> None:
        os.makedirs(self.data, exist_ok=True)
        events = gen.events_table(self.run.seed, N_TRADES)
        pq.write_table(events, os.path.join(self.data, "events.parquet"))
        self.fetch = gen.fetch_params(self.run.seed, 64)

    def setup(self) -> None:
        self.run.load_table(self.data, "events")
        for shape in WARM_UP:  # outside the mix
            self.queries[shape](self.run.spark, self.data).toPandas()

    def expect(self) -> None:
        self._con = checks.duck({"events": os.path.join(self.data, "events.parquet")})
        for shape in OPTIONS_MIX:
            self.want[shape] = checks.oracle_digest(self._con, self.sql[shape])

    def _fetch_digest(self, k: int) -> str:
        if k not in self.fetch_want:
            from gapless_deribit_clickhouse_spark.bindings.common import TRADES_CTE

            self.fetch_want[k] = checks.oracle_digest(
                self._con, checks.fetch_trades_sql(self.fetch[k], TRADES_CTE)
            )
        return self.fetch_want[k]

    def round(self, i: int) -> list:
        from gapless_deribit_clickhouse_spark.api import fetch_trades
        from gapless_deribit_clickhouse_spark.bindings.common import trades_view

        run, data = self.run, self.data
        ops = [
            run.query_op(
                shape, OPTIONS_MIX[shape],
                lambda s=shape: self.queries[s](run.spark, data),
                lambda s=shape: self.want[s],
            )
            for shape in gen.order(run.seed, f"mix-{i}", list(OPTIONS_MIX))
        ]
        for j in range(FETCH_PER_ROUND):
            k = (i * FETCH_PER_ROUND + j) % len(self.fetch)
            ops.insert(
                (j + 1) * len(ops) // (FETCH_PER_ROUND + 1),
                run.query_op(
                    "fetch_trades", "api.fetch_trades_s",
                    lambda k=k: fetch_trades(trades_view(run.spark, data), **self.fetch[k]),
                    lambda k=k: self._fetch_digest(k),
                ),
            )
        return ops


# ------------------------------------------------------------ curation
N_CORPUS, N_BATCH, DUP_SHARE = 80, 30, 0.2
TS_ARGS = dict(lang="en", min_quality=0.3, dedup_threshold=0.8, max_tokens=128, overlap=16, num_shards=16)


class Curation(Workload):
    """build_training_set over a corpus, then a dedup of a new batch
    against an index of that corpus built at set-up."""

    def generate(self) -> None:
        c = gen.corpus_and_batch(self.run.seed, N_CORPUS, N_BATCH, DUP_SHARE)
        self.corpus_path = os.path.join(self.data, "corpus")
        self.batch_path = os.path.join(self.data, "batch")
        for path, tbl in ((self.corpus_path, c.corpus), (self.batch_path, c.batch)):
            os.makedirs(path, exist_ok=True)
            pq.write_table(tbl, os.path.join(path, "documents.parquet"))
        self.batch_kept = c.batch_kept
        self.index = os.path.join(self.run.work, "dedup_index")

    def setup(self) -> None:
        # the one-time index build below is this workload's warm-up
        self.corpus = self.run.load_table(self.corpus_path, "documents")
        self.batch = self.run.load_table(self.batch_path, "documents")

    def setup_once(self) -> None:
        from gapless_deribit_clickhouse_spark.pipelines.text_dedup import build_dedup_index

        shutil.rmtree(self.index, ignore_errors=True)
        self.run.timed_call("pipelines.build_dedup_index_s", lambda: build_dedup_index(self.corpus, self.index))

    def expect(self) -> None:
        from gapless_deribit_clickhouse_spark import entry_queries

        corpus = checks.duck({"documents": os.path.join(self.corpus_path, "documents.parquet")})
        self.want_ts = checks.oracle_digest(corpus, entry_queries.oracle_sql()["training_set"])
        self.want_dedup = checks.ids_digest(self.batch_kept)

    def round(self, i: int) -> list:
        from gapless_deribit_clickhouse_spark.pipelines.curation import build_training_set
        from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
            incremental_dedup,
            incremental_dedup_indexed,
        )

        run = self.run
        ops = [
            run.query_op(
                "build_training_set", "curation_s",
                lambda: build_training_set(self.corpus, **TS_ARGS),
                lambda: self.want_ts, on_result=self._kept, span="pipelines.build_training_set",
            ),
            run.query_op(
                "incremental_dedup_indexed", "pipelines.incremental_dedup_indexed_s",
                lambda: incremental_dedup_indexed(self.batch, self.index).select("doc_id"),
                lambda: self.want_dedup,
            ),
        ]
        if run.traced_round:
            # the one-shot path, for comparison with the indexed one
            ops.append(
                run.query_op(
                    "incremental_dedup", "pipelines.incremental_dedup_s",
                    lambda: incremental_dedup(self.batch, self.corpus, threshold=0.8).select("doc_id"),
                    lambda: self.want_dedup, e2e=False,
                )
            )
        return ops

    def _kept(self, pdf) -> None:
        self.run.layers.add("pipelines.kept_frac", pdf["doc_id"].nunique() / N_CORPUS)


# -------------------------------------------------------------- ingest
BACKFILL_MS = 45 * 60_000  # 10,800 trades on the 250 ms grid, minus gaps
BATCH_ROWS, PAGE_ROWS, INTERRUPT_AFTER = 4000, 1000, 5
STREAM_FILES, STREAM_ROWS = 12, 400  # two micro-batches of at most 8 files
GAP_MS = 2000  # injected gaps are 5-60 s wide on a 250 ms grid
# the collector's row projection, as written by every backfill batch
WRITTEN = ("trade_id", "instrument_name", "timestamp", "price", "amount", "direction", "iv", "index_price")


class Ingest(Workload):
    """A seeded backfill with page gaps, duplicates and one interrupted
    then resumed run; forward-in-time page drops through the streaming
    dedup into a serving connector; read-back of the written tables."""

    def generate(self) -> None:
        self.start_ts = gen.EPOCH_2024_US // 1000 + 10 * 86_400_000
        self.end_ts = self.start_ts + BACKFILL_MS - 1
        self.drops = os.path.join(self.data, "drops")
        self.stream_ids = gen.stream_drops(self.run.seed, STREAM_FILES, STREAM_ROWS, self.drops)
        self.expected_ids = self._pages().expected_ids(self.start_ts, self.end_ts)
        ts = sorted(int(t.split("-", 1)[1]) for t in self.expected_ids)
        self.expected_gaps = sum(1 for a, b in zip(ts, ts[1:]) if b - a > GAP_MS)

    def _pages(self):
        return gen.gappy_pages(self.run.seed, "BTC", self.start_ts, self.end_ts, n_gaps=4)

    def setup(self) -> None:
        self.run.spark.read.parquet(self.drops).count()

    def expect(self) -> None:
        from gapless_deribit_clickhouse_spark.schema import SCHEMA_DIR, load_schema

        self.declared = declared = load_schema(f"{SCHEMA_DIR}/options_trades.yaml")
        # validate_table's expected report on a backfill table: every
        # declared column the collector does not write is missing
        # (partition columns excepted), and the batch token is extra
        self.want_drift = {
            ("MISSING", c) for c in declared.column_names
            if c not in WRITTEN and c not in declared.partition_by
        } | {("EXTRA", "batch_token")}

    def round(self, i: int) -> list:
        run = self.run
        out = os.path.join(run.work, f"round{i}")
        shutil.rmtree(out, ignore_errors=True)
        p = {k: os.path.join(out, k) for k in ("backfill", "ckpt", "served", "stream_ckpt")}
        return [
            run.plain_op("backfill", "sources", lambda: self._backfill(p)),
            run.plain_op("stream", "streaming", lambda: self._stream(p)),
            run.plain_op("readback", "validation", lambda: self._readback(p)),
        ]

    # each request returns the check to run once its clock has stopped
    def _backfill(self, p):
        from gapless_deribit_clickhouse_spark.exceptions import SourceError
        from gapless_deribit_clickhouse_spark.sources import collect_trades

        run, L = self.run, self.run.layers
        kw = dict(checkpoint_dir=p["ckpt"], batch_rows=BATCH_ROWS, page_size=PAGE_ROWS)
        first, second = self._pages(), self._pages()
        try:
            collect_trades(run.spark, first, self.start_ts, self.end_ts, p["backfill"], max_pages=INTERRUPT_AFTER, **kw)
            interrupted = False
        except SourceError:
            interrupted = True
        stats = collect_trades(run.spark, second, self.start_ts, self.end_ts, p["backfill"], **kw)
        L.count("sources.page_gen_s", first.gen_s + second.gen_s)
        L.count("sources.pages_fetched", stats["pages_fetched"])
        L.count("sources.batches_written", stats["batches_written"])
        L.count("sources.pagination_warnings", len(stats["pagination_warnings"]))
        written_first = (first.fetched // BATCH_ROWS) * BATCH_ROWS
        L.count("sources.resume_refetch_rows", first.fetched - written_first)

        def check():
            df = run.spark.read.parquet(p["backfill"])
            ids = [r[0] for r in df.select("trade_id").distinct().collect()]
            files = glob.glob(os.path.join(p["backfill"], "**", "*.parquet"), recursive=True)
            L.count("sinks.files_written", len(files))
            L.add("sinks.bytes_per_row", sum(os.path.getsize(f) for f in files) / len(self.expected_ids))
            # the resumed backfill must hold exactly the trades an
            # uninterrupted one would: every present grid trade, once
            ok = interrupted and set(ids) == self.expected_ids and len(ids) == len(self.expected_ids)
            return ok, f"interrupted={interrupted} unique={len(ids)} expected={len(self.expected_ids)}"

        return check

    def _stream(self, p):
        from gapless_deribit_clickhouse_spark.sinks.connector import write_stream_to_connector
        from gapless_deribit_clickhouse_spark.streaming.ingest import dedup_stream, read_trade_stream
        from pyspark.sql import types as T

        run, L = self.run, self.run.layers
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in ("trade_id", "instrument_name")]
            + [T.StructField("timestamp", T.TimestampType())]
            + [T.StructField(c, T.DoubleType()) for c in ("price", "amount")]
            + [T.StructField("direction", T.StringType())]
            + [T.StructField(c, T.DoubleType()) for c in ("iv", "index_price")]
        )
        q = write_stream_to_connector(
            dedup_stream(read_trade_stream(run.spark, self.drops, schema)),
            TimedConnector(p["served"], run),
            p["stream_ckpt"],
        )
        q.awaitTermination()
        progress = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
        rows_in = sum(pr["numInputRows"] for pr in progress)
        L.count("streaming.batches", len(progress))
        L.count("streaming.rows_in", rows_in)
        for pr in progress:
            L.add("streaming.batch_s", pr["durationMs"]["triggerExecution"] / 1000.0)
        if progress and progress[-1]["stateOperators"]:
            L.count("streaming.state_rows", progress[-1]["stateOperators"][0]["numRowsTotal"])

        def check():
            df = run.spark.read.parquet(p["served"])
            got = [r[0] for r in df.select("trade_id").collect()]
            L.count("streaming.rows_out", len(got))
            L.add("streaming.dup_drop_frac", (rows_in - len(got)) / max(1, rows_in))
            want = self.stream_ids
            ok = len(got) == len(set(got)) == len(want) and set(got) == want
            return ok, f"rows={len(got)} unique={len(set(got))} expected={len(want)}"

        return check

    def _readback(self, p):
        from gapless_deribit_clickhouse_spark.api import fetch_trades
        from gapless_deribit_clickhouse_spark.schema import validate_table
        from gapless_deribit_clickhouse_spark.validation import gap_analysis, quality_metrics

        run, L, tr = self.run, self.run.layers, self.run.tracer
        trades = run.spark.read.parquet(p["backfill"])
        day = time.strftime("%Y-%m-%d", time.gmtime(self.start_ts / 1000))
        with tr.span("api.fetch_trades"):
            t = time.perf_counter()
            recent = fetch_trades(trades, start=day, end=day, limit=1000).toPandas()
            L.add("api.fetch_trades_s", time.perf_counter() - t)
        with tr.span("validation.ingest_check"):
            t = time.perf_counter()
            qm = quality_metrics(trades).toPandas()
            gaps = gap_analysis(trades, threshold_hours=GAP_MS / 3_600_000).toPandas()
            L.add("validation.ingest_check_s", time.perf_counter() - t)
        with tr.span("schema.validate_table"):
            t = time.perf_counter()
            drifts = validate_table(run.spark, self.declared, trades)
            L.add("schema.validate_table_s", time.perf_counter() - t)

        def check():
            con = checks.duck({"trades": os.path.join(p["backfill"], "**", "*.parquet")})
            src = "SELECT DISTINCT * EXCLUDE (batch_token) FROM trades"
            want = checks.oracle_digest(con, checks.fetch_trades_sql({"start": day, "end": day, "limit": 1000}, src))
            ok_fetch = checks.digest(recent.drop(columns=["batch_token"])) == want
            ok_qm = int(qm["unique_ids"][0]) == len(self.expected_ids)
            ok_gaps = len(gaps) == self.expected_gaps
            ok_schema = {(d.kind.value, d.column) for d in drifts} == self.want_drift
            return ok_fetch and ok_qm and ok_gaps and ok_schema, (
                f"fetch={ok_fetch} quality={ok_qm} gaps={len(gaps)} schema={ok_schema}"
            )

        return check


class TimedConnector:
    """Parquet serving connector whose batch writes are timed; the
    streaming engine calls it back once per micro-batch."""

    def __init__(self, path: str, run):
        from gapless_deribit_clickhouse_spark.sinks.connector import ParquetServingConnector

        self.inner = ParquetServingConnector(path)
        self.run = run

    def ensure_table(self, schema) -> None:
        self.inner.ensure_table(schema)

    def write_batch(self, batch_df, batch_id: int) -> None:
        with self.run.tracer.span("sinks.write_batch"):
            t = time.perf_counter()
            self.inner.write_batch(batch_df, batch_id)
            self.run.layers.add("sinks.write_batch_s", time.perf_counter() - t)


class IngestCuration(Workload):
    """The write and curation paths in one client: each round ingests
    trades (backfill, stream, read-back), then curates documents
    (training set, indexed batch dedup)."""

    name = "ingest_curation"

    def __init__(self, run):
        super().__init__(run)
        self.parts = (Ingest(run), Curation(run))

    def generate(self) -> None:
        for part in self.parts:
            part.generate()

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def setup_once(self) -> None:
        for part in self.parts:
            part.setup_once()

    def expect(self) -> None:
        for part in self.parts:
            part.expect()

    def round(self, i: int) -> list:
        return [op for part in self.parts for op in part.round(i)]


WORKLOADS = {w.name: w for w in (Options, IngestCuration)}

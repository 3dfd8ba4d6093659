"""Streaming corpus ingest with persisted-index deduplication — the
steady-state 100 TB training-data pipeline as one Structured Streaming
query.

Batch round 6 built the persisted dedup index
(pipelines/text_dedup.py: ``build_dedup_index`` /
``incremental_dedup_indexed``): one corpus pass up front, then each
batch dedups against parquet artifacts without touching corpus text.
This module closes the loop for continuous arrival: a ``foreachBatch``
sink that (1) near-dedups the micro-batch against the index, (2) lands
the survivors exactly-once into a ``batch_id`` partition through
``ParquetServingConnector.write_batch`` (the dynamic-partition-
overwrite replay contract every parquet streaming sink here shares),
and (3) appends the survivors' index projections — so batch N+1
dedups against everything batch N kept.
Micro-batches execute serially, which is what makes step (3) a
correct cross-batch dedup barrier without any locking.

Replay semantics: if an epoch is replayed after a crash, the parquet
landing overwrites itself (exactly-once), while the index append may
duplicate rows — which ``append_dedup_index`` documents as
space-not-answers: consumers anti-join digests and ``distinct()`` the
candidate and loser sets, so duplicated index rows cannot change any
survivor set. The space-not-answers claim requires the index tables
to land in a fixed order (ADVICE r6): ``_write_index_tables`` writes
the digests projection LAST, so a crash mid-append leaves the batch
still visible to its replay (which re-appends bands/sets) instead of
anti-joined away with its LSH rows permanently missing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gapless_deribit_clickhouse_spark.core.barrier import BARRIER_STORAGE
from gapless_deribit_clickhouse_spark.pipelines.text_dedup import (
    append_dedup_index,
    incremental_dedup_indexed,
)
from gapless_deribit_clickhouse_spark.sinks.connector import ParquetServingConnector


def stream_dedup_ingest(
    stream: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Start the dedup-ingest query over a streaming documents source.

    Inside the sink, the survivor set is materialized with an EAGER
    ``localCheckpoint`` before anything is written: the dedup plan
    reads the index, so lazily re-evaluating it after step (3) would
    see the batch's own signatures and self-deduplicate the batch to
    nothing."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = incremental_dedup_indexed(
            batch_df, index_path, text_col, id_col
        ).localCheckpoint(eager=True, storageLevel=BARRIER_STORAGE)
        ParquetServingConnector(output_path).write_batch(kept, batch_id)
        append_dedup_index(kept, index_path, text_col, id_col)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

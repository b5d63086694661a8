"""foreachBatch sink: idempotent MERGE of each streaming micro-batch into a
keyed parquet table.

Structured Streaming's file sink is append-only; the reference's loaders
instead UPSERT into keyed warehouse tables (``loader_NeonDB.py`` ON
CONFLICT batches). The streaming analog is ``foreachBatch`` + the engine's
``merge_upsert``: every micro-batch is merged by key, so re-delivered
batches (at-least-once semantics after a restart) converge to the same
table instead of duplicating rows — the standard exactly-once-by-
idempotence pattern for non-transactional sinks.

At 100 TB the per-batch merge cost is bounded by |batch ∪ existing-matching
keys|; with a Delta/Iceberg sink the same function body becomes
``DeltaTable.merge`` (reference bronze: ``extractor_polymarket.py:208-213``)
and gains file-level pruning — the foreachBatch wiring is identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ra2_datalake_linaresjoan_spark.sources.upsert import merge_upsert


def stream_merge_sink(
    stream_df: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    output_mode: str = "update",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Write a (possibly aggregated) stream into a keyed parquet table via
    per-micro-batch MERGE. ``output_mode="update"`` pairs naturally with
    aggregations: each batch carries only refreshed keys, and the merge
    makes their application idempotent."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the emptiness check and the merge are two actions over the
        # batch: persisted, its stateful aggregation runs once
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                merge_upsert(batch_df.sparkSession, path, batch_df, keys, mode="upsert")
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Structured-Streaming ingest into a Zarr/MDIO store.

No reference analog (the reference is batch-only; its closest concept is the
incremental Variable::Write, variable.h:1127-1134) — this is the streaming
half of the write path: a ``writeStream.foreachBatch`` sink that lands each
micro-batch through the chunk-aligned distributed writer.

Correctness at the chunk level relies on two properties the batch writer
already has:

  * single-writer-per-chunk WITHIN a batch (groupBy chunk id), and
  * read-modify-write of existing chunks, so a batch that partially covers a
    chunk previously touched by an earlier batch preserves those cells.

foreachBatch serializes batches (one at a time per query), so cross-batch
chunk conflicts cannot race. Exactly-once lands on Spark's checkpointed
batch ids: a replayed batch rewrites the same cells with the same values
(idempotent upsert semantics).

Scale shape: each micro-batch pays one chunk-keyed shuffle — the streaming
cost model is the batch writer's, applied per trigger. Chunks that straddle
batch boundaries are RMW'd; align trigger sizes with chunk volume to keep
rewrites rare.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from mdio_cpp_spark.sources.writer import write_array

__all__ = ["stream_write_array"]


def stream_write_array(
    stream_df: DataFrame,
    root: str,
    var: str,
    checkpoint: str,
    value_cols: dict[str, str] | str = "value",
    available_now: bool = True,
    query_name: str = "mdio-ingest",
) -> Any:
    """Start a streaming query writing micro-batches into an existing array.

    ``stream_df`` must carry the array's dimension columns + value column(s)
    (same contract as ``write_array``). Returns the StreamingQuery; callers
    ``awaitTermination()`` (availableNow) or manage the trigger lifecycle.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_array(batch_df, root, var, value_cols=value_cols)

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Streaming vector ingest into an IVF layout.

The reference ingests vectors one synchronous HTTP POST at a time
(`reference: src/test.py:97-98` -> `src/compute_server.py:82-91`). The
Spark-native continuous form is a Structured Streaming sink: each
micro-batch goes through the batch write path itself,
``IVFIndex.write(batch, mode="append")``: shard-assigned with the index's
broadcast centroids, APPENDED to the partitioned parquet layout, and the
persisted recall curve invalidated (an append changes the corpus the curve
was measured on), with exactly-once progress via the checkpoint.

Scale notes: assignment is a narrow map (centroids broadcast); the only
wide step is the per-batch repartition by shard_id so each micro-batch adds
O(num_shards) files instead of O(input_partitions x num_shards). Compact
small files periodically (``IVFIndex.compact()``) if micro-batches are
tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from distributed_vector_database_spark.operators.ivf import IVFIndex

__all__ = ["stream_ingest", "stream_upsert", "stream_ingest_ivfpq"]


def stream_ingest(
    index: IVFIndex,
    stream_df: DataFrame,
    checkpoint_dir: str,
):
    """Start a streaming query appending ``stream_df`` into ``index.path``.

    Returns the StreamingQuery; call ``processAllAvailable()`` /
    ``stop()`` (or let it run). The index must be path-backed.
    """
    if index.path is None:
        raise ValueError("stream_ingest requires a path-backed IVFIndex")
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        index.write(batch_df, mode="append")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_ingest_ivfpq(
    index,
    stream_df: DataFrame,
    checkpoint_dir: str,
):
    """Continuous ingest into a persisted ``IVFPQIndex`` layout: each
    micro-batch is shard-assigned AND residual-PQ-encoded with the
    index's broadcast centroids/codebooks, then appended partition-wise —
    so ADC search over the layout stays current as data streams in.

    The codebooks are fixed at index build (the standard ANN-index
    contract: re-train + re-encode during maintenance windows if the data
    distribution drifts); encode is the same Arrow GEMM pass as the batch
    ``IVFPQIndex.write``, narrow per batch. The index must be
    path-backed. Returns the StreamingQuery.
    """
    if index.path is None:
        raise ValueError("stream_ingest_ivfpq requires a path-backed index")
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # route through append_batch so every micro-batch gets its own
        # generation — streamed rows then compose with the index's
        # generation-scoped delete bitmap (delete_ids/apply_changes)
        index.append_batch(batch_df)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_upsert(
    store,
    stream_df: DataFrame,
    checkpoint_dir: str,
):
    """Continuous UPSERT: append each micro-batch as one MoR delta batch.

    ``store`` is a ``sources.mor.MorStore``. Every micro-batch becomes one
    delta dir (O(|batch|) write, NO shuffle of the base), so the stream
    sustains small-batch upserts that an eager keep-latest merge
    (full base shuffle per batch) could not; ``store.read()`` serves the
    merged view at any time and ``store.compact()`` folds the accumulated
    deltas during maintenance windows — the streaming half of the
    merge-on-read story.

    Batch-id note: replayed micro-batches (checkpoint recovery) append a
    NEW delta with a higher batch id containing the same rows — keep-latest
    semantics make the replay idempotent for the merged view as long as a
    batch's internal rows are unique per id (enforce upstream or dedup in
    the batch function).

    Returns the StreamingQuery.
    """
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.append(batch_df)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

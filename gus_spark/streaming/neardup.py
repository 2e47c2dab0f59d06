"""Streaming near-duplicate detection: a document stream drained through
the incremental MinHash index, micro-batch by micro-batch.

This is the streaming form of the corpus-dedup problem a training-data
pipeline faces at ingest time: documents arrive continuously, and each
arriving batch must be checked against EVERYTHING seen so far — without
re-shingling the corpus. ``MinHashIndex.add_and_find`` already gives the
O(batch + collisions) incremental step (operators/dedup.py); this module
wires it to Structured Streaming with ``foreachBatch``, the standard
pattern for sinks whose write path is richer than an append (here: an
index mutation + a pair append).

Exactly-once story: Structured Streaming replays a micro-batch after a
crash between the sink write and the checkpoint commit. Every write the
batch performs is keyed by the batch id with overwrite semantics — the
index's band/shingle deltas (``add_and_find(batch_key=...)``) and the
pair output (a ``batch=<id>`` subdirectory of ``pairs_path``) — so a
replay overwrites its own earlier output instead of appending
duplicates; no marker/append atomicity window exists. The
``_batch-<id>.done`` marker is a cheap skip for already-finished
batches — CONTENT-FINGERPRINTED (streaming.markers, round 7): a skip
applies only to a replay of the same batch content, and a
stale-lineage marker (checkpoint lost while the source grew) raises
instead of silently skipping unprocessed data. Raising is required
here even though add_and_find is replay-idempotent per batch_key:
under a divergent lineage the same documents would land under
DIFFERENT batch keys than the stale index deltas hold, so "just
reprocess" would duplicate index rows across keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gus_spark.operators.dedup import MinHashIndex
from gus_spark.streaming import markers


def neardup_stream(
    docs_stream: DataFrame,
    index: MinHashIndex,
    pairs_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start draining ``docs_stream`` (columns: the index's id/text
    columns) through ``index``; near-dup pairs (doc_a, doc_b, jaccard)
    append to ``pairs_path`` as parquet. Returns the started query —
    callers ``processAllAvailable()``/``awaitTermination()`` it."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = index.add_and_find(batch_df, batch_key=f"batch-{batch_id}")
        # batch=<id> partition dir + overwrite = idempotent on replay;
        # a vanilla spark.read.parquet(pairs_path) still discovers it
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch={batch_id}")
        )

    return markers.start_marked(
        docs_stream, index.path, index.id_col, checkpoint_path, _process,
        skip_empty=True,
    )


def minhash_tombstone_stream(
    ids_stream: DataFrame,
    index: MinHashIndex,
    checkpoint_path: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Drain a stream of document IDS into ``index.delete`` — the
    fingerprint-removal path (data-removal compliance: band rows and
    shingle sets are content-derived and must go with the content;
    see MinHashIndex.delete for when NOT to delete). Mirrors
    posting_tombstone_stream / vector_tombstone_stream: markers in a
    DISJOINT namespace (``_tomb_markers`` — the add stream's markers
    sit directly under the index path, and an add batch 0 is not a
    delete batch 0), keys ``tombbatch-<i>``, replay-after-fold
    short-circuits on the marker before the folded-key guard raises.

    Single-writer discipline: never run concurrently with an add
    stream, another delete stream, or a maintain() over the same
    index."""
    marker_dir = os.path.join(index.path, "_tomb_markers")
    os.makedirs(marker_dir, exist_ok=True)
    return markers.start_marked(
        ids_stream, marker_dir, index.id_col, checkpoint_path,
        lambda df, i: index.delete(df, batch_key=f"tombbatch-{i}"),
        processing_time, skip_empty=True,
    )

"""Streaming embedding ingest into the persisted vector index: arriving
batches encode against the frozen quantizer and append their codes —
the similarity twin of streaming.neardup (documents → MinHashIndex).

Each micro-batch costs O(batch): the corpus codes are never read, and
encoding is deterministic against the frozen model, so a drained stream
produces an index bit-identical to batch ``add`` calls of the same rows
(asserted in tests). Replay protection: each micro-batch appends through
``index.add(batch_key=...)``, which writes the batch's codes to a delta
directory NAMED BY THE BATCH ID with overwrite semantics — a
crash-replay of the same batch id replaces its own earlier output
instead of duplicating code rows, so the append is idempotent without
any marker/append atomicity requirement. The done-marker is a cheap
skip for already-finished batches — content-fingerprinted
(streaming.markers): a stale-lineage marker raises instead of
silently skipping data delivered after a checkpoint loss.

Re-fit policy stays with the operator: watch ``index.stats()`` cell
skew and rebuild a fresh index when the corpus has drifted — a stream
must never silently re-fit (that would orphan every code row written
so far).

``vector_tombstone_stream`` is the delete twin (round 8): a stream of
vector IDS drains into ``index.delete`` — the retroactive-removal
path (curation re-flags already-indexed documents → their embeddings
must stop serving as neighbors), mirroring
streaming.postings.posting_tombstone_stream with the same disjoint
marker namespace (``_tomb_markers``) and replay-after-compaction
marker short-circuit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gus_spark.operators.vector_index import VectorIndex
from gus_spark.streaming import markers


def vector_index_stream(
    vec_stream: DataFrame,
    index: VectorIndex,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start draining ``vec_stream`` (the index's id/vector columns)
    into ``index``. The index must already be fitted — fitting needs a
    corpus sample, which a stream by definition doesn't have yet."""
    index._load_model()  # fail fast before any batch arrives
    return markers.start_marked(
        vec_stream, index.path, index.id_col, checkpoint_path,
        lambda df, i: index.add(df, batch_key=f"batch-{i}"),
        skip_empty=True,
    )


def vector_tombstone_stream(
    ids_stream: DataFrame,
    index: VectorIndex,
    checkpoint_path: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Drain a stream of vector IDS into ``index.delete``. Each
    micro-batch costs O(index ids + batch) — the codes table
    column-pruned to the id, never the code bytes or vectors.

    Same double-layer replay protection as the add stream, in a
    DISJOINT namespace: markers live under ``<path>/_tomb_markers``
    (the add stream's markers sit directly under the index path; an
    add batch 0 and a delete batch 0 are different batches, so sharing
    would cross-skip), and delete batch keys are ``tombbatch-<i>``. A
    replay after compaction short-circuits on the marker before the
    folded-key guard in ``delete`` raises.

    Single-writer discipline: never run concurrently with an add
    stream, another delete stream, or a compaction over the same
    index."""
    index._load_model()  # fail fast before any batch arrives
    marker_dir = os.path.join(index.path, "_tomb_markers")
    os.makedirs(marker_dir, exist_ok=True)
    return markers.start_marked(
        ids_stream, marker_dir, index.id_col, checkpoint_path,
        lambda df, i: index.delete(df, batch_key=f"tombbatch-{i}"),
        processing_time, skip_empty=True,
    )

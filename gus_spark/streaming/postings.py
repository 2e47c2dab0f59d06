"""Streaming document ingest into the live BM25 posting index — the
lexical twin of streaming.vectors (embeddings → VectorIndex) and
streaming.neardup (documents → MinHashIndex).

Each micro-batch costs O(batch): only the arriving documents are
tokenized; the corpus postings are never read. A drained stream
produces an index whose rankings are bit-identical to batch ``add``
calls of the same rows (and, transitively, to the ad-hoc ``bm25_topk``
over the full corpus — asserted in tests/test_posting_index.py).

Replay protection is the family double-layer: each batch appends
through ``index.add(batch_key=f"batch-{batch_id}")`` — a batch-keyed
delta directory with publish-if-changed overwrite semantics, so a
crash-replay republishes idempotently — plus the content-fingerprinted
done-marker (streaming.markers) as the cheap skip, which also protects
a REPLAY AFTER COMPACTION: once a compaction folds ``batch-<i>`` into
the base, ``index.add`` would refuse that key (double-count guard),
but the marker short-circuits the handler before add() runs, so
checkpoint-replays over a compacted index drain cleanly.

Compaction policy stays with the operator, like VectorIndex re-fit:
call ``index.maintain()`` between stream runs (or from a scheduler) —
a stream must never compact mid-drain, because a reader resolving the
manifest between the swap and the marker write would be fine, but the
single-writer assumption (one add OR one compact at a time) would not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gus_spark.operators.posting_index import PostingIndex
from gus_spark.streaming import markers


def posting_index_stream(
    docs_stream: DataFrame,
    index: PostingIndex,
    checkpoint_path: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start draining ``docs_stream`` (the index's id/text columns)
    into ``index``. The index must already be built — generation 0
    needs a starting corpus (possibly empty: ``build`` on a filtered
    empty frame is valid and every document then arrives as deltas).
    ``processing_time`` switches from the drain trigger (availableNow)
    to a live processing-time trigger — the pipeline's live mode."""
    id_col = index.id_col  # reads meta: fail fast before any batch
    return markers.start_marked(
        docs_stream, index.root, id_col, checkpoint_path,
        lambda df, i: index.add(df, batch_key=f"batch-{i}"),
        processing_time, skip_empty=True,
    )


def posting_tombstone_stream(
    ids_stream: DataFrame,
    index: PostingIndex,
    checkpoint_path: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Drain a stream of document IDS into ``index.delete`` — the
    retroactive-removal path (a NEW benchmark lands → fuzzy/exact
    decontamination re-flags already-indexed docs → the serving index
    must forget them). Each micro-batch costs O(batch + doclen tier).

    Same double-layer replay protection as the add stream, in a
    DISJOINT namespace: markers live under ``<root>/_tomb_markers``
    (an add stream's ``_batch-<i>.done`` and a delete stream's batch 0
    are different batches; sharing the root would cross-skip), and
    delete batch keys are ``tombbatch-<i>`` (``delete`` records folded
    keys separately from add keys, but the prefix keeps a human
    reading meta.json unconfused). A replay after compaction
    short-circuits on the marker before the folded-key guard raises —
    exactly the add stream's contract.

    Single-writer discipline: never run concurrently with an add
    stream, another delete stream, or a compaction over the same
    index — drains are sequential, like ``CurationPipelineStream``
    stages."""
    id_col = index.id_col  # reads meta: fail fast before any batch
    marker_dir = os.path.join(index.root, "_tomb_markers")
    os.makedirs(marker_dir, exist_ok=True)
    return markers.start_marked(
        ids_stream, marker_dir, id_col, checkpoint_path,
        lambda df, i: index.delete(df, batch_key=f"tombbatch-{i}"),
        processing_time, skip_empty=True,
    )

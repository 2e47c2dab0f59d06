"""Streaming corpus curation: the `curate_documents` pipeline applied
to a document stream, micro-batch by micro-batch.

The gates (quality, language, metrics, fingerprint) are the SAME column
expressions as the batch query — imported from queries.curation, so
batch and stream cannot drift — and they are stateless, so they fuse
into each micro-batch's scan exactly as in the batch plan. The one
stateful stage is exact dedup, which in a stream means "have I ever
seen this content fingerprint": that state is a persisted fp table (the
MinHashIndex pattern), maintained in ``foreachBatch`` by the
first-arrival key gate shared with url_dedup_stream
(`markers.keep_first_arrivals`) — each batch dedups within itself
(min doc_id per fp), anti-joins the fp table, and appends the
survivors + their fps.

Semantics: first-arrival-wins across batches (within a batch: lowest
doc_id). When documents arrive in doc_id order this equals the batch
query's global min-doc_id-per-fp result row-for-row; under out-of-order
arrival the kept representative may differ, but the curated CONTENT set
(the fps) is always identical — asserted in tests. State size is one
row per distinct fp, the same cardinality the batch dedup shuffles;
the anti-join prunes on the fp hash, so each batch touches O(batch)
index rows, not the corpus.

Crash-replay: per-batch done-markers make replayed batches no-ops —
fingerprinted ones (streaming.markers): the skip applies only when
the delivered batch's content matches what the marker recorded, and a
mismatch (checkpoint/state lineage divergence — the silent-data-loss
hazard a bare batch_id key had) raises with recovery guidance.

State safety: the state dir carries a ``layout.json`` version marker
(the meta.json discipline from streaming.decontaminate). Layout 1
(pre-round-6) = flat appended fp files; layout 2 = batch-keyed fp
partition dirs; layout 3 (current) = fingerprinted done-markers.
Resuming over an older layout fails with an explicit migration error
instead of a raw AnalysisException / a silent stale skip (ADVICE r6 +
round-7 review).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
from gus_spark.streaming import markers

_OUT_COLS = [
    "doc_id", "lang", "source", "n_tokens", "chars_per_word",
    "en_marker_hits", "content_fp", "split",
]

#: state layout generation: 3 = fingerprinted done-markers (round 7);
#: 2 = batch=<id> fp partition dirs with bare batch_id markers
#: (round 6); 1 (never written by a marker, inferred by absence) =
#: flat appended parquet fp files.
_STATE_LAYOUT = 3


def _check_state_layout(state_dir: str, fp_path: str) -> None:
    """Write/validate the layout marker. A state dir holding fps but
    no marker predates the batch-partitioned layout — reject loudly
    with migration guidance rather than letting the `batch` partition
    filter fail as an AnalysisException mid-stream."""
    marker = os.path.join(state_dir, "layout.json")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            found = json.load(fh).get("layout")
        if found != _STATE_LAYOUT:
            raise ValueError(
                f"curate_stream state layout {found} at {state_dir!r} "
                f"is incompatible with this version (layout "
                f"{_STATE_LAYOUT}); rebuild the state dir (layout 2's "
                "bare batch_id markers cannot be upgraded in place — "
                "they don't record what each batch contained)"
            )
        return
    if os.path.isdir(fp_path):
        raise ValueError(
            f"unversioned curate_stream state at {state_dir!r} (fps "
            "exist but no layout.json): this predates layout "
            f"{_STATE_LAYOUT}. Rebuild the state dir."
        )
    with open(marker, "w", encoding="utf-8") as fh:
        json.dump({"layout": _STATE_LAYOUT}, fh)


def curate_stream(
    docs_stream: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_path: str,
    include_text: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start curating ``docs_stream`` (documents schema); curated rows
    (the batch query's column set) append to ``out_path`` as parquet,
    seen-fingerprint state persists under ``state_dir``.
    ``include_text=True`` carries the document text through (the
    composed-pipeline case: downstream decontamination/chunking stages
    consume the curated stream and need the bytes).
    ``processing_time`` switches the trigger from the default drain
    (availableNow) to a LIVE micro-batch cadence (e.g. "1 second") —
    the query then runs until stopped; the marker/state machinery is
    trigger-agnostic (batch ids come from the checkpoint either way)."""
    os.makedirs(state_dir, exist_ok=True)
    fp_path = os.path.join(state_dir, "fps")
    _check_state_layout(state_dir, fp_path)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            profile_and_gate(batch_df)
            .withColumn(
                "split",
                F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
                .otherwise("train"),
            )
            .select(*_OUT_COLS, *(["text"] if include_text else []))
        )
        markers.keep_first_arrivals(
            batch_df, rows, "content_fp", "doc_id", fp_path, out_path,
            batch_id,
        )

    return markers.start_marked(
        docs_stream, state_dir, "doc_id", checkpoint_path, _process,
        processing_time,
    )

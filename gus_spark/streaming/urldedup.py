"""Streaming URL/snapshot-tier dedup: `operators.dedup.normalize_url`
/ first-arrival-wins applied to a document stream — the ingest-time
form of the dedup ladder's cheapest rung (r12; batch form
`dedup_by_url`). A crawl ingest sees the same page re-fetched under
spelling variants (scheme, www., tracking params…) across HOURS of
stream time; keying the gate on the canonical URL drops those before
any content hash is paid.

The curate_stream state recipe — the same first-arrival key gate,
`markers.keep_first_arrivals` — with the canonical URL as the
identity instead of the content fingerprint:

- normalization is the SAME pure-JVM expression as the batch operator
  (imported — batch and stream cannot drift) and fuses into each
  micro-batch's scan;
- the one stateful question is "have I ever served this canonical":
  a persisted canonical table under ``state_dir``, one row per
  canonical ever kept — the same cardinality the batch groupBy
  shuffles; each batch anti-joins it (O(batch) index rows touched,
  not the corpus);
- within a batch: lowest id per canonical wins; across batches:
  first arrival wins. Under id-ordered arrival this equals the batch
  operator's min-id representative row-for-row; out of order, the
  representative may differ but the canonical SET is always identical
  (the dedup_by_url key set) — asserted in tests.

Crash-replay: content-fingerprinted done-markers + batch-keyed
OVERWRITE publishes (streaming.markers, shared with curate_stream):
a replayed batch overwrites its own earlier output, its own
state partition is excluded from the anti-join (the ``exclude_key``
rule), and a stale-lineage marker raises instead of silently skipping
new data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gus_spark.operators.dedup import normalize_url
from gus_spark.streaming import markers

#: state layout generation (the curate_stream discipline:
#: fingerprinted done-markers + batch-keyed canonical partition
#: dirs). Bumped to 2 in r13: normalize_url's default changed
#: (content-routing query params KEPT), so a layout-1 state dir's
#: seen-canonical keys were computed under a DIFFERENT identity —
#: anti-joining new canonicals against them would silently miss
#: re-fetches; the version gate makes the rebuild loud instead.
_STATE_LAYOUT = 2


def _check_state_layout(state_dir: str, drop_query: bool) -> None:
    """Layout + normalization-identity gate: the marker records the
    ``drop_query`` knob too, because flipping it against existing
    state changes the canonical identity the same way a normalization
    change does (r13)."""
    marker = os.path.join(state_dir, "layout.json")
    want = {"layout": _STATE_LAYOUT, "drop_query": bool(drop_query)}
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            found = json.load(fh)
        if found.get("layout") != _STATE_LAYOUT:
            raise ValueError(
                f"url_dedup_stream state layout "
                f"{found.get('layout')} at {state_dir!r} is "
                f"incompatible with this version (layout "
                f"{_STATE_LAYOUT}; r13 changed the canonical "
                "identity itself — normalize_url keeps query "
                "params); rebuild the state dir"
            )
        if found.get("drop_query") != want["drop_query"]:
            raise ValueError(
                f"url_dedup_stream state at {state_dir!r} was built "
                f"with drop_query={found.get('drop_query')} but this "
                f"stream was configured with drop_query="
                f"{want['drop_query']} — the knob changes the "
                "canonical identity; rebuild the state dir or match "
                "the original setting"
            )
        return
    with open(marker, "w", encoding="utf-8") as fh:
        json.dump(want, fh)


def url_dedup_stream(
    docs_stream: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_path: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    drop_query: bool = False,
) -> StreamingQuery:
    """Start deduplicating ``docs_stream`` by canonical URL: survivors
    (the input columns + ``canonical_url``) append to ``out_path`` as
    batch-keyed parquet; the seen-canonical state persists under
    ``state_dir``. ``processing_time`` switches from the drain trigger
    (availableNow) to a live cadence, as everywhere in this package —
    the marker/state machinery is trigger-agnostic. ``drop_query``
    passes through to `normalize_url` (default keeps content-routing
    query params, r13 — a stream that folded watch?v=… variants
    would DELETE distinct documents); changing it against existing
    state changes the canonical identity — rebuild the state dir."""
    if "canonical_url" in docs_stream.columns:
        raise ValueError(
            "input already carries 'canonical_url' — this stage "
            "derives it from the url column; rename or drop it first"
        )
    os.makedirs(state_dir, exist_ok=True)
    _check_state_layout(state_dir, drop_query)
    seen_path = os.path.join(state_dir, "canonicals")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        canon = batch_df.withColumn(
            "canonical_url",
            normalize_url(F.col(url_col), drop_query=drop_query),
        )
        markers.keep_first_arrivals(
            batch_df, canon, "canonical_url", id_col, seen_path,
            out_path, batch_id,
        )

    return markers.start_marked(
        docs_stream, state_dir, id_col, checkpoint_path, _process,
        processing_time,
    )

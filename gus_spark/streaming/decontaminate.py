"""Streaming training-data decontamination: the eval-overlap gate
(operators.decontaminate) applied to a document stream.

Unlike streaming dedup/curation, contamination is a property of each
document against a STATIC benchmark suite — no cross-batch state is
needed. What the streaming form adds is amortization: the benchmark's
gram hashes are computed ONCE and persisted under ``state_dir``, and
every micro-batch then runs the same hash-gram equi-join + min_hits
count + anti-join the batch operator uses — both sides' gram hashing
goes through the operator's own `_gram_hashes`, so batch and stream
cannot drift.

State safety: the persisted gram table carries a ``meta.json``
({n, bench row count, bit-xor fingerprint of the gram hashes} — the
MinHashIndex pattern); every (re)start recomputes the fingerprint
from the CURRENT ``bench`` argument (one bench-side explode per
start, the exact cost the per-batch path amortizes away) and refuses
a state_dir whose grams were built from a different n or benchmark —
a silent mismatch would join fresh doc grams against stale bench
grams and wave contaminated documents through as clean.

Crash-replay: each micro-batch's clean rows are written to a
batch-keyed partition directory (``out_path/batch=<id>``) with
OVERWRITE semantics, so a crash between the write and the done-marker
replays idempotently — a plain append would duplicate the batch's
rows (the keyed-overwrite-delta pattern from streaming.vectors).
Readers see a ``batch`` partition column; select it away when
comparing against batch results.

Scale shape per batch: explode the BATCH's grams (O(batch tokens)),
join against the persisted gram table (an eval suite — thousands of
documents; AQE broadcasts it at runtime when it fits), count per
(doc, bench doc), anti-join. The pipeline executes ONCE per batch
(single write action; no pre-count/take probes).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gus_spark.operators.decontaminate import DEFAULT_N, _gram_hashes
from gus_spark.streaming import markers


def _bench_grams(
    bench: DataFrame, bench_id_col: str, bench_text_col: str, n: int
) -> DataFrame:
    """(bench_id, gram-hash) at per-benchmark-document granularity:
    min_hits applies PER BENCH DOC in the batch operator (>= k grams
    shared with a SINGLE eval example) — a global distinct-gram set
    would let two different eval examples each contribute one hit and
    wrongly reach min_hits=2. Delegates to the batch operator's
    _gram_hashes so the explode+hash expressions are literally shared
    (the no-drift guarantee, not just the same-looking code)."""
    return _gram_hashes(bench, bench_id_col, bench_text_col, n, "_bid")


def _fingerprint(grams: DataFrame) -> dict:
    row = grams.agg(
        F.count("*").alias("rows"),
        F.expr("bit_xor(_gh)").alias("fp"),
        F.expr("bit_xor(hash(_bid, _gh))").alias("fp_pairs"),
    ).first()
    return {
        "rows": row["rows"],
        "fp": int(row["fp"] or 0),
        "fp_pairs": int(row["fp_pairs"] or 0),
    }


def _bench_state_gate(
    state_dir: str, meta_file: str, meta: dict, write_state, what: str,
    knob: str,
) -> None:
    """The static-bench state gate both decontamination streams run at
    (re)start: a ``meta_file`` already in ``state_dir`` must equal the
    fingerprint of the CURRENT benchmark (else raise — a silent
    mismatch would pass contaminated documents as clean); a fresh dir
    gets ``write_state()`` first and the meta after, so a crash in
    between rebuilds instead of trusting half-written state."""
    meta_path = os.path.join(state_dir, meta_file)
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            stored = json.load(fh)
        if stored != meta:
            raise ValueError(
                f"state_dir {state_dir!r} holds {what} for "
                f"{stored}, but the current stream was configured with "
                f"{meta} — a silent mismatch would pass contaminated "
                "documents as clean. Use a fresh state_dir (or the "
                f"original {knob}/benchmark)."
            )
        return
    write_state()
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


def decontaminate_stream(
    docs_stream: DataFrame,
    bench: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_path: str,
    n: int = DEFAULT_N,
    min_hits: int = 1,
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    processing_time: str | None = None,
    pre=None,
) -> StreamingQuery:
    """Start decontaminating ``docs_stream`` (documents schema) against
    the static ``bench`` suite; clean rows land under
    ``out_path/batch=<id>`` as parquet, the benchmark gram-hash table
    persists under ``state_dir``. Raises ValueError when ``state_dir``
    holds grams built from a different n/benchmark.

    ``pre`` (r13): an optional per-trigger transform
    ``pre(batch_df, batch_id) -> DataFrame`` applied inside the
    micro-batch AFTER the replay-marker check — the hook the pipeline's
    cap gate rides so a RELOADED thresholds artifact takes effect on
    the next trigger (a gate composed into the streaming plan would be
    frozen at query start). The replay fingerprint is computed on the
    RAW batch, so a pre whose behavior changed between crash and
    replay (e.g. a refit gate) never trips the stale-lineage check —
    publish-if-changed already absorbs content drift."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    os.makedirs(state_dir, exist_ok=True)
    grams_path = os.path.join(state_dir, "bench_grams")
    # localCheckpoint: the fingerprint agg AND the (first-start)
    # parquet write both consume this frame — one explode, not two
    current = _bench_grams(
        bench, bench_id_col, bench_text_col, n
    ).localCheckpoint()
    _bench_state_gate(
        state_dir, "meta.json", {"n": n, **_fingerprint(current)},
        lambda: current.write.mode("overwrite").parquet(grams_path),
        "bench grams", "n",
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if pre is not None:
            batch_df = pre(batch_df, batch_id)
        spark = batch_df.sparkSession
        bench_grams = spark.read.parquet(grams_path)
        doc_grams = _gram_hashes(batch_df, "doc_id", "text", n, "_did")
        dirty = (
            doc_grams.join(bench_grams, "_gh")
            .groupBy("_did", "_bid")
            .agg(F.count("*").alias("_hits"))
            .filter(F.col("_hits") >= min_hits)
            .select("_did")
            .distinct()
        )
        clean = batch_df.join(
            dirty, batch_df["doc_id"] == F.col("_did"), "left_anti"
        )
        # publish-if-changed (markers.publish_batch): row-idempotent
        # AND file-idempotent under crash-replay — downstream file
        # sources must not see fresh part files for identical content.
        # coalesce guards the file budget if the anti-join ever falls
        # back from broadcast to a shuffled join (markers.batch_width)
        markers.publish_batch(
            clean.coalesce(markers.batch_width(batch_df)),
            os.path.join(out_path, f"batch={batch_id}"),
        )

    # the replay fingerprint is taken on the RAW batch, before ``pre``
    return markers.start_marked(
        docs_stream, state_dir, "doc_id", checkpoint_path, _process,
        processing_time,
    )


def fuzzy_decontaminate_stream(
    docs_stream: DataFrame,
    bench: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_path: str,
    threshold: float = 0.7,
    ngram: int = 1,
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    processing_time: str | None = None,
) -> StreamingQuery:
    """The FUZZY companion stream (operators.decontaminate.
    fuzzy_contamination applied per micro-batch): drop incoming
    documents that are near-duplicates of a benchmark example — the
    reformatted copies the exact gram gate waves through.

    Same contract shape as `decontaminate_stream`: the benchmark side
    is static, so its MinHash BAND table and exact-verification
    SHINGLE-HASH SETS are computed once, persisted under ``state_dir``
    and fingerprint-validated on every (re)start (a silent
    ngram/benchmark mismatch would verify fresh docs against stale
    sets and pass contaminated documents as clean). Per micro-batch:
    the batch's signatures band and equi-join the persisted bench
    bands (never all-pairs), collided pairs verify by exact Jaccard
    over the persisted sets, and hits anti-join away — O(batch +
    collisions) work per batch. ``threshold`` applies at VERIFY time,
    so the same state_dir serves any threshold; ``ngram`` is baked
    into the state and checked. Crash-replay follows the family
    pattern: fingerprinted markers + publish-if-changed batch deltas.
    """
    from gus_spark.operators.dedup import (
        _bands_of,
        _shingle_sets,
    )

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    os.makedirs(state_dir, exist_ok=True)
    bands_path = os.path.join(state_dir, "bench_bands")
    sets_path = os.path.join(state_dir, "bench_sets")
    bench_nn = bench.filter(F.col(bench_text_col).isNotNull())
    cur_bands = _bands_of(
        bench_nn, bench_id_col, bench_text_col, ngram
    ).withColumnRenamed(bench_id_col, "_bid").localCheckpoint()
    cur_sets = (
        _shingle_sets(bench_nn, bench_id_col, bench_text_col, ngram)
        .select(F.col(bench_id_col).alias("_bid"), F.col("ts").alias("_bts"))
        .localCheckpoint()
    )
    fp_row = cur_bands.agg(
        F.count("*").alias("rows"),
        F.expr("bit_xor(hash(_bid, band_id, band_hash))").alias("fp"),
    ).first()
    sets_row = cur_sets.agg(
        F.expr("bit_xor(hash(_bid, _bts))").alias("fp")
    ).first()
    meta = {
        "ngram": ngram,
        "rows": fp_row["rows"],
        "fp_bands": int(fp_row["fp"] or 0),
        "fp_sets": int(sets_row["fp"] or 0),
    }

    def _write_state() -> None:
        cur_bands.write.mode("overwrite").parquet(bands_path)
        cur_sets.write.mode("overwrite").parquet(sets_path)

    _bench_state_gate(
        state_dir, "fuzzy_meta.json", meta, _write_state,
        "fuzzy bench state", "ngram",
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bench_bands = spark.read.parquet(bands_path)
        bench_sets = spark.read.parquet(sets_path)
        batch_nn = batch_df.filter(F.col("text").isNotNull())
        doc_bands = _bands_of(
            batch_nn, "doc_id", "text", ngram
        ).withColumnRenamed("doc_id", "_did")
        candidates = (
            doc_bands.join(bench_bands, ["band_id", "band_hash"])
            .select("_did", "_bid")
            .distinct()
        )
        doc_sets = _shingle_sets(
            batch_nn, "doc_id", "text", ngram
        ).select(F.col("doc_id").alias("_did"), F.col("ts").alias("_dts"))
        inter = F.size(F.array_intersect(F.col("_dts"), F.col("_bts")))
        union = F.size(F.col("_dts")) + F.size(F.col("_bts")) - inter
        dirty = (
            candidates.join(doc_sets, "_did")
            .join(bench_sets, "_bid")
            .filter((inter.cast("double") / union) >= threshold)
            .select("_did")
            .distinct()
        )
        clean = batch_df.join(
            dirty, batch_df["doc_id"] == F.col("_did"), "left_anti"
        )
        markers.publish_batch(
            clean.coalesce(markers.batch_width(batch_df)),
            os.path.join(out_path, f"batch={batch_id}"),
        )

    return markers.start_marked(
        docs_stream, state_dir, "doc_id", checkpoint_path, _process,
        processing_time,
    )

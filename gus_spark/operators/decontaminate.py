"""Training-data decontamination: n-gram overlap against an eval set.

The pipeline step the public LLM reports describe (GPT-3 appendix C,
PaLM, Llama: "remove training documents sharing a 13-gram with any
benchmark example"): before training, every corpus document is checked
for verbatim token n-gram overlap with the held-out evaluation suites,
and overlapping documents are dropped (or flagged for audit).

Scale shape (the 100-TB path):
- Both sides explode to distinct token n-grams — pure map work, one
  row per distinct gram. Grams are joined by their xxhash64 (8-byte
  shuffle keys instead of ~100-byte strings; a 64-bit collision
  altering a pair's count has probability ~k²/2⁶⁴ ≈ 1e-12 at k=10⁴
  grams — the same accepted-risk class as the LSH escape bound).
- The benchmark side is an eval suite — thousands of documents, not
  the corpus — so the joined gram set is small; no broadcast is
  forced (AQE broadcasts it at runtime when it fits, and a genuinely
  huge benchmark degrades to a uniform-key shuffle equi-join, never a
  cross product).
- Aggregation is a count per (doc, bench) pair with map-side partials;
  `decontaminate` then needs only a semi/anti join on the doc id.

Documents shorter than ``n`` tokens contribute their WHOLE token
sequence as a single gram (never individual tokens — a stray "the"
must not contaminate), matching the whole-example hashing the reports
use for short benchmark items.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize

from gus_spark.operators.util import ensure_parallelism

DEFAULT_N = 13  # the public reports' standard overlap width


def token_ngrams(text: Column, n: int = DEFAULT_N) -> Column:
    """Distinct space-joined token n-grams of ``text``; the whole
    token sequence when the document has fewer than ``n`` tokens."""
    ws = tokenize(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(ws) >= n, grams).otherwise(
            F.array(F.array_join(ws, " "))
        )
    )


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(token_ngrams(F.col(text_col), n)).alias("_gram"),
    ).select(out_id, F.xxhash64("_gram").alias("_gh"))


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, bench_id, shared_ngrams) for every corpus/benchmark
    document pair sharing >= ``min_hits`` distinct token n-grams."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    d = _gram_hashes(ensure_parallelism(docs), id_col, text_col, n, "doc_id")
    b = _gram_hashes(bench, bench_id_col, bench_text_col, n, "bench_id")
    return (
        d.join(b, "_gh")
        .groupBy("doc_id", "bench_id")
        # grams are array_distinct'd per document before the explode,
        # so plain COUNT(*) of joined rows IS the distinct-gram count
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_hits)
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    min_hits: int = 1,
) -> DataFrame:
    """``docs`` minus every document contaminated by ``bench`` — the
    anti-join a training pipeline applies before tokenization."""
    dirty = ngram_contamination(
        docs, bench, id_col, text_col, bench_id_col, bench_text_col,
        n, min_hits,
    ).select(F.col("doc_id").alias("_dirty_id")).distinct()
    return docs.join(
        dirty, docs[id_col] == F.col("_dirty_id"), "left_anti"
    )


def fuzzy_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    threshold: float = 0.7,
    ngram: int = 1,
) -> DataFrame:
    """(doc_id, bench_id, jaccard): corpus documents that are NEAR
    DUPLICATES of a benchmark example — the contamination that exact
    n-gram overlap misses. A reformatted copy of an eval item (token
    edited every few words, punctuation normalized, casing shifted)
    breaks EVERY verbatim 13-gram while keeping small-shingle Jaccard
    high; this is the documented weakness of the GPT-3-style exact
    check and the reason fuzzy passes exist in practice.

    Calibrate (n, threshold) from the edit density you must catch: a
    copy with every k-th token replaced keeps n-gram-shingle Jaccard
    ≈ (k−n)/(k+n) (each edit kills n windows per side), and the
    family's 32×4 banding only recalls reliably at J ≥ 0.61 — so
    catching every-8th-token edits NEEDS n ≤ 2 regardless of
    threshold (n=3 puts the copy at J ≈ 0.41, where band recall is
    ~0.6 and the verify threshold can't help). The defaults
    (n=1, threshold=0.7) catch that case with margin (J ≈ 0.78,
    asserted at defaults in tests/test_decontaminate.py). Raise n on
    corpora whose UNIGRAM sets are degenerate (tiny shared
    vocabulary, e.g. this repo's synthetic testdata where every doc
    draws from ~31 words): there, unigram banding buckets everything
    together and the candidate join degrades toward all-pairs — the
    SCALING row uses ngram=3 on that corpus for exactly this reason.

    Mechanics: the dedup family's MinHash machinery (operators/dedup:
    same v3 signatures, same 32x4 banding, same exact-Jaccard
    verification over 64-bit shingle-hash sets) applied CROSS-CORPUS —
    docs bands equi-join bench bands instead of self-joining, so the
    cost is O(corpus + bench + collisions), and the bench side is
    eval-suite-sized (AQE broadcasts it at runtime; no forced hint).
    Collision/escape bounds are the family's: P(band collide) > 0.99
    at J >= 0.61, escape ~5e-8 at a 0.8 verify threshold.
    """
    from gus_spark.operators.dedup import (
        _bands_of,
        _shingle_sets,
    )

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    docs = ensure_parallelism(docs)
    d_bands = _bands_of(
        docs, id_col, text_col, ngram
    ).withColumnRenamed(id_col, "_did")
    b_bands = _bands_of(
        bench, bench_id_col, bench_text_col, ngram
    ).withColumnRenamed(bench_id_col, "_bid")
    candidates = (
        d_bands.join(b_bands, ["band_id", "band_hash"])
        .select("_did", "_bid")
        .distinct()
    )
    d_sets = _shingle_sets(docs, id_col, text_col, ngram).select(
        F.col(id_col).alias("_did"), F.col("ts").alias("_dts")
    )
    b_sets = _shingle_sets(
        bench, bench_id_col, bench_text_col, ngram
    ).select(F.col(bench_id_col).alias("_bid"), F.col("ts").alias("_bts"))
    inter = F.size(F.array_intersect(F.col("_dts"), F.col("_bts")))
    union = F.size(F.col("_dts")) + F.size(F.col("_bts")) - inter
    return (
        candidates.join(d_sets, "_did")
        .join(b_sets, "_bid")
        .select(
            F.col("_did").alias("doc_id"),
            F.col("_bid").alias("bench_id"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def calibrate_fuzzy_ngram(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    max_ngram: int = 3,
    collision_budget: float = 0.01,
    sample: int | None = None,
    threshold: float = 0.7,
    flag_tolerance: float = 0.1,
    max_sample: int = 2048,
) -> int:
    """The corpus-vocabulary guard for `fuzzy_contamination`: pick the
    smallest shingle width ``n`` whose BACKGROUND band-collision
    probability stays within ``collision_budget`` AND whose expected
    STRAY FLAGS per corpus document — background match rate (unrelated
    pairs whose true shingle Jaccard already clears the verification
    ``threshold``) times |bench| — stays within ``flag_tolerance``.
    Smallest because every +1 in n lowers the Jaccard of a true
    reformatted copy (J ≈ (k−n)/(k+n) under every-k-th-token edits),
    so the least n that keeps both failure modes sane catches the
    most contamination.

    Why a guard is needed at all: on a corpus whose token vocabulary
    is tiny relative to document length (this repo's synthetic
    testdata: ~31 words), UNRELATED documents share most of their
    unigram set, every pair band-collides, and the candidate join
    degrades toward all-pairs — the one failure mode of the n=1
    default, invisible until the shuffle explodes at scale.

    Why the SECOND criterion (r10 — found by the sf1/sf10 pipeline
    decades): a mean-based collision check misses BIMODAL
    backgrounds. The word-salted scale-up corpus is disjoint
    vocabulary pools; cross-pool pairs have J = 0 and same-pool pairs
    J ≈ 0.8, so the mean ĵ sails under the collision budget at n=1 —
    yet the same-pool pairs don't just collide in the candidate join,
    they genuinely EXCEED the verification threshold on unigram sets,
    and fuzzy decontamination mass-drops unrelated documents (half
    the corpus at both salted decades before this fix). And the
    criterion must be |bench|-AWARE, not a fixed per-pair budget: a
    doc is falsely dropped if it matches ANY of |bench| items, so the
    tolerable background match rate shrinks as the eval suite grows
    (sf10's 1-in-100-pool rate looked tiny per pair yet gave every
    doc ~250 chances). The contract enforced here is the one that
    matters to the user: expected stray drops per corpus document
    <= ``flag_tolerance``.

    Estimate: two deterministic samples (lowest xxhash64 of the id —
    no RNG, stable across runs/partitionings), sized so one observed
    background match sits at ~flag_tolerance/3 — i.e. sample ≈
    sqrt(3·|bench|/flag_tolerance), clamped to [64, ``max_sample``]
    (pass ``sample`` to override). Cross-pair shingle Jaccard at each
    n → the mean feeds the family's banding curve p = 1 − (1 − ĵ^r)^b
    (NUM_BANDS × ROWS_PER_BAND); the per-pair indicator J >= threshold
    feeds the stray-flag estimate m̂·|bench|. The first n passing both
    wins; ``max_ngram`` is the fallback. A handful of GENUINELY
    contaminated pairs inside the sample² grid stays far under the
    tolerance (each true copy matches ~1 bench item, so its
    contribution to m̂·|bench| is ~its corpus share, not ~|bench|);
    dense background structure exceeds it by orders of magnitude.
    Cost: ≤ max_ngram jobs over sample² pairs (≤ 4.2M intersections
    at the cap) plus one count(bench) — corpus-size independent, so
    the guard stays cheap at 100 TB. ``collision_budget`` is PER
    (doc, bench) PAIR: expected extra CANDIDATES per corpus document
    ≈ budget × |bench| (stray candidates cost a verify row; stray
    FLAGS cost a document — hence the separate, tighter flag
    contract). Natural corpora (background unigram J ≈ 0.1 from
    stopwords → p ≈ 0.003, match rate ~0) still calibrate to the
    standard n=1. Keep ``threshold`` in sync with the
    `decontaminate_fuzzy` call the result feeds (both default 0.7)."""
    from gus_spark.operators.dedup import (
        NUM_BANDS,
        ROWS_PER_BAND,
        _shingle_sets,
    )

    if max_ngram < 1:
        raise ValueError(f"max_ngram must be >= 1, got {max_ngram}")
    import math

    bench_total = bench.filter(
        F.col(bench_text_col).isNotNull()
    ).count()
    if sample is None:
        # detection floor: one observed match over sample² pairs must
        # correspond to <= ~flag_tolerance/3 expected stray flags
        sample = max(
            64,
            min(
                max_sample,
                math.ceil(
                    math.sqrt(3.0 * max(bench_total, 1) / flag_tolerance)
                ),
            ),
        )
    d_s = (
        docs.filter(F.col(text_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample)
        .localCheckpoint()
    )
    b_s = (
        bench.filter(F.col(bench_text_col).isNotNull())
        .orderBy(F.xxhash64(F.col(bench_id_col)))
        .limit(sample)
        .localCheckpoint()
    )
    for n in range(1, max_ngram + 1):
        ds = _shingle_sets(d_s, id_col, text_col, n).select(
            F.col("ts").alias("_dts")
        )
        bs = _shingle_sets(
            b_s, bench_id_col, bench_text_col, n
        ).select(F.col("ts").alias("_bts"))
        inter = F.size(F.array_intersect(F.col("_dts"), F.col("_bts")))
        union = F.size("_dts") + F.size("_bts") - inter
        jpair = F.when(
            union > 0, inter.cast("double") / union
        ).otherwise(F.lit(0.0))
        row = ds.crossJoin(bs).agg(
            F.avg(jpair).alias("j"),
            F.avg(
                F.when(jpair >= threshold, 1.0).otherwise(0.0)
            ).alias("m"),
        ).first()
        jbar = float(row["j"] or 0.0)
        mrate = float(row["m"] or 0.0)
        p = 1.0 - (1.0 - jbar**ROWS_PER_BAND) ** NUM_BANDS
        stray_flags_per_doc = mrate * bench_total
        if p <= collision_budget and stray_flags_per_doc <= flag_tolerance:
            return n
    return max_ngram


def decontaminate_fuzzy(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    threshold: float = 0.7,
    ngram: int = 1,
) -> DataFrame:
    """``docs`` minus every near-duplicate of a benchmark example — the
    fuzzy companion of `decontaminate` (run BOTH in a real pipeline:
    exact catches verbatim excerpts inside long documents, which
    whole-document Jaccard dilutes below any threshold; fuzzy catches
    reformatted whole-item copies, which verbatim n-grams miss). See
    `fuzzy_contamination` for the (n, threshold) calibration rule."""
    dirty = (
        fuzzy_contamination(
            docs, bench, id_col, text_col, bench_id_col, bench_text_col,
            threshold, ngram,
        )
        .select(F.col("doc_id").alias("_dirty_id"))
        .distinct()
    )
    return docs.join(
        dirty, docs[id_col] == F.col("_dirty_id"), "left_anti"
    )


def decontaminate_index(
    index,
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    min_hits: int = 1,
    fuzzy_ngram: int | None = None,
    fuzzy_threshold: float = 0.7,
    batch_key: str | None = None,
) -> int:
    """RETROACTIVE decontamination of a serving index: a new
    benchmark lands AFTER documents were indexed, so the curation
    gates never saw it — run the exact 13-gram gate (and optionally
    the fuzzy MinHash gate) over the indexed corpus against ``bench``
    and tombstone every flagged id in ``index`` — any index exposing
    the ``delete(ids_df, batch_key=...)`` replay contract:
    posting_index.PostingIndex, or vector_index.VectorIndex when its
    ``id_col`` names the same document ids (pass a corpus whose id
    column matches the index's). Returns the number of documents
    newly tombstoned.

    ``corpus`` is the same document set the index holds (the
    pipeline's final tier on disk — the index stores postings, not
    text, so the caller names the text source; ids absent from the
    index are ignored by ``delete``, so a superset corpus is safe).

    Idempotent by construction: the delete's ``batch_key`` defaults to
    ``decon-<every gate parameter>-<benchmark CONTENT fingerprint>``
    (ids AND texts — a corrected benchmark text is a different
    benchmark) — the crash-replay / re-run of the SAME benchmark under
    the SAME gates short-circuits on the manifest, while a grown or
    edited benchmark, or changed n/min_hits/fuzzy settings, produces a
    new key whose delete only tombstones the not-yet-dead ids (overlap
    never double-subtracts). After a compaction folds the key,
    re-running the identical (benchmark, gates) raises (the folded-key
    guard) — pass an explicit ``batch_key`` to override.

    Scale shape: one contamination equi-join per gate (hash-gram /
    MinHash-band — the decontaminate/fuzzy operators unchanged), one
    distinct-id projection, then ``delete``'s doclen-tier join. The
    fuzzy gate's vocabulary caveat applies (see
    ``calibrate_fuzzy_ngram``)."""
    flagged = ngram_contamination(
        corpus, bench, id_col, text_col, bench_id_col, bench_text_col,
        n=n, min_hits=min_hits,
    ).select(F.col("doc_id").alias(id_col)).distinct()
    if fuzzy_ngram is not None:
        fz = fuzzy_contamination(
            corpus, bench, id_col, text_col, bench_id_col,
            bench_text_col, threshold=fuzzy_threshold,
            ngram=fuzzy_ngram,
        ).select(F.col("doc_id").alias(id_col)).distinct()
        flagged = flagged.unionByName(fz).distinct()
    if batch_key is None:
        # CONTENT fingerprint over (id, text) — not ids alone: an
        # edited benchmark text must produce a new key, or the re-run
        # would short-circuit on the manifest and silently skip the
        # newly-flagged docs (round-8 review fix). Order-independent:
        # count + bit-xor of the row hash.
        row = (
            bench.select(
                F.xxhash64(
                    F.col(bench_id_col).cast("string"),
                    F.col(bench_text_col),
                ).alias("_h")
            )
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(_h)").alias("x"),
            )
            .first()
        )
        x = (row["x"] or 0) & ((1 << 64) - 1)  # bit_xor of 0 rows: NULL
        batch_key = (
            f"decon-{n}-{min_hits}-{fuzzy_ngram}-{fuzzy_threshold!r}"
            f"-{row['n']}-{x:016x}"
        )
    return index.delete(flagged, batch_key=batch_key)

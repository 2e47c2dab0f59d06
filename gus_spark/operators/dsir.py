"""DSIR-style importance resampling for training-data selection.

Given a small TARGET sample (the distribution you want more of — a
quality corpus, a domain, a language) and the big RAW crawl, Data
Selection via Importance Resampling (Xie et al. 2023, NeurIPS —
"Data Selection for Language Models via Importance Resampling")
selects raw documents with probability proportional to an importance
weight estimated from bag-of-n-gram language models:

    log w(doc) = sum over doc features f of
                 c_doc(f) * [ log p_target(f) - log p_raw(f) ]

with add-1-smoothed unigram models, then samples WITHOUT replacement
via the Gumbel-top-k trick (key = log w / T + Gumbel noise; the top-k
keys ARE a without-replacement sample proportional to w^(1/T)).

Two tiers, same contract as the dedup family:

- **Exact token tier** (the oracle-checked catalog probe,
  `dsir_select_documents`): features are the token STRINGS. One
  explode + one token-keyed aggregation fits BOTH models in a single
  pass (conditional count vs total count per token); a 1-row totals
  aggregate broadcast onto the vocabulary yields per-token log ratios;
  scoring is explode + token join + doc-keyed sum; selection is a
  TakeOrderedAndProject top-k. Shuffles are keyed by token (vocabulary-
  bounded) and doc — never all-pairs, never collected.
- **Hashed feature tier** (the 100-TB path, `hashed_logratios` +
  `hashed_scores`): features are xxhash64(token) % B buckets, so the
  model is a FIXED B-dim int64 vector independent of vocabulary
  growth. B defaults to `auto_buckets` — derived from an
  approx_count_distinct vocabulary estimate so the expected collision
  PAIR count stays ~constant as the corpus grows (round 7's fixed
  B=2^16 default measured 0.55 exact-tier agreement at sf10;
  tools/dsir_grade.py). The fit is one bucket-keyed aggregation with <= B output
  rows; the driver holds only the B-dim vector (8*B bytes — 512 KiB at
  B=2^16), exactly the IVF-centroid precedent; scoring is a pure
  per-row Arrow kernel (`mapInPandas`) over JVM-computed bucket
  arrays — ZERO shuffles (plan-asserted in tests/test_dsir.py). This
  is the paper's own construction (they use hashed n-grams for the
  same reason: the model must not scale with the crawl).

Determinism contract (the catalog probe hash-matches a DuckDB twin):
every per-token log-ratio and every per-doc Gumbel key is quantized
to 1e-6 FIXED POINT (floor(x * 1e6 + 0.5) as int64) immediately after
the one transcendental expression that produces it, so all downstream
sums and comparisons are exact int64 arithmetic — order-free and
engine-free. The residual risk is a log() differing across libm
implementations by an ulp exactly at a quantization boundary:
~1e-9 per quantized value, the same accepted escape class as the
minhash family's 5e-8. The Gumbel uniform comes from the first 16
bits of md5('dsir:' || doc_id) — the mixture sampler's
deterministic-cut primitive (operators/mixing.py), salted so the two
samplers stay independent in a composed pipeline — so selection is
reproducible across engines, runs, and partitionings; temperature 0
degenerates to pure top-k by score with doc-id tiebreak.

Reference surface: the reference engine has no data-selection path at
all (it is a CRUD webserver; reference: src/lib.rs) — this module is
part of the training-data layer SURVEY.md §2.3 requires beyond it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.deterministic import FP_LOG as _FP
from gus_spark.functions.deterministic import fp_quantize as _fp
from gus_spark.functions.tokenize import tokenize

#: resolution of the Gumbel uniform: first 16 bits of md5(id).
_CUT_BITS = 65536.0

#: hashed-tier guard: the driver/executor cost is 8*B bytes per task
#: closure; 2^24 = 128 MiB is already past any sensible model size.
_MAX_BUCKETS = 1 << 24


def _tokens(df: DataFrame, is_target: Column | None, id_col: str,
            text_col: str, *carry: str) -> DataFrame:
    """One row per token OCCURRENCE (multiplicity kept — the model and
    the scores both count occurrences, not distinct types). is_target
    is only materialized for the fit path; scoring passes None."""
    flag = [is_target.alias("_t")] if is_target is not None else []
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        *flag,
        *carry,
        F.explode(tokenize(F.col(text_col))).alias("w"),
    )


def token_logratios(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(w, n_target, n_raw, llr_fp): both add-1-smoothed unigram models
    fit in ONE token-keyed aggregation (the target is a subset of the
    raw corpus, so one conditional count serves both), then the 1-row
    totals broadcast onto the vocabulary.

    llr(w) = ln((n_target(w)+1) / (N_target+V))
           - ln((n_raw(w)+1) / (N_raw+V))
    quantized to 1e-6 fixed point (int64) so doc scores are exact
    order-free sums."""
    toks = _tokens(df, is_target, id_col, text_col)
    model = toks.groupBy("w").agg(
        F.count(F.when(F.col("_t"), 1)).alias("n_target"),
        F.count("*").alias("n_raw"),
    )
    totals = model.agg(
        F.sum("n_target").alias("nt"),
        F.sum("n_raw").alias("nr"),
        F.count("*").alias("v"),
    )
    llr = F.log(
        (F.col("n_target") + 1).cast("double")
        / (F.col("nt") + F.col("v")).cast("double")
    ) - F.log(
        (F.col("n_raw") + 1).cast("double")
        / (F.col("nr") + F.col("v")).cast("double")
    )
    return (
        model.crossJoin(F.broadcast(totals))
        .select("w", "n_target", "n_raw", _fp(llr).alias("llr_fp"))
    )


def importance_scores(
    df: DataFrame,
    logratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id_col, *carry_cols, n_tokens, score_fp): per-doc importance
    log-weight as the exact int64 sum of per-occurrence quantized log
    ratios. Scoring is target-agnostic — the target lives in the
    MODEL, so no is_target here. Inner join is lossless here because
    the model was fit on the same corpus (every token is in the
    vocabulary); a model fit elsewhere should LEFT-join and coalesce
    llr_fp to the unseen-token smoothing value instead.

    The model side carries an explicit broadcast hint (r13, guide
    §3.1): unhinted, the static planner estimated the exploded corpus
    token stream as the SMALLER side and built the broadcast hash
    relation over it (measured in the r13 before-plan:
    BroadcastExchange over Generate(explode(text)) of the full scan) —
    the one side of this join that grows with the corpus. The log-ratio
    model is vocabulary-bounded (one row per distinct token), which is
    the side a 100-TB run can actually hold; join values are identical
    either way (same inner equi-join on w)."""
    toks = _tokens(df, None, id_col, text_col, *carry_cols)
    return (
        toks.join(F.broadcast(logratios.select("w", "llr_fp")), "w")
        .groupBy(F.col("_id").alias(id_col), *carry_cols)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("llr_fp").alias("score_fp"),
        )
    )


def gumbel_key_fp(
    score_fp: Column, id_col: Column, temperature: float = 1.0
) -> Column:
    """score_fp + floor(T * Gumbel * 1e6 + 0.5): the Gumbel-top-k key in
    the same 1e-6 log fixed point as the score. The uniform is
    (first-16-md5-bits + 0.5) / 65536 — deterministic per id, never 0
    or 1, so the double log never overflows. Multiplying the NOISE by T
    instead of dividing the score preserves the argsort of
    score/T + Gumbel while keeping the score term exactly integer.
    temperature 0 switches the sampler off: pure top-k by score.

    The md5 input is SALTED with a 'dsir:' prefix so this uniform is
    decorrelated from the mixture sampler's md5(id) fractional cut
    (operators/mixing.py): in a composed pipeline the same low
    md5-16-bit docs would otherwise systematically receive the extra
    mixture epoch AND the lowest Gumbel noise, biasing the joint
    sample — Gumbel-top-k's w^(1/T) guarantee needs noise independent
    of other selection stages."""
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    if temperature == 0:
        return score_fp
    u16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsir:"), id_col.cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("double")
    u = (u16 + F.lit(0.5)) / F.lit(_CUT_BITS)
    return score_fp + _fp(F.lit(float(temperature)) * -F.log(-F.log(u)))


def dsir_select(
    df: DataFrame,
    is_target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    temperature: float = 1.0,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The composed exact tier: fit both models on `df` with `is_target`
    marking the target sample, score every doc, Gumbel-top-k select k
    of them. Returns (id, *carry, n_tokens, score_fp, key_fp) ordered
    by (key_fp desc, id) — a deterministic without-replacement sample
    proportional to w^(1/T)."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    lr = token_logratios(df, is_target, id_col, text_col)
    scored = importance_scores(df, lr, id_col, text_col, carry_cols)
    key = gumbel_key_fp(
        F.col("score_fp"), F.col(id_col), temperature
    ).alias("key_fp")
    return (
        scored.select(id_col, *carry_cols, "n_tokens", "score_fp", key)
        .orderBy(F.col("key_fp").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# hashed feature tier — the fixed-model-size scale path


def feature_hashes(text: Column, ns: tuple[int, ...] = (1,)) -> Column:
    """Per-doc array of FULL-WIDTH (int64) feature hashes, one entry
    per n-gram occurrence for each n in `ns`: xxhash64(token) for n=1
    (the dedup family's one string->integer boundary), the family's
    rotate-xor shingle combine (operators/dedup.shingle_hashes,
    duplicates kept) for n>1. `token_buckets` mods these into the
    model's bucket space; `auto_buckets` estimates the distinct-feature
    count over them pre-mod (a bucketed count would saturate at B).

    Docs SHORTER than n contribute zero n-gram features for that n
    (a 1-token doc under ns=(1, 2) is 1 unigram + 0 bigrams — the
    paper's count). shingle_hashes' own short-doc fallback returns the
    raw token hashes, which would collide with the n=1 features and
    silently double-count short docs' unigrams in both fit and score —
    inflating exactly the docs Gumbel-top-k is most sensitive about —
    so the fallback is gated off here."""
    if not ns:
        raise ValueError("ns must name at least one n-gram size")
    if len(set(ns)) != len(ns) or any(n < 1 for n in ns):
        raise ValueError(f"ns must be distinct positive sizes, got {ns}")
    arrays = []
    for n in ns:
        if n == 1:
            arrays.append(
                F.transform(tokenize(text), lambda w: F.xxhash64(w))
            )
        else:
            from gus_spark.operators.dedup import shingle_hashes

            arrays.append(
                F.when(
                    F.size(tokenize(text)) >= n, shingle_hashes(text, n)
                ).otherwise(F.array().cast("array<bigint>"))
            )
    return arrays[0] if len(arrays) == 1 else F.concat(*arrays)


def token_buckets(text: Column, buckets: int, ns: tuple[int, ...] = (1,)) -> Column:
    """Per-doc array of hashed feature ids: `feature_hashes` modded
    into B buckets. The paper's feature set is hashed unigrams+bigrams
    — ns=(1, 2); the default stays unigram-only (cheaper, and the two
    tiers' agreement grades were taken there)."""
    return F.transform(
        feature_hashes(text, ns),
        lambda h: F.pmod(h, F.lit(buckets)).cast("int"),
    )


#: expected cross-feature collision PAIRS the auto-B derivation
#: budgets for: E[pairs] ~= V^2 / (2B), so B = next_pow2(V^2 / (2*4)).
#: Graded empirically (tools/dsir_grade.py): at sf10 (V~3100) the
#: round-7 fixed default B=2^16 held 0.55 exact-tier selection
#: agreement; B=2^20 (E[pairs]~4.6) recovered 0.925 — so a ~4-pair
#: budget is where agreement re-enters the >=0.9 band.
_PAIR_BUDGET = 4.0

#: auto-B floor: never derive below the historical fixed default.
_MIN_AUTO_BUCKETS = 1 << 16


def auto_buckets(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1,),
    pair_budget: float = _PAIR_BUDGET,
) -> int:
    """Derive the hashed-feature width B from the corpus's own
    vocabulary — the SemDeDup auto_k_cells pattern (similarity.py)
    applied to the model width, closing round 7's one scale-fidelity
    weak: a FIXED default B quietly loses exact-tier agreement as the
    vocabulary grows (measured 1.0 → 0.55 across four decades at
    B=2^16, tools/dsir_grade.py), because collisions are a birthday
    bound in V, not a ratio.

    One extra map-side pass: approx_count_distinct (HyperLogLog++,
    partial-aggregated per partition, a 1-row final merge — no keyed
    shuffle) over the full-width feature hashes estimates V, then
    B = next_pow2(V^2 / (2 * pair_budget)) caps the EXPECTED number of
    colliding feature pairs at ~pair_budget regardless of scale,
    clamped to [2^16, _MAX_BUCKETS]. At the 2^24 ceiling (128 MiB of
    int64 model — the documented driver/task budget) vocabularies
    beyond ~sqrt(2 * pair_budget * 2^24) ~= 11.6k features degrade
    gracefully instead of growing the model unboundedly; callers who
    have measured their tolerance pass an explicit ``buckets`` int."""
    if pair_budget <= 0:
        raise ValueError(f"pair_budget must be > 0, got {pair_budget}")
    v = int(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(feature_hashes(F.col(text_col), ns)).alias("h")
        )
        .agg(F.approx_count_distinct("h").alias("v"))
        .first()["v"]
    )
    need = max(1.0, (float(v) * float(v)) / (2.0 * float(pair_budget)))
    b = _MIN_AUTO_BUCKETS
    while b < need and b < _MAX_BUCKETS:
        b <<= 1
    return min(b, _MAX_BUCKETS)


def hashed_logratios(
    df: DataFrame,
    is_target: Column,
    buckets: int | None = None,
    text_col: str = "text",
    ns: tuple[int, ...] = (1,),
) -> np.ndarray:
    """B-dim int64 vector of quantized log ratios — the whole model.
    One bucket-keyed aggregation (<= B output rows at any corpus
    size); only the B-dim vector reaches the driver (8*B bytes — the
    IVF-centroid precedent, never corpus-scaled data).

    Smoothing mass: add-1 over the OCCUPIED buckets (the hashed image
    of the vocabulary), not over all B. Smoothing over B would shift
    every token's log ratio by ln((Nr+B)/(Nt+B)) - ln((Nr+V)/(Nt+V))
    — a constant PER TOKEN, so a per-doc bias proportional to doc
    LENGTH that at B >> V dwarfs the ±few-nat real signal and reranks
    the corpus by -n_tokens. With occupied-bucket mass the two tiers
    estimate the same distributions and agree exactly wherever no
    bucket collides (asserted in tests/test_dsir.py).

    ``buckets=None`` (the default) derives B from the corpus via
    `auto_buckets` — the scale-safe default; pass an int to pin it."""
    if buckets is None:
        buckets = auto_buckets(df, text_col, ns)
    if not 0 < buckets <= _MAX_BUCKETS:
        raise ValueError(f"buckets must be in (0, {_MAX_BUCKETS}]")
    # Arrow transfer (toPandas), not collect(): at _MAX_BUCKETS=2^24 a
    # Row-object collect would build ~16M Python objects on the driver
    # (GBs of overhead) vs three flat int64 columns here — the 8*B-byte
    # model budget the docstring promises
    pdf = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            is_target.alias("_t"),
            F.explode(
                token_buckets(F.col(text_col), buckets, ns)
            ).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.count(F.when(F.col("_t"), 1)).alias("n_target"),
            F.count("*").alias("n_raw"),
        )
        .toPandas()
    )
    ct = np.zeros(buckets, dtype=np.int64)
    cr = np.zeros(buckets, dtype=np.int64)
    b_idx = pdf["b"].to_numpy(dtype=np.int64)
    ct[b_idx] = pdf["n_target"].to_numpy(dtype=np.int64)
    cr[b_idx] = pdf["n_raw"].to_numpy(dtype=np.int64)
    if ct.sum() == 0:
        raise ValueError("target sample is empty — no tokens matched "
                         "is_target")
    return _llr_from_counts(ct, cr)


def _llr_from_counts(ct: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Quantized log ratios from target/raw bucket counts; smoothing
    mass = buckets occupied by EITHER side (see hashed_logratios)."""
    nt, nr = int(ct.sum()), int(cr.sum())
    v = int(((cr > 0) | (ct > 0)).sum())
    llr = np.log((ct + 1.0) / (nt + v)) - np.log((cr + 1.0) / (nr + v))
    return np.floor(llr * _FP + 0.5).astype(np.int64)


def hashed_scores(
    df: DataFrame,
    llr_fp: np.ndarray,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1,),
) -> DataFrame:
    """(id_col, n_tokens, score_fp) with ZERO shuffles: bucket ids are
    computed JVM-side per row, the Arrow kernel sums llr_fp[bucket]
    per doc via an exact int64 prefix-sum difference (no Python loop
    over rows, no groupBy — scoring is embarrassingly parallel). The
    id column keeps its input type (string URLs / UUIDs are the
    realistic crawl ids, not just int64 doc ids)."""
    buckets = int(llr_fp.shape[0])
    model = np.ascontiguousarray(llr_fp, dtype=np.int64)
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        token_buckets(F.col(text_col), buckets, ns).alias("_bk"),
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["_bk"]]
            lens = np.fromiter(
                (a.size for a in arrs), dtype=np.int64, count=n
            )
            flat = (
                np.concatenate(arrs) if lens.sum() else
                np.empty(0, dtype=np.int64)
            )
            # exact int64 segment sums, empty-segment safe
            cs = np.zeros(flat.size + 1, dtype=np.int64)
            np.cumsum(model[flat], out=cs[1:])
            ends = np.cumsum(lens)
            starts = ends - lens
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "n_tokens": lens,
                    "score_fp": cs[ends] - cs[starts],
                }
            )

    out = base.mapInPandas(
        kernel, f"_id {id_type}, n_tokens long, score_fp long"
    )
    return out.withColumnRenamed("_id", id_col)


def dsir_select_hashed(
    df: DataFrame,
    is_target: Column,
    k: int,
    buckets: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    temperature: float = 1.0,
    ns: tuple[int, ...] = (1,),
) -> DataFrame:
    """The composed hashed tier: fixed-size model fit + zero-shuffle
    scoring + Gumbel-top-k. The Gumbel uniform is the same md5 cut as
    the exact tier, so at collision-free bucket counts the two tiers
    select (near-)identical sets — asserted in tests/test_dsir.py.
    ``buckets=None`` derives B from the corpus (`auto_buckets`)."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    model = hashed_logratios(df, is_target, buckets, text_col, ns)
    scored = hashed_scores(df, model, id_col, text_col, ns)
    key = gumbel_key_fp(
        F.col("score_fp"), F.col(id_col), temperature
    ).alias("key_fp")
    return (
        scored.select(id_col, "n_tokens", "score_fp", key)
        .orderBy(F.col("key_fp").desc(), F.col(id_col))
        .limit(k)
    )

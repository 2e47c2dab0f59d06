"""Approximate near-duplicate detection: MinHash+LSH and SimHash.

Custom operators the reference lacks entirely, built as DataFrame
compositions that shuffle only on band-hash / signature keys. The
per-doc integer math (shingle mixing, permutation mins, verification
sets) runs in ONE vectorized numpy Arrow kernel (`_minhash_kernel`) —
Spark's higher-order functions evaluate interpreted, ~100 ns per
scalar op; the bit-identical all-JVM expression formulation it is
tested against lives in tests/reference_ops.py. Banding, bucketing
and every join/agg stay JVM-side expressions.

Scale design (the 100-TB path):
- MinHash signatures are O(docs × shingles) map-side work with ZERO
  shuffles (per-doc array transforms, no explode/agg); the ONE shuffle
  in candidate generation is the band-bucket groupBy. Bucket keys are
  uniform hashes -> no skew. Tokens are hashed once per doc and every
  downstream value (shingle mix, permutations, verification sets) is
  integer math — no n-gram strings are materialized anywhere.
- Candidate verification joins 64-bit shingle-hash sets back only for
  bucket-collided pairs (tiny vs n²).
- SimHash is one explode + two keyed aggregations; signatures are
  64-bit longs, so the dedup join is a cheap equi/band join.
"""

from __future__ import annotations

import functools
import random as _random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize
from gus_spark.operators.util import ensure_parallelism
from gus_spark.storage.deltas import (
    DeleteTier,
    compact_deltas,
    count_parquet_files,
    tombstone_fold_due,
)

# MinHash banding: 128 permutations in 32 bands of 4 rows. Collision
# probability 1-(1-j^4)^32 — ~0.5 at j≈0.38, >0.99 at j≥0.61, and a true
# pair AT the 0.8 verify threshold escapes every band with probability
# (1-0.8^4)^32 ≈ 5e-8 — so candidate recall at the threshold is a
# near-certainty, not a corpus-dependent bet. (32 perms in 8 bands, the
# previous config, leaves a 1.5e-2 escape at j=0.8 — too fragile for the
# exact-equality oracle in queries/dedup.py.) Cost of the wider net is
# the signature width (linear in perms, map-side) plus more low-jaccard
# candidates, all killed by exact verification.
NUM_PERMS = 128
NUM_BANDS = 32
ROWS_PER_BAND = NUM_PERMS // NUM_BANDS
SHINGLE_SIZE = 3

# Universal-hash "permutations": h_k(x) = (a_k * x32 + b_k) mod p over
# the 32-bit permutation basis (low bits of the shingle's 64-bit
# rotate-xor hash), p = 2^61-1 (the datasketch/Broder construction).
# Each token is xxhash64'd ONCE per doc; the 128 permutations are
# integer multiply-add-mods over the derived basis — identical banding
# math to hashing each shingle string 128 times, at a fraction of the
# hashing work. Constants are fixed (seeded) so signatures are stable
# across sessions — persisted MinHashIndex tables depend on that.
# Ranges keep every intermediate inside SIGNED 64-bit so the plan is
# ANSI-mode-safe: a < 2^30, x32 < 2^32 -> a*x32 < 2^62; b < 2^61.
_MERSENNE_P = (1 << 61) - 1
_rng = _random.Random(0x6775735F)  # "gus_"
_PERM_A = [_rng.randrange(1, 1 << 30) for _ in range(NUM_PERMS)]
_PERM_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(NUM_PERMS)]
#: shingle-combine rotations (v3 family): an n-gram shingle's hash is
#: the XOR of per-position bit-rotations of the full 64-bit token
#: hashes (position 0 unrotated) — pure bit math any engine reproduces
#: exactly, instead of building the n-gram STRING and hashing it
#: (string construction was ~80% of the signature stage at sf1).
#: Distinct rotations make the combine position-sensitive; as a linear
#: map over random 64-bit token hashes, distinct windows collide with
#: probability 2^-64 (see shingle_hashes). Any distinct rotations work;
#: the first four are FROZEN (persisted MinHashIndex signatures depend
#: on them), later entries extend the supported ngram range. n-grams
#: beyond _MIX_MAX_N raise ValueError — extend this list to lift it.
_MIX_ROT = [0, 21, 42, 11, 53, 27, 7, 36]
_MIX_MAX_N = len(_MIX_ROT)

#: flush-group cap for the Arrow signature kernel: bounds the
#: (128 × shingles) permutation intermediate. 8k shingles keeps that
#: matrix at 8 MB — inside a per-core L2/L3 share — where the original
#: 128 MB bound streamed every mul/add/mod/min pass through DRAM: the
#: kernel is memory-bandwidth-bound (numpy's scalar-divisor modulo is
#: reciprocal-vectorized, so the division was never the cost), and the
#: cache-resident chunk measured 4.5x faster on a 4000-doc batch with
#: bit-identical output (r13, guide §1.2 per-task work; chunk size
#: only regroups flushes — per-doc reduceat results are invariant).
#: Module-level so tests can shrink it to exercise the oversized-doc
#: chunked path cheaply.
_CHUNK_SHINGLES = 8 * 1024


def shingles(text: Column, n: int = 1) -> Column:
    """Distinct word n-gram shingles (n=1 -> token set); short docs fall
    back to tokens. The shingle unit must match the exact-Jaccard tier it
    is validated against (word 3-grams for dedup_minhash_lsh's oracle).

    Built with zip_with over shifted slices: each array argument is
    evaluated once per ROW. (The previous sequence+element_at
    formulation re-evaluated the inline split PER ELEMENT ACCESS under
    interpreted HOF eval — O(tokens²) on long documents; same class of
    bug fixed in _mix_expr.) Trailing
    zip_with null-padding is sliced off, so the gram list and its
    order are identical to the old formulation. The token array is
    bound ONCE through a single-element transform lambda — the gram
    construction references it ~2n+3 times, and as an inline split
    expression each reference would re-tokenize the document."""
    if n == 1:
        return F.array_distinct(tokenize(text))

    def grams_of(ws: Column) -> Column:
        grams = ws
        for k in range(1, n):
            shifted = F.slice(
                ws, k + 1, F.greatest(F.size(ws) - k, F.lit(0))
            )
            grams = F.zip_with(
                grams, shifted, lambda g, w: F.concat(g, F.lit(" "), w)
            )
        grams = F.slice(
            grams, 1, F.greatest(F.size(ws) - n + 1, F.lit(0))
        )
        return F.array_distinct(
            F.when(F.size(ws) >= n, grams).otherwise(ws)
        )

    return F.element_at(
        F.transform(F.array(tokenize(text)), grams_of), 1
    )


def token_hashes(text: Column) -> Column:
    """Full 64-bit xxhash64 per token — the one string→integer boundary
    of the minhash pipeline (v3 family). Everything downstream (shingle
    mixing, permutations, verification sets) is integer math. The full
    width matters: verification-set exactness rests on 64-bit token
    collisions being ~2^-64 events; masking here would cap the whole
    family at the mask width (at 10^6 distinct tokens a 32-bit mask
    already expects ~100 colliding token pairs — enough to fabricate a
    false near-dup pair)."""
    return F.transform(tokenize(text), lambda w: F.xxhash64(w))


def shingle_hashes(text: Column, n: int = 1) -> Column:
    """Per-doc array of 64-bit n-gram shingle hashes (v3 family,
    duplicates kept): hash each token once, then combine each n-window
    by XOR of per-position bit-rotations,
    ``m_j = t_j ^ rot(t_{j+1}, 21) ^ rot(t_{j+2}, 42) ...`` —
    position-dependent rotations keep (A,B,C) ≠ (C,B,A). Short docs
    fall back to the raw token hashes, mirroring `shingles`.

    Replaces hash-of-concatenated-n-gram-string: building the shingle
    strings (concat_ws over element_ats, interpreted per element) was
    ~4 s of the ~5 s signature stage at sf1; the rotate-xor combine
    over the token-hash array is far cheaper and engine-portable (the
    same bit ops are computable in numpy, JVM expressions, or an
    external oracle; shifts/xor have no overflow semantics to trip
    ANSI mode, unlike a multiply-based polynomial over 64-bit inputs).

    Collision regime: the combine is a LINEAR map over the token-hash
    bits, so two DISTINCT shingle windows collide iff their token
    hashes satisfy one specific 64-bit linear relation — probability
    2^-64 for xxhash64-distributed tokens, including windows that share
    tokens (the relation then constrains the non-shared ones). A
    verification pair with ~100-shingle sets therefore has ~10^4
    cross-window chances at 2^-64 ≈ 5e-16 of any collision perturbing
    its exact-Jaccard value — the banding escape probability (5e-8)
    dominates every correctness argument by seven orders.

    Supported n is bounded by the rotation table (``n <= _MIX_MAX_N``,
    currently 8); larger n raises ValueError — extend ``_MIX_ROT`` with
    any distinct rotations to lift the bound.

    The token-hash array is bound ONCE through a single-element
    transform lambda (the same trick as `shingles`): the combine
    references it per element_at, and interpreted HOF eval re-runs an
    INLINE expression per access — O(len²) hashing on long documents;
    binding through the lambda variable makes each access O(1)."""
    return F.element_at(
        F.transform(F.array(token_hashes(text)), lambda th: _mix_expr(th, n)),
        1,
    )


def _mix_expr(th: Column, n: int) -> Column:
    """Rotate-xor combine over a token-hash array column. ``th`` should
    be a MATERIALIZED column reference (see shingle_hashes' note): a
    column access is O(1) per element_at, an inline expression is
    re-evaluated per access."""
    if n > _MIX_MAX_N:
        raise ValueError(f"ngram {n} exceeds mix support {_MIX_MAX_N}")
    if n == 1:
        return th

    def _rot(c: Column, r: int) -> Column:
        if r == 0:
            return c
        return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))

    mixed = F.transform(
        F.sequence(F.lit(0), F.size(th) - n),
        lambda j: functools.reduce(
            lambda acc, i: acc.bitwiseXOR(
                _rot(F.element_at(th, (j + i + 1).cast("int")), _MIX_ROT[i])
            ),
            range(1, n),
            F.element_at(th, (j + 1).cast("int")),
        ),
    )
    return F.when(F.size(th) >= n, mixed).otherwise(th)


def _mix_np(t, n: int):
    """numpy twin of `shingle_hashes`' rotate-xor combine: uint64
    token-hash array -> 64-bit shingle-hash array, EXACTLY the values
    the JVM expression computes (shifts/xor are bit-identical between
    uint64 numpy and JVM longs). Short docs fall back to the raw
    token hashes."""
    import numpy as np

    if n == 1 or len(t) < n:
        return t
    m = len(t) - n + 1
    acc = t[:m].copy()
    for i in range(1, n):
        w = t[i : m + i]
        r = _MIX_ROT[i]
        acc ^= (w << np.uint64(r)) | (w >> np.uint64(64 - r))
    return acc


def _minhash_kernel(ngram: int, fields: tuple[str, ...]):
    """THE Arrow MinHash kernel: a pandas_udf mapping a per-doc
    TOKEN-hash array to a struct holding only the ``fields`` its call
    site reads — ``_mh``, the 128-long minhash signature, and/or
    ``ts``, the sorted DISTINCT 64-bit shingle-hash set exact-Jaccard
    verification intersects (np.unique sorts in unsigned order; the
    set consumers ignore element order). Shingle mixing (`_mix_np`),
    32-bit masking and every (a_k*x + b_k) mod p permutation min run
    in uint64 numpy, bit-identical to the all-JVM expression
    formulation kept in tests/reference_ops.py (asserted by tests), so
    persisted MinHashIndex tables stay valid and the escape-probability
    math in queries/dedup.py is untouched. A call asking for both
    shares the tokenize + xxhash64 + Arrow transfer + shingle mix
    between them (r14); a ``ts``-only call computes no permutations.

    Why it exists: `transform`/`sequence`/`array_min` are higher-order
    functions, which Spark evaluates INTERPRETED (no whole-stage
    codegen) — both the n-gram construction and the 128 permutation
    passes measured ~5 s EACH at sf1, for integer work numpy does in
    well under a second. Only the per-token xxhash64 stays JVM-side
    (the one string→integer boundary, ~0.3 s at sf1). Docs are grouped
    into ≤chunk_shingles flushes, and a single doc larger than a chunk
    is itself processed in chunked permutation passes (elementwise min
    is associative), so the (128 × shingles) intermediate stays bounded
    regardless of Arrow batch size AND of the largest document."""
    import numpy as np
    import pandas as pd

    if ngram > _MIX_MAX_N:  # driver-side, like the expression path —
        # without this the error would surface as an opaque executor
        # IndexError mid-job
        raise ValueError(f"ngram {ngram} exceeds mix support {_MIX_MAX_N}")
    names = [f for f in ("_mh", "ts") if f in fields]
    a = np.array(_PERM_A, dtype=np.uint64)
    b = np.array(_PERM_B, dtype=np.uint64)
    p = np.uint64(_MERSENNE_P)
    mask32 = np.uint64(0xFFFFFFFF)
    chunk_shingles = _CHUNK_SHINGLES

    def perms(flat):
        # (128 × len(flat)) universal-hash values of one flush
        m = flat[None, :] * a[:, None]
        m += b[:, None]
        m %= p
        return m

    def sig_chunked(arr):
        # One oversized doc: permutation mins over ≤chunk_shingles
        # slices, combined by elementwise min (associative) — the
        # (128 × shingles) intermediate never exceeds one chunk.
        res = None
        for s in range(0, len(arr), chunk_shingles):
            pm = perms(arr[s : s + chunk_shingles]).min(axis=1)
            res = pm if res is None else np.minimum(res, pm)
        return res.astype(np.int64)

    def signatures(arrs):
        out = [None] * len(arrs)
        group: list[int] = []
        pending = 0

        def flush():
            nonlocal pending
            idx = [i for i in group if arrs[i] is not None and len(arrs[i])]
            if idx:
                lens = np.array([len(arrs[i]) for i in idx], dtype=np.int64)
                m = perms(np.concatenate([arrs[i] for i in idx]))
                offs = np.zeros(len(idx), dtype=np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                res = np.minimum.reduceat(m, offs, axis=1)
                for j, i in enumerate(idx):
                    out[i] = res[:, j].astype(np.int64)
            group.clear()
            pending = 0

        for i, arr in enumerate(arrs):
            if arr is not None and len(arr) > chunk_shingles:
                out[i] = sig_chunked(arr)
                continue
            group.append(i)
            pending += 0 if arr is None else len(arr)
            if pending >= chunk_shingles:
                flush()
        flush()
        return out

    @F.pandas_udf(
        "struct<" + ", ".join(f"{n}: array<long>" for n in names) + ">"
    )
    def minhash(ths):
        mixed = [
            None
            if t is None
            else _mix_np(np.asarray(t, dtype=np.uint64), ngram)
            for t in ths
        ]
        cols = {}
        if "ts" in names:
            cols["ts"] = [
                None if m is None else np.unique(m).astype(np.int64)
                for m in mixed
            ]
        if "_mh" in names:
            cols["_mh"] = signatures(
                [None if m is None else m & mask32 for m in mixed]
            )
        return pd.DataFrame({n: cols[n] for n in names})

    return minhash


def _minhash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    fields: tuple[str, ...],
) -> DataFrame:
    """(id, *fields) straight from raw documents through ONE
    `_minhash_kernel` call. Null text is dropped BEFORE the kernel: a
    null signature row would land every null-text doc in one
    (band_id, NULL) bucket downstream. The guard tests the RAW text
    column — filtering on the hashes instead would push the predicate
    through the projection and duplicate the whole token-hashing
    expression into the filter (measured 6.5x slower).

    The signature stays ONE array column (r13, guide §1.2 driver-side
    cost): every DataFrame op re-analyzes its whole subtree, and the
    analyzer's cost rides schema WIDTH, so compositions band/join on
    `_mh[k]` getItems (`_band_rows_arr`) instead of unpacking 128 mh_k
    columns only to re-fold them; only the public `minhash_signature`
    unpacks."""
    kernel = _minhash_kernel(ngram, fields)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            kernel(token_hashes(F.col(text_col))).alias("_st"),
        )
        .select(id_col, *[F.col(f"_st.{f}").alias(f) for f in fields])
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, ts): distinct 64-bit shingle-hash sets of the non-null-text
    documents, for exact-Jaccard verification."""
    return _minhash_frame(df, id_col, text_col, ngram, ("ts",))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 1,
) -> DataFrame:
    """(id, minhash_0..k-1): min over shingles of the k-th universal
    hash of the shingle's 32-bit basis (low bits of its v3 mix hash),
    for every non-null-text document.

    ZERO shuffles: tokens are xxhash64'd once per doc (`token_hashes`),
    n-gram shingle hashes are the integer rotate-xor combine over that
    array (`_mix_np` — no shingle STRINGS are ever built; string
    construction was ~80% of this stage at sf1), and signatures never
    explode. Duplicate shingles are NOT removed: min over a multiset
    equals min over its set, so the np.unique the verification sets
    need would be pure cost here. The 128 permutation mins run in the
    vectorized `_minhash_kernel`, returning the signature array,
    unpacked to mh_k columns by ONE selectExpr (the per-column py4j
    round trips of 128 element_at Column builds were ~0.8 s of every
    build, r13 cProfile; `_mh[k]` is the same value as
    element_at(_mh, k+1) on these fixed-length non-null arrays).

    ``ngram`` is bounded by the integer-combine rotation table
    (``ngram <= _MIX_MAX_N``, currently 8; ValueError beyond) — extend
    ``_MIX_ROT`` with any distinct rotations to lift it.
    """
    return _minhash_frame(
        ensure_parallelism(df), id_col, text_col, ngram, ("_mh",)
    ).selectExpr(
        f"`{id_col}`", *[f"_mh[{k}] AS mh_{k}" for k in range(NUM_PERMS)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) with exact-Jaccard
    verification of LSH candidates.

    candidate generation: band the k minhashes, hash each band, explode
    to (band_id, band_hash), self-join per bucket. Only bucket-collided
    pairs are verified.

    ``ngram`` is bounded by the integer-combine rotation table
    (``ngram <= _MIX_MAX_N``, currently 8; ValueError beyond) — extend
    ``_MIX_ROT`` with any distinct rotations to lift it.
    """
    df = ensure_parallelism(df)  # both branches (signature + verify) share it
    # r14: ONE Arrow pass computes signature AND verify set (the two
    # branches shared tokenize + xxhash64 + Arrow transfer + shingle
    # mix and differed only in their tails); the lazy localCheckpoint
    # is what lets both consumers read the single pass. Warm A/B at
    # sf0.1: 1.23-1.30 s vs 1.42-1.56 s for the two-kernel form,
    # bit-identical pairs. Array-form signature throughout — no
    # 128-column unpack in this plan (r13, _minhash_frame).
    both = _minhash_frame(
        df, id_col, text_col, ngram, ("_mh", "ts")
    ).localCheckpoint(eager=False)
    candidates = _bucket_pairs(
        _band_rows_arr(both.select(id_col, "_mh"), id_col), id_col
    )

    # verification uses the same shingle unit as candidate generation,
    # as SETS of the 64-bit shingle hashes: |∩|/|∪| over the hash sets
    # equals the string-shingle Jaccard unless two distinct shingles of
    # a verified pair satisfy the combine's 64-bit linear relation
    # (~5e-16 per pair — see shingle_hashes; the banding escape
    # probability dominates by seven orders), and skips rebuilding the
    # n-gram strings a second time.
    # (A semi-join prune of toks to collided ids was tried and reverted:
    # it duplicates the signature/banding lineage into the prune branch,
    # which costs more than hashing the corpus. r13 re-tried it with the
    # lineage duplication FIXED via a lazy localCheckpoint of the
    # bounded candidate list: still slower end-to-end (1.2 vs 1.6-2.0 s
    # at sf0.1, A/B-measured both orders) — the prune's broadcast
    # DEPENDS on the signature branch, serializing two stages that
    # otherwise run concurrently, and the saved kernel work is smaller
    # than the lost overlap at bench scale. The incremental path —
    # MinHashIndex.add_and_find — materializes candidates durably and
    # verifies only collided ids, which remains the scale answer.)
    #
    # r13 (guide §2.4/§3): the former shape joined candidates against
    # TWO aliases of toks. PythonUDF expressions never canonicalize
    # equal, so neither ReusedExchange nor AQE stage reuse ever fired
    # on the aliased branch — the corpus was scanned, token-hashed and
    # set-built TWICE per run (measured: 3 ArrowEvalPython stages, 0
    # ReusedExchange) — and the static planner picked the CORPUS side
    # (toks, whose size estimate rides the small scan) as the
    # broadcast build side. Melting each candidate pair into two
    # (id_a, id_b, _vid) rows and joining toks ONCE removes the second
    # kernel pass and makes the bounded pair list — never the corpus —
    # the natural small side; the per-pair regroup shuffles only
    # collided ids' sets (O(candidates), not O(corpus)). max() over
    # the single non-null array per role re-attaches the sets
    # deterministically; jaccard arithmetic is unchanged.
    #
    # already text-filtered by _minhash_frame — the defensive ts
    # filter only mirrors the old inner-join's null-drop semantics
    toks = both.select(id_col, "ts").filter(F.col("ts").isNotNull())
    melted = candidates.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("_vid")
    )
    per_pair = (
        melted.join(toks, melted._vid == toks[id_col])
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_vid") == F.col("id_a"), F.col("ts"))).alias("ts_a"),
            F.max(F.when(F.col("_vid") == F.col("id_b"), F.col("ts"))).alias("ts_b"),
        )
        # an inner join drops null-text ids from toks; a pair citing one
        # keeps a NULL side and must not pass the threshold filter (the
        # old double-join dropped such pairs via its inner joins)
        .filter(F.col("ts_a").isNotNull() & F.col("ts_b").isNotNull())
    )
    inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
    union = F.size(F.col("ts_a")) + F.size(F.col("ts_b")) - inter
    return per_pair.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        (inter.cast("double") / union).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


class MinHashIndex(DeleteTier):
    """Incremental near-duplicate detection: persist banded MinHash
    signatures (and shingle sets for exact verification) as parquet
    tables; each new batch joins ONLY against the persisted index plus
    itself — never recomputing the corpus.

    At 100 TB this is the difference between an O(corpus) re-shingle per
    arriving batch and O(batch + collisions): the corpus side is touched
    exclusively through the band-hash equi-join (uniform keys, pruned to
    colliding buckets) and the verification join reads shingle sets for
    collided ids only. The band/permutation constants must stay fixed
    for the lifetime of an index — signatures from different constants
    never collide correctly (enforced via a meta file).

    CHOOSE ``ngram`` FOR THE CORPUS, it is the candidate-volume dial:
    banding collides documents whose shingle SETS overlap, so on a
    corpus where unrelated documents share most of their vocabulary,
    ``ngram=1`` (token sets) degenerates toward all-pairs candidates
    and the verify stage — not the index machinery — eats the run.
    Measured on the synthetic testdata (tools/minhash_ingest_profile
    .py, sf0.1 = 5k docs): n=1 banding emitted 9.46M candidate pairs
    (vs 361 at n=3) and a one-shot build read 43 s vs 3.1 s — the
    same 70x that made the sf1 build look like index overhead in the
    round-10 bench. At equal ngram, ``add_and_find`` on an empty index
    costs ABOUT THE SAME as the stateless ``minhash_lsh_pairs`` (the
    three delta writes are small; caching the batch derivations even
    undercuts the stateless path's lineage re-derivation). The catalog
    dedup queries use n=3; match your exact-Jaccard validation tier.
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.8,
        ngram: int = 1,
    ):
        super().__init__(spark, path)
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.ngram = ngram
        self._open_meta({
            "num_perms": NUM_PERMS,
            "num_bands": NUM_BANDS,
            "ngram": ngram,
            "threshold": threshold,
            # signature scheme version: bands from different hash
            # families never collide correctly (and v3 shingle tables
            # store hash sets, not strings), so an index built under an
            # older family must reject loudly on the equality check
            "hash": "tokxor-affine-mersenne61-v3",
        })

    def _bands_path(self) -> str:
        return f"{self.path}/bands"

    def _shingles_path(self) -> str:
        return f"{self.path}/shingles"

    @staticmethod
    def _has_parquet(path: str) -> bool:
        import os

        return any(
            f.endswith(".parquet")
            for _root, _dirs, files in os.walk(path)
            for f in files
        )

    def _read_or_none(self, path: str, exclude_key: str | None = None):
        """Read every per-batch delta dir under ``path`` — minus the one
        named by ``exclude_key``, so a crash-replayed batch sees exactly
        the corpus its first run saw (its own half-committed delta must
        not count as corpus)."""
        import os

        if not os.path.isdir(path):
            return None
        flat = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if flat:
            # a flat file silently excluded = corpus rows invisibly
            # missing from every future dedup — refuse loudly instead
            raise ValueError(
                f"legacy flat-layout parquet under {path} (e.g. {flat[0]}):"
                " this index predates the delta-<key> layout; rebuild it"
                " or move each file into its own delta-<name>/ subdir"
            )
        deltas = [
            os.path.join(path, d)
            for d in sorted(os.listdir(path))
            if d.startswith("delta-") and d != f"delta-{exclude_key}"
            and self._has_parquet(os.path.join(path, d))
        ]
        if not deltas:
            return None
        return self.spark.read.parquet(*deltas)

    def add_and_find(
        self, batch: DataFrame, batch_key: str | None = None
    ) -> DataFrame:
        """Index ``batch`` and return every near-dup pair with at least
        one endpoint in it: new-vs-corpus plus new-vs-new, exact-Jaccard
        verified at the index threshold. Output (doc_a, doc_b, jaccard)
        with doc_a < doc_b — identical rows to a full-corpus
        ``minhash_lsh_pairs`` restricted to the batch (asserted in
        tests; minhash permutations are deterministic, so incremental
        and full runs agree bit-for-bit).

        Durability/idempotence contract: the pair result is written to
        parquet under the index dir BEFORE the band/shingle tables grow,
        so an executor loss after the index mutation can never recompute
        the returned frame against the grown corpus (which would emit
        each batch-vs-corpus pair twice). ``batch_key`` names the delta
        directories and switches them to overwrite semantics, making a
        crash-replay of the same batch a clean overwrite of its own
        earlier output instead of a duplicate append."""
        import os
        import uuid

        id_col = self.id_col
        key = batch_key if batch_key is not None else uuid.uuid4().hex
        # read the live tombstones ONCE per add (meta + dir listing):
        # the guard below and the corpus anti-joins share it — safe
        # under the documented single-writer discipline
        tombs = self._live_tombstones()
        # the tombstone guard applies to NEW batches only — a replay of
        # a committed key (its pairs delta exists) may legitimately
        # carry ids deleted since. Re-indexing a live-tombstoned id
        # would write rows the anti-join hides AND the next fold drops
        # (tombstones are id-keyed) — refuse until a fold clears it.
        if not os.path.isdir(
            os.path.join(self.path, "pairs_log", f"delta-{key}")
        ):
            if tombs is not None and (
                batch.join(F.broadcast(tombs), id_col, "left_semi")
                .limit(1)
                .count()
            ):
                raise ValueError(
                    "add_and_find received ids with LIVE tombstones in"
                    f" {self.path!r}: a deleted id cannot be re-indexed"
                    " until maintain() folds its tombstone away."
                    " maintain(max_tomb_frac=0) first."
                )
        # bands AND verification sets from ONE kernel pass (the
        # minhash_lsh_pairs sharing). Persisted verification sets are
        # the 64-bit shingle hashes (v3): integer sets join/intersect
        # cheaper than the n-gram strings and the Jaccard value is
        # identical (shingle_hashes).
        #
        # cache (NOT localCheckpoint) the kernel output: three actions
        # below consume it — the pairs write, then each table's delta
        # write — and uncached each re-runs the Arrow kernel over the
        # batch (measured 3x kernel cost per ingest). cache keeps the
        # lineage INTACT, which is what makes it safe here: the frame
        # derives from the batch alone, so an executor-loss recompute
        # is bit-identical regardless of how far the index has grown
        # (the durability comment below concerns the PAIRS frame,
        # whose lineage reads corpus state — that one must hit parquet
        # first, and still does).
        both = _minhash_frame(
            ensure_parallelism(batch), id_col, self.text_col, self.ngram,
            ("_mh", "ts"),
        ).cache()
        new_bands = _band_rows_arr(both.select(id_col, "_mh"), id_col)
        new_shingles = both.select(id_col, "ts")
        corpus_bands = self._read_or_none(self._bands_path(), exclude_key=key)
        corpus_shingles = self._read_or_none(
            self._shingles_path(), exclude_key=key
        )
        # live tombstones hide deleted fingerprints from BOTH corpus
        # sides (candidate generation and verification) — a deleted
        # doc can no longer appear as a pair endpoint, exactly as if
        # the index never held it
        if tombs is not None:
            if corpus_bands is not None:
                corpus_bands = corpus_bands.join(
                    F.broadcast(tombs), id_col, "left_anti"
                )
            if corpus_shingles is not None:
                corpus_shingles = corpus_shingles.join(
                    F.broadcast(tombs), id_col, "left_anti"
                )

        cross = None
        if corpus_bands is not None:
            a, b = new_bands.alias("a"), corpus_bands.alias("b")
            cross = a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
            ).select(
                F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            )
        within = _bucket_pairs(new_bands, id_col)
        candidates = (
            within if cross is None else within.unionByName(cross)
        ).distinct()

        all_shingles = (
            new_shingles
            if corpus_shingles is None
            else corpus_shingles.unionByName(new_shingles)
        )
        ta, tb = all_shingles.alias("ta"), all_shingles.alias("tb")
        inter = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
        union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - inter
        pairs = (
            candidates.join(ta, candidates.id_a == F.col(f"ta.{id_col}"))
            .join(tb, candidates.id_b == F.col(f"tb.{id_col}"))
            .select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                (inter.cast("double") / union).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
        )
        # durable materialization FIRST: a cached frame is not durable
        # (executor loss -> recompute against the already-grown index)
        pairs_dest = os.path.join(self.path, "pairs_log", f"delta-{key}")
        pairs.write.mode("overwrite").parquet(pairs_dest)
        new_bands.write.mode("overwrite").parquet(
            os.path.join(self._bands_path(), f"delta-{key}")
        )
        new_shingles.write.mode("overwrite").parquet(
            os.path.join(self._shingles_path(), f"delta-{key}")
        )
        both.unpersist()
        if not self._has_parquet(pairs_dest):  # zero pairs, zero files
            return self.spark.createDataFrame([], pairs.schema)
        return self.spark.read.parquet(pairs_dest)


    def delete(self, ids, batch_key: str | None = None) -> int:
        """Tombstone one batch of document ids (a list, or a DataFrame
        carrying ``id_col``): their persisted fingerprints — band rows
        AND shingle sets, both content-derived — stop serving
        immediately (anti-joined out of every future add_and_find) and
        are dropped physically at the next maintain() fold. Returns
        the number of documents newly tombstoned; absent or
        already-tombstoned ids are ignored (counts never
        double-subtract).

        WHEN to delete is a semantic choice the caller owns:
        - data-removal compliance (the signatures are derived from the
          content and must go with it) and re-admittance (a forgotten
          doc arriving again should index fresh, not self-collide) —
          delete;
        - decontamination gates usually should NOT delete here — a
          removed-as-contaminated doc's fingerprint is what flags its
          near-duplicates still arriving on the stream.

        Same replay contract as the sibling indexes (PostingIndex,
        VectorIndex): keyed deletes are idempotent, a key already
        folded by a compaction raises."""

        def live_ids(_meta):
            corpus = self._read_or_none(self._shingles_path())
            if corpus is None:
                raise ValueError(
                    f"index at {self.path} holds no fingerprints — "
                    "nothing to delete"
                )
            return corpus.select(self.id_col).distinct()

        return self._keyed_delete(ids, batch_key, self.id_col, live_ids)

    # ------------------------------------------------------------ maintenance
    def health(self, occupancy: bool = False) -> dict:
        """Band/shingle layout health from filesystem metadata only —
        the MinHashIndex twin of ParquetStore.table_health.

        ``occupancy=True`` additionally runs ONE aggregation over the
        persisted band table and reports the bucket-occupancy regime —
        the signal that catches a degenerate shingle setting at build
        time instead of in a blown-up verify stage (late r10: the
        ngram=1 default on a shared-vocabulary corpus silently drove
        banding toward all-pairs — 9.46M candidate pairs from 5k docs
        — and nothing in the index said so). Healthy banding over a
        diverse corpus has mean occupancy ≈ 1 + tiny (uniform 64-bit
        band keys: only true near-dups co-bucket); candidate-pair
        volume is Σ c·(c−1)/2 over bucket sizes c, reported as
        ``candidate_pairs``. Read ``mean_occupancy`` >> 1 or
        ``candidate_pairs`` >> expected duplicates as 'the shingle
        unit does not separate this corpus — raise ngram'. Cost: one
        count-per-bucket aggregation (the same exchange shape one
        add's candidate step pays), so it is an on-demand probe, not
        part of every call."""
        import os

        out = {}
        for name, base in (
            ("bands", self._bands_path()),
            ("shingles", self._shingles_path()),
            ("pairs", os.path.join(self.path, "pairs_log")),
        ):
            out[f"{name}_files"] = (
                count_parquet_files(base) if os.path.isdir(base) else 0
            )
            out[f"{name}_deltas"] = (
                sum(1 for d in os.listdir(base) if d.startswith("delta-"))
                if os.path.isdir(base)
                else 0
            )
        if occupancy:
            bands = self._read_or_none(self._bands_path())
            if bands is None:
                out["occupancy"] = None
            else:
                # mirror add_and_find: candidate generation anti-joins
                # live tombstones from the corpus bands, so the probe
                # must too — between a delete and the next fold, raw
                # band counts would overstate what candidates actually
                # pay (ADVICE r10)
                tombs = self._live_tombstones()
                if tombs is not None:
                    bands = bands.join(
                        F.broadcast(tombs), self.id_col, "left_anti"
                    )
                row = (
                    bands.groupBy("band_id", "band_hash")
                    .agg(F.count("*").alias("c"))
                    .agg(
                        F.count("*").alias("buckets"),
                        F.sum("c").alias("rows"),
                        F.max("c").alias("max_bucket"),
                        F.sum(
                            F.col("c") * (F.col("c") - 1) / 2
                        ).alias("cand"),
                    )
                    .first()
                )
                if not row["buckets"]:
                    # a bands dir can exist with zero rows (e.g. a
                    # fold after every doc was tombstoned): report
                    # empty, don't divide by it
                    out["occupancy"] = None
                else:
                    out["occupancy"] = {
                        "band_rows": row["rows"],
                        "buckets": row["buckets"],
                        "mean_occupancy": round(
                            row["rows"] / row["buckets"], 4
                        ),
                        "max_bucket": row["max_bucket"],
                        "candidate_pairs": int(row["cand"]),
                    }
        return out

    def maintain(
        self,
        max_files: int = 16,
        target_files: int = 4,
        pairs_retain: int = 8,
        max_tomb_frac: float = 0.2,
        occupancy: bool = False,
    ) -> dict:
        """Compact the per-batch band/shingle deltas once either table
        exceeds ``max_files`` parquet files — each streamed micro-batch
        appends one delta, which unchecked is small-file death. Bands
        compact range-partitioned + sorted on (band_id, band_hash) so
        the candidate bucket join's scan prunes by row-group stats;
        shingles on the id column for the verification join. Results
        are unchanged: both consumers are row-order-independent, and
        add_and_find's replay exclusion keys (delta-<batch>) never
        collide with the compacted delta's name.

        pairs_log deltas exist only for in-flight crash-replay
        durability (add_and_find writes them BEFORE the index grows);
        once a batch's result has been consumed they are dead weight,
        so all but the ``pairs_retain`` most recent are deleted —
        retention, not compaction, because no reader ever scans the
        log as a whole. A replay of a pruned batch just recomputes and
        rewrites its own delta, which is the normal replay path.

        Tombstones (``delete``) fold here too: a compaction rewrites
        bands and shingles WITHOUT the tombstoned ids (the
        compact_deltas filter hook), then moves the keys to
        folded_tombs and removes the tombstone dirs — and the
        tombstoned FRACTION is itself a trigger (``max_tomb_frac``, on
        shingle rows = one per doc, parquet footers only), so a
        long-lived index under heavy curation bounds the anti-join
        every add pays. Crash contract: tombs clear from meta only
        after both rewrites landed atomically; a crash between leaves
        them live, and the serving anti-join still hides any rows an
        unfinished fold left behind.

        Schedule this from the same maintenance loop as
        ParquetStore.maintain — not concurrently with an in-flight
        add."""
        import os
        import shutil

        health = self.health()
        meta = self._read_meta()
        tomb_docs = sum(meta["tombs"].values())
        compacted = (
            health["bands_files"] > max_files
            or health["shingles_files"] > max_files
            or tombstone_fold_due(
                self._shingles_path(), tomb_docs, max_tomb_frac
            )
        )
        if compacted:
            tombs = self._live_tombstones(meta)
            drop = (
                None
                if tombs is None
                else (
                    lambda df: df.join(
                        F.broadcast(tombs), self.id_col, "left_anti"
                    )
                )
            )
            if os.path.isdir(self._bands_path()):
                compact_deltas(
                    self.spark, self._bands_path(), target_files,
                    range_cols=["band_id", "band_hash"],
                    filter_fn=drop,
                )
            if os.path.isdir(self._shingles_path()):
                compact_deltas(
                    self.spark, self._shingles_path(), target_files,
                    range_cols=[self.id_col],
                    filter_fn=drop,
                )
            self._fold_tombstones(meta)
        pairs_dir = os.path.join(self.path, "pairs_log")
        pruned = 0
        if os.path.isdir(pairs_dir):
            deltas = sorted(
                (d for d in os.listdir(pairs_dir) if d.startswith("delta-")),
                key=lambda d: os.path.getmtime(os.path.join(pairs_dir, d)),
            )
            for d in deltas[: max(0, len(deltas) - pairs_retain)]:
                shutil.rmtree(os.path.join(pairs_dir, d))
                pruned += 1
        # occupancy=True: the post-maintain report carries the bucket
        # regime (r11 — makes the r10 ngram-degeneracy class visible
        # in the maintenance loop's own output, not just on explicit
        # probe calls); opt-in because it costs one aggregation
        return {"before": health, "compacted": compacted,
                "pairs_pruned": pruned,
                "after": self.health(occupancy=occupancy)}


def _bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from band buckets with
    ONE shuffle: group each (band_id, band_hash) bucket to a sorted id
    array, then stream out the i<j pairs via two chained explodes —
    the generated pairs never materialize per-bucket (each output row
    pipeline holds one O(bucket) array at a time), so this shuffles
    the n×bands rows ONCE where the equivalent self-join shuffles them
    twice and re-probes a hash table. Bucket sizes are bounded in
    practice because band keys are uniform 64-bit hashes and exact
    duplicates (the one source of unbounded full-collision buckets)
    are removed by the exact-dedup tier that precedes near-dup in any
    pipeline; a degenerate m-doc bucket costs O(m) row memory here and
    O(m²) output rows in EITHER formulation."""
    grouped = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(
            F.posexplode("ids").alias("i", "id_a"), F.col("ids")
        )
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def _bands_of(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, band_id, band_hash) straight from raw documents — THE
    banding composition over the array-form signature, with the same
    ensure_parallelism guard minhash_signature applies."""
    return _band_rows_arr(
        _minhash_frame(
            ensure_parallelism(df), id_col, text_col, ngram, ("_mh",)
        ),
        id_col,
    )


def _band_rows_arr(sig_arr: DataFrame, id_col: str) -> DataFrame:
    """(id, band_id, band_hash) rows from an ARRAY-form signature frame
    (`_minhash_frame`'s ``_mh``): band hashes fold `_mh[k]` getItems
    directly, skipping a 128-column unpack projection and its
    wide-schema analysis on every downstream op (r13). Bit-identical
    rows to banding the unpacked `minhash_signature` columns (the same
    xxhash64 over the same longs; asserted in tests/test_approx_ops.py),
    so persisted MinHashIndex band tables stay byte-compatible.

    Built as ONE parsed SQL expression (r13): the per-Column py4j
    round trips for 32 structs x 4-ary xxhash64 were ~1.0 s of every
    build of this plan (cProfile, tools/bench_profile.py), vs
    single-digit ms to parse the equivalent expression string in the
    JVM. `inline` is explode-the-struct-array with the fields as
    columns."""
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_hash', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"_mh[{b * ROWS_PER_BAND + r}]"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return sig_arr.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document over word n-gram features.

    explode(shingles) -> per-(doc, bit) vote sums -> signature long.
    Bit votes: +1 where hash(shingle) has the bit set, else -1; the
    signature sets each bit whose vote sum is positive.

    ``token_hash``: 'xxhash64' (default — fastest, JVM-side) or 'md5'
    (first 60 bits of the md5 digest; ~equally uniform but portable —
    every engine computes the same md5 bytes, so an external oracle can
    reproduce the signatures bit-for-bit; bits 60-63 are always 0).
    """
    df = ensure_parallelism(df)
    if token_hash == "xxhash64":
        h = F.xxhash64("tok")
    elif token_hash == "md5":
        # conv() parses the 15-hex-char prefix (60 bits) to a decimal
        # string; the long cast is exact (< 2^63, never negative)
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    toks = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), ngram)).alias("tok")
    ).withColumn("h", h)
    votes = (
        toks.select(
            id_col,
            F.posexplode(
                F.array(
                    *[
                        F.when(
                            F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1
                        ).otherwise(-1)
                        for i in range(64)
                    ]
                )
            ).alias("bit", "vote"),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("votes"))
    )
    return (
        votes.groupBy(id_col)
        .agg(
            F.sum(
                F.when(
                    F.col("votes") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
                ).otherwise(0)
            ).alias("simhash")
        )
        .select(F.col(id_col), F.col("simhash"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """SimHash pairs within ``max_hamming`` bits, bucketed by 8-bit
    signature chunks: a pair within hamming h must agree exactly on at
    least one chunk whenever h < n_chunks (pigeonhole), so 8 chunks
    guarantee recall for h <= 7 and catch most pairs below
    ``max_hamming``."""
    sig = simhash_signatures(df, id_col, text_col, ngram)
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * 8)
                        .bitwiseAND(0xFF)
                        .alias("chunk"),
                    )
                    for c in range(8)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    window: int = 16,
    token_hash: str = "rolling",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme — Schleimer/
    Wilkerson/Aiken, SIGMOD'03): hash every character k-gram, slide a
    window over ``window`` consecutive k-gram hashes, keep each
    window's minimum. Any shared substring of length >= k+window-1
    between two documents is then GUARANTEED to share a fingerprint,
    while only ~2/(window+1) of the hashes are stored — the rolling-
    hash fingerprinting tier between exact md5 (whole-doc) and MinHash
    (set similarity): it localizes WHICH text runs overlap.

    Defaults (k=25, window=16, guarantee length 40 chars) are tuned
    for natural-language text: at k=5 every document shares common
    5-char fragments (" the ") and the match step degenerates to
    all-pairs; 25-char exact runs only occur in genuinely copied
    text (measured on the test corpus: 26 candidate pairs / 500 docs
    with full recall of all 25 true near-dup pairs).

    Output: (id, fingerprint long), one row per distinct selected
    hash — ready for a groupBy/equi-join candidate pass (docs sharing
    fingerprints share text runs). All JVM column expressions: k-gram
    hashes are a transform over substring positions (the same output a
    Rabin-Karp roll produces, vectorized inside codegen), window
    minima via transform + array_min over slices, dedup via
    array_distinct — no shuffle until the caller's own aggregation,
    so the operator is a pure map at any corpus size.

    ``token_hash``: 'rolling' (default — Arrow/numpy Rabin-Karp
    kernel: O(len) per document instead of the O(len·k) substring
    hashing of the JVM paths; measured 5.0x faster end-to-end at sf1,
    3.4x at sf10), 'xxhash64' (pure-JVM column expressions, zero Python
    in the plan), or 'md5' (60-bit md5 prefix, portable — an external
    SQL engine reproduces the selected fingerprints bit-for-bit, same
    trick as simhash_signatures; the oracle path). Hash VALUES differ
    across modes ('rolling' also grams by byte rather than char), but
    the winnowing guarantee and the match-step contract are identical
    — callers must join fingerprints produced by the same mode.
    """
    if k < 1 or window < 1:
        raise ValueError(
            f"k and window must be >= 1, got k={k}, window={window}"
        )
    if token_hash == "rolling":
        return _winnow_fingerprints_rolling(
            ensure_parallelism(df), id_col, text_col, k, window
        )
    if token_hash == "xxhash64":
        def h(gram):
            return F.xxhash64(gram)
    elif token_hash == "md5":
        def h(gram):
            return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast(
                "long"
            )
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    df = ensure_parallelism(df)
    # Materialize each intermediate as a COLUMN before the next lambda
    # references it: an expression referenced inside transform() is
    # re-inlined and re-evaluated PER ELEMENT, so trim(text) inside the
    # gram lambda is O(len²) char work and gram_hashes inside the
    # window lambda is O(len²) md5 calls per document (measured: the
    # naive single-select formulation is ~40x slower at sf0.1).
    s = df.select(
        F.col(id_col), F.trim(F.col(text_col)).alias("_winnow_s")
    )
    text = F.col("_winnow_s")
    n_grams = F.length(text) - F.lit(k - 1)
    # guard: sequence(1, 0) would count DOWN in Spark; short docs get
    # their single whole-text hash as the one fingerprint
    gram_hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: h(F.substring(text, i, F.lit(k))),
        ),
    ).otherwise(F.array(h(text)))
    hs = s.select(F.col(id_col), gram_hashes.alias("_winnow_hs"))
    hs_col = F.col("_winnow_hs")
    n_windows = F.greatest(
        F.size(hs_col) - F.lit(window - 1), F.lit(1)
    )
    fingerprints = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(hs_col, j, window)),
        )
    )
    return hs.select(
        F.col(id_col), F.explode(fingerprints).alias("fingerprint")
    )


#: Rabin-Karp base for the 'rolling' winnow kernel: any odd 64-bit
#: multiplier is invertible mod 2^64 (this one is the FNV-1a prime).
#: Fixed so fingerprints are stable across sessions/batches.
_ROLL_R = 0x100000001B3
_ROLL_R_INV = pow(_ROLL_R, -1, 1 << 64)

#: per-slice character budget for the rolling kernel: every text byte
#: becomes 8-byte uint64 entries in ~5 working arrays (chars, two
#: power tables, prefix sums, gram hashes), so Arrow's default
#: 10k-row batches (~5 MiB of text at sf10's 514 chars/doc) put a
#: ~200 MiB working set through every numpy pass — off-cache.
#: Measured at sf10 (tools/winnow_profile.py): the hash stage runs
#: 2.3x FASTER at maxRecordsPerBatch=2500 (~1.3 MiB slices) than at
#: the 10000 default. The kernel therefore re-slices each incoming
#: Arrow batch to this budget itself, independent of session conf.
#: Module-level so tests can shrink it to exercise multi-slice
#: batches cheaply; fingerprints are slice-invariant (asserted).
_ROLL_CHUNK_CHARS = 2 << 20


def _winnow_fingerprints_rolling(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """O(len)-per-document winnowing via a vectorized Rabin-Karp
    rolling hash (`mapInPandas`, one Arrow batch at a time).

    The JVM formulation hashes substring(text, i, k) at every position:
    O(len·k) character work per document — measured as the steepest
    per-character constant in SCALING.md (k=25 multiplies every byte
    into 25 gram hashes). This kernel recovers the textbook O(len)
    Rabin-Karp cost, vectorized over the WHOLE batch, not per doc:

    - concatenate the batch's (trimmed, utf-8) documents into one byte
      buffer; prefix polynomial sums S[j] = Σ_{m<=j} c_m·r^{-m} and the
      power tables are single cumprod/cumsum passes over that buffer;
    - every k-gram hash is then the closed form
      r^{i+k-1}·(S[i+k-1] - S[i-1]) — position-independent (the global
      prefix cancels all bytes before i, so doc boundaries need no
      per-doc work), finalized with splitmix64 so window minima select
      uniformly;
    - window minima come from ONE sliding_window_view(...).min over the
      global gram array; windows whose byte span crosses a document
      boundary are masked out vectorized (didx[start] != didx[end]);
    - only documents too short for a full window (len < k+window-1)
      fall back to a tiny per-doc min / whole-text hash.

    Everything per-batch is O(total_bytes) numpy; the operator stays a
    pure map (no shuffle), so it scales out exactly like the JVM path.
    Fingerprint values differ from the xxhash64/md5 modes (different
    hash family, byte- vs char-grams) — callers join fingerprints from
    the SAME mode, which the overlap-pairs contract guarantees.
    """
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, fingerprint long"
    span = k + window - 1
    # captured BY VALUE at plan-construction time: a module-global
    # read inside the kernel would resolve on the WORKER's fresh
    # import, making the budget un-overridable (and untestable)
    chunk_chars = _ROLL_CHUNK_CHARS

    def kernel(batches):
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        R = np.uint64(_ROLL_R)
        INV = np.uint64(_ROLL_R_INV)

        def splitmix(z):
            # Steele/Lea/Flood splitmix64 finalizer, vectorized
            z = z.copy()
            z ^= z >> np.uint64(30)
            z *= np.uint64(0xBF58476D1CE4E5B9)
            z ^= z >> np.uint64(27)
            z *= np.uint64(0x94D049BB133111EB)
            z ^= z >> np.uint64(31)
            return z

        # modular wraparound IS the hash arithmetic here; numpy warns
        # on scalar uint64 overflow, so state the intent once
        np.seterr(over="ignore")

        def resliced(raw):
            # cache-friendly slices: re-cut each Arrow batch so one
            # slice's text stays ~_ROLL_CHUNK_CHARS (see constant) —
            # each slice still amortizes the numpy passes over
            # thousands of docs, but its uint64 working set fits L3
            for pdf in raw:
                n = len(pdf)
                if n == 0:
                    yield pdf
                    continue
                lens = (
                    pdf[text_col].str.len().fillna(0).to_numpy()
                )
                cuts = [0]
                acc = 0
                for i in range(n):
                    if acc and acc + lens[i] > chunk_chars:
                        cuts.append(i)
                        acc = 0
                    acc += lens[i]
                cuts.append(n)
                for s, e in zip(cuts[:-1], cuts[1:]):
                    yield pdf.iloc[s:e]

        for pdf in resliced(batches):
            if len(pdf) == 0:
                yield pdf.iloc[0:0].assign(fingerprint=np.int64(0))[
                    [id_col, "fingerprint"]
                ]
                continue
            ids = pdf[id_col].to_numpy()
            texts = [
                (t or "").strip().encode("utf-8")
                for t in pdf[text_col].tolist()
            ]
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            n = int(lens.sum())
            bounds = np.concatenate(
                (np.zeros(1, np.int64), np.cumsum(lens))
            )
            starts = bounds[:-1]
            c = np.frombuffer(b"".join(texts), dtype=np.uint8).astype(
                np.uint64
            )
            # rpow[i] = r^i, ipow[i] = r^-i (mod 2^64; uint64 wraps)
            rpow = np.full(max(n, 1), R, dtype=np.uint64)
            rpow[0] = 1
            np.cumprod(rpow, out=rpow)
            ipow = np.full(max(n, 1), INV, dtype=np.uint64)
            ipow[0] = 1
            np.cumprod(ipow, out=ipow)
            S = np.cumsum(c * ipow[:n])
            Spre = np.concatenate((np.zeros(1, np.uint64), S))
            didx = np.repeat(np.arange(len(texts)), lens)

            out_doc: list[np.ndarray] = []
            out_fp: list[np.ndarray] = []

            if n >= k:
                gi = np.arange(0, n - k + 1)
                g = splitmix(
                    rpow[gi + k - 1] * (S[gi + k - 1] - Spre[gi])
                )
                if n >= span:
                    # global sliding min over grams; keep only windows
                    # whose full byte span sits inside one document
                    M = sliding_window_view(g, window).min(axis=1)
                    wi = np.arange(len(M))
                    ok = didx[wi] == didx[wi + span - 1]
                    sel_d = didx[wi[ok]]
                    sel_f = M[ok]
                    if len(sel_d):
                        order = np.lexsort((sel_f, sel_d))
                        d, f = sel_d[order], sel_f[order]
                        keep = np.ones(len(d), dtype=bool)
                        keep[1:] = (d[1:] != d[:-1]) | (f[1:] != f[:-1])
                        out_doc.append(d[keep])
                        out_fp.append(f[keep])
            # short docs: k <= len < span -> min over the doc's grams
            # (same value array_min(slice(.., 1, window)) yields on a
            # sub-window gram array); len < k -> whole-text hash
            for di in np.nonzero(lens < span)[0]:
                s0, L = int(starts[di]), int(lens[di])
                if L >= k:
                    # gram indices == byte indices of the gram start,
                    # so this doc's grams are the contiguous slice
                    fp = g[s0 : s0 + L - k + 1].min()
                else:
                    e = s0 + L
                    fp = splitmix(
                        np.array(
                            [
                                rpow[e - 1] * (S[e - 1] - Spre[s0])
                                if L > 0
                                else np.uint64(0)
                            ],
                            dtype=np.uint64,
                        )
                    )[0]
                out_doc.append(np.array([di], dtype=np.int64))
                out_fp.append(np.array([fp], dtype=np.uint64))

            if out_doc:
                d_all = np.concatenate(out_doc)
                f_all = np.concatenate(out_fp).astype(
                    np.uint64, copy=False
                )
                import pandas as pd

                yield pd.DataFrame(
                    {
                        id_col: ids[d_all],
                        "fingerprint": f_all.view(np.int64),
                    }
                )
            else:
                import pandas as pd

                yield pd.DataFrame(
                    {
                        id_col: ids[:0],
                        "fingerprint": np.array([], dtype=np.int64),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=out_schema
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    window: int = 16,
    min_shared: int = 2,
    token_hash: str = "rolling",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — the MOSS match step: an equi-join on fingerprint (uniform hash
    key, no skew) + one count aggregation. Output (id_a, id_b,
    shared_fingerprints), id_a < id_b. Cost is bounded by fingerprint
    collision volume (≈ true shared text runs), never all-pairs."""
    fp = winnow_fingerprints(df, id_col, text_col, k, window, token_hash)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ------------------------------------------------------- URL-tier dedup

#: query params that never route content — the classic click/campaign
#: trackers (utm_* per Google's canonical list, Facebook fbclid,
#: Google gclid, Microsoft msclkid, and the bare referrer tag `ref`).
#: A param is dropped when its KEY matches; everything else is
#: content-routing until proven otherwise (watch?v=…, article?id=…,
#: page=…) and is KEPT — crawl-dedup practice (CCNet keys on the raw
#: URL; RefinedWeb strips known trackers only), because folding
#: query-routed URLs deletes genuinely distinct documents.
TRACKER_PARAM_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=.*)?$"


def normalize_url(url: Column, drop_query: bool = False) -> Column:
    """Canonical URL for snapshot/URL-tier exact dedup — the cheapest
    rung of the dedup ladder (used before any content hash: CCNet and
    RefinedWeb both key their first dedup pass on the fetch URL).
    Normalization, applied in order, all JVM expressions (zero
    Python, rides the scan):

    1. lowercase (scheme/host case is insignificant per RFC 3986;
       paths technically aren't, but crawl dedup conventionally folds
       them — two case-variant fetches are the same page);
    2. strip the ``http://`` / ``https://`` scheme (protocol-variant
       refetches are duplicates);
    3. strip one leading ``www.``;
    4. drop the fragment (``#…`` — anchors never change the fetched
       document);
    5. trim trailing slashes off the PATH;
    6. the query string KEEPS its content-routing params (r13 —
       VERDICT r12 #2: ``watch?v=…`` and ``article?id=…`` are
       different documents; the old drop-everything default deleted
       all but one): params whose key matches `TRACKER_PARAM_RE`
       (utm_*, fbclid, gclid, msclkid, ref) are stripped, the
       remainder is SORTED (param order is transport noise) and
       re-joined; an emptied query drops its ``?``.

    ``drop_query=True`` restores the aggressive snapshot-tier fold
    (the whole query string goes — for corpora whose URLs are known
    not to route content by query, e.g. a single site's static
    snapshot mirror).

    The regexps use the subset this repo's PII tier pins as
    Java/RE2/Python-identical, and the param fold uses only
    order-stable operations (split / filter / array_sort /
    array_join), so a DuckDB twin applies the same steps verbatim."""
    c = F.lower(url)
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"#.*$", "")
    if drop_query:
        c = F.regexp_replace(c, r"\?.*$", "")
        return F.regexp_replace(c, r"/+$", "")
    path = F.regexp_replace(
        F.regexp_replace(c, r"\?.*$", ""), r"/+$", ""
    )
    qs = F.when(
        c.contains("?"), F.regexp_replace(c, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKER_PARAM_RE),
        )
    )
    return F.concat(
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    drop_query: bool = False,
) -> DataFrame:
    """Exact URL-tier dedup: one row per `normalize_url` canonical —
    (canonical_url, keep_doc_id = min id, n_dups = rows folded,
    n_variants = distinct RAW spellings folded; n_variants > 1 is the
    receipt that normalization did real work, not just grouping).
    ``drop_query`` passes through to `normalize_url` (default keeps
    content-routing query params — see its docstring).

    Scale shape: the normalization rides the scan (pure expressions),
    then ONE shuffle on the canonical key with map-side partial
    aggregation — identical physics to digest-keyed exact dedup, but
    on a column that's ~100 bytes instead of the document, so the
    exchange moves keys, not content. n_variants is
    size(collect_set(url)), NOT count(distinct url): a distinct
    aggregate would plan a SECOND exchange on (canonical, url), while
    the set fold stays inside the one agg — safe because a duplicate
    GROUP is small (a handful of spelling variants of one page) even
    when the corpus is 100 TB; it is the group count that scales, not
    group width. Canonical URLs are near-unique, so no skew at any
    corpus size. One-exchange / zero-Python shape is plan-asserted in
    tests/test_plans.py."""
    return (
        df.withColumn(
            "canonical_url",
            normalize_url(F.col(url_col), drop_query=drop_query),
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_dups"),
            F.size(F.collect_set(F.col(url_col)))
            .cast("long")
            .alias("n_variants"),
        )
    )

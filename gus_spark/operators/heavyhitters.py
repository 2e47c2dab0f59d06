"""Exact distributed heavy hitters: top-k token (or n-gram)
frequencies over a corpus WITHOUT a corpus-wide token shuffle.

The naive plan — explode every token and groupBy — shuffles one row
per token occurrence: at 100 TB that shuffle IS the job. This
operator is the two-pass sketch-then-verify pattern (the same shape
as the dedup family's candidates→exact-verify):

1. **Candidate pass, zero shuffle**: each partition summarizes its
   token stream with a Misra-Gries summary of ``capacity`` counters
   (Misra & Gries 1982; merge rule per Agarwal et al., "Mergeable
   Summaries", PODS 2012: batch-count exactly, and when the summary
   overflows subtract the (capacity+1)-st largest count and drop
   non-positives). Tokens arrive PRE-TOKENIZED from the JVM
   `functions.tokenize` expression — the kernel never re-derives a
   split, so the cross-engine tokenization contract holds by
   construction. Each partition emits <= capacity candidate rows plus
   one total-count sentinel.
2. **Exact verify, candidate-bounded shuffle**: one more scan counts
   ONLY the candidate tokens through a FORCED broadcast semi-join
   before the groupBy (the BM25 IN-list contract) — so the probe
   (token-occurrence) stream is filtered map-side and NEVER shuffles,
   in every regime. The broadcast is always justified because the
   candidate set is bounded in both regimes: while the static bound
   partitions x (capacity+1) is broadcast-safe, candidates are the
   union of partition summaries; past that bound the partition
   summaries are first TREE-MERGED into one global Misra-Gries
   summary of <= capacity counters (mergeable summaries, Agarwal et
   al. PODS 2012: the merged undercount bound stays n/(capacity+1)
   regardless of merge tree shape), so the candidate set becomes a
   CONSTANT <= capacity rows. The merge itself only ever exchanges
   summary rows (<= partitions x (capacity+1)), never the
   vocabulary. The merged path can drop sub-floor candidates the
   union path would have verified — exactly the rows the certificate
   already refuses to certify; certified output is identical.

The MG guarantee makes the output self-describing: a token absent
from every partition summary has true count <= n/(capacity+1)
(undercount bound per partition, summed), so the result carries
``floor_cnt`` = floor(n/(capacity+1)) — every returned row with
``cnt > floor_cnt`` is PROVABLY the true rank (no unseen token can
beat it). With the default capacity = max(64*k, 4096) real corpora
clear the floor by orders of magnitude; a result row at or under the
floor means the corpus is near-uniform at rank k and capacity should
rise.

DuckDB twin in tests/reference_ops.py (full GROUP BY — the oracle
pays the shuffle the operator avoids); bit-parity asserted in
tests/test_heavyhitters.py, n-grams against a pure-Python counter.

Reference surface: none — extends the SURVEY §2.3 training-data
layer (vocabulary statistics / boilerplate n-gram diagnostics feed
BPE fit sizing and repetition gates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize

#: summary capacity default: 64x the asked k keeps the provable floor
#: n/(capacity+1) far below any plausible k-th frequency, for a
#: driver/executor cost of a few hundred KB per partition
_MIN_CAPACITY = 4096

#: above this static candidate bound (partitions x (capacity+1)) the
#: union-of-summaries candidate set is no longer assumed broadcastable
#: and the global tree-merge path takes over; ~1M short-string rows is
#: tens of MB — comfortably under any executor broadcast budget
_BROADCAST_SAFE_ROWS = 1 << 20

#: tree-merge fan-in: each intermediate merge task reads at most this
#: many partition summaries (fanin x (capacity+1) rows)
_MERGE_FANIN = 64


def gram_col(text: Column, n: int, variant: str = "raw") -> Column:
    """Token array for n=1, else the space-joined n-gram array —
    built ENTIRELY from the shared tokenize() expression so every
    consumer (kernel, exact pass, oracle twin) sees one definition."""
    if n < 1:
        raise ValueError(f"ngram must be >= 1, got {n}")
    toks = tokenize(text, variant)
    if n == 1:
        return toks
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + F.lit(1), n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _mg_kernel(capacity: int):
    """mapInPandas factory: Misra-Gries over the partition's token
    stream. Batches count exactly (C-speed Counter), the summary
    reduces back to ``capacity`` after every batch — the emitted
    summary is truly <= capacity rows and transient memory peaks at
    capacity + one batch's distinct tokens; each reduction subtracts
    the (capacity+1)-st largest count — the mergeable-summaries rule —
    keeping the total undercount <= n_partition/(capacity+1)
    regardless of how often it fires."""

    def summarize(batches):
        from collections import Counter

        import pandas as pd

        def reduce_to_capacity(c: dict[str, int]) -> dict[str, int]:
            if len(c) <= capacity:
                return c
            vals = sorted(c.values(), reverse=True)
            thresh = vals[capacity]
            return {w: v - thresh for w, v in c.items() if v > thresh}

        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            for arr in pdf["_g"]:
                if arr is None:
                    continue
                total += len(arr)
                for w, v in Counter(arr).items():
                    counters[w] = counters.get(w, 0) + v
            # reduce after EVERY batch so the emitted summary — and
            # the downstream broadcast — is truly <= capacity rows;
            # the transient dict peaks at capacity + one Arrow batch's
            # distinct tokens, bounded by the batch size
            counters = reduce_to_capacity(counters)
        yield pd.DataFrame(
            {
                "w": list(counters) + [None],
                "cnt": list(counters.values()) + [total],
            }
        )

    return summarize


def _mg_merge_kernel(capacity: int):
    """mapInPandas factory over (w, cnt) SUMMARY rows: merge them into
    one Misra-Gries summary of <= capacity counters (sum per-token
    counts, reduce by subtracting the (capacity+1)-st largest — the
    mergeable-summaries rule, so the total undercount stays
    n/(capacity+1) across any merge tree). Sentinel rows (w IS NULL)
    carry partition totals and are summed through unchanged."""

    def merge(batches):
        import pandas as pd

        def reduce_to_capacity(c: dict[str, int]) -> dict[str, int]:
            if len(c) <= capacity:
                return c
            vals = sorted(c.values(), reverse=True)
            thresh = vals[capacity]
            return {w: v - thresh for w, v in c.items() if v > thresh}

        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            for w, cnt in zip(pdf["w"], pdf["cnt"]):
                if w is None or (isinstance(w, float)):  # null sentinel
                    total += int(cnt)
                else:
                    counters[w] = counters.get(w, 0) + int(cnt)
            counters = reduce_to_capacity(counters)
        yield pd.DataFrame(
            {
                "w": list(counters) + [None],
                "cnt": list(counters.values()) + [total],
            }
        )

    return merge


def heavy_hitters(
    df: DataFrame,
    k: int = 50,
    ngram: int = 1,
    capacity: int | None = None,
    variant: str = "raw",
    text_col: str = "text",
    grams_col: Column | None = None,
    merge_candidates: bool | None = None,
) -> DataFrame:
    """Exact top-k (token, count) over ``df[text_col]`` — or n-gram
    counts with ``ngram`` > 1 — ordered by (cnt desc, w). Output
    (w, cnt, floor_cnt): ``floor_cnt`` is the provable ceiling on any
    token NOT returned, so rows with cnt > floor_cnt are certified
    exact ranks (see module docstring). Two corpus scans, zero
    vocabulary-wide shuffle.

    MAY return fewer than k rows — down to zero on a stream of
    (near-)singletons, where every summary reduction cancels every
    counter: that is the MG bound speaking (no token's count exceeds
    n/(capacity+1), so nothing is provably frequent and nothing
    survives to report). An empty result therefore IS a finding
    ("nothing repeats above the noise floor"); for exhaustive counts
    at small scale, set ``capacity`` above the distinct-token count
    and the summary is lossless.

    ``grams_col`` overrides the token derivation with an arbitrary
    array<string> column — the ITEM-STREAM generalization: what gets
    counted is whatever the expression emits per row. The boilerplate
    tier (operators/boilerplate.py) feeds per-doc DISTINCT lines, so
    cnt becomes exact DOCUMENT frequency and the same floor certifies
    line doc-frequency ranks — one operator, two diagnoses.

    ``merge_candidates`` picks the candidate-set regime (see module
    docstring step 2): None (default) auto-selects by the static
    bound — union-of-summaries while partitions x (capacity+1) <=
    _BROADCAST_SAFE_ROWS, global tree-merge past it. Both regimes
    force-broadcast the candidates (justified by the respective
    bound), so the probe stream never shuffles. True/False pins a
    regime explicitly (tests; capacity-vs-partition-count tuning)."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    m = max(64 * k, _MIN_CAPACITY) if capacity is None else capacity
    if m < k:
        raise ValueError(f"capacity {m} must be >= k {k}")
    g = (
        grams_col
        if grams_col is not None
        else gram_col(F.col(text_col), ngram, variant)
    )
    grams = df.select(g.alias("_g"))
    summaries = grams.mapInPandas(_mg_kernel(m), "w string, cnt long")
    n_parts = grams.rdd.getNumPartitions()
    if merge_candidates is None:
        merge_candidates = n_parts * (m + 1) > _BROADCAST_SAFE_ROWS
    if merge_candidates:
        # beyond the broadcast-safe static bound: tree-merge the
        # partition summaries into ONE global MG summary of <=
        # capacity counters (same floor — mergeable summaries), so
        # the broadcast below ships a CONSTANT-bounded set. Only
        # summary rows are exchanged here, never the vocabulary.
        if n_parts > _MERGE_FANIN:
            summaries = summaries.repartition(
                -(-n_parts // _MERGE_FANIN)
            ).mapInPandas(_mg_merge_kernel(m), "w string, cnt long")
        # repartition(1), NOT coalesce(1): coalesce removes the stage
        # boundary and would collapse the whole SKETCH pass into one
        # task (measured 6x at sf1); the repartition shuffles only the
        # <= fanin x (capacity+1) summary rows into the merge task
        # while the sketch keeps full scan parallelism.
        summaries = summaries.repartition(1).mapInPandas(
            _mg_merge_kernel(m), "w string, cnt long"
        )
    # tiny: <= partitions x (capacity+1) rows (merged: <= capacity+1).
    # localCheckpoint cuts the lineage so the sketch pass runs once
    # while feeding BOTH the candidate set and the total (two
    # consumers below); eager=False keeps the operator lazy — nothing
    # runs until the caller acts.
    summaries = summaries.localCheckpoint(eager=False)
    candidates = summaries.filter(F.col("w").isNotNull()).select("w").distinct()
    totals = summaries.filter(F.col("w").isNull()).agg(
        F.sum("cnt").alias("n_total")
    )
    # FORCED broadcast on the candidate side — justified in both
    # regimes (union path: static bound <= _BROADCAST_SAFE_ROWS;
    # merged path: <= capacity rows, a constant). This is what keeps
    # the probe stream map-side-filtered in EVERY regime: an AQE
    # sort-merge fallback here would shuffle the full exploded
    # token-occurrence stream — exactly the corpus-wide shuffle the
    # operator exists to avoid (ADVICE r9).
    exact = (
        grams.select(F.explode("_g").alias("w"))
        .join(F.broadcast(candidates), "w", "left_semi")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    floor = F.floor(
        F.col("n_total").cast("double") / F.lit(float(m + 1))
    ).cast("long")
    return (
        exact.crossJoin(F.broadcast(totals))
        .select("w", "cnt", floor.alias("floor_cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(k)
    )

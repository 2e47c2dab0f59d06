"""All-JVM reference formulations the Arrow kernels are tested against.

The library computes MinHash signatures, shingle-hash sets and
repetition counts in one vectorized numpy kernel per family
(`gus_spark.operators.dedup._minhash_kernel`,
`gus_spark.operators.repetition._rep_counts_kernel`). The functions
here compute the same integers with Spark expressions only — no
Python worker in their plans — so any divergence in masking, rotation,
the short-doc fallback, the permutation math or the counting shows as
a mismatch in the parity tests. They are deliberately slow (Spark
evaluates the higher-order functions interpreted) and are not part of
the library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gus_spark.operators.dedup import (
    _MERSENNE_P,
    _PERM_A,
    _PERM_B,
    NUM_BANDS,
    NUM_PERMS,
    ROWS_PER_BAND,
    _mix_expr,
    token_hashes,
)
from gus_spark.operators.util import ensure_parallelism


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 1
) -> DataFrame:
    """(id, mh_0..mh_127) for every non-null-text document: expression
    `_mix_expr` shingle hashes, masked to their 32-bit basis, then 128 ×
    `array_min(transform(...))` universal-hash permutation mins.
    ``ngram`` beyond the rotation table raises ValueError driver-side
    (from `_mix_expr`)."""
    df = ensure_parallelism(df)  # interpreted HOFs: per-row cost is real
    xs_df = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), token_hashes(F.col(text_col)).alias("th"))
        .select(
            F.col(id_col),
            F.transform(
                _mix_expr(F.col("th"), ngram),
                # 32-bit basis: bitwise AND keeps it non-negative and
                # bounds the universal-hash intermediates in signed
                # 64-bit (ANSI)
                lambda m: m.bitwiseAND(F.lit(0xFFFFFFFF)),
            ).alias("xs"),
        )
    )
    return xs_df.select(
        F.col(id_col),
        *[
            F.array_min(
                F.transform(
                    F.col("xs"),
                    lambda x: (x * F.lit(_PERM_A[k]) + F.lit(_PERM_B[k]))
                    % F.lit(_MERSENNE_P),
                )
            ).alias(f"mh_{k}")
            for k in range(NUM_PERMS)
        ],
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, ts): ``array_distinct`` of the expression shingle hashes for
    every non-null-text document (element order differs from the
    kernel's sorted sets; compare sorted)."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), token_hashes(F.col(text_col)).alias("th"))
        .select(
            F.col(id_col),
            F.array_distinct(_mix_expr(F.col("th"), ngram)).alias("ts"),
        )
    )


def band_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band_id, band_hash) from the 128-column signature form
    (`minhash_signature`'s mh_k columns): xxhash64 over each band's
    ROWS_PER_BAND columns."""
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_hash', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return sig.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The six repetition counts by the distributed formulation: explode
    token / bigram hashes, count per (doc, hash), re-aggregate per doc.
    Bigrams are `_mix_expr(th, 2)`; a doc under two tokens has none."""
    th_df = (
        ensure_parallelism(df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), token_hashes(F.col(text_col)).alias("th"))
    )
    empty = F.array().cast("array<long>")
    bigrams = F.when(
        F.size("th") >= 2, _mix_expr(F.col("th"), 2)
    ).otherwise(empty)

    def level_counts(arr, plural, singular):
        tok = th_df.select(F.col(id_col), F.explode(arr).alias("h"))
        per_hash = tok.groupBy(id_col, "h").agg(F.count("*").alias("c"))
        return per_hash.groupBy(id_col).agg(
            F.sum("c").alias(f"n_{plural}"),
            F.count("*").alias(f"n_unique_{plural}"),
            F.max("c").alias(f"top_{singular}_count"),
        )

    tstats = level_counts(F.col("th"), "tokens", "token")
    bstats = level_counts(bigrams, "bigrams", "bigram")
    return tstats.join(bstats, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        "n_unique_tokens",
        "top_token_count",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("n_unique_bigrams", F.lit(0)).alias("n_unique_bigrams"),
        F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
    )

"""Intra-document repetition metrics (Gopher/MassiveText-style gates).

Large-scale corpus curation filters documents whose content is
internally repetitive (boilerplate, keyword stuffing, template spam).
The standard signals — duplicate-token fraction, most-common-token
share, duplicate/top bigram share (Rae et al., Gopher, arXiv
2112.11446 §A1.1) — all reduce to per-document multiset counts over
tokens and consecutive-token bigrams.

Design (same discipline as operators/dedup.py): tokens are
xxhash64'd ONCE per doc JVM-side (the one string→integer boundary —
`token_hashes`), bigram identities are the v3 rotate-xor combine of
consecutive token hashes (`_mix_np`), and the counting runs in one
vectorized numpy pandas_udf per doc — ZERO shuffles, embarrassingly
parallel, the 100-TB shape (np.unique on uint64 arrays; no exploded
token table is ever materialized — the exploded form is ~20x the
document bytes). The explode/groupBy formulation it is tested against
lives in tests/reference_ops.py.

Counting by 64-bit hash instead of by string makes two distinct
tokens collide with probability 2^-64 (see dedup.token_hashes) — far
below the oracle-comparison noise floor; the DuckDB oracle counts the
strings themselves, so every hash-collision event would surface as a
mismatch there.

TOKENIZER NOTE (deliberate divergence, ADVICE r6): tokenization here
is the 'raw' functions.tokenize ``split(trim(text), '\\s+')`` WITHOUT an
empty-string filter, to stay bit-compatible with the dedup hash
family and its DuckDB oracles — so text padded with non-ASCII-space
whitespace (newlines, tabs at the boundaries) contributes phantom ''
tokens to n_tokens and the dup fractions. chunk.py and quality.py
filter empties (their budgets/features must count real words).
Consequence for gate tuning: a Gopher threshold calibrated against
this module's n_tokens is NOT interchangeable with one calibrated on
chunk/quality token counts for boundary-padded corpora; pick one
denominator per pipeline and stick to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gus_spark.operators.dedup import token_hashes
from gus_spark.operators.util import ensure_parallelism

_COUNT_SCHEMA = (
    "n_tokens long, n_unique_tokens long, top_token_count long, "
    "n_bigrams long, n_unique_bigrams long, top_bigram_count long"
)


def _rep_counts_kernel():
    """Arrow kernel: per-doc token-hash array -> the six repetition
    counts, via np.unique(return_counts=True) on uint64 — one map pass,
    no shuffle. Bigram identities are the same rotate-xor combine the
    dedup family uses (`_mix_np`)."""
    import numpy as np
    import pandas as pd

    from gus_spark.operators.dedup import _mix_np

    @F.pandas_udf(_COUNT_SCHEMA)
    def rep_counts(ths):
        rows = []
        for t in ths:
            if t is None:
                rows.append((None,) * 6)
                continue
            arr = np.asarray(t, dtype=np.uint64)
            n = len(arr)
            uniq, counts = np.unique(arr, return_counts=True)
            # explicit n>=2 guard: _mix_np falls back to the token
            # hashes for short docs (shingle semantics); a 1-token doc
            # has ZERO bigrams, not one
            if n >= 2:
                big = _mix_np(arr, 2)
                ubig, cbig = np.unique(big, return_counts=True)
                brow = (len(big), len(ubig), int(cbig.max()))
            else:
                brow = (0, 0, 0)
            rows.append(
                (n, len(uniq), int(counts.max()) if n else 0) + brow
            )
        return pd.DataFrame(
            rows,
            columns=[f.split()[0] for f in _COUNT_SCHEMA.split(", ")],
        )

    return rep_counts


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, n_unique_tokens, top_token_count, n_bigrams,
    n_unique_bigrams, top_bigram_count) per non-null-text document."""
    df = ensure_parallelism(df)
    k = _rep_counts_kernel()
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), token_hashes(F.col(text_col)).alias("th"))
        .select(F.col(id_col), k("th").alias("_r"))
        .select(F.col(id_col), F.col("_r.*"))
    )

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

The other references here are ground truth or twins that only tests
read: the multi-probe LSH bucket list as JVM expressions
(`probe_buckets`, against `similarity._sig_probe_udf`), the exact
O(n²) Jaccard pairs the MinHash/LSH tier is graded against, and the
DuckDB twins of the cap-threshold artifact, the boilerplate exact tier
and unigram heavy hitters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gus_spark.operators.boilerplate import MIN_DOCS
from gus_spark.operators.dedup import (
    _MERSENNE_P,
    _PERM_A,
    _PERM_B,
    NUM_BANDS,
    NUM_PERMS,
    ROWS_PER_BAND,
    _mix_expr,
    shingles,
    token_hashes,
)
from gus_spark.operators.heavyhitters import _MIN_CAPACITY
from gus_spark.operators.mixing import (
    _CAP_SPACE,
    _cap_margin,
    _sql_cap_bucket,
)
from gus_spark.operators.similarity import _dot_lit
from gus_spark.operators.util import ensure_parallelism
from gus_spark.queries import table
from gus_spark.queries.dedup import JACCARD_THRESHOLD


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


def probe_buckets(
    vec: Column, planes: list[list[int]], nprobe: int
) -> Column:
    """Home bucket + the ``nprobe`` buckets reached by flipping the
    lowest-|margin| sign bits (multi-probe LSH). All JVM expressions:
    per-plane dot products feed both the signature and the margin sort;
    every bit shift is a Python-side literal, so nothing leaves
    whole-stage codegen."""
    dots = [_dot_lit(vec, plane) for plane in planes]
    sig = F.lit(0).cast("long")
    for i, d in enumerate(dots):
        bit = F.when(d > 0, 1).otherwise(0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    # struct sort key = |margin| first -> flipping the most borderline
    # hyperplanes first, exactly the buckets a near-miss neighbor is in
    flips = F.array(
        *[
            F.struct(
                F.abs(d).alias("m"),
                sig.bitwiseXOR(F.lit(1 << i)).alias("fsig"),
            )
            for i, d in enumerate(dots)
        ]
    )
    flipped = F.transform(
        F.slice(F.array_sort(flips), 1, min(nprobe, len(planes))),
        lambda s: s["fsig"],
    )
    return F.concat(F.array(sig), flipped)


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram-shingle Jaccard >= 0.8 (near-duplicate
    pairs). Word n-grams, not unigram sets: on low-vocabulary corpora
    unigram-set Jaccard saturates (most doc pairs share most words),
    while order-sensitive shingles cleanly separate true near-dups.
    O(n²) by construction — the ground truth the MinHash/LSH tier is
    graded against; the same shape is the DuckDB oracle SQL of
    `dedup_minhash_lsh` and `dedup_clusters`."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", shingles(F.col("text"), 3).alias("ss"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ss"), F.col("b.ss")))
    union = F.size(F.col("a.ss")) + F.size(F.col("b.ss")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def sql_cap_thresholds(
    table: str = "documents",
    group_col: str = "source",
    max_rows: int = 1000,
    margin: float | None = None,
) -> str:
    """DuckDB twin of `cap_thresholds` — identical integer-threshold
    arithmetic (FLOOR of the double division, matching Spark's
    toward-zero long cast on the positive operand), so a persisted
    artifact is engine-portable bit-for-bit."""
    margin = _cap_margin(max_rows, margin)
    space = _CAP_SPACE
    return f"""
    SELECT {group_col}, _ng,
           CASE WHEN _ng > {max_rows}
             THEN LEAST(CAST({space} AS BIGINT),
                        CAST(FLOOR({float(space) * max_rows * margin!r}
                                   / _ng) AS BIGINT) + 1)
             ELSE CAST({space} AS BIGINT) END AS _thr
    FROM (SELECT {group_col}, COUNT(*) AS _ng
          FROM {table} GROUP BY {group_col})
    """


def sql_apply_cap_thresholds(
    table: str = "documents",
    thresholds: str = "thresholds",
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap-v1",
) -> str:
    """DuckDB twin of `apply_cap_thresholds`: the same portable
    md5-prefix bucket compared against the joined threshold; unfitted
    groups yield NULL keep (LEFT JOIN), null-safe on the group key."""
    b = _sql_cap_bucket(id_col, seed)
    return f"""
    SELECT d.*, {b} < t._thr AS keep
    FROM {table} d
    LEFT JOIN {thresholds} t
      ON d.{group_col} IS NOT DISTINCT FROM t.{group_col}
    """


def sql_boilerplate_lines(
    min_docs: int = MIN_DOCS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cte: str | None = None,
) -> str:
    """DuckDB twin of the exact tier — same trim/non-empty line
    normalization, same doc-frequency threshold, same canonical
    keeper. All-integer/string comparisons: bit-parity needs no
    quantization. ``extra_cte`` ("name AS (...)") is prepended to the
    WITH chain so a probe can seed a derived ``table`` inline (the
    redact_pii in-query seeding precedent)."""
    lead = f"{extra_cte},\n    " if extra_cte else ""
    return f"""
    WITH {lead}nz AS (
      SELECT * FROM (
        SELECT {id_col} AS id,
               TRIM(UNNEST(string_split({text_col}, chr(10)))) AS line
        FROM {table} WHERE {text_col} IS NOT NULL)
      WHERE line <> '')
    SELECT line,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
           MIN(id) AS keep_doc_id
    FROM nz GROUP BY line
    HAVING COUNT(DISTINCT id) >= {min_docs}
    """


def sql_heavy_hitters(
    k: int = 50,
    table: str = "documents",
    text_col: str = "text",
    capacity: int | None = None,
) -> str:
    """DuckDB twin of unigram `heavy_hitters` — the full GROUP BY the
    operator's two-pass plan avoids, same tokenization contract
    (string_split_regex TRIM twin, tests/test_tokenize_contract.py),
    same (cnt desc, w) order and floor arithmetic."""
    m = max(64 * k, _MIN_CAPACITY) if capacity is None else capacity
    return f"""
    WITH toks AS (
      SELECT UNNEST(string_split_regex(TRIM({text_col}), '\\s+')) AS w
      FROM {table} WHERE {text_col} IS NOT NULL),
    totals AS (SELECT COUNT(*) AS n_total FROM toks)
    SELECT w, COUNT(*) AS cnt,
           CAST(FLOOR(CAST(n_total AS DOUBLE)
                      / CAST({float(m + 1)!r} AS DOUBLE)) AS BIGINT)
             AS floor_cnt
    FROM toks CROSS JOIN totals
    GROUP BY w, n_total
    ORDER BY cnt DESC, w
    LIMIT {k}
    """

"""Similarity search over the `embeddings` table (array<float> column).

Brute-force cosine is the correctness baseline (exact, O(n) per query
vector, O(n²) all-pairs); the LSH-bucketed variant in
gus_spark.operators.similarity is the scale path (candidates only within
matching hyperplane-sign buckets).

Numeric contract with the oracle: embeddings are cast element-wise to
double, dot products are computed as a sequential fold (F.aggregate) —
the same left-to-right order DuckDB's list_dot_product uses — so cosine
values are bit-identical and need no rounding fudge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gus_spark.operators.similarity import _as_double
from gus_spark.queries import register, table

#: Production near-dup thresholds sit at 0.9+; this synthetic corpus
#: has NO pairs there (max pairwise cosine ≈ 0.513 at sf0.01, measured
#: — see SCALING.md's ANN recall note), so a 0.95 probe would match
#: its oracle on zero rows, checking nothing. The probe instead uses
#: the corpus's own top-similarity band: ≥ 0.45 returns 14 pairs at
#: sf0.01, so the oracle exercises real pair VALUES (the bit-identical
#: fold-order cosine), not an empty set.
COSINE_THRESHOLD = 0.45


def dot(a, b) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    # delegate to THE cross-engine cosine definition — one expression
    # repo-wide (operators/similarity.cosine_cols), same fold order
    from gus_spark.operators.similarity import cosine_cols

    return cosine_cols(a, b)


_SQL_COS = """
    list_dot_product(a.v, b.v)
      / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
"""


@register(
    "similarity_topk_for_vec0",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT b.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
    FROM v a JOIN v b ON a.vec_id = 0 AND b.vec_id <> 0
    ORDER BY cos_sim DESC, neighbor_id
    LIMIT 10
    """,
)
def similarity_topk_for_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of one query vector. The
    1-row query side broadcasts; the scan side computes one fold per
    row — no shuffle until the final top-k."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "neighbor_id")
        .limit(10)
    )


@register(
    "similarity_neardup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_SQL_COS} AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_SQL_COS} >= {COSINE_THRESHOLD}
    """,
)
def similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine >= COSINE_THRESHOLD —
    embedding-space near-duplicate detection (brute force; the LSH /
    SemDeDup tiers cover scale). Threshold sits in the corpus's top
    similarity band (see COSINE_THRESHOLD note) so the oracle compares
    nonzero pairs with their exact cosine values."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


@register(
    "similarity_label_centroids",
    oracle="""
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    exploded AS (
      SELECT label, unnest(v) AS x, unnest(range(0, len(v))) AS dim FROM v
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(FLOOR(x * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / (1000000000000.0 * COUNT(*)) AS centroid
    FROM exploded
    GROUP BY label, dim
    """,
)
def similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (posexplode + decimal-deterministic
    mean per dimension) — the IVF coarse-quantizer build step."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", _as_double(F.col("embedding")).alias("v")
    )
    # Fixed-point quantization (floor(x*1e12+0.5) in IEEE double, summed
    # exactly as int64) instead of a decimal cast: for float32-origin
    # values, Spark's double->decimal cast goes through the shortest
    # string repr while DuckDB rounds the binary value, so they disagree
    # within the float's ulp; pure IEEE arithmetic is bit-identical.
    return (
        e.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.floor(F.col("x") * 1e12 + 0.5).cast("long")).cast("double")
                / (F.lit(1e12) * F.count("*"))
            ).alias("centroid")
        )
        .select("label", F.col("dim").cast("long").alias("dim"), "centroid")
    )


@register("similarity_ann_lsh")  # Spark-only
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (random-hyperplane
    signs). Rows-only check; recall vs brute force asserted in tests.

    The adaptive plane count needs only n (a log2): served from the
    parquet footers driver-side — no count job — since this is a known
    bare table path. The operator's own count() fallback covers
    arbitrary frames."""
    from gus_spark.operators.similarity import ann_lsh_topk, planes_for_corpus
    from gus_spark.operators.util import parquet_row_count

    e = table(spark, sf_dir, "embeddings")
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(
        e, id_col="vec_id", vec_col="embedding", k=10,
        num_planes=None if n is None else planes_for_corpus(n),
    )


@register("similarity_ann_ivf")  # Spark-only
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors with the
    Lloyd-refined coarse quantizer (kmeans_fit over the label seeds).
    The refined quantizer lets each vector be indexed in only 2 cells
    for recall@5 >= 0.9 — HALF the candidate volume the raw seed
    centroids need for the same recall (asserted in
    test_approx_ops.py); the scan fraction is nprobe/cells, so a
    production corpus with more cells probes a far smaller share.
    Rows-only check; recall asserted in tests."""
    from gus_spark.operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e, id_col="vec_id", vec_col="embedding", k=10, nprobe=4,
        index_probes=2, lloyd_iters=3,
    )

"""End-to-end training-data curation over the `documents` table — the
composition a large-scale pre-training pipeline runs, as ONE declarative
plan: profile → quality gate → language gate → exact dedup → split.

This is the flagship of the LLM-data-pipeline family: the individual
stages exist as standalone probes (text_profile, dedup_exact_*,
stratified sampling), but what a corpus team actually ships is the
composition, and composing it as a single DataFrame expression is what
lets Catalyst collapse it into ONE scan + ONE shuffle:

- the profile metrics, quality predicate, and language predicate are
  all JVM column expressions over the same scan (no materialization
  between "stages" — stage fusion is free because the pipeline is
  declared, not executed step-by-step);
- filters run BEFORE the dedup shuffle, so the only exchange hashes the
  survivors' content digests — at 100 TB the quality/language gates
  typically drop 30-60% of rows before anything crosses the network;
- the train/val split is a deterministic doc_id residue (a production
  pipeline salts a hash; the residue keeps the DuckDB oracle exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gus_spark.functions.tokenize import tokenize

from gus_spark.queries import register, table
from gus_spark.queries.text import _occurrences, _sql_occurrences

MIN_TOKENS = 20          # quality gate: drop the shortest ~10% of docs
VAL_RESIDUE = 19         # doc_id % 20 == 19 -> validation split (5%)


def profile_and_gate(d: DataFrame) -> DataFrame:
    """The stateless prefix of the curation pipeline — per-doc metrics,
    quality gate, language gate, content fingerprint — as pure column
    expressions over one scan. Shared by the batch query below and the
    streaming form (gus_spark.streaming.curation), so both gate
    identically by construction."""
    text = F.col("text")
    tokens = tokenize(text)
    n_tokens = F.size(tokens).cast("long")
    en_hits = (
        _occurrences(text, " the ")
        + _occurrences(text, " and ")
        + _occurrences(text, " of ")
    )
    profiled = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
        (F.length(text).cast("double") / F.size(tokens)).alias("chars_per_word"),
        en_hits.alias("en_marker_hits"),
    )
    return profiled.filter(
        (F.col("n_tokens") >= MIN_TOKENS) & (F.col("en_marker_hits") > 0)
    ).withColumn("content_fp", F.md5(text))


@register(
    "curate_documents",
    oracle=f"""
    WITH profiled AS (
      SELECT doc_id, lang, source, text,
             CAST(LENGTH(string_split_regex(TRIM(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS DOUBLE)
               / LENGTH(string_split_regex(TRIM(text), '\\s+'))
               AS chars_per_word,
             {_sql_occurrences('text', ' the ')}
               + {_sql_occurrences('text', ' and ')}
               + {_sql_occurrences('text', ' of ')} AS en_marker_hits
      FROM documents
    ),
    gated AS (
      SELECT * FROM profiled
      WHERE n_tokens >= {MIN_TOKENS} AND en_marker_hits > 0
    ),
    deduped AS (
      SELECT *,
             md5(text) AS content_fp,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS copy_rank
      FROM gated
    )
    SELECT doc_id, lang, source, n_tokens, chars_per_word,
           en_marker_hits, content_fp,
           CASE WHEN doc_id % 20 = {VAL_RESIDUE} THEN 'val' ELSE 'train' END
             AS split
    FROM deduped
    WHERE copy_rank = 1
    """,
)
def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated English training corpus in one plan: per-doc profile
    metrics (token count, chars/word, English-stopword marker hits),
    quality gate (>= MIN_TOKENS tokens), language gate (at least one
    English marker hit — on this corpus the zero-hit docs are exactly
    the non-English ones), exact content dedup keeping the lowest
    doc_id per md5 digest, and a deterministic train/val assignment.

    Physical shape: one documents scan with every metric and both
    gates fused into it (WholeStageCodegen), then a single exchange on
    content_fp for the dedup window. The gates run pre-shuffle, so the
    exchange carries only surviving rows."""
    gated = profile_and_gate(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        gated.withColumn("copy_rank", F.row_number().over(w))
        .filter(F.col("copy_rank") == 1)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "chars_per_word",
            "en_marker_hits",
            "content_fp",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train")
            .alias("split"),
        )
    )


#: The mixture the catalog query materializes: language-domain weights
#: and a token budget sized so that at sf0.01 the upweighted languages
#: repeat (epochs >= 1 + fractional pass) while the rest downsample —
#: both sampler regimes exercised in one oracle-checked result.
MIX_WEIGHTS = {"en": 0.5, "zh": 0.2, "de": 0.1, "es": 0.1, "fr": 0.1}
MIX_BUDGET = 30_000

from gus_spark.operators.mixing import (  # noqa: E402
    mixture_plan,
    mixture_sample,
    sql_mixture_plan,
)


@register(
    "mixture_sample_documents",
    oracle=f"""
    WITH plan AS ({sql_mixture_plan(MIX_WEIGHTS, MIX_BUDGET, domain_col="lang")})
    SELECT d.doc_id, d.lang, d.source, e.epoch
    FROM documents d
    JOIN plan p ON d.lang = p.domain
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(0, p.epochs)) AS epoch
    ) e
    WHERE e.epoch < p.epochs
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < p.cut
    """,
)
def mixture_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-driven data-mixture materialization (operators/mixing.py
    — the GPT-3/Pile/LLaMA domain-weighting step): plan the per-language
    sampling rate that hits MIX_BUDGET tokens at MIX_WEIGHTS, then emit
    floor(rate) full passes of each domain plus a deterministic
    16-bit-md5-cut fractional pass. Absorbs the rotated
    `stratified_sample_orders` probe: the hash-cut sampler is the same
    primitive, and this form adds the rate computation (epochs +
    fractional cut derived from corpus token totals) on top.

    Physical shape: one groupBy(lang) count aggregation (a handful of
    output rows), broadcast-joined back onto the scan; repeats are a
    JVM sequence + explode — no per-row Python, and the only exchange
    in the plan is the tiny domain-count shuffle (asserted in
    test_plans.py)."""
    docs = table(spark, sf_dir, "documents")
    plan = mixture_plan(
        docs, MIX_WEIGHTS, MIX_BUDGET, domain_col="lang"
    )
    return mixture_sample(docs, plan, domain_col="lang").select(
        "doc_id", "lang", "source", "epoch"
    )


#: DSIR probe knobs: target = English docs; k picks well under the
#: sf0.01 corpus size so the selection is a real subset at the
#: driver's correctness scale (and simply the global top-k at
#: sf0.001's 50 docs).
DSIR_K = 200


@register(
    "dsir_select_documents",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             UNNEST(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL),
    model AS (
      SELECT w,
             COUNT(*) FILTER (WHERE lang = 'en') AS n_target,
             COUNT(*) AS n_raw
      FROM toks GROUP BY w),
    tot AS (
      SELECT SUM(n_target) AS nt, SUM(n_raw) AS nr, COUNT(*) AS v
      FROM model),
    llr AS (
      SELECT w,
             CAST(FLOOR((
                 LN(CAST(n_target + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
               - LN(CAST(n_raw + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE))
             ) * 1000000.0 + 0.5) AS BIGINT) AS llr_fp
      FROM model, tot),
    scores AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_tokens,
             CAST(SUM(llr_fp) AS BIGINT) AS score_fp
      FROM toks JOIN llr USING (w)
      GROUP BY doc_id, lang)
    SELECT doc_id, lang, n_tokens, score_fp,
           score_fp + CAST(FLOOR(
             (CAST(0.1 AS DOUBLE)
              * -LN(-LN((CAST(('0x' || substr(
                    md5('dsir:' || CAST(doc_id AS VARCHAR)),
                    1, 4)) AS INTEGER) + 0.5)
                        / 65536.0)))
             * 1000000.0 + 0.5) AS BIGINT) AS key_fp
    FROM scores
    ORDER BY key_fp DESC, doc_id
    LIMIT 200
    """,
)
def dsir_select_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): select the 200 raw
    documents whose add-1-smoothed unigram log-likelihood ratio vs the
    English target sample is highest, via Gumbel-top-k (a deterministic
    without-replacement sample proportional to w^(1/T) — the md5-seeded
    Gumbel key makes every engine pick the same set). The exact-token
    tier of operators/dsir.py; the hashed fixed-model tier is the
    100-TB path and is overlap-tested against this one in
    tests/test_dsir.py.

    Temperature 0.1: this corpus's languages share most of their
    vocabulary, so per-doc importance spans only ~±1.2 nats — at the
    paper-default T=1 the Gumbel noise (std π/√6 ≈ 1.28 nats)
    legitimately dominates and the sample converges toward the base
    rate. Measured English fraction of the 200 selected at sf0.01
    (base rate 0.436, salted 'dsir:' Gumbel seed): T=0 → 0.580,
    T=0.1 → 0.570, T=0.25 → 0.535, T=0.5 → 0.490, T=1 → 0.460 — the
    textbook bias/diversity dial; T=0.1 keeps the skew visible while
    exercising the full sampling machinery in the oracle.

    Physical shape: one token-keyed aggregation fits both language
    models in a single pass, a 1-row totals aggregate broadcasts onto
    the vocabulary, scoring is a token join + doc-keyed sum, and the
    selection is a TakeOrderedAndProject (plan-asserted) — no
    all-pairs stage, no Python, nothing corpus-scaled on the driver."""
    from gus_spark.operators.dsir import dsir_select

    d = table(spark, sf_dir, "documents")
    return dsir_select(
        d,
        is_target=F.col("lang") == "en",
        k=DSIR_K,
        temperature=0.1,
        carry_cols=("lang",),
    )


#: Hybrid-retrieval probe knobs: the same (terms, query vector, k)
#: triple tests/test_hybrid.py pins against the DuckDB twin and the
#: pure-Python RRF at this sf. The probe vector is vec_id 0's own
#: embedding — fetched with a limit(1) probe on the Spark side and an
#: uncorrelated scalar subquery in the static oracle string, so both
#: engines fuse the identical vector without a registration-time read.
HYBRID_QUERY = ["spark", "join", "dup"]
HYBRID_PHRASE = ["row", "column", "sort"]
HYBRID_K = 10
HYBRID_K_EACH = 20
_HYBRID_QVEC_SQL = (
    "SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0"
)


def _hybrid_oracle() -> str:
    from gus_spark.operators.hybrid import sql_hybrid_rrf_topk

    return sql_hybrid_rrf_topk(
        HYBRID_QUERY,
        _HYBRID_QVEC_SQL,
        HYBRID_K,
        k_each=HYBRID_K_EACH,
        phrase=HYBRID_PHRASE,
    )


@register("hybrid_rrf_topk", oracle=_hybrid_oracle())
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense(+phrase) retrieval fused by Reciprocal Rank
    Fusion (operators/hybrid.py — Cormack et al., SIGIR 2009): BM25
    top-k_each over `documents`, exact-cosine top-k_each over
    `embeddings`, and exact-phrase occurrence top-k_each as the
    forensics source, fused to the top-10 by summed rank reciprocals —
    the full three-source serving stack under one oracle. The fused
    doubles are bit-identical across engines because contributions
    fold in sorted source order (dense, phrase, sparse) in both.

    Physical shape: three top-k_each shortlists (each on its own scale
    path — bucket-pruned postings / one broadcast-query corpus scan /
    per-offset pruned position joins), then an O(n_lists x k_each)-row
    fused aggregation — fusion cost never touches the corpus. The live
    twin (`hybrid_rrf_topk_live` over PostingIndex + VectorIndex incl.
    tombstones) serves these exact rows, asserted in tests/test_hybrid.py.
    Took the exact-Jaccard pairs query's catalog slot: that shape
    already IS the minhash probe's oracle tier (the same SQL verifies
    dedup_minhash_lsh / dedup_clusters), so the rotation keeps that
    surface oracle-checked while giving the round-8 flagship a driver
    CORRECTNESS row."""
    from gus_spark.operators.hybrid import hybrid_rrf_topk as hybrid_fused
    from gus_spark.operators.util import parquet_point_value

    e = table(spark, sf_dir, "embeddings")
    # r13 (guide §5 — the driver should do almost no data work): the
    # probe vector is a point lookup on a KNOWN bare table path, so
    # fetch it from the parquet file driver-side (the ann_lsh
    # parquet_row_count precedent) instead of running a Spark job per
    # build — .first() was ~0.3-0.4 s of every timed bench rep.
    # float32 -> Python float is exact either way (parity pinned in
    # tests/test_hybrid.py); any non-bare path falls back to the job.
    raw = parquet_point_value(
        f"{sf_dir}/embeddings.parquet", "vec_id", 0, "embedding"
    )
    if raw is None:
        raw = e.filter(F.col("vec_id") == 0).first()["embedding"]
    qvec = [float(x) for x in raw]
    d = table(spark, sf_dir, "documents")
    return hybrid_fused(
        d,
        e,
        HYBRID_QUERY,
        qvec,
        HYBRID_K,
        k_each=HYBRID_K_EACH,
        phrase=HYBRID_PHRASE,
    )


def _split_shards_oracle() -> str:
    from gus_spark.operators.splits import (
        sql_hash_split,
        sql_shuffled_shards,
    )

    return f"""
    WITH ids AS (SELECT doc_id FROM documents),
         sp AS ({sql_hash_split(table="ids")})
    {sql_shuffled_shards(table="sp", shards=16)}
    """


#: cap_per_group probe knobs: group by lang so BOTH regimes are in one
#: oracle row at sf0.01 — en (218 docs) gets capped to 100, the other
#: four languages (64-75 docs) pass whole.
CAP_GROUP_COL = "lang"
CAP_MAX_ROWS = 100


def _cap_per_group_oracle() -> str:
    from gus_spark.operators.mixing import sql_cap_per_group

    return sql_cap_per_group(
        "documents", group_col=CAP_GROUP_COL, max_rows=CAP_MAX_ROWS
    )


@register("cap_per_group_docs", oracle=_cap_per_group_oracle())
def cap_per_group_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group over-representation cap (operators/mixing.py
    `cap_per_group`, new round 10 — the RefinedWeb/MassiveWeb
    domain-balance gate, Penedo et al. 2023): keep at most
    CAP_MAX_ROWS documents per language, survivors the lowest seeded
    portable hash (a deterministic uniform sample-without-replacement
    per group, stable on any cluster/partitioning). The probe runs the
    ``tier='prefilter'`` SCALE path — per-group counts broadcast back,
    hash-threshold prefilter bounding the ranking window to
    ~max_rows*margin rows per group regardless of group size (the
    head-domain killer at 100 TB), with the loud per-group guarantee
    check — against the exact-window DuckDB twin, so the driver row
    verifies the 100-TB tier bit-for-bit, not just the textbook
    window. Replaces `dedup_exact_representatives` in the catalog (its
    digest-keyed agg shape stays fully hash-checked in test_queries.py
    — the dedup_simhash rotation precedent — and its bench line
    continues via bench.extra_queries); the md5-digest-groupBy surface
    also remains in-catalog via curate_documents' dedup stage."""
    from gus_spark.operators.mixing import cap_per_group

    d = table(spark, sf_dir, "documents")
    return cap_per_group(
        d,
        group_col=CAP_GROUP_COL,
        max_rows=CAP_MAX_ROWS,
        tier="prefilter",
    )


@register("train_split_shards", oracle=_split_shards_oracle())
def train_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus→loader handoff (operators/splits.py, new
    round 10): every document gets its train/validation/test label
    (98/1/1 by seeded hash — a pure map, ZERO shuffles at any corpus
    size, stable under growth: adding documents never moves existing
    assignments) and its reproducible global training order as
    (shard, pos) — shard by hash range (uniform, no skew key), pos by
    rank of the hash within the shard, which at 100 TB is the ONE
    shard-keyed exchange a training-order materialization cannot
    avoid and nothing more. Both assignments ride the portable
    md5-hex-prefix integer identity, so the DuckDB twin reproduces
    every label, shard, and position bit-for-bit. Replaces
    `text_lang_fingerprint` in the catalog (its marker-score /
    fingerprint shapes stay value-checked in test_queries.py and its
    bench line continues via bench.extra_queries)."""
    from gus_spark.operators.splits import hash_split, shuffled_shards

    d = table(spark, sf_dir, "documents").select("doc_id")
    return shuffled_shards(hash_split(d), shards=16).select(
        "doc_id", "split", "shard", "pos"
    )

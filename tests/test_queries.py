"""Query-surface tests: every registered query runs and returns its
declared shape at sf0.001; a representative subset is value-checked
against DuckDB inline (the full catalog sweep lives in
tests/oracle_harness.py and the driver's gate)."""

import os
import sys

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conftest import SF_DIR, SF_DIR_ORACLE
from oracle_harness import TABLES, frame_key

from gus_spark.functions.deterministic import dsum, sql_dsum
from gus_spark.queries import catalog, table

# value-checked inline (fast, high signal); chosen to cover each module
SPOT_CHECK = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_orders_analytics",
    "events_sessionization",
    "text_repetition_profile",
    "dedup_url_docs",
    "similarity_topk_for_vec0",
]


# TPC-H q14/q15 complete the 22/22 TPC-H shape ledger. Their shapes are
# strictly subsumed by in-catalog probes (q14's conditional ratio over a
# lineitem⋈part join is q8's; q15's equal-to-global-max selection is the
# q22 broadcast-scalar pattern over q2's group revenue), so they hold no
# catalog row; the literal queries live here and hash-match DuckDB.
Q14_ORACLE = f"""
    SELECT CAST(100.0 AS DOUBLE)
           * {sql_dsum("CASE WHEN p_type = 'PROMO' "
                       "THEN l_extendedprice * (1 - l_discount) "
                       "ELSE 0 END")}
           / {sql_dsum("l_extendedprice * (1 - l_discount)")}
           AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO revenue share for one month. One row-scaled
    join (lineitem⋈part on partkey — part is un-hinted, AQE decides)
    feeding a 1-row conditional-ratio aggregate; both sums are decimal
    (exact, order-free), divided once in double."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / dsum(rev)
            ).alias("promo_revenue_pct")
        )
    )


Q15_ORACLE = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose quarterly revenue equals the
    global maximum. The revenue "view" is one supplier-keyed decimal
    aggregate; the global max is the q22 uncorrelated-scalar pattern
    (1-row aggregate broadcast back); equality is exact because both
    sides derive from the same order-free decimal sums."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# Full SQL mirror of the MOSS winnowing scheme with the portable
# 60-bit md5 gram hash (same trick as dedup_simhash): k=25 char
# grams -> window-16 minima -> distinct fingerprints -> pairs
# sharing >= 2. All-integer selection, so both engines pick the
# identical fingerprint positions and the counts match exactly.
# DuckDB range(a,b) is [a,b) and list slices are 1-based inclusive;
# both aligned to operators.dedup.winnow_overlap_pairs' sequence/slice.
WINNOW_ORACLE = """
    WITH t AS (
      SELECT doc_id, TRIM(text) AS s FROM documents
    ), grams AS (
      SELECT doc_id,
             CASE WHEN LENGTH(s) >= 25
               THEN list_transform(range(1, LENGTH(s) - 25 + 2),
                 i -> CAST(('0x' || substr(md5(substr(s, i, 25)), 1, 15))
                          AS BIGINT))
               ELSE [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)]
             END AS hs
      FROM t
    ), fps AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, GREATEST(len(hs) - 15, 1) + 1),
                 j -> list_min(hs[j : j + 15]))
             )) AS fingerprint
      FROM grams
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS shared_fingerprints
    FROM fps a JOIN fps b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """


# Full SQL mirror of simhash_signatures with the portable md5 token
# hash: 3-gram shingles -> 60-bit hash per shingle (first 15 md5 hex
# chars; DuckDB parses '0x…' casts) -> per-bit ±1 vote sums ->
# signature = bits with a strictly positive vote. All-integer
# arithmetic, so the two engines agree exactly. Its catalog query,
# dedup_simhash, was rotated out in round 10 (slot ->
# remove_boilerplate_docs); the bit-parity check stays here.
SIMHASH_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(ws) >= 3
               THEN list_transform(range(1, len(ws)-1),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
               ELSE ws END)) AS tok
      FROM toks
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM sh
    ), votes AS (
      SELECT doc_id, bits.bit,
             SUM(CASE WHEN (h >> bits.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) bits
      GROUP BY doc_id, bits.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR_ORACLE}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


@pytest.mark.parametrize("name", sorted(catalog()))
def test_query_runs(spark, name):
    spec = catalog()[name]
    df = spec.fn(spark, SF_DIR)
    assert df.columns, name
    assert df.count() >= 0


@pytest.mark.parametrize("name", SPOT_CHECK)
def test_query_matches_oracle(spark, duck, name):
    spec = catalog()[name]
    assert spec.oracle is not None
    sdf = spec.fn(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(spec.oracle).df()
    assert frame_key(sdf) == frame_key(odf)


@pytest.mark.parametrize(
    "name", sorted(n for n, s in catalog().items() if s.text is not None)
)
def test_sql_query_leaves_no_temp_view(spark, name):
    """A query defined as one SQL text binds its inputs as spark.sql
    DataFrame arguments: no view stays in the session catalog after
    the build or the collect."""

    def views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    def leaked():
        return [v for v in views() if v.startswith("_pyspark_") or v not in before]

    before = views()
    df = catalog()[name].fn(spark, SF_DIR)
    assert not leaked()
    df.collect()
    assert not leaked()


def test_every_oracle_is_valid_duckdb(duck):
    """Every declared oracle parses and runs on DuckDB (cheap guard
    against SQL drift before the driver round runs)."""
    for name, spec in catalog().items():
        if spec.oracle is not None:
            duck.execute(f"SELECT * FROM ({spec.oracle}) LIMIT 1")


def test_text_lang_fingerprint_matches_oracle(spark, duck):
    """text_lang_fingerprint rotated out of the catalog (r10, slot ->
    train_split_shards) but keeps full value coverage here: marker
    scores, argmax prediction, and both fingerprints vs the DuckDB
    twin."""
    from gus_spark.queries.text import (
        LANG_FINGERPRINT_ORACLE,
        text_lang_fingerprint,
    )

    sdf = text_lang_fingerprint(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(LANG_FINGERPRINT_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_text_profile_matches_oracle(spark, duck):
    """text_profile rotated out of the catalog (late r10, folded into
    text_repetition_profile; slot -> perplexity_buckets_docs) but
    keeps full value coverage here."""
    from gus_spark.queries.text import TEXT_PROFILE_ORACLE, text_profile

    sdf = text_profile(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(TEXT_PROFILE_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_repetition_profile_matches_oracle(spark, duck):
    """repetition_profile rotated out of the catalog (late r10, same
    fold) but keeps full value coverage here — including the oracle's
    independent recount from token STRINGS."""
    from gus_spark.queries.text import (
        REPETITION_PROFILE_ORACLE,
        repetition_profile,
    )

    sdf = repetition_profile(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(REPETITION_PROFILE_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_fused_profile_token_columns_agree(spark):
    """The fused row carries text_profile's n_tokens/n_unique_tokens
    and drops repetition_profile's copies — legal only while the two
    tokenize identically. Pin that equality."""
    from gus_spark.queries.text import repetition_profile, text_profile

    tp = {
        r.doc_id: (r.n_tokens, r.n_unique_tokens)
        for r in text_profile(spark, SF_DIR_ORACLE)
        .select("doc_id", "n_tokens", "n_unique_tokens")
        .collect()
    }
    rp = {
        r.doc_id: (r.n_tokens, r.n_unique_tokens)
        for r in repetition_profile(spark, SF_DIR_ORACLE)
        .select("doc_id", "n_tokens", "n_unique_tokens")
        .collect()
    }
    assert tp == rp


def test_dedup_simhash_matches_oracle(spark, duck):
    """Every md5-portable simhash signature vs the DuckDB per-bit-vote
    mirror."""
    from gus_spark.operators.dedup import simhash_signatures

    docs = table(spark, SF_DIR_ORACLE, "documents")
    sdf = simhash_signatures(
        docs, id_col="doc_id", text_col="text", token_hash="md5"
    ).toPandas()
    odf = duck.execute(SIMHASH_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_dedup_winnow_pairs_matches_oracle(spark, duck):
    """The MOSS winnowing operator with the portable md5 gram hash:
    every fingerprint-pair count vs the DuckDB all-integer mirror."""
    from gus_spark.operators.dedup import winnow_overlap_pairs

    docs = table(spark, SF_DIR_ORACLE, "documents")
    sdf = winnow_overlap_pairs(docs, token_hash="md5").toPandas()
    odf = duck.execute(WINNOW_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_dedup_exact_representatives_matches_oracle(spark, duck):
    """dedup_exact_representatives rotated out of the catalog (r11,
    slot -> cap_per_group_docs) but keeps full value coverage here:
    every (digest, representative, copy count) vs the DuckDB
    md5-groupBy twin."""
    from gus_spark.queries.dedup import (
        DEDUP_EXACT_ORACLE,
        dedup_exact_representatives,
    )

    sdf = dedup_exact_representatives(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(DEDUP_EXACT_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


@pytest.mark.parametrize("name", ["q14", "q15"])
def test_q14_q15_inline_match_oracle(spark, duck, name):
    """TPC-H q14/q15 (defined above, outside the catalog) run and
    hash-match DuckDB, so the 22/22 TPC-H ledger stays value-checked."""
    fn, oracle = {
        "q14": (q14_promo_revenue, Q14_ORACLE),
        "q15": (q15_top_supplier, Q15_ORACLE),
    }[name]
    sdf = fn(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(oracle).df()
    assert len(sdf) > 0
    assert frame_key(sdf) == frame_key(odf)

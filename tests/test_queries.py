"""Query-surface tests: every registered query runs and returns its
declared shape at sf0.001; a representative subset is value-checked
against DuckDB inline (the full catalog sweep lives in
tests/oracle_harness.py and the driver's gate)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conftest import SF_DIR, SF_DIR_ORACLE
from oracle_harness import TABLES, frame_key

from gus_spark.queries import catalog

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


def test_q1_leaves_no_temp_view(spark):
    """q1 binds its input as a spark.sql DataFrame argument: no view
    stays in the session catalog after the build or the collect."""

    def views():
        return [
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and "lineitem" in t.name
            or t.name.startswith("_pyspark_")
        ]

    before = views()
    df = catalog()["q1_pricing_summary"].fn(spark, SF_DIR)
    assert views() == before
    assert df.collect()
    assert views() == before


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
    """dedup_simhash rotated out of the catalog (r10, slot ->
    remove_boilerplate_docs) but keeps full bit-parity coverage here:
    every md5-portable simhash signature vs the DuckDB per-bit-vote
    mirror."""
    from gus_spark.queries.dedup import SIMHASH_ORACLE, dedup_simhash

    sdf = dedup_simhash(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(SIMHASH_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


def test_dedup_winnow_pairs_matches_oracle(spark, duck):
    """dedup_winnow_pairs rotated out of the catalog (r12, slot ->
    dedup_url_docs) but keeps full value coverage here: every MOSS
    fingerprint-pair count vs the DuckDB all-integer mirror."""
    from gus_spark.queries.dedup import WINNOW_ORACLE, dedup_winnow_pairs

    sdf = dedup_winnow_pairs(spark, SF_DIR_ORACLE).toPandas()
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


def test_profile_orders_columns_matches_oracle(spark, duck):
    """profile_orders_columns rotated out of the catalog (r7, slot ->
    dsir_select_documents) but keeps full value coverage here: the
    single-scan wide-agg profiler vs its DuckDB twin."""
    from gus_spark.queries.advanced import (
        PROFILE_ORDERS_ORACLE,
        profile_orders_columns,
    )

    sdf = profile_orders_columns(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(PROFILE_ORDERS_ORACLE).df()
    assert frame_key(sdf) == frame_key(odf)


@pytest.mark.parametrize("name", ["q14", "q15"])
def test_q14_q15_inline_match_oracle(spark, duck, name):
    """TPC-H q14/q15 complete the 22/22 shape ledger. Held INLINE (not
    catalog-registered): their shapes are strictly subsumed by
    in-catalog probes (q14 = q8's conditional ratio over a join;
    q15 = q22's broadcast-scalar max over q2's group revenue), so they
    don't spend driver CORRECTNESS rows — but the literal queries run
    and hash-match DuckDB here."""
    from gus_spark.queries.relational import (
        Q14_ORACLE,
        Q15_ORACLE,
        q14_promo_revenue,
        q15_top_supplier,
    )

    fn, oracle = {
        "q14": (q14_promo_revenue, Q14_ORACLE),
        "q15": (q15_top_supplier, Q15_ORACLE),
    }[name]
    sdf = fn(spark, SF_DIR_ORACLE).toPandas()
    odf = duck.execute(oracle).df()
    assert len(sdf) > 0
    assert frame_key(sdf) == frame_key(odf)


def test_approx_distinct_sketch_error_bounded(spark, duck):
    """Rotated out of the catalog r8 (rows-only by nature — HLL++ vs
    DuckDB's HLL differ), but the sketch path stays VALUE-checked
    here: the exact column must equal DuckDB's exact countDistinct
    per group, and the HLL++ estimate must sit within 3x the
    requested 2% rsd of it."""
    from gus_spark.queries.advanced import approx_distinct_sketch

    got = {
        r["o_orderstatus"]: (r["approx_customers"], r["exact_customers"])
        for r in approx_distinct_sketch(spark, SF_DIR_ORACLE).collect()
    }
    want = dict(
        duck.execute(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) "
            "FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(want)
    for status, (approx, exact) in got.items():
        assert exact == want[status], status
        assert abs(approx - exact) / exact <= 0.06, (status, approx, exact)

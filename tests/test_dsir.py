"""DSIR importance resampling (operators/dsir.py).

Contracts pinned here:
- selection at temperature 0 is exactly the top-k by (score_fp desc,
  doc_id) — the sampler's deterministic limit;
- the temperature dial moves the selection from score-dominated toward
  the corpus base rate (bias/diversity), and the target-language skew
  is real at low T;
- the run is deterministic: two independent executions select the
  identical set (md5-seeded Gumbel, no RNG);
- the hashed fixed-model tier agrees with the exact-token tier at
  collision-free bucket counts, and its scoring stage is a pure
  per-row map: ZERO exchanges in the plan;
- degenerate inputs fail loudly (empty target, bad k/temperature/B).
"""

import contextlib
import io
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE

from gus_spark.operators.dsir import (
    dsir_select,
    dsir_select_hashed,
    hashed_logratios,
    hashed_scores,
    importance_scores,
    token_logratios,
)
from gus_spark.queries import table

def IS_EN():
    # built lazily: classic-mode Column construction needs the JVM
    return F.col("lang") == "en"


@pytest.fixture(scope="module")
def docs(spark):
    # sf0.01: 500 docs, 218 en — big enough that a k=200 selection is a
    # real subset with a measurable language skew
    return table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def scored(spark, docs):
    lr = token_logratios(docs, IS_EN())
    return importance_scores(docs, lr, carry_cols=("lang",)).toPandas()


def test_scores_skew_toward_target_language(scored):
    """The mean importance log-weight of target-language docs must sit
    clearly above every other language's — the model found the
    language-specific vocabulary despite the shared core."""
    means = scored.groupby("lang")["score_fp"].mean()
    others = means.drop("en")
    assert means["en"] > 0 > others.max(), means.to_dict()


def test_temperature_zero_is_exact_topk(docs, scored):
    sel = dsir_select(
        docs, IS_EN(), k=50, temperature=0.0, carry_cols=("lang",)
    ).toPandas()
    expect = (
        scored.sort_values(
            ["score_fp", "doc_id"], ascending=[False, True]
        )["doc_id"]
        .head(50)
        .tolist()
    )
    assert sel["doc_id"].tolist() == expect
    # T=0 key IS the score
    assert (sel["key_fp"] == sel["score_fp"]).all()


def test_temperature_dial_and_skew(docs):
    """Low T: strong target skew; T=1 on this shared-vocabulary corpus
    (scores span ~±1.2 nats vs Gumbel std 1.28): near base rate. The
    skew must decrease monotonically in T and beat the base rate
    clearly at T=0."""
    base = 218 / 500
    fracs = []
    for t in (0.0, 0.25, 1.0):
        sel = dsir_select(
            docs, IS_EN(), k=200, temperature=t, carry_cols=("lang",)
        ).toPandas()
        assert len(sel) == 200
        fracs.append((sel["lang"] == "en").mean())
    assert fracs[0] >= base + 0.10, fracs
    assert fracs[0] > fracs[1] > fracs[2] >= base - 0.03, fracs


def test_selection_is_deterministic(docs):
    a = dsir_select(docs, IS_EN(), k=100).toPandas()
    b = dsir_select(docs, IS_EN(), k=100).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["key_fp"].tolist() == b["key_fp"].tolist()


def test_hashed_tier_matches_exact_at_collision_free_buckets(
    spark, docs, scored
):
    """At B=2^16 over this corpus's small vocabulary, bucket collisions
    are rare — hashed scores must track exact scores closely and the
    T=0 selections must overlap almost entirely."""
    model = hashed_logratios(docs, IS_EN(), buckets=1 << 16)
    hs = hashed_scores(docs, model).toPandas().set_index("doc_id")
    ex = scored.set_index("doc_id")
    assert (hs["n_tokens"] == ex["n_tokens"].reindex(hs.index)).all()
    diff = (hs["score_fp"] - ex["score_fp"].reindex(hs.index)).abs()
    # collisions perturb a few docs; the median doc must be near-exact
    # (smoothing denominators differ: V vs B) — rank agreement is the
    # real contract, checked via top-k overlap below
    sel_h = set(
        dsir_select_hashed(docs, IS_EN(), k=100, temperature=0.0)
        .toPandas()["doc_id"]
    )
    sel_e = set(
        dsir_select(docs, IS_EN(), k=100, temperature=0.0)
        .toPandas()["doc_id"]
    )
    overlap = len(sel_h & sel_e) / 100
    assert overlap >= 0.9, (overlap, float(diff.median()))


def test_hashed_scoring_is_zero_shuffle(spark, docs):
    """The scale tier's scoring stage is a per-row map over JVM-hashed
    bucket arrays: the plan must contain NO exchange of any kind — at
    100 TB this stage costs exactly one scan."""
    model = hashed_logratios(docs, IS_EN(), buckets=1 << 12)
    df = hashed_scores(docs, model)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "Scan parquet" in plan


def test_degenerate_inputs(docs):
    with pytest.raises(ValueError):
        dsir_select(docs, IS_EN(), k=0)
    with pytest.raises(ValueError):
        dsir_select(docs, IS_EN(), k=10, temperature=-1.0)
    with pytest.raises(ValueError):
        hashed_logratios(docs, IS_EN(), buckets=0)
    with pytest.raises(ValueError):
        # no doc matches: empty target sample must fail loudly
        hashed_logratios(docs, F.col("lang") == "xx", buckets=1 << 8)


def test_empty_and_null_text_docs_survive(spark):
    pdf = spark.createDataFrame(
        [(1, "the quick fox", "en"), (2, "", "en"), (3, None, "de"),
         (4, "der schnelle fuchs", "de")],
        "doc_id long, text string, lang string",
    )
    lr = token_logratios(pdf, F.col("lang") == "en")
    sc = importance_scores(pdf, lr).toPandas()
    # null text drops; empty text contributes its single '' token
    assert set(sc["doc_id"]) == {1, 2, 4}
    sel = dsir_select(pdf, F.col("lang") == "en", k=2, temperature=0.0)
    assert sel.count() == 2


def test_hashed_scoring_applies_to_streams(spark, docs, tmp_path):
    """The hashed tier's scoring is a stateless per-row map (JVM bucket
    arrays + Arrow kernel — no agg, no state), so the same
    hashed_scores call composes into a streaming micro-batch graph
    with a FROZEN model (the fit is a corpus aggregate — compute it
    batch-side, the mixture-plan precedent); the drained stream is
    row-identical to the batch scores."""
    model = hashed_logratios(docs, IS_EN(), buckets=1 << 12)
    src = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        hashed_scores(stream, model)
        .writeStream.format("memory")
        .queryName("dsir_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.n_tokens, r.score_fp)
        for r in spark.sql("SELECT * FROM dsir_stream").collect()
    }
    want = {
        (r.doc_id, r.n_tokens, r.score_fp)
        for r in hashed_scores(docs, model).collect()
    }
    assert got == want and got


def test_hashed_scores_preserves_string_ids(spark):
    """The kernel's output schema derives the id type from the input —
    string ids (URLs/UUIDs, the realistic crawl case) must round-trip."""
    pdf = spark.createDataFrame(
        [("u://a", "the quick fox", "en"), ("u://b", "la zorra", "es")],
        "url string, text string, lang string",
    )
    model = hashed_logratios(
        pdf, F.col("lang") == "en", buckets=1 << 8, text_col="text"
    )
    out = hashed_scores(pdf, model, id_col="url").toPandas()
    assert set(out["url"]) == {"u://a", "u://b"}
    assert out["score_fp"].dtype.kind == "i"


def test_bigram_features_match_paper_form(spark, docs):
    """ns=(1, 2) is the paper's hashed unigram+bigram feature set:
    feature count per doc = tokens + bigram windows, fit/score remain
    deterministic and rank-consistent (the en target still scores
    above the rest on average), and ns=(1,) reproduces the unigram
    tier exactly."""
    uni = hashed_logratios(docs, IS_EN(), buckets=1 << 12)
    uni2 = hashed_logratios(docs, IS_EN(), buckets=1 << 12, ns=(1,))
    assert (uni == uni2).all()

    model = hashed_logratios(docs, IS_EN(), buckets=1 << 12, ns=(1, 2))
    sc = (
        hashed_scores(docs, model, ns=(1, 2))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .toPandas()
    )
    # feature count: L unigrams + (L-1) bigrams = 2L - 1 (docs here
    # are all >= 2 tokens so the short-doc fallback never fires)
    uni_sc = hashed_scores(docs, uni).toPandas().set_index("doc_id")
    got = sc.set_index("doc_id")
    assert (
        got["n_tokens"] == 2 * uni_sc["n_tokens"].reindex(got.index) - 1
    ).all()
    en = got[got["lang"] == "en"]["score_fp"].mean()
    rest = got[got["lang"] != "en"]["score_fp"].mean()
    assert en > rest
    # deterministic across runs
    again = hashed_scores(docs, model, ns=(1, 2)).toPandas()
    assert sorted(again["score_fp"]) == sorted(sc["score_fp"])


def test_short_doc_bigram_features_are_paper_count(spark):
    """A 1-token doc under ns=(1, 2) is 1 unigram + 0 bigrams — the
    shingle fallback (raw token hashes for docs shorter than n) is
    gated off, because those hashes land in the IDENTICAL buckets as
    the n=1 features and would double-count exactly the short docs
    Gumbel-top-k is most sensitive about."""
    pdf = spark.createDataFrame(
        [(1, "solo", "en"), (2, "two tokens", "en"),
         (3, "three token doc", "de")],
        "doc_id long, text string, lang string",
    )
    model = hashed_logratios(
        pdf, F.col("lang") == "en", buckets=1 << 8, ns=(1, 2)
    )
    sc = hashed_scores(pdf, model, ns=(1, 2)).toPandas().set_index("doc_id")
    # feature counts: L + max(L-1, 0)
    assert sc.loc[1, "n_tokens"] == 1
    assert sc.loc[2, "n_tokens"] == 3
    assert sc.loc[3, "n_tokens"] == 5
    with pytest.raises(ValueError):
        hashed_logratios(pdf, F.col("lang") == "en", ns=())
    with pytest.raises(ValueError):
        hashed_logratios(pdf, F.col("lang") == "en", ns=(1, 1))


def test_auto_buckets_derivation(spark, docs):
    """Round-8 close of round 7's one weak: B is derived from the
    corpus vocabulary so the expected collision-pair count stays
    ~constant at any scale — B = next_pow2(V^2 / (2 * pair_budget)),
    clamped to [2^16, 2^24]. Pinned: the floor at a tiny vocabulary,
    the birthday-bound growth past it, the ceiling clamp, and that the
    default-B entry points resolve through the derivation."""
    from gus_spark.operators.dsir import (
        _MAX_BUCKETS,
        _MIN_AUTO_BUCKETS,
        auto_buckets,
    )

    # sf0.001 documents: 31-term vocabulary -> need = 961/8 ≈ 120,
    # far under the floor
    assert auto_buckets(docs) == _MIN_AUTO_BUCKETS

    # 900 distinct unigrams -> need ≈ 101k; with HLL++ rsd ≈ 5% the
    # estimate stays within [91k, 112k] -> 2^17 on either edge
    wide = spark.range(900).select(
        F.lit(0).alias("doc_id"),
        F.concat(F.lit("tok"), F.col("id").cast("string")).alias("text"),
    )
    assert auto_buckets(wide) == 1 << 17

    # a stingier pair budget demands more buckets, monotonically
    assert auto_buckets(wide, pair_budget=0.5) > 1 << 17

    # ceiling: an absurd budget clamps at the documented model cap
    assert auto_buckets(wide, pair_budget=1e-12) == _MAX_BUCKETS
    with pytest.raises(ValueError, match="pair_budget"):
        auto_buckets(wide, pair_budget=0)

    # default-B entry points resolve through the derivation: the model
    # width IS auto_buckets' answer
    model = hashed_logratios(docs, IS_EN())
    assert model.shape[0] == auto_buckets(docs)

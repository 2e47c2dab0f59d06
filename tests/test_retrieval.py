"""BM25 ranked retrieval (operators/retrieval.py).

Contracts pinned here:
- engine parity: the Spark plan and the DuckDB twin hash-match on the
  sf0.01 corpus (row set, scores, order) — the same evidence class as
  a catalog oracle row, held inline;
- formula correctness: a from-scratch pure-Python BM25 reproduces
  every fixed-point score exactly (independent of both engines);
- idf does its job: a rare term (df 25/500) dominates common terms
  (df ~390/500), so the top-k for a mixed query is exactly the
  rare-term postings;
- physical shape: the query-term IN-list filter runs BEFORE the
  posting aggregation (the only row-scaled exchange carries matching
  occurrences only), the small sides broadcast, the top-k is a
  TakeOrderedAndProject, and no Python appears in the plan;
- degenerate inputs fail loudly.
"""

import contextlib
import io
import math
import os
import re
import sys
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE
from oracle_harness import frame_key

from gus_spark.operators.retrieval import (
    K1,
    B,
    bm25_topk,
    corpus_stats,
    posting_lists,
    sql_bm25_topk,
)
from gus_spark.queries import table

QUERY = ["spark", "join", "dup"]  # two common terms + one rare (df=25)
K = 25


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def topk(docs):
    return bm25_topk(docs, QUERY, K).toPandas()


def test_matches_duckdb_twin(topk):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    odf = con.execute(sql_bm25_topk(QUERY, K)).df()
    assert frame_key(topk) == frame_key(odf)


def test_matches_pure_python_bm25(docs, topk):
    """Every selected doc's fixed-point score recomputed from scratch:
    tokenize, tf/df/dl/avgdl, Okapi formula, quantize per (doc, term),
    sum — must equal the Spark value bit-for-bit."""
    rows = docs.select("doc_id", "text").collect()
    toks = {
        r["doc_id"]: re.split(r"\s+", r["text"].strip())
        for r in rows
        if r["text"] is not None
    }
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    dfreq = Counter(
        w for t in toks.values() for w in set(t) if w in QUERY
    )
    expect = {}
    for did, t in toks.items():
        tf = Counter(w for w in t if w in QUERY)
        if not tf:
            continue
        s = 0
        for w, f in tf.items():
            idf = math.log(
                1.0 + (n_docs - dfreq[w] + 0.5) / (dfreq[w] + 0.5)
            )
            tfn = (f * (K1 + 1.0)) / (
                f + K1 * (1.0 - B + B * len(t) / avgdl)
            )
            s += math.floor(idf * tfn * 1000000.0 + 0.5)
        expect[did] = s
    for _, r in topk.iterrows():
        assert expect[r["doc_id"]] == r["score_fp"], r["doc_id"]
    # and the selection really is the global top-K of the full scoring
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    assert [d for d, _ in top] == topk["doc_id"].tolist()


def test_rare_term_dominates(docs, topk):
    """idf separation: every doc containing the rare term must outrank
    every doc that only matches common terms, so the top-25 IS the
    rare term's posting set."""
    with_dup = {
        r["doc_id"]
        for r in docs.filter("text LIKE '%dup%'")
        .select("doc_id")
        .collect()
    }
    assert set(topk["doc_id"]) == with_dup
    assert len(with_dup) == K


def test_physical_shape(docs):
    """r14 expression form (ad-hoc term counts): per-term tf via array
    filter, one 1-row stats aggregate broadcast back, score as pure
    column arithmetic — NO posting aggregation exchange, no explode,
    no Python; the only exchanges are the stats aggregate's and the
    broadcast."""
    df = bm25_topk(docs, QUERY, K)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan
    # the 1-row df/avgdl stats reach the per-doc scores via broadcast
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # no posting shuffle, no explode: the corpus never leaves its scan
    # partitioning before the top-k
    assert "hashpartitioning(w" not in plan, plan
    assert "Generate" not in plan, plan


def test_physical_shape_posting_route_wide_terms(docs):
    """Past ADHOC_EXPR_MAX_TERMS the posting route serves (expression
    width would grow per term): the IN-list filter must run BELOW the
    first keyed exchange — the original posting-form scan claim."""
    from gus_spark.operators.retrieval import ADHOC_EXPR_MAX_TERMS

    wide = QUERY + [f"zz{i}" for i in range(ADHOC_EXPR_MAX_TERMS)]
    df = bm25_topk(docs, wide, K)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    # formatted-plan ids number children first, so deeper = smaller
    filt = re.search(r"\((\d+)\) Filter\nInput.*?\nCondition :[^\n]*w#",
                     plan, re.S)
    exch = re.search(r"\((\d+)\) Exchange\nInput.*?hashpartitioning\(w",
                     plan, re.S)
    assert filt and exch, plan
    assert int(filt.group(1)) < int(exch.group(1)), plan


def test_posting_lists_shape(docs):
    post = posting_lists(docs).filter("w = 'dup'").toPandas()
    assert (post["tf"] >= 1).all()
    assert len(post) == 25
    stats = corpus_stats(docs).collect()[0]
    assert stats["n_docs"] == 500
    assert stats["avgdl"] > 0


def test_degenerate_inputs(docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, [], 5)
    with pytest.raises(ValueError):
        bm25_topk(docs, ["spark"], 0)
    # unseen term: no postings, no crash, empty result
    assert bm25_topk(docs, ["zzzznotaterm"], 5).count() == 0
    # duplicate query terms collapse to the set form
    a = bm25_topk(docs, ["dup", "dup", "spark"], 10).toPandas()
    b = bm25_topk(docs, ["dup", "spark"], 10).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score_fp"].tolist() == b["score_fp"].tolist()


def test_tokenize_binds_once_on_the_data_path(docs):
    """The posting build must regex-split each document ONCE on the
    explode fan-out path: the Generate's child Project binds the
    array, and Generate consumes the bound column (never an inline
    split). The only other splits allowed are the two in the
    scan-level inferred filter (size > 0 / isnotnull) — a fixed
    per-row predicate, not O(tokens)."""
    df = posting_lists(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "explode(_tk" in plan, plan
    assert plan.count("split(") == 3, plan


def test_batch_matches_single_queries_bit_exact(spark, docs, topk):
    """bm25_batch with weight 1.0 must reproduce each single-query
    ranking and every fixed-point score bit-for-bit (the weight
    multiplies inside the quantization and 1.0*x is an IEEE identity);
    and the whole batch runs as ONE job graph, not one per query."""
    from gus_spark.operators.retrieval import bm25_batch

    q2 = ["batch", "scan", "dup"]
    queries = spark.createDataFrame(
        [("qa", w, 1.0) for w in QUERY] + [("qb", w, 1.0) for w in q2],
        "query_id string, w string, weight double",
    )
    got = bm25_batch(docs, queries, K).toPandas()
    for qid, single in (("qa", QUERY), ("qb", q2)):
        part = got[got["query_id"] == qid].sort_values("rank")
        ref = bm25_topk(docs, single, K).toPandas()
        assert part["doc_id"].tolist() == ref["doc_id"].tolist(), qid
        assert part["score_fp"].tolist() == ref["score_fp"].tolist(), qid
        assert part["rank"].tolist() == list(range(1, len(ref) + 1))


def test_batch_weights_steer_ranking(spark, docs):
    """Up-weighting a term must pull its postings to the top: with
    weight 100 on the rare term vs 1 elsewhere, every rank-1..25 doc
    contains it; with weight 0 the term contributes nothing (scores
    equal the query without it)."""
    from gus_spark.operators.retrieval import bm25_batch

    queries = spark.createDataFrame(
        [("up", "spark", 1.0), ("up", "dup", 100.0),
         ("zero", "spark", 1.0), ("zero", "dup", 0.0),
         ("without", "spark", 1.0)],
        "query_id string, w string, weight double",
    )
    got = bm25_batch(docs, queries, 25).toPandas()
    up = got[got["query_id"] == "up"]
    dup_docs = {
        r["doc_id"]
        for r in docs.filter("text LIKE '%dup%'").select("doc_id").collect()
    }
    assert set(up["doc_id"]) == dup_docs
    # weight 0 == the term was never in the query: IDENTICAL result
    # frame (docs, scores, hit counts, ranks), not just common scores
    zero = (
        got[got["query_id"] == "zero"]
        .drop(columns="query_id")
        .reset_index(drop=True)
    )
    without = (
        got[got["query_id"] == "without"]
        .drop(columns="query_id")
        .reset_index(drop=True)
    )
    assert zero.equals(without)
    # duplicate (query_id, w) rows collapse to set semantics
    dup_q = spark.createDataFrame(
        [("d", "dup", 1.0), ("d", "dup", 1.0), ("d", "spark", 1.0)],
        "query_id string, w string, weight double",
    )
    set_q = spark.createDataFrame(
        [("d", "dup", 1.0), ("d", "spark", 1.0)],
        "query_id string, w string, weight double",
    )
    a = bm25_batch(docs, dup_q, 10).toPandas()
    c = bm25_batch(docs, set_q, 10).toPandas()
    assert a["score_fp"].tolist() == c["score_fp"].tolist()
    assert a["n_terms_hit"].tolist() == c["n_terms_hit"].tolist()


def test_batch_is_one_postings_pass(spark, docs):
    """The batch's cost claim: documents are scanned a CONSTANT number
    of times (postings + corpus stats = 2 logical scans) regardless of
    how many queries share the batch, the query side reaches the
    postings via broadcast, and the per-query top-k is a window rank —
    no cartesian stage anywhere."""
    from gus_spark.operators.retrieval import bm25_batch

    queries = spark.createDataFrame(
        [(f"q{i}", w, 1.0) for i in range(50) for w in QUERY],
        "query_id string, w string, weight double",
    )
    df = bm25_batch(docs, queries, 10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    # formatted plan names each scan twice (tree + detail header).
    # 3 logical scans of documents: the postings subtree appears in
    # BOTH the df-count branch and the scoring branch (Spark plans
    # don't dedupe shared subtrees without an explicit cache), plus
    # the 1-row corpus-stats aggregate. CONSTANT in the query count —
    # the point of the batch (ad-hoc pays the same 3 per query).
    docs_scans = plan.count("Scan parquet")
    assert docs_scans == 6, (docs_scans, plan)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Window" in plan, plan
    # no Python in the SCORING path (the only 'Python' mention allowed
    # is the test harness's own createDataFrame ingest of the tiny
    # query batch, which prints as applySchemaToPythonRDD)
    assert "BatchEvalPython" not in plan, plan
    assert "PythonUDF" not in plan and "InPandas" not in plan, plan


PHRASE = ["row", "column", "sort"]  # occurs verbatim in 7 sf0.01 docs


def _python_phrase_counts(docs, phrase):
    """From-scratch twin: sliding-window count of exact (possibly
    overlapping) phrase occurrences per doc."""
    out = {}
    m = len(phrase)
    for r in docs.select("doc_id", "text").collect():
        if r["text"] is None:
            continue
        t = re.split(r"\s+", r["text"].strip())
        n = sum(
            1 for i in range(len(t) - m + 1) if t[i:i + m] == phrase
        )
        if n:
            out[r["doc_id"]] = n
    return out


def test_phrase_matches_duckdb_and_python(docs):
    """Exact-phrase retrieval parity three ways: the Spark positional
    join, the DuckDB self-join twin, and a from-scratch sliding-window
    count — identical (id, n_occurrences) sets, identical order."""
    from gus_spark.operators.retrieval import phrase_topk, sql_phrase_topk

    got = phrase_topk(docs, PHRASE, 50).toPandas()
    expect = _python_phrase_counts(docs, PHRASE)
    assert expect, "phrase probe is vacuous on this corpus"
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert list(zip(got["doc_id"], got["n_occurrences"])) == want

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    odf = con.execute(sql_phrase_topk(PHRASE, 50)).df()
    assert frame_key(got) == frame_key(odf)


def test_phrase_repeated_terms_and_overlaps(spark):
    """Repeated phrase terms join their postings once PER OFFSET, and
    overlapping occurrences all count: 'a b a b a' contains 'a b a' at
    starts 0 and 2. DuckDB twin agrees."""
    from gus_spark.operators.retrieval import phrase_topk, sql_phrase_topk

    rows = [
        (1, "a b a b a"),        # overlapping: starts 0 and 2
        (2, "a b a"),            # single occurrence
        (3, "a b b a"),          # terms present, phrase absent
        (4, "b a a b"),          # terms present, phrase absent
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = phrase_topk(df, ["a", "b", "a"], 10).toPandas()
    assert list(zip(got["doc_id"], got["n_occurrences"])) == [
        (1, 2), (2, 1)
    ]
    con = duckdb.connect()
    con.register("docs_py", df.toPandas())
    odf = con.execute(
        sql_phrase_topk(["a", "b", "a"], 10, table="docs_py")
    ).df()
    assert frame_key(got) == frame_key(odf)


def test_phrase_forensics_catches_what_13gram_misses(spark):
    """The module's own motivating forensics case: a training doc
    quotes an 8-token eval question VERBATIM. The 13-gram
    decontaminator (operators/decontaminate.py) cannot see any overlap
    shorter than its n, so the doc sails through — exact-phrase
    retrieval over positional postings pins it, with the quote's
    position count as evidence."""
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.operators.retrieval import phrase_match

    quote = "what is the capital city of upper freedonia".split()
    assert len(quote) < 13
    train = spark.createDataFrame(
        [
            (1, "filler one " + " ".join(quote) + " trailing words"),
            (2, "completely unrelated training text about engines"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, " ".join(quote))], "doc_id long, text string"
    )
    # the 13-gram gate keeps BOTH docs (no 13-token overlap exists)
    survivors = decontaminate(train, bench, n=13, min_hits=1)
    assert sorted(
        r["doc_id"] for r in survivors.select("doc_id").collect()
    ) == [1, 2]
    # phrase retrieval convicts doc 1
    hits = phrase_match(train, quote).toPandas()
    assert list(zip(hits["doc_id"], hits["n_occurrences"])) == [(1, 1)]


def test_phrase_degenerate_inputs(docs):
    from gus_spark.operators.retrieval import phrase_topk

    with pytest.raises(ValueError, match="phrase"):
        phrase_topk(docs, [], 5)
    with pytest.raises(ValueError, match="k"):
        phrase_topk(docs, PHRASE, 0)


def test_phrase_batch_matches_single_phrases(spark, docs):
    """phrase_batch: one batched pass reproduces, per phrase, exactly
    the ids+counts of the single-phrase phrase_topk — including a
    repeated-term phrase and a phrase with zero matches (absent from
    the output, not zero-padded)."""
    from gus_spark.operators.retrieval import phrase_batch, phrase_topk

    batch = {
        "p1": PHRASE,
        "p2": ["join", "small", "slow"],
        "p3": ["no", "such", "phrase", "anywhere"],
    }
    phrases = spark.createDataFrame(
        [(qid, ph) for qid, ph in batch.items()],
        "query_id string, phrase array<string>",
    )
    got = phrase_batch(docs, phrases, 50).toPandas()
    for qid, ph in batch.items():
        part = got[got["query_id"] == qid].sort_values("rank")
        ref = phrase_topk(docs, ph, 50).toPandas()
        assert part["doc_id"].tolist() == ref["doc_id"].tolist(), qid
        assert (
            part["n_occurrences"].tolist()
            == ref["n_occurrences"].tolist()
        ), qid
        assert part["rank"].tolist() == list(range(1, len(ref) + 1))

    # repeated-term + overlapping occurrences, batched
    rows = [(1, "a b a b a"), (2, "a b a"), (3, "b a a b")]
    tiny = spark.createDataFrame(rows, "doc_id long, text string")
    ph2 = spark.createDataFrame(
        [("q", ["a", "b", "a"])], "query_id string, phrase array<string>"
    )
    out = phrase_batch(tiny, ph2, 10).toPandas()
    assert list(
        zip(out["doc_id"], out["n_occurrences"])
    ) == [(1, 2), (2, 1)]

    # empty phrase raises; bad k raises
    empt = spark.createDataFrame(
        [("q", [])], "query_id string, phrase array<string>"
    )
    with pytest.raises(ValueError, match="phrase"):
        phrase_batch(docs, empt, 5)
    with pytest.raises(ValueError, match="k"):
        phrase_batch(docs, phrases, 0)


def test_long_phrase_routes_to_folded_form(spark, docs):
    """Phrases past LONG_PHRASE_OFFSET_JOINS tokens route to the
    single-exchange coverage-count form (VERDICT r8 #7). Pinned at
    m=13 — the decontamination n-gram boundary, the natural long
    quote — three ways: the folded Spark path vs a from-scratch
    sliding-window count vs the DuckDB join-chain twin; plus a
    repeated-term long phrase, and routing equivalence (the folded
    form equals the chain form on the same postings)."""
    from pyspark.sql import functions as F

    from gus_spark.operators.retrieval import (
        LONG_PHRASE_OFFSET_JOINS,
        _phrase_occurrences_folded,
        phrase_topk,
        posting_positions,
        sql_phrase_topk,
    )

    # a real 13-token quote lifted verbatim from a corpus doc
    src = docs.filter(F.col("doc_id") == 11).first()["text"].split()
    phrase = src[4:17]
    assert len(phrase) == 13 > LONG_PHRASE_OFFSET_JOINS

    got = phrase_topk(docs, phrase, 50).toPandas()
    expect = _python_phrase_counts(docs, phrase)
    assert expect, "long-phrase probe is vacuous on this corpus"
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert list(zip(got["doc_id"], got["n_occurrences"])) == want

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    odf = con.execute(sql_phrase_topk(phrase, 50)).df()
    assert frame_key(got) == frame_key(odf)

    # folded form alone on identical postings reproduces the truth
    # (the routed phrase_topk above already exercised it end to end)
    post = posting_positions(docs).filter(
        F.col("w").isin(sorted(set(phrase)))
    )
    folded = {
        (r.doc_id, r.n_occurrences)
        for r in _phrase_occurrences_folded(post, phrase, "doc_id").collect()
    }
    assert folded == set(expect.items())

    # repeated-term long phrase: 11 tokens, 'a b' * 5 + 'a'
    rep_docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b a b a"),        # matches at start 0
            (2, "x a b a b a b a b a b a y"),    # embedded match
            (3, "a b a b a b a b a b"),          # one token short
        ],
        "doc_id bigint, text string",
    )
    rep_phrase = ["a", "b"] * 5 + ["a"]
    assert len(rep_phrase) == 11 > LONG_PHRASE_OFFSET_JOINS
    rp = phrase_topk(rep_docs, rep_phrase, 10).toPandas()
    assert list(zip(rp["doc_id"], rp["n_occurrences"])) == [(1, 1), (2, 1)]


def test_expression_forms_match_posting_forms(docs):
    """r14: the ad-hoc scorers went expression-form (per-term tf via
    array filter; per-offset positions via indexed transform). Pin the
    FULL result sets — not just the top-k — bit-identical to the
    posting forms they replaced, including a zero-match term, repeated
    phrase terms, and a one-term phrase."""
    from gus_spark.operators.retrieval import (
        _phrase_occurrences,
        _phrase_occurrences_folded,
        _query_terms,
        _score_and_topk,
        phrase_match,
        posting_positions,
    )
    from pyspark.sql import functions as F

    for query in (QUERY, ["the"], ["zzznope", "spark"]):
        terms = _query_terms(query)
        post = posting_lists(docs).filter(F.col("w").isin(terms))
        want = [
            (r[0], r[1], r[2])
            for r in _score_and_topk(
                post, corpus_stats(docs), 10**6, "doc_id", K1, B
            ).collect()
        ]
        got = [
            (r[0], r[1], r[2])
            for r in bm25_topk(docs, query, 10**6).collect()
        ]
        assert got == want, query

    for phrase in (["row", "column", "sort"], ["the", "the"], ["dup"]):
        post = posting_positions(docs).filter(
            F.col("w").isin(sorted(set(phrase)))
        )
        want = sorted(
            (r[0], r[1])
            for r in _phrase_occurrences(post, phrase, "doc_id").collect()
        )
        wantf = sorted(
            (r[0], r[1])
            for r in _phrase_occurrences_folded(
                post, phrase, "doc_id"
            ).collect()
        )
        got = sorted(
            (r[0], r[1]) for r in phrase_match(docs, phrase).collect()
        )
        assert got == want == wantf, phrase

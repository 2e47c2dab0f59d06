"""Exact distributed heavy hitters (operators/heavyhitters.py).

Contracts pinned here:
- engine parity: the two-pass sketch-then-verify plan hash-matches
  the DuckDB full-GROUP-BY twin on the sf0.01 corpus (ids, counts,
  floor, order);
- formula correctness: n-gram counts against a pure-Python exact
  counter over the same JVM-produced token lists;
- the certification floor does its job: every returned row clears
  floor_cnt on this corpus (so the top-k is provably exact), and a
  deliberately starved capacity still returns true heavy hitters
  whose counts beat the (now large) floor arithmetic honestly;
- physical shape: the exact pass's shuffle is candidate-bounded (a
  broadcast semi-join guards the groupBy) and the candidate pass has
  no shuffle at all before the summary aggregation;
- degenerate inputs fail loudly.
"""

import contextlib
import io
import os
import re
import sys
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE
from oracle_harness import frame_key
from reference_ops import sql_heavy_hitters

from gus_spark.functions.tokenize import tokenize
from gus_spark.operators.heavyhitters import gram_col, heavy_hitters
from gus_spark.queries import table

K = 25


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


def test_matches_duckdb_twin(docs):
    got = heavy_hitters(docs, K).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    odf = con.execute(sql_heavy_hitters(K)).df()
    assert frame_key(got) == frame_key(odf)
    # the certification floor is cleared by every returned row on
    # this corpus — the top-25 is provably exact
    assert (got["cnt"] > got["floor_cnt"]).all()


def test_ngrams_match_pure_python(docs):
    """Trigram counts vs an exact Counter over the SAME token lists
    (JVM tokenize output collected), so the comparison isolates the
    sketch-verify machinery from tokenization."""
    toks = [
        r["t"]
        for r in docs.select(
            tokenize(F.col("text"), "raw").alias("t")
        ).collect()
        if r["t"] is not None
    ]
    exact = Counter(
        " ".join(t[i : i + 3])
        for t in toks
        for i in range(len(t) - 2)
    )
    want = sorted(
        ((c, w) for w, c in exact.items()), key=lambda p: (-p[0], p[1])
    )[:K]
    # the synthetic corpus's trigram distribution is nearly FLAT
    # (top count 8 vs a default-capacity floor of 6): certification
    # honestly refuses at default capacity. With capacity above the
    # distinct-trigram count the summary is lossless, the floor drops
    # to 0, and the whole top-k certifies.
    got = heavy_hitters(docs, K, ngram=3, capacity=50_000).toPandas()
    assert [(int(r.cnt), r.w) for r in got.itertuples()] == want
    assert (got["cnt"] > got["floor_cnt"]).all()
    # default capacity still RANKS correctly here, but must mark the
    # flat tail uncertified rather than claim it
    dflt = heavy_hitters(docs, K, ngram=3).toPandas()
    assert [(int(r.cnt), r.w) for r in dflt.itertuples()] == want
    assert (dflt["cnt"] <= dflt["floor_cnt"]).any()


def test_starved_capacity_floor_is_honest(docs):
    """capacity barely above k: the floor rises to n/(capacity+1) and
    the result must SAY so — any row at/below the floor is not
    certified. The returned counts themselves are still exact counts
    of real tokens (the verify pass is exact by construction)."""
    got = heavy_hitters(docs, 5, capacity=8).toPandas()
    exact = heavy_hitters(docs, 5).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    n_total = con.execute(
        "SELECT COUNT(*) FROM (SELECT UNNEST(string_split_regex("
        "TRIM(text), '\\s+')) FROM documents WHERE text IS NOT NULL)"
    ).fetchone()[0]
    assert (got["floor_cnt"] == n_total // 9).all()
    # certified rows (cnt > floor) must agree with the true top list
    certified = got[got["cnt"] > got["floor_cnt"]]
    truth = {r.w: int(r.cnt) for r in exact.itertuples()}
    for r in certified.itertuples():
        assert truth.get(r.w) == int(r.cnt)


def test_singleton_regime_returns_empty_not_wrong(docs):
    """On a (near-)singleton stream — 8-grams after dedup — every MG
    reduction cancels every counter, so the default-capacity result
    is EMPTY: the bound's honest answer ('nothing repeats above the
    noise floor n/(capacity+1)'), never an uncertified guess. A
    lossless capacity turns the same call exhaustive. (The raw corpus
    still holds near-dup copies whose shared 8-grams survive — the
    singleton regime is built here by doc-id-salting every token, the
    make_sf1 trick, so no 8-gram can repeat across docs.)"""
    salted = docs.select(
        F.array_join(
            F.transform(
                tokenize(F.col("text"), "words"),
                lambda w: F.concat(w, F.lit("_"), F.col("doc_id")),
            ),
            " ",
        ).alias("text")
    )
    assert heavy_hitters(salted, 5, ngram=8).count() == 0
    full = heavy_hitters(
        salted, 5, ngram=8, capacity=1 << 20
    ).toPandas()
    assert len(full) == 5
    assert (full["cnt"] >= 1).all()
    assert (full["cnt"] > full["floor_cnt"]).all()  # floor is 0


def test_mg_merge_bound_property():
    """The mergeable-summaries guarantee (Agarwal et al. PODS 2012)
    for OUR kernels, pinned property-based and pure-Python (the
    kernels are plain generators — no Spark needed): for any token
    stream, any partitioning, any merge-tree shape, and any capacity,
    (a) estimates never exceed true counts, (b) the total undercount
    of any token is <= n_total/(capacity+1) — the floor_cnt the
    operator publishes — and (c) any token whose true count beats
    that floor SURVIVES the merged summary (the certified-candidate
    contract the broadcast relies on)."""
    from collections import Counter

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gus_spark.operators.heavyhitters import (
        _mg_kernel,
        _mg_merge_kernel,
    )

    def summarize(tokens, capacity):
        return next(
            _mg_kernel(capacity)([pd.DataFrame({"_g": [tokens]})])
        )

    def merge(frames, capacity):
        return next(_mg_merge_kernel(capacity)(frames))

    @settings(max_examples=60, deadline=None)
    @given(
        tokens=st.lists(
            st.sampled_from(list("abcdefghij")), max_size=400
        ),
        n_parts=st.integers(1, 5),
        fanin=st.integers(1, 3),
        capacity=st.integers(2, 8),
    )
    def check(tokens, n_parts, fanin, capacity):
        parts = [tokens[i::n_parts] for i in range(n_parts)]
        summaries = [summarize(p, capacity) for p in parts]
        # two-level merge with an arbitrary grouping, then the root —
        # the tree shape must not matter
        level1 = [
            merge(summaries[i : i + fanin], capacity)
            for i in range(0, len(summaries), fanin)
        ]
        root = merge(level1, capacity)
        est = {
            w: int(c)
            for w, c in zip(root["w"], root["cnt"])
            if w is not None
        }
        n_total = int(
            sum(c for w, c in zip(root["w"], root["cnt"]) if w is None)
        )
        true = Counter(tokens)
        assert n_total == len(tokens)  # sentinel totals survive merges
        bound = len(tokens) / (capacity + 1)
        for w, t in true.items():
            e = est.get(w, 0)
            assert e <= t, (w, e, t)
            assert t - e <= bound, (w, e, t, bound)
            if t > bound:
                assert w in est and est[w] > 0, (w, t, bound)
        for w in est:
            assert w in true  # never invents tokens

    check()


def test_merged_candidate_regime(docs):
    """The beyond-broadcast-bound path (merge_candidates=True): the
    partition summaries tree-merge into one global MG summary, so the
    candidate set is <= capacity rows. Certified output must be
    IDENTICAL to the union path's certified rows (the merge can only
    drop sub-floor candidates the certificate already refuses), and
    the floor arithmetic is unchanged. Run at two partition counts so
    both the direct coalesce(1) merge and the two-level fan-in merge
    execute (fan-in 64)."""
    union = heavy_hitters(docs, K, merge_candidates=False).toPandas()
    for parts in (None, 70):
        d = docs if parts is None else docs.repartition(parts)
        merged = heavy_hitters(d, K, merge_candidates=True).toPandas()
        cert_u = union[union["cnt"] > union["floor_cnt"]]
        cert_m = merged[merged["cnt"] > merged["floor_cnt"]]
        assert list(cert_m["w"]) == list(cert_u["w"])
        assert list(cert_m["cnt"]) == list(cert_u["cnt"])
        assert set(merged["floor_cnt"]) == set(union["floor_cnt"])
    # on this corpus the whole top-k certifies, so the merged result
    # is bit-identical end to end
    assert frame_key(merged) == frame_key(union)


def test_merged_plan_still_broadcasts(docs):
    """Forced broadcast survives the merged path: the probe stream is
    filtered by a BroadcastHashJoin LeftSemi, never a sort-merge join
    (which would shuffle the full token-occurrence stream)."""
    out = heavy_hitters(docs, K, merge_candidates=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_plan_shape(docs):
    """The exact pass reaches its groupBy through a broadcast
    semi-join (candidate-bounded shuffle) and never a cartesian or a
    sort-merge join on the token stream."""
    out = heavy_hitters(docs, K)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_degenerate_inputs(docs):
    with pytest.raises(ValueError, match="k must be"):
        heavy_hitters(docs, 0)
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(docs, 10, capacity=5)
    with pytest.raises(ValueError, match="ngram"):
        heavy_hitters(docs, 10, ngram=0)

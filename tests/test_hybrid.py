"""Hybrid sparse+dense RRF retrieval (operators/hybrid.py).

Contracts pinned here:
- engine parity: `hybrid_rrf_topk` hash-matches the DuckDB twin
  `sql_hybrid_rrf_topk` on the sf0.01 corpus — fused doubles
  bit-identical (rank-reciprocal contributions added in the same
  order in both engines);
- formula correctness: a from-scratch pure-Python RRF over the two
  tiers' (already individually twin-checked) rankings reproduces
  every fused score exactly;
- cross-path contract: the LIVE path (PostingIndex + VectorIndex at
  full probe + corpus-wide shortlist + exact re-rank) serves the same
  fused ranking as the scan path, and ids deleted from BOTH indexes
  drop out of the fusion exactly as a scan over the surviving corpus;
- batch contract: `hybrid_rrf_batch` at weight 1.0 equals the
  single-query path per query;
- degenerate inputs fail loudly.
"""

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE
from oracle_harness import frame_key

from gus_spark.operators.hybrid import (
    RRF_K,
    dense_topk,
    hybrid_rrf_batch,
    hybrid_rrf_topk,
    hybrid_rrf_topk_live,
    rrf_fuse,
    sql_hybrid_rrf_topk,
)
from gus_spark.operators.retrieval import bm25_topk
from gus_spark.queries import table

QUERY = ["spark", "join", "dup"]  # two common terms + one rare
K = 10
K_EACH = 20


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF_DIR_ORACLE, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]


@pytest.fixture(scope="module")
def fused(docs, emb, qvec):
    return hybrid_rrf_topk(
        docs, emb, QUERY, qvec, K, k_each=K_EACH
    ).toPandas()


def test_matches_duckdb_twin(fused, qvec):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{SF_DIR_ORACLE}/{t}.parquet'"
        )
    odf = con.execute(
        sql_hybrid_rrf_topk(QUERY, qvec, K, k_each=K_EACH)
    ).df()
    assert frame_key(fused) == frame_key(odf)


def test_weighted_fusion_matches_duckdb_twin(docs, emb, qvec):
    """Per-tier weights (the dilution mitigation tools/hybrid_grade.py
    motivates) keep the cross-engine bit-parity: the weight multiply
    is applied — or structurally skipped at 1.0 — identically in both
    engines."""
    got = hybrid_rrf_topk(
        docs, emb, QUERY, qvec, K, k_each=K_EACH,
        w_dense=0.25, w_sparse=2.0,
    ).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{SF_DIR_ORACLE}/{t}.parquet'"
        )
    odf = con.execute(
        sql_hybrid_rrf_topk(
            QUERY, qvec, K, k_each=K_EACH, w_dense=0.25, w_sparse=2.0
        )
    ).df()
    assert frame_key(got) == frame_key(odf)
    with pytest.raises(ValueError, match="unknown sources"):
        rrf_fuse(
            {"dense": dense_topk(emb, qvec, 5)}, 5,
            id_col="vec_id", weights={"sprase": 2.0},
        )


def test_matches_pure_python_rrf(docs, emb, qvec, fused):
    """Fused scores recomputed from scratch off the two tiers' own
    (independently twin-checked) rankings: rank maps -> reciprocal
    contributions added dense-then-sparse -> top-k by (score, id).
    Must equal the Spark doubles bit-for-bit."""
    sp = bm25_topk(docs, QUERY, K_EACH).toPandas()
    sparse_rank = {
        int(d): i + 1 for i, d in enumerate(sp["doc_id"].tolist())
    }
    dn = dense_topk(emb, qvec, K_EACH).toPandas()
    dense_rank = {
        int(d): i + 1 for i, d in enumerate(dn["vec_id"].tolist())
    }
    scores = {}
    for i in set(sparse_rank) | set(dense_rank):
        s = 0.0
        n = 0
        if i in dense_rank:  # dense folds first (sorted source tag)
            s += 1.0 / (float(RRF_K) + float(dense_rank[i]))
            n += 1
        if i in sparse_rank:
            s += 1.0 / (float(RRF_K) + float(sparse_rank[i]))
            n += 1
        scores[i] = (s, n)
    want = sorted(
        ((v[0], i, v[1]) for i, v in scores.items()),
        key=lambda t: (-t[0], t[1]),
    )[:K]
    got = [
        (row.rrf_score, int(row.doc_id), int(row.n_lists))
        for row in fused.itertuples()
    ]
    assert got == want


def test_live_path_matches_scan_and_deletes_propagate(
    spark, docs, emb, qvec, tmp_path
):
    """The cross-path serving contract, hybrid edition: live indexes
    (full probe, corpus-wide shortlist, exact re-rank) fuse to the
    scan path's exact rows; deleting ids from BOTH indexes serves the
    fusion a scan over the surviving corpus would."""
    from gus_spark.operators.posting_index import PostingIndex
    from gus_spark.operators.vector_index import VectorIndex

    pidx = PostingIndex(spark, str(tmp_path / "pidx"))
    pidx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "hyb_pidx", n_buckets=8
    )
    pidx.add(docs.filter(F.col("doc_id") % 2 == 1), batch_key="b1")
    vidx = VectorIndex(spark, str(tmp_path / "vidx"), iters=2)
    vidx.fit(emb)
    vidx.add(emb, batch_key="b0")

    n = emb.count()
    # nprobe = the model's CELL count (vidx.cells) for a true full
    # probe — `codes` is the PQ codebook size, a different axis that
    # only coincidentally exceeds the cell count here
    live_kwargs = dict(
        k_each=K_EACH, nprobe=vidx.cells, shortlist=n, rerank_df=emb
    )
    want = hybrid_rrf_topk(
        docs, emb, QUERY, qvec, K, k_each=K_EACH
    ).toPandas()
    got = hybrid_rrf_topk_live(
        pidx, vidx, QUERY, qvec, K, **live_kwargs
    ).toPandas()
    assert frame_key(got) == frame_key(want)

    # curation removes the scan winner from both tiers
    top_id = int(want["doc_id"].iloc[0])
    dead = [top_id]
    pidx.delete(dead, batch_key="d0")
    vidx.delete(dead, batch_key="d0")
    survivors_docs = docs.filter(~F.col("doc_id").isin(dead))
    survivors_emb = emb.filter(~F.col("vec_id").isin(dead))
    want2 = hybrid_rrf_topk(
        survivors_docs, survivors_emb, QUERY, qvec, K, k_each=K_EACH
    ).toPandas()
    assert top_id not in set(want2["doc_id"])
    live_kwargs["rerank_df"] = survivors_emb
    got2 = hybrid_rrf_topk_live(
        pidx, vidx, QUERY, qvec, K, **live_kwargs
    ).toPandas()
    assert frame_key(got2) == frame_key(want2)


def test_forensic_three_source_fusion(spark, docs, emb, qvec, tmp_path):
    """Exact-phrase occurrences as a third fusion source — the
    forensics stack. Scan path hash-matches the extended DuckDB twin
    (three-way FULL OUTER JOIN, contributions added in sorted source
    order dense→phrase→sparse), and the live path (positional
    PostingIndex + VectorIndex at full probe) serves the same rows."""
    from gus_spark.operators.posting_index import PostingIndex
    from gus_spark.operators.vector_index import VectorIndex

    phrase = docs.filter(F.col("doc_id") == 3).first()["text"].split()[5:8]
    got = hybrid_rrf_topk(
        docs, emb, QUERY, qvec, K, k_each=K_EACH,
        phrase=phrase, w_phrase=2.0,
    ).toPandas()
    assert (got["n_lists"] >= 1).all()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{SF_DIR_ORACLE}/{t}.parquet'"
        )
    odf = con.execute(
        sql_hybrid_rrf_topk(
            QUERY, qvec, K, k_each=K_EACH, phrase=phrase, w_phrase=2.0
        )
    ).df()
    assert frame_key(got) == frame_key(odf)

    pidx = PostingIndex(spark, str(tmp_path / "pidx"))
    pidx.build(docs, "forensic_pidx", n_buckets=8, positional=True)
    vidx = VectorIndex(spark, str(tmp_path / "vidx"), iters=2)
    vidx.fit(emb)
    vidx.add(emb)
    live = hybrid_rrf_topk_live(
        pidx, vidx, QUERY, qvec, K, k_each=K_EACH,
        nprobe=vidx.cells, shortlist=emb.count(), rerank_df=emb,
        phrase=phrase, w_phrase=2.0,
    ).toPandas()
    assert frame_key(live) == frame_key(got)


def test_batch_matches_single_query(spark, docs, emb, qvec):
    """Two queries through the batch path at weight 1.0 == each
    through the single-query path (both tiers share their scoring
    expressions, so equality is exact)."""
    qvec2 = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    terms = spark.createDataFrame(
        [(0, w, 1.0) for w in QUERY] + [(1, w, 1.0) for w in ("part", "dup")],
        "query_id bigint, w string, weight double",
    )
    out = hybrid_rrf_batch(
        docs, emb, terms, [(0, qvec), (1, qvec2)], K, k_each=K_EACH
    ).toPandas()
    for qid, q, qv in ((0, QUERY, qvec), (1, ["part", "dup"], qvec2)):
        single = hybrid_rrf_topk(
            docs, emb, q, qv, K, k_each=K_EACH
        ).toPandas()
        part = (
            out[out["query_id"] == qid]
            .drop(columns=["query_id"])
            .reset_index(drop=True)
        )
        assert frame_key(part) == frame_key(single)


def test_batch_forensic_matches_single(spark, docs, emb, qvec):
    """The whole-eval-suite forensics stack: a (query_id, phrase)
    table through the batch path equals each query through the
    three-source single path — all three tiers share their scoring
    and ranking tails, so equality is exact."""
    qvec2 = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    p0 = docs.filter(F.col("doc_id") == 3).first()["text"].split()[5:8]
    p1 = docs.filter(F.col("doc_id") == 9).first()["text"].split()[2:5]
    terms = spark.createDataFrame(
        [(0, w, 1.0) for w in QUERY] + [(1, w, 1.0) for w in ("part", "dup")],
        "query_id bigint, w string, weight double",
    )
    phrases = spark.createDataFrame(
        [(0, p0), (1, p1)], "query_id bigint, phrase array<string>"
    )
    out = hybrid_rrf_batch(
        docs, emb, terms, [(0, qvec), (1, qvec2)], K, k_each=K_EACH,
        phrases=phrases, w_phrase=2.0,
    ).toPandas()
    for qid, q, qv, ph in (
        (0, QUERY, qvec, p0),
        (1, ["part", "dup"], qvec2, p1),
    ):
        single = hybrid_rrf_topk(
            docs, emb, q, qv, K, k_each=K_EACH, phrase=ph, w_phrase=2.0
        ).toPandas()
        part = (
            out[out["query_id"] == qid]
            .drop(columns=["query_id"])
            .reset_index(drop=True)
        )
        assert frame_key(part) == frame_key(single)


def test_batch_plan_shape(spark, docs, emb, qvec):
    """The batch dense tier's query join must be a BROADCAST nested
    loop (Q queries ride to the corpus scan), never a
    CartesianProduct — the difference between one corpus pass and a
    corpus shuffle at scale."""
    import contextlib
    import io

    terms = spark.createDataFrame(
        [(0, w, 1.0) for w in QUERY],
        "query_id bigint, w string, weight double",
    )
    out = hybrid_rrf_batch(docs, emb, terms, [(0, qvec)], K)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_degenerate_inputs(docs, emb, qvec):
    with pytest.raises(ValueError, match="k must be"):
        hybrid_rrf_topk(docs, emb, QUERY, qvec, 0)
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({}, 5)


def test_dense_topk_sql_text_build_bit_parity(spark, emb, qvec):
    """r13: dense_topk builds its scoring projection as parsed SQL
    text (cosine_sql / double_array_sql — one py4j parse call instead
    of one round trip per Column op). The parsed trees must stay
    bit-identical to the Column-API definitions they twin
    (cosine_cols / the per-element F.lit array), or the cross-engine
    cosine contract drifts silently."""
    from gus_spark.operators.similarity import (
        _as_double,
        cosine_cols,
        double_array_sql,
    )

    qv = F.array(*[F.lit(float(x)) for x in qvec])
    v = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("nv"))
    old = (
        v.select(F.col("vec_id"), cosine_cols(F.col("nv"), qv).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(7)
        .collect()
    )
    from gus_spark.operators.hybrid import dense_topk

    new = dense_topk(emb, qvec, 7).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in new] == [
        (r["vec_id"], r["cos_sim"]) for r in old
    ]
    # literal round-trip over a tricky-double grid: repr() is the
    # shortest round-trip form; the SQL parse must return the exact
    # same IEEE doubles F.lit ships (denormal min, max double, -0.0)
    grid = [0.1, -3.5, 1e-20, 1e22, 5e-324,
            1.7976931348623157e308, -0.0, 2.0]
    row = (
        spark.range(1)
        .select(
            F.array(*[F.lit(float(x)) for x in grid]).alias("a"),
            F.expr(double_array_sql(grid)).alias("b"),
        )
        .selectExpr(
            "a = b AS eq", "cast(a as string) = cast(b as string) AS seq"
        )
        .collect()[0]
    )
    assert row["eq"] and row["seq"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-finite"):
        double_array_sql([1.0, float("nan")])


def test_parquet_point_value_matches_spark_fetch(spark):
    """r13: the catalog hybrid query fetches its probe vector with a
    driver-side parquet point read instead of a Spark job. The floats
    must be exactly the ones .first() returns (float32 widens to
    double identically on both paths), or the baked-in query-vector
    literals — and every fused score — drift from the oracle's scalar
    subquery."""
    import os

    from conftest import SF_DIR_ORACLE

    from gus_spark.operators.util import parquet_point_value
    from gus_spark.queries import table

    path = os.path.join(SF_DIR_ORACLE, "embeddings.parquet")
    got = parquet_point_value(path, "vec_id", 0, "embedding")
    e = table(spark, SF_DIR_ORACLE, "embeddings")
    want = e.filter(F.col("vec_id") == 0).first()["embedding"]
    assert [float(x) for x in got] == [float(x) for x in want]
    # non-bare / missing paths fall back loudly-by-None
    assert parquet_point_value("/tmp/nope.parquet", "k", 0, "v") is None
    assert parquet_point_value(path, "vec_id", -12345, "embedding") is None


def test_parquet_point_value_mismatched_key_falls_back(tmp_path):
    """A key the ``filters=`` predicate cannot compare with the key
    column returns None (the caller's distributed lookup), not an
    exception."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gus_spark.operators.util import parquet_point_value

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    assert parquet_point_value(path, "k", 2, "v") == "b"
    for key in ("2", b"2", 2**70, object(), [2]):
        assert parquet_point_value(path, "k", key, "v") is None

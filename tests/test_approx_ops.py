"""Validation of the approximate operators against exact ground truth:
MinHash+LSH vs exact Jaccard pairs, SimHash hamming vs near-dups, ANN
LSH recall vs brute-force cosine."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reference_ops
from conftest import SF_DIR_ORACLE

from gus_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)
from gus_spark.operators.similarity import ann_lsh_topk
from gus_spark.queries import catalog, table


@pytest.fixture(scope="module")
def documents(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def exact_pairs(spark):
    """Exact 3-gram-shingle Jaccard >= 0.8 pairs — LSH ground truth."""
    df = reference_ops.dedup_jaccard_pairs(spark, SF_DIR_ORACLE)
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_finds_exact_pairs(spark, documents, exact_pairs):
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(documents, threshold=0.8, ngram=3).collect()
    }
    # verification step makes every returned pair truly >= threshold
    assert got <= exact_pairs
    # banding (32 bands of 4) catches >=0.8-Jaccard pairs w.h.p.
    if exact_pairs:
        recall = len(got & exact_pairs) / len(exact_pairs)
        assert recall >= 0.9, f"LSH recall {recall}"


def test_minhash_engines_bit_identical(spark, documents):
    """The Arrow MinHash kernel and the all-JVM expression reference
    (tests/reference_ops.py) must produce bit-identical signatures —
    persisted MinHashIndex tables interoperate ONLY under exact
    equality (same meta, no version bump), and the oracle's
    escape-probability math assumes one fixed hash family. Includes
    null/empty-text edges."""
    from gus_spark.operators.dedup import minhash_signature

    edge = spark.createDataFrame(
        [("e0", "x y z w"), ("e1", None), ("e2", ""), ("e3", "a")],
        ["doc_id", "text"],
    )
    for frame in (documents.limit(50), edge):
        a = {
            r["doc_id"]: tuple(r)[1:]
            for r in minhash_signature(
                frame, "doc_id", "text", ngram=3
            ).collect()
        }
        j = {
            r["doc_id"]: tuple(r)[1:]
            for r in reference_ops.minhash_signature(
                frame, "doc_id", "text", ngram=3
            ).collect()
        }
        assert a == j


def test_minhash_engine_parity_on_randomized_texts(spark):
    """Kernel-vs-reference parity on a seeded adversarial batch:
    unicode, repeated tokens, exotic whitespace runs, token counts
    straddling the ngram fallback (0..5 tokens), long docs. Any
    divergence (masking, rotation, fallback, dedup) shows as a
    signature or set mismatch on some row."""
    import random

    from gus_spark.operators.dedup import _shingle_sets, minhash_signature

    rng = random.Random(0xBEEF)
    vocab = ["a", "bb", "œufs", "日本語", "x" * 50, "1.5", "-", "🦆"]
    texts = ["", " ", "\t\n ", "solo", "a b", "a b c", "a a a a"]
    for _ in range(150):
        n = rng.randrange(0, 40)
        sep = rng.choice([" ", "  ", "\t", " \n "])
        texts.append(sep.join(rng.choice(vocab) for _ in range(n)))
    frame = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for ngram in (1, 3):
        a = {
            r["doc_id"]: tuple(r)[1:]
            for r in minhash_signature(
                frame, "doc_id", "text", ngram=ngram
            ).collect()
        }
        j = {
            r["doc_id"]: tuple(r)[1:]
            for r in reference_ops.minhash_signature(
                frame, "doc_id", "text", ngram=ngram
            ).collect()
        }
        assert a == j, f"signature divergence at ngram={ngram}"
        sa = {
            r["doc_id"]: sorted(r["ts"])
            for r in _shingle_sets(frame, "doc_id", "text", ngram).collect()
        }
        sj = {
            r["doc_id"]: sorted(r["ts"])
            for r in reference_ops.shingle_sets(
                frame, "doc_id", "text", ngram
            ).collect()
        }
        assert sa == sj, f"verify-set divergence at ngram={ngram}"


def test_minhash_kernel_chunked_flush_parity(spark):
    """Force the signature kernel past its chunk boundary (long docs,
    several flushes inside one Arrow batch, including a doc group that
    straddles a flush) and assert bit-parity with the unchunked
    expression reference."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(30):
        n = rng.choice([5, 6000, 9000])
        rows.append((i, " ".join(f"w{rng.randrange(2000)}" for _ in range(n))))
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    # drive the kernel DIRECTLY on one partition (minhash_signature's
    # ensure_parallelism would re-spread the rows and shrink every
    # batch below the chunk threshold): one Arrow batch of ~200k
    # shingles forces several mid-batch flushes, including doc groups
    # straddling a flush boundary
    from pyspark.sql import functions as F2

    from gus_spark.operators.dedup import _minhash_kernel, token_hashes

    th = frame.coalesce(1).select(
        "doc_id", token_hashes(F2.col("text")).alias("th")
    )
    mh = _minhash_kernel(3, ("_mh",))
    a = {
        r["doc_id"]: tuple(r["_mh"])
        for r in th.select("doc_id", mh("th")["_mh"].alias("_mh")).collect()
    }
    # the reference is row-wise independent -> keep it parallel (a
    # single-partition interpreted run would dominate the wall clock)
    j = {
        r["doc_id"]: tuple(r)[1:]
        for r in reference_ops.minhash_signature(
            frame.repartition(32), "doc_id", "text", ngram=3
        ).collect()
    }
    assert a == j


def test_minhash_kernel_oversized_doc_chunked_parity(spark, monkeypatch):
    """A single doc whose shingle array exceeds the kernel's flush chunk
    takes the chunked single-doc path (partial permutation mins combined
    by elementwise min); shrink the chunk constant so a ~300-token doc
    exercises it, and assert bit-parity with the expression reference."""
    import gus_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_CHUNK_SHINGLES", 64)
    rows = [
        (0, " ".join(f"w{i % 97}" for i in range(300))),  # >> 64 shingles
        (1, "small doc here"),
        (2, " ".join(f"v{i}" for i in range(70))),  # just past the chunk
    ]
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: tuple(r)[1:]
        for r in dd.minhash_signature(
            frame, "doc_id", "text", ngram=3
        ).collect()
    }
    j = {
        r["doc_id"]: tuple(r)[1:]
        for r in reference_ops.minhash_signature(
            frame, "doc_id", "text", ngram=3
        ).collect()
    }
    assert a == j


def test_minhash_extended_ngram_range(spark):
    """ngram 5..8 are served by the extended rotation table with full
    kernel/reference parity; beyond _MIX_MAX_N both raise ValueError
    driver-side. The first four rotations stay frozen so persisted
    ngram<=4 signatures are unchanged."""
    import pytest as _pytest

    from gus_spark.operators.dedup import _MIX_ROT, minhash_signature

    assert _MIX_ROT[:4] == [0, 21, 42, 11]
    assert len(set(_MIX_ROT)) == len(_MIX_ROT)
    frame = spark.createDataFrame(
        [(0, " ".join(f"t{i % 13}" for i in range(40))), (1, "a b c")],
        "doc_id long, text string",
    )
    for ngram in (5, 8):
        a = {
            r["doc_id"]: tuple(r)[1:]
            for r in minhash_signature(
                frame, "doc_id", "text", ngram=ngram
            ).collect()
        }
        j = {
            r["doc_id"]: tuple(r)[1:]
            for r in reference_ops.minhash_signature(
                frame, "doc_id", "text", ngram=ngram
            ).collect()
        }
        assert a == j, f"divergence at ngram={ngram}"
    for fn in (minhash_signature, reference_ops.minhash_signature):
        with _pytest.raises(ValueError, match="mix support"):
            fn(frame, "doc_id", "text", ngram=9)


def test_shingle_hashes_public_path_matches_two_step(spark):
    """The exported shingle_hashes() convenience must equal the internal
    materialize-then-mix shape (it now binds the token-hash array once
    through a transform lambda, closing the O(len^2) interpreted
    re-evaluation trap for external callers)."""
    from pyspark.sql import functions as F2

    from gus_spark.operators.dedup import (
        _mix_expr,
        shingle_hashes,
        token_hashes,
    )

    frame = spark.createDataFrame(
        [
            (0, " ".join(f"w{i % 31}" for i in range(200))),
            (1, "a b"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    pub = {
        r["doc_id"]: r["sh"]
        for r in frame.select(
            "doc_id", shingle_hashes(F2.col("text"), 3).alias("sh")
        ).collect()
    }
    two = {
        r["doc_id"]: r["sh"]
        for r in frame.select(
            "doc_id", token_hashes(F2.col("text")).alias("th")
        )
        .select("doc_id", _mix_expr(F2.col("th"), 3).alias("sh"))
        .collect()
    }
    assert pub == two


def test_shingle_set_engines_same_sets(spark, documents):
    """Verification shingle-hash SETS must agree between the numpy
    kernel and the expression reference (element order may differ —
    np.unique sorts; set intersection consumers don't care)."""
    from gus_spark.operators.dedup import _shingle_sets

    frame = documents.limit(50)
    a = {
        r["doc_id"]: sorted(r["ts"])
        for r in _shingle_sets(frame, "doc_id", "text", 3).collect()
    }
    j = {
        r["doc_id"]: sorted(r["ts"])
        for r in reference_ops.shingle_sets(
            frame, "doc_id", "text", 3
        ).collect()
    }
    assert a == j


def test_simhash_signature_shape(spark, documents):
    sig = simhash_signatures(documents)
    rows = sig.collect()
    assert len(rows) == documents.count()
    assert all(isinstance(r.simhash, int) for r in rows)


def test_simhash_near_dups_have_small_hamming(spark, documents, exact_pairs):
    """High-shingle-Jaccard pairs should mostly collide within small
    hamming distance (measured: 22/25 within 12 bits at sf0.01)."""
    got = {
        (r.id_a, r.id_b)
        for r in simhash_neardup_pairs(documents, max_hamming=12).collect()
    }
    if exact_pairs:
        recall = len(got & exact_pairs) / len(exact_pairs)
        assert recall >= 0.8, f"simhash recall {recall}"


def test_ann_lsh_recall_on_planted_neardups(spark):
    """Multi-probe LSH recall gate, made non-vacuous: the synthetic
    embeddings contain ZERO pairs with cosine >= 0.8 at every SF (the
    old vs-brute-force assertion was silently skipped), so plant ground
    truth instead — clone every vector with a deterministic ±2%
    element-wise jitter (cos(v, v') ≈ 0.9996). Every planted pair must
    surface in its query's top-k: recall >= 0.9. This is exactly the
    regime hyperplane LSH contracts for (tiny angles); moderate-angle
    recall is IVF's job (see tools/ann_recall_bench.py)."""
    e = table(spark, SF_DIR_ORACLE, "embeddings").select("vec_id", "embedding")
    offset = 1_000_000
    jitter = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        * (1.0 + 0.02 * F.when(i % 2 == 0, 1.0).otherwise(-1.0)),
    )
    clones = e.select(
        (F.col("vec_id") + offset).alias("vec_id"), jitter.alias("embedding")
    )
    corpus = (
        e.select("vec_id", F.transform("embedding", lambda x: x.cast("double"))
                 .alias("embedding"))
        .unionByName(clones)
    )
    ann = ann_lsh_topk(corpus, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    ids = [r.vec_id for r in e.select("vec_id").collect()]
    planted = {(i, i + offset) for i in ids} | {(i + offset, i) for i in ids}
    hits = sum(1 for p in planted if p in got)
    assert hits / len(planted) >= 0.9, f"planted-pair recall {hits/len(planted)}"


def test_ann_lsh_bucket_sizes_bounded(spark):
    """The candidate side must be capped per bucket: with a cap of C no
    bucket contributes more than C candidate rows, so a hot bucket
    cannot create an O(b²) task at scale."""
    from gus_spark.operators.similarity import (
        _as_double,
        _plane_matrix,
        bucket_signature,
        planes_for_corpus,
    )

    e = table(spark, SF_DIR_ORACLE, "embeddings")
    n = e.count()
    num_planes = planes_for_corpus(n)
    # adaptive planes keep the mean occupancy near the target
    assert 2 ** num_planes >= n / 64
    planes = _plane_matrix(num_planes)
    buckets = (
        e.select(_as_double(F.col("embedding")).alias("v"))
        .select(bucket_signature(F.col("v"), planes).alias("b"))
        .groupBy("b")
        .count()
    )
    stats = buckets.agg(F.max("count").alias("mx"), F.avg("count").alias("avg")).first()
    # no pathological all-in-one-bucket collapse
    assert stats["mx"] <= max(64, 20 * stats["avg"]), stats


def test_sig_probe_kernel_matches_jvm_probe_list(spark):
    """The Arrow multi-probe kernel's bucket list is [home, home,
    flip_1..flip_nprobe]; its probe part equals the JVM formulation
    (tests/reference_ops.py) bucket for bucket, in margin order. Seeded
    vectors only where every plane margin, and every gap between two
    sorted margins, exceeds 1e-9: nearer ties may legitimately order
    differently under the kernel's blocked matmul (see
    `_sig_probe_udf`)."""
    import numpy as np

    from gus_spark.operators.similarity import (
        DIM,
        _plane_matrix,
        _sig_probe_udf,
    )

    planes = _plane_matrix(12)
    pm = np.array(planes, dtype=np.float64)
    vecs = np.random.default_rng(7).standard_normal((400, DIM))
    margins = np.sort(np.abs(vecs @ pm.T), axis=1)
    clear = (margins[:, 0] > 1e-9) & (np.diff(margins, axis=1) > 1e-9).all(
        axis=1
    )
    rows = [(i, v.tolist()) for i, v in enumerate(vecs) if clear[i]]
    assert len(rows) > 300
    df = spark.createDataFrame(rows, "id long, v array<double>")
    for nprobe in (0, 3, 12):
        got = {
            r.id: (list(r.kernel), list(r.jvm))
            for r in df.select(
                "id",
                _sig_probe_udf(planes, nprobe)(F.col("v"))["buckets"].alias(
                    "kernel"
                ),
                reference_ops.probe_buckets(F.col("v"), planes, nprobe).alias(
                    "jvm"
                ),
            ).collect()
        }
        assert len(got) == len(rows)
        for kernel, jvm in got.values():
            assert len(kernel) == nprobe + 2
            assert kernel[0] == kernel[1] == jvm[0]  # home bucket twice
            assert kernel[1:] == jvm, nprobe


# (test_stratified_sample_rates moved to tests/test_mixing.py when the
# probe rotated into mixture_sample_documents — the rate-tracking and
# reproducibility claims are asserted there against the mixture plan.)


def test_ivf_recall_vs_exact_topk(spark):
    """IVF recall against EXACT top-k ground truth (non-vacuous — the
    old near-dup comparison was skipped because the testdata has no
    cos>=0.95 pairs at all). nprobe=4 of the 10 label cells must
    recover >=0.9 of every sampled query's true top-5, including the
    moderate-angle neighbors hyperplane LSH cannot bucket."""
    from pyspark.sql import Window

    from gus_spark.operators.similarity import _as_double, ivf_topk

    e = table(spark, SF_DIR_ORACLE, "embeddings")
    v = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    qids = [
        r.vec_id
        for r in v.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(50)
        .collect()
    ]
    q = v.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, r: p * r), F.lit(0.0),
            lambda acc, x_: acc + x_,
        )

    cos = dot(F.col("qv"), F.col("v")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv")))
        * F.sqrt(dot(F.col("v"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    exact = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    truth = {(r.query_id, r.vec_id) for r in exact.collect()}
    ivf = ivf_topk(e, k=5, nprobe=4)
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf.filter(F.col("query_id").isin(qids)).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"IVF exact-topk recall {recall}"


def test_incremental_minhash_index_matches_full_corpus(spark, documents,
                                                       tmp_path):
    """Two-batch incremental indexing reproduces the full-corpus result
    exactly: batch-2's pairs == full pairs restricted to batch-2 (the
    VERDICT 'done' gate). MinHash permutations are deterministic, so
    jaccard values agree bit-for-bit too."""
    from gus_spark.operators.dedup import MinHashIndex

    docs = documents.select("doc_id", "text")
    full = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(docs, threshold=0.8, ngram=1).collect()
    }
    cut = 250
    batch1 = docs.filter(F.col("doc_id") < cut)
    batch2 = docs.filter(F.col("doc_id") >= cut)
    idx = MinHashIndex(spark, str(tmp_path / "mh_idx"), threshold=0.8, ngram=1)
    p1 = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in idx.add_and_find(batch1).collect()
    }
    p2 = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in idx.add_and_find(batch2).collect()
    }
    b2_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    expected_p2 = {p for p in full if p[0] in b2_ids or p[1] in b2_ids}
    assert p2 == expected_p2
    assert p1 | p2 == full
    assert p1 & p2 == set()  # each pair reported exactly once


def test_minhash_index_pairs_are_durable_and_replay_idempotent(
    spark, documents, tmp_path
):
    """The returned pair frame must be backed by durable parquet (an
    executor loss can't recompute it against the grown index), and a
    crash-replayed batch_key must overwrite its own earlier band/shingle
    deltas instead of appending duplicates."""
    import os

    from gus_spark.operators.dedup import MinHashIndex

    docs = documents.select("doc_id", "text")
    cut = 250
    idx = MinHashIndex(spark, str(tmp_path / "mh"), threshold=0.8, ngram=1)
    idx.add_and_find(docs.filter(F.col("doc_id") < cut), batch_key="b0")
    p1 = idx.add_and_find(docs.filter(F.col("doc_id") >= cut), batch_key="b1")
    pairs1 = {(r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in p1.collect()}
    # durable: the frame reads back identically from the persisted log
    log = os.path.join(str(tmp_path / "mh"), "pairs_log", "delta-b1")
    persisted = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in spark.read.parquet(log).collect()
    }
    assert persisted == pairs1 and pairs1

    n_bands = idx._read_or_none(idx._bands_path()).count()
    # replay batch b1: same key -> overwrite, not duplicate
    p1_replay = idx.add_and_find(
        docs.filter(F.col("doc_id") >= cut), batch_key="b1"
    )
    got = {(r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in p1_replay.collect()}
    assert got == pairs1
    assert idx._read_or_none(idx._bands_path()).count() == n_bands


def test_minhash_index_rejects_constant_drift(spark, tmp_path):
    """An index must refuse to mix signatures built with different
    banding constants/threshold — they'd silently never collide."""
    from gus_spark.operators.dedup import MinHashIndex

    path = str(tmp_path / "idx2")
    MinHashIndex(spark, path, threshold=0.8, ngram=1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MinHashIndex(spark, path, threshold=0.9, ngram=1)


@pytest.fixture(scope="module")
def exact_top5(spark):
    """Full exact cosine top-5 ground truth, computed driver-side (500
    vectors at sf0.01 — trivially in-memory; the operators under test
    are the distributed path)."""
    import numpy as np

    from gus_spark.operators.similarity import _as_double

    e = table(spark, SF_DIR_ORACLE, "embeddings")
    rows = e.select("vec_id", _as_double(F.col("embedding")).alias("v")).collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.stack([np.array(r.v) for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    np.fill_diagonal(sims, -np.inf)
    truth = set()
    for qi in range(len(ids)):
        for t in np.argsort(-sims[qi])[:5]:
            truth.add((int(ids[qi]), int(ids[t])))
    return truth


def test_kmeans_fit_refines_seed_quantizer(spark):
    """Lloyd iterations must not worsen — and here measurably improve —
    the quantizer: mean cosine of every vector to its nearest centroid
    rises vs the raw label-seeded means (iters=0 returns the init)."""
    import numpy as np

    from gus_spark.operators.similarity import _as_double, kmeans_fit

    e = table(spark, SF_DIR_ORACLE, "embeddings")
    v = np.stack(
        [
            np.array(r.v)
            for r in e.select(_as_double(F.col("embedding")).alias("v")).collect()
        ]
    )
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)

    def mean_best_cos(centroids_df):
        c = np.stack([np.array(r.cv) for r in centroids_df.collect()])
        cn = c / np.linalg.norm(c, axis=1, keepdims=True)
        return float((vn @ cn.T).max(axis=1).mean())

    init = mean_best_cos(kmeans_fit(e, iters=0))
    fit = mean_best_cos(kmeans_fit(e, iters=3))
    assert fit >= init, (fit, init)
    assert fit - init > 0.01, f"Lloyd gained only {fit - init:.4f}"


def test_kmeans_fit_hash_init_without_seed_col(spark):
    """No seed column -> deterministic hash-partition init still yields
    k_cells finite centroids (and a second fit is bit-identical)."""
    import math

    from gus_spark.operators.similarity import kmeans_fit

    e = table(spark, SF_DIR_ORACLE, "embeddings")
    c1 = kmeans_fit(e, seed_col=None, k_cells=8, iters=2).collect()
    assert len(c1) == 8
    assert all(math.isfinite(x) for r in c1 for x in r.cv)
    c2 = kmeans_fit(e, seed_col=None, k_cells=8, iters=2).collect()
    assert sorted(map(tuple, (r.cv for r in c1))) == sorted(
        map(tuple, (r.cv for r in c2))
    )


def test_ivf_lloyd_quantizer_halves_index_probes(spark, exact_top5):
    """The point of a refined quantizer: with Lloyd iterations,
    index_probes=2 crosses recall 0.88 — candidate volume HALF of the
    index_probes=4 config the unrefined quantizer needs for the same
    recall — and strictly beats the unrefined quantizer at identical
    settings."""
    from gus_spark.operators.similarity import ivf_topk

    e = table(spark, SF_DIR_ORACLE, "embeddings")

    def recall(lloyd_iters):
        df = ivf_topk(e, k=5, nprobe=4, index_probes=2, lloyd_iters=lloyd_iters)
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(exact_top5 & got) / len(exact_top5)

    refined, raw = recall(3), recall(0)
    assert refined >= 0.88, f"Lloyd-refined recall {refined}"
    assert refined > raw, (refined, raw)


# ------------------------------------------------------------- winnowing


def test_winnowing_guarantee_and_sparsity(spark):
    """The MOSS contract: two docs sharing a substring of length >=
    k+window-1 share at least one fingerprint; and winnowing keeps far
    fewer hashes than the full k-gram set."""
    from pyspark.sql import Row

    from gus_spark.operators.dedup import winnow_fingerprints

    k, window = 5, 4
    shared = "the quick brown fox jumps over the lazy dog"  # 44 chars
    rows = [
        Row(doc_id=1, text=f"AAA {shared} BBB"),
        Row(doc_id=2, text=f"xyz123 {shared} qqq"),
        Row(doc_id=3, text="completely different content with no overlap"),
        Row(doc_id=4, text="zz"),  # shorter than k: whole-text hash
    ]
    df = spark.createDataFrame(rows)
    # pinned to the JVM expression path: the default ('rolling') has
    # its own reference-parity + guarantee tests below
    fp = winnow_fingerprints(df, k=k, window=window, token_hash="xxhash64")
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # guarantee: docs 1 and 2 share the 44-char run >= k+window-1=8
    assert by_doc[1] & by_doc[2]
    # the unrelated doc shares nothing with either
    assert not (by_doc[3] & by_doc[1]) and not (by_doc[3] & by_doc[2])
    # short doc still fingerprinted (single whole-text hash)
    assert len(by_doc[4]) == 1
    # sparsity: selected fingerprints ~ 2/(window+1) of gram count
    n_grams = len(rows[0].text) - k + 1
    assert len(by_doc[1]) < n_grams * 0.75
    # determinism
    again = {
        r.doc_id: r.fingerprint for r in fp.collect() if r.doc_id == 4
    }
    assert again[4] in by_doc[4]


def test_winnow_overlap_finds_near_dups(spark, documents, exact_pairs):
    """Near-dup documents (high Jaccard) share long text runs, so the
    MOSS match step must surface every exact-Jaccard pair; candidates
    are bounded by fingerprint collisions, never all-pairs."""
    from gus_spark.operators.dedup import winnow_overlap_pairs

    # tuned defaults, pinned to the JVM path (the 'rolling' default
    # has its own overlap test below)
    pairs = winnow_overlap_pairs(documents, token_hash="xxhash64")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got >= exact_pairs
    # and it is selective: tens of candidates, not all-pairs (the
    # k=25 default exists exactly because k=5 degenerates to ~124k)
    assert len(got) < 100


def test_winnow_md5_hash_is_portable(spark):
    """The md5 token-hash variant selects the same POSITIONS as any
    engine computing the same 60-bit md5 prefix would — fingerprints
    are reproducible outside Spark (the oracle trick)."""
    import hashlib

    from pyspark.sql import Row

    from gus_spark.operators.dedup import winnow_fingerprints

    text = "abcdefghij"
    k, window = 3, 2
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    got = {
        r.fingerprint
        for r in winnow_fingerprints(
            df, k=k, window=window, token_hash="md5"
        ).collect()
    }
    grams = [text[i:i + k] for i in range(len(text) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    expect = {
        min(hs[j:j + window]) for j in range(len(hs) - window + 1)
    }
    assert got == expect


def test_winnow_rolling_matches_python_reference(spark):
    """The 'rolling' kernel (vectorized Rabin-Karp + splitmix64 over a
    concatenated batch buffer) selects exactly the fingerprints a
    straightforward per-document Python implementation of the same hash
    selects — boundary cancellation, short-doc fallbacks and the
    whole-text tier included."""
    from pyspark.sql import Row

    from gus_spark.operators.dedup import (
        _ROLL_R,
        winnow_fingerprints,
    )

    k, window = 5, 4
    rows = [
        Row(doc_id=1, text="AAA the quick brown fox jumps BBB"),
        Row(doc_id=2, text="unicode héllo wörld ünïcode padding text"),
        Row(doc_id=3, text="zz"),          # < k: whole-text hash
        Row(doc_id=4, text="medium12"),    # k <= len < k+window-1
        Row(doc_id=5, text="   "),         # trims to empty
    ]

    def splitmix(z):
        m = (1 << 64) - 1
        z ^= z >> 30
        z = (z * 0xBF58476D1CE4E5B9) & m
        z ^= z >> 27
        z = (z * 0x94D049BB133111EB) & m
        z ^= z >> 31
        return z

    def poly(bs):
        h = 0
        for ch in bs:
            h = (h * _ROLL_R + ch) & ((1 << 64) - 1)
        return splitmix(h)

    def ref(text):
        b = text.strip().encode("utf-8")
        if len(b) < k:
            return {poly(b) if b else splitmix(0)}
        g = [poly(b[i:i + k]) for i in range(len(b) - k + 1)]
        n_w = max(len(g) - window + 1, 1)
        return {min(g[j:j + window]) for j in range(n_w)}

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    fp = winnow_fingerprints(
        spark.createDataFrame(rows), k=k, window=window,
        token_hash="rolling",
    )
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    for row in rows:
        expect = {signed(v) for v in ref(row.text)}
        assert by_doc[row.doc_id] == expect, row.doc_id


def test_winnow_rolling_partition_and_batch_invariant(spark, documents):
    """Fingerprints are a pure per-document map: the batch-buffer
    concatenation trick must not leak state across documents, so the
    output set is identical however rows are grouped into partitions
    (and hence Arrow batches)."""
    from gus_spark.operators.dedup import winnow_fingerprints

    one = {
        (r.doc_id, r.fingerprint)
        for r in winnow_fingerprints(
            documents.coalesce(1), token_hash="rolling"
        ).collect()
    }
    many = {
        (r.doc_id, r.fingerprint)
        for r in winnow_fingerprints(
            documents.repartition(16), token_hash="rolling"
        ).collect()
    }
    assert one == many and len(one) > 0


def test_winnow_rolling_overlap_finds_near_dups(spark, documents, exact_pairs):
    """The O(len) rolling kernel upholds the same match-step contract
    as the JVM paths: every exact-Jaccard near-dup pair surfaces, and
    candidates stay bounded by fingerprint collisions."""
    from gus_spark.operators.dedup import winnow_overlap_pairs

    pairs = winnow_overlap_pairs(documents, token_hash="rolling")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got >= exact_pairs
    assert len(got) < 100


def test_semantic_dedup_planted_groups(spark):
    """SemDeDup greedy-leader contract on planted duplicate groups:
    near-identical vectors collapse to their lowest-id leader with the
    similarity attributed; distinct vectors all survive; k_cells=1 is
    the exact (single-cell) greedy pass; output is deterministic."""
    import math
    import random

    from gus_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    dim = 16

    def unit(seed):
        r = random.Random(seed)
        v = [r.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    def jitter(v, eps):
        w = [x + eps * rng.gauss(0, 1) for x in v]
        n = math.sqrt(sum(x * x for x in w)) or 1.0
        return [x / n for x in w]

    rows = []
    # two planted groups of 3 near-identical members each
    for g, base_seed in enumerate([100, 200]):
        base = unit(base_seed)
        for j in range(3):
            rows.append((g * 10 + j, 0, base if j == 0 else jitter(base, 0.01)))
    # six singletons (random gaussian unit vectors: pairwise cos ~ 0)
    rows += [(50 + i, 0, unit(300 + i)) for i in range(6)]
    frame = spark.createDataFrame(rows, "vec_id long, label long, embedding array<double>")

    out = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(
            frame, threshold=0.9, k_cells=1, lloyd_iters=0, dim=dim
        ).collect()
    }
    assert len(out) == 12
    for leader in (0, 10):
        assert out[leader]["keep"] and out[leader]["dup_of"] is None
        for member in (leader + 1, leader + 2):
            assert not out[member]["keep"]
            assert out[member]["dup_of"] == leader
            assert out[member]["dup_sim"] >= 0.9
    for s in range(50, 56):
        assert out[s]["keep"], s
    # deterministic across reruns
    again = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(
            frame, threshold=0.9, k_cells=1, lloyd_iters=0, dim=dim
        ).collect()
    }
    assert out == again


def test_semantic_dedup_multicell_and_corpus(spark):
    """On the real embeddings table at a threshold inside the corpus's
    similarity band (0.45 — see queries.similarity COSINE_THRESHOLD):
    the multi-cell run covers every row exactly once, every drop names
    a KEPT leader in the SAME cell with dup_sim >= threshold and a
    lower id, and the exact single-cell pass actually finds duplicates
    (non-vacuous). NO containment between exact and clustered drop
    SETS is asserted — none holds: the greedy chain means exact can
    drop a would-be leader early, protecting docs the clustered pass
    (whose dominator sits in another cell) goes on to drop. The drop
    RECALL of the clustered pass is graded in tools/ann_recall_bench."""
    from gus_spark.operators.similarity import semantic_dedup

    frame = table(spark, SF_DIR_ORACLE, "embeddings")
    n = frame.count()
    out = semantic_dedup(frame, threshold=0.45, k_cells=4).collect()
    rows = {r["vec_id"]: r.asDict() for r in out}
    assert len(rows) == n
    kept = {i for i, r in rows.items() if r["keep"]}
    for i, r in rows.items():
        if r["keep"]:
            assert r["dup_of"] is None
        else:
            assert r["dup_of"] in kept
            assert rows[r["dup_of"]]["cell"] == r["cell"]
            assert r["dup_of"] < i
            assert r["dup_sim"] >= 0.45
    exact = semantic_dedup(frame, threshold=0.45, k_cells=1).collect()
    exact_dropped = {r["vec_id"] for r in exact if not r["keep"]}
    assert exact_dropped  # the 0.45 band has real pairs at sf0.01
    # k_cells is HONORED (regression: label-seeded init used to pin
    # the cell count to the label count, silently ignoring k_cells):
    # the exact tier is one cell even though the table has 10 labels,
    # and the clustered tier produced exactly its requested cells
    assert {r["cell"] for r in exact} == {0}
    assert {r["cell"] for r in out} <= set(range(4))
    assert len({r["cell"] for r in out}) == 4


def _exact_cos_pairs(rows, threshold):
    """Driver-side exact ground truth (id, v) -> {(a, b)} at >= thr."""
    import numpy as np

    ids = np.array([r[0] for r in rows])
    m = np.stack([np.array(r[1], dtype="float64") for r in rows])
    n = np.linalg.norm(m, axis=1)
    n[n == 0.0] = 1.0
    u = m / n[:, None]
    sims = u @ u.T
    ia, ib = np.triu_indices(len(ids), k=1)
    hit = sims[ia, ib] >= threshold
    return {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[ia[hit]], ids[ib[hit]])
    }


def test_semantic_pairs_and_clusters_planted(spark):
    """k_cells=1 (exact tier): semantic_pairs returns exactly the
    above-threshold pairs; semantic_dedup_clusters collapses each
    planted near-dup group into one min-id cluster and keeps all
    singletons."""
    import math
    import random

    from gus_spark.operators.similarity import (
        semantic_dedup_clusters,
        semantic_pairs,
    )

    rng = random.Random(31)
    dim = 16

    def unit(seed):
        r = random.Random(seed)
        v = [r.gauss(0, 1) for _ in range(dim)]
        nn = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / nn for x in v]

    def jitter(v, eps):
        w = [x + eps * rng.gauss(0, 1) for x in v]
        nn = math.sqrt(sum(x * x for x in w)) or 1.0
        return [x / nn for x in w]

    rows = []
    for g, seed in enumerate([500, 600]):
        base = unit(seed)
        for j in range(3):
            rows.append(
                (g * 10 + j, base if j == 0 else jitter(base, 0.01))
            )
    rows += [(90 + i, unit(700 + i)) for i in range(5)]
    frame = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got_pairs = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in semantic_pairs(
            frame, threshold=0.9, k_cells=1
        ).collect()
    }
    assert got_pairs == _exact_cos_pairs(rows, 0.9)

    clusters = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup_clusters(
            frame, threshold=0.9, k_cells=1
        ).collect()
    }
    assert len(clusters) == 11
    for leader in (0, 10):
        group = [leader, leader + 1, leader + 2]
        assert all(clusters[m]["cluster_rep"] == leader for m in group)
        assert all(clusters[m]["cluster_size"] == 3 for m in group)
        assert [m for m in group if clusters[m]["keep"]] == [leader]
    for s in range(90, 95):
        assert clusters[s]["keep"] and clusters[s]["cluster_size"] == 1


def test_semantic_pairs_multiprobe_recovers_boundary_pairs(spark):
    """On the real embeddings at the corpus's similarity band:
    candidates are always a SUBSET of the exact pair set (cell-local
    exact cosine can't fabricate pairs), and indexing each vector in
    its top-2 cells recovers at least as many exact pairs as
    single-assignment — the IVF multi-probe lesson applied to
    SemDeDup. Both assignments are deterministic."""
    from gus_spark.operators.similarity import _as_double, semantic_pairs
    from pyspark.sql import functions as F2

    frame = table(spark, SF_DIR_ORACLE, "embeddings")
    rows = [
        (r["vec_id"], r["v"])
        for r in frame.select(
            "vec_id", _as_double(F2.col("embedding")).alias("v")
        ).collect()
    ]
    exact = _exact_cos_pairs(rows, 0.45)
    assert exact  # non-vacuous at this corpus's top band

    got = {}
    for ip in (1, 2):
        got[ip] = {
            (r["vec_id_a"], r["vec_id_b"])
            for r in semantic_pairs(
                frame, threshold=0.45, k_cells=8, index_probes=ip
            ).collect()
        }
        assert got[ip] <= exact, f"fabricated pairs at ip={ip}"
        again = {
            (r["vec_id_a"], r["vec_id_b"])
            for r in semantic_pairs(
                frame, threshold=0.45, k_cells=8, index_probes=ip
            ).collect()
        }
        assert got[ip] == again
    assert len(got[2]) >= len(got[1])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="index_probes"):
        semantic_pairs(frame, index_probes=0)


def test_semantic_dedup_auto_k_cells_bounds_occupancy(spark):
    """VERDICT r6 #7: k_cells=None derives the cell count from the
    corpus size (the paper's k proportional-to-n contract, one cheap
    count agg), so cell sizes stay BOUNDED as the corpus grows instead
    of occupancy growing linearly under a constant default."""
    import numpy as np
    import pytest

    from gus_spark.operators.similarity import (
        auto_k_cells,
        semantic_dedup,
    )

    # the formula: occupancy-2000 floor-16 (the paper runs 50k cells
    # at 100M vectors — exactly what the default derives there)
    assert auto_k_cells(100) == 16
    assert auto_k_cells(32_000) == 16
    assert auto_k_cells(32_001) == 17
    assert auto_k_cells(100_000_000) == 50_000
    with pytest.raises(ValueError, match="occupancy"):
        auto_k_cells(10, occupancy=0)

    # end-to-end at a shrunken occupancy knob: growing the corpus 4x
    # grows the derived cell count 4x, keeping max cell size bounded
    rng = np.random.RandomState(0)  # test-local data gen, not operator RNG
    dim = 8
    sizes = {}
    for n in (800, 3200):
        vecs = rng.standard_normal((n, dim)).round(3)
        frame = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        out = semantic_dedup(
            frame, threshold=0.999, k_cells=None, lloyd_iters=2,
            dim=dim, cell_occupancy=50,
        ).collect()
        assert len(out) == n
        per_cell = {}
        for r in out:
            per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
        sizes[n] = per_cell
        assert len(per_cell) == auto_k_cells(n, 50) == n // 50
        # bounded occupancy: no cell degenerates to a super-linear
        # matrix (4x mean is loose slack for k-means imbalance)
        assert max(per_cell.values()) <= 4 * 50, sorted(
            per_cell.values())[-5:]
    # the derived count actually grew with the corpus
    assert len(sizes[3200]) == 4 * len(sizes[800])


def test_winnow_rolling_slice_budget_invariant(spark, documents):
    """Round 8: the rolling kernel re-slices each Arrow batch to a
    character budget (cache-sized numpy working sets — measured 2.3x
    on the sf10 hash stage). Fingerprints must be identical under a
    degenerate budget that forces a slice per document or two."""
    from gus_spark.operators import dedup as dd
    from gus_spark.operators.dedup import winnow_fingerprints

    want = {
        (r.doc_id, r.fingerprint)
        for r in winnow_fingerprints(
            documents.coalesce(1), token_hash="rolling"
        ).collect()
    }
    old = dd._ROLL_CHUNK_CHARS
    dd._ROLL_CHUNK_CHARS = 64  # < one document: every slice is 1 row
    try:
        got = {
            (r.doc_id, r.fingerprint)
            for r in winnow_fingerprints(
                documents.coalesce(1), token_hash="rolling"
            ).collect()
        }
    finally:
        dd._ROLL_CHUNK_CHARS = old
    assert got == want and len(want) > 0


class TestNormalizeUrl:
    """r13 (VERDICT r12 #2): the URL canonical KEEPS content-routing
    query params by default — watch?v=… / article?id=… route CONTENT
    (CCNet keys on the raw URL; crawl-dedup practice strips known
    trackers only), so the old drop-everything default deleted
    genuinely distinct documents. Pinned: tracker params (utm_*,
    fbclid, gclid, msclkid, ref) strip; survivors sort; fragments and
    scheme/www/path-slash noise fold; query-routed variants do NOT
    fold; drop_query=True restores the snapshot-tier fold;
    normalization is idempotent."""

    CASES = [
        ("HTTP://WWW.Example.org/A/?utm_source=x#frag", "example.org/a"),
        ("https://example.org/a", "example.org/a"),
        ("example.org/a?", "example.org/a"),
        ("example.org/watch?v=abc", "example.org/watch?v=abc"),
        ("example.org/watch?v=abc&utm_source=t", "example.org/watch?v=abc"),
        ("example.org/watch?utm_source=t&v=abc", "example.org/watch?v=abc"),
        ("example.org/watch?b=2&a=1", "example.org/watch?a=1&b=2"),
        ("example.org/a?fbclid=1&gclid=2&ref=x&msclkid=9", "example.org/a"),
        # 'refresh' is NOT the tracker key 'ref' — kept
        ("example.org/a?refresh=1", "example.org/a?refresh=1"),
        # bare tracker key without '=' still strips
        ("example.org/a?fbclid", "example.org/a"),
        ("example.org/a#sec?x=1", "example.org/a"),  # fragment first
    ]

    def _norm(self, spark, urls, **kw):
        from gus_spark.operators.dedup import normalize_url

        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, url string"
        )
        rows = (
            df.select("i", normalize_url(F.col("url"), **kw).alias("c"))
            .orderBy("i")
            .collect()
        )
        return [r.c for r in rows]

    def test_canonical_table(self, spark):
        got = self._norm(spark, [u for u, _ in self.CASES])
        assert got == [w for _, w in self.CASES]

    def test_idempotent(self, spark):
        once = self._norm(spark, [u for u, _ in self.CASES])
        assert self._norm(spark, once) == once

    def test_drop_query_opt_in(self, spark):
        got = self._norm(
            spark,
            ["example.org/watch?v=abc", "https://www.Ex.org/p/?a=1#f"],
            drop_query=True,
        )
        assert got == ["example.org/watch", "ex.org/p"]

    def test_query_routed_documents_do_not_fold(self, spark):
        from gus_spark.operators.dedup import dedup_by_url

        df = spark.createDataFrame(
            [
                (1, "https://site.org/article?id=7"),
                (2, "http://www.site.org/article?id=7&utm_source=x"),
                (3, "https://site.org/article?id=8"),
                (4, "https://site.org/article?utm_source=y&id=8"),
                (5, "https://site.org/article"),
            ],
            "doc_id long, url string",
        )
        rows = {
            r.canonical_url: (r.keep_doc_id, r.n_dups)
            for r in dedup_by_url(df).collect()
        }
        assert rows == {
            "site.org/article?id=7": (1, 2),
            "site.org/article?id=8": (3, 2),
            "site.org/article": (5, 1),
        }
        # the aggressive tier folds them all
        folded = dedup_by_url(df, drop_query=True).collect()
        assert len(folded) == 1 and folded[0].n_dups == 5


def test_grouped_topk_kernel_invariant_to_arrow_batch_splits(spark):
    """r13: the scoring kernel is a mapInPandas whose group boundaries
    are recovered from the local sort, carrying a batch's trailing
    (possibly split) group into the next batch. Shrinking
    arrow.maxRecordsPerBatch far below the group size forces every
    group to straddle batch boundaries — the output must be
    bit-identical to the default batching, or the carry logic is
    losing cross-fragment probe/candidate pairs."""
    e = table(spark, SF_DIR_ORACLE, "embeddings")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    base = sorted(
        tuple(r)
        for r in ann_lsh_topk(e, k=5, num_planes=8).collect()
    )
    try:
        spark.conf.set(key, "7")
        tiny = sorted(
            tuple(r)
            for r in ann_lsh_topk(e, k=5, num_planes=8).collect()
        )
    finally:
        spark.conf.set(key, old)
    assert tiny == base and len(base) > 0


def test_array_form_band_rows_bit_identical(spark, documents):
    """r13: the pairs/decontaminate/index compositions band the
    ARRAY-form signature (no 128-column unpack in the plan). Band rows
    must stay bit-identical to banding the unpacked public form —
    persisted MinHashIndex band tables and cross-corpus band joins
    interoperate only under exact equality."""
    from gus_spark.operators.dedup import _bands_of, minhash_signature

    old = reference_ops.band_rows(
        minhash_signature(documents, "doc_id", "text", 3), "doc_id"
    )
    new = _bands_of(documents, "doc_id", "text", 3)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_combined_kernel_matches_single_kernels(spark, documents):
    """Each field subset of the one MinHash kernel equals the
    both-fields call bit for bit — the signature the banding consumes
    and the distinct shingle-hash set the verifier intersects — on
    real docs plus empty/one-token edges (null text is dropped before
    the kernel by `_minhash_frame`)."""
    from gus_spark.operators.dedup import _minhash_frame

    edge = spark.createDataFrame(
        [("e0", "x y z w"), ("e1", None), ("e2", ""), ("e3", "a")],
        ["doc_id", "text"],
    )

    def rows(frame, fields):
        return {
            r["doc_id"]: tuple(
                None if r[f] is None else tuple(r[f]) for f in fields
            )
            for r in _minhash_frame(
                frame, "doc_id", "text", 3, fields
            ).collect()
        }

    for frame in (documents.limit(60), edge):
        both = rows(frame, ("_mh", "ts"))
        assert both and all(v[0] is not None for v in both.values())
        assert rows(frame, ("_mh",)) == {k: v[:1] for k, v in both.items()}
        assert rows(frame, ("ts",)) == {k: v[1:] for k, v in both.items()}


def test_operators_take_no_engine_parameter():
    """The eight operators that used to take ``engine='arrow'|'jvm'``
    run one Arrow kernel each; ``engine=`` is a TypeError now."""
    import inspect

    from gus_spark.operators import decontaminate, dedup, repetition, similarity
    from gus_spark.streaming import decontaminate as stream_decon

    fns = [
        dedup.minhash_signature,
        dedup.minhash_lsh_pairs,
        decontaminate.fuzzy_contamination,
        decontaminate.calibrate_fuzzy_ngram,
        decontaminate.decontaminate_fuzzy,
        stream_decon.fuzzy_decontaminate_stream,
        similarity.ann_lsh_topk,
        repetition.repetition_metrics,
    ]
    for fn in fns:
        assert "engine" not in inspect.signature(fn).parameters, fn.__name__

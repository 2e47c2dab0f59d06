"""Live BM25 posting index (operators/posting_index.py +
streaming/postings.py).

Contracts pinned here:
- snapshot parity: build-on-half + two delta adds serve rankings
  BIT-IDENTICAL to the ad-hoc `bm25_topk` over the full corpus (ids,
  fixed-point scores), before AND after compaction, and again after
  the catalog entry is dropped and re-registered from the manifest
  (fresh-session path);
- physical shape: the base scan stays bucket-pruned to the query
  terms (SelectedBucketsCount < total) with deltas live, and with NO
  deltas the plan has no term-keyed exchange at all (the static-index
  zero-exchange df contract carries over);
- idempotence + the double-count guard: re-`add` of a live batch key
  changes nothing; re-`add` of a FOLDED key raises;
- streaming ingest: two micro-batches through posting_index_stream
  match the batch result, a fresh-checkpoint replay is a no-op via
  the content-fingerprinted markers, and a replay AFTER compaction
  drains cleanly (markers fire before the folded-key guard);
- maintain() compacts only past the delta threshold; degenerate
  inputs fail loudly;
- no public call changes the session conf, and the phrase paths'
  base scan stays bucket-pruned without a conf pin.
"""

import contextlib
import io
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE

from gus_spark.operators.posting_index import PostingIndex
from gus_spark.operators.retrieval import bm25_topk
from gus_spark.queries import table

QUERY = ["spark", "join", "dup"]
K = 25


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR_ORACLE, "documents")


def _ranking(df):
    pdf = df.toPandas()
    return list(zip(pdf["doc_id"].tolist(), pdf["score_fp"].tolist()))


def test_build_add_compact_parity_and_pruning(spark, docs, tmp_path):
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 3 == 0), "pidx_a", n_buckets=8
    )
    idx.add(docs.filter(F.col("doc_id") % 3 == 1), batch_key="b1")
    idx.add(docs.filter(F.col("doc_id") % 3 == 2), batch_key="b2")

    want = _ranking(bm25_topk(docs, QUERY, K))
    served = idx.topk(QUERY, K)
    assert _ranking(served) == want

    # base stays bucket-pruned with deltas live
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain(mode="formatted")
    plan = buf.getvalue()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan

    # idempotent replay of a live key: same delta republishes, totals
    # and ranking unchanged
    before = idx.stats()
    idx.add(docs.filter(F.col("doc_id") % 3 == 2), batch_key="b2")
    assert idx.stats() == before
    assert _ranking(idx.topk(QUERY, K)) == want

    # compaction folds to gen 1, parity holds, folded key refuses
    st = idx.compact()
    assert st["gen"] == 1 and st["n_deltas"] == 0 and st["n_folded"] == 2
    assert _ranking(idx.topk(QUERY, K)) == want
    with pytest.raises(ValueError, match="folded"):
        idx.add(docs.filter(F.col("doc_id") % 3 == 2), batch_key="b2")

    # zero-delta serving recovers the static-index zero-w-exchange df
    served2 = idx.topk(QUERY, K)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served2.explain(mode="formatted")
    plan2 = buf.getvalue()
    assert "hashpartitioning(w" not in plan2, plan2

    # fresh-session path: drop the catalog entry, manifest re-registers
    spark.sql("DROP TABLE pidx_a_g1")
    assert _ranking(idx.topk(QUERY, K)) == want


def test_corpus_stats_track_additions(spark, docs, tmp_path):
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs.limit(0), "pidx_b", n_buckets=4)
    with pytest.raises(ValueError, match="empty"):
        idx.topk(QUERY, K)
    idx.add(docs)
    st = idx.stats()
    full = PostingIndex(spark, str(tmp_path / "idx2"))
    full.build(docs, "pidx_c", n_buckets=4)
    assert st["n_docs"] == full.stats()["n_docs"]
    assert st["avgdl"] == full.stats()["avgdl"]
    assert _ranking(idx.topk(QUERY, K)) == _ranking(full.topk(QUERY, K))


def test_streaming_ingest_matches_batch_and_replays(
    spark, docs, tmp_path
):
    from gus_spark.streaming.postings import posting_index_stream

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_d", n_buckets=8
    )

    src = str(tmp_path / "in")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    odd.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    odd.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = posting_index_stream(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination()

    want = _ranking(bm25_topk(docs, QUERY, K))
    assert _ranking(idx.topk(QUERY, K)) == want
    assert idx.stats()["n_deltas"] == 2

    # fresh checkpoint over the unchanged source: markers skip both
    q2 = posting_index_stream(stream, idx, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert idx.stats()["n_deltas"] == 2
    assert _ranking(idx.topk(QUERY, K)) == want

    # maintain(): below threshold no-op, above it folds
    assert idx.maintain(max_deltas=16)["gen"] == 0
    st = idx.maintain(max_deltas=1)
    assert st["gen"] == 1 and st["n_deltas"] == 0

    # replay AFTER compaction: the folded keys are now refused by
    # add(), but the markers short-circuit first — clean drain
    q3 = posting_index_stream(stream, idx, str(tmp_path / "ckpt3"))
    q3.awaitTermination()
    assert _ranking(idx.topk(QUERY, K)) == want


def test_validation(spark, docs, tmp_path):
    idx = PostingIndex(spark, str(tmp_path / "nothing"))
    with pytest.raises(ValueError, match="build"):
        idx.topk(QUERY, K)
    with pytest.raises(ValueError, match="build"):
        idx.add(docs)
    built = PostingIndex(spark, str(tmp_path / "built"))
    built.build(docs.limit(5), "pidx_e", n_buckets=2)
    with pytest.raises(ValueError, match="at least one term"):
        built.topk([], K)
    with pytest.raises(ValueError, match="k must be"):
        built.topk(QUERY, 0)


def test_rebuild_clears_stale_stream_markers(spark, docs, tmp_path):
    """Round-8 review (medium): build() over an existing root starts a
    fresh lineage, which invalidates the streaming done-markers that
    posting_index_stream wrote into index.root — a rebuild plus a
    fresh checkpoint over the same source restarts batch ids at 0 with
    identical content fingerprints, so stale markers would SKIP and
    the documents would silently never reach the rebuilt index."""
    from gus_spark.streaming.postings import posting_index_stream

    root = str(tmp_path / "idx")
    idx = PostingIndex(spark, root)
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_rb", n_buckets=8
    )
    src = str(tmp_path / "in")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    odd.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    posting_index_stream(
        stream, idx, str(tmp_path / "ckpt")
    ).awaitTermination()
    want = _ranking(bm25_topk(docs, QUERY, K))
    assert _ranking(idx.topk(QUERY, K)) == want
    assert os.path.exists(os.path.join(root, "_batch-0.done"))

    # rebuild the same lineage shape, then re-drain the same source
    # with a FRESH checkpoint: the stream must re-add the odd docs
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_rb2", n_buckets=8
    )
    assert not os.path.exists(os.path.join(root, "_batch-0.done"))
    posting_index_stream(
        stream, idx, str(tmp_path / "ckpt2")
    ).awaitTermination()
    assert idx.stats()["n_deltas"] == 1
    assert _ranking(idx.topk(QUERY, K)) == want


def test_delete_tombstones_match_rebuild(spark, docs, tmp_path):
    """Round-8 deletes (VERDICT r7 #2): tombstoned docs stop scoring
    AND stop influencing df/N/avgdl — rankings bit-identical to a
    from-scratch index without them, before and after compaction;
    replay is idempotent; totals never double-subtract; a deleted id
    cannot be re-added until its tombstone folds, and can after."""
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_t", n_buckets=8
    )
    idx.add(docs.filter(F.col("doc_id") % 2 == 1), batch_key="b1")

    dead = [r["doc_id"] for r in docs.filter(
        F.col("doc_id") % 7 == 0
    ).select("doc_id").collect()]
    survivors = docs.filter(~F.col("doc_id").isin(dead))
    want = _ranking(bm25_topk(survivors, QUERY, K))
    before = idx.stats()

    n = idx.delete(dead, batch_key="d1")
    assert n == len(dead)
    st = idx.stats()
    assert st["n_docs"] == before["n_docs"] - len(dead)
    assert st["n_tombs"] == 1 and st["tomb_docs"] == len(dead)
    assert _ranking(idx.topk(QUERY, K)) == want

    # replay of a committed delete key: no-op, same answer
    assert idx.delete(dead, batch_key="d1") == len(dead)
    assert idx.stats() == st
    # overlapping delete (already-dead + unknown ids): only the truly
    # new removals count, totals never double-subtract
    extra = [r["doc_id"] for r in docs.filter(
        F.col("doc_id") % 14 == 1
    ).select("doc_id").collect()]
    n2 = idx.delete(dead + extra + [10**9], batch_key="d2")
    assert n2 == len(extra)
    survivors2 = docs.filter(~F.col("doc_id").isin(dead + extra))
    want2 = _ranking(bm25_topk(survivors2, QUERY, K))
    assert _ranking(idx.topk(QUERY, K)) == want2

    # a live tombstone blocks re-adding its id
    with pytest.raises(ValueError, match="tombstone"):
        idx.add(docs.filter(F.col("doc_id") == dead[0]),
                batch_key="bx")

    # compaction folds deltas AND tombstones; ranking unchanged
    st3 = idx.compact()
    assert st3["gen"] == 1 and st3["n_tombs"] == 0
    assert st3["n_docs"] == idx.stats()["n_docs"]
    assert _ranking(idx.topk(QUERY, K)) == want2
    # physical fold: the rebuilt base really excludes the dead docs
    assert idx.stats()["n_deltas"] == 0

    # folded delete key replay raises
    with pytest.raises(ValueError, match="folded"):
        idx.delete(dead, batch_key="d1")

    # after the fold the id space is free again: re-add the deleted
    # docs and the index serves the FULL corpus ranking once more
    idx.add(docs.filter(F.col("doc_id").isin(dead + extra)),
            batch_key="b2")
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(docs, QUERY, K)
    )


def test_delete_dataframe_ids_and_empty(spark, docs, tmp_path):
    """delete() takes a DataFrame of ids (the curation pipeline's
    natural shape) and an all-unknown batch records zero."""
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_tdf", n_buckets=8)
    dead_df = docs.filter(F.col("doc_id") % 11 == 3).select("doc_id")
    n_dead = dead_df.count()
    assert idx.delete(dead_df, batch_key="dd") == n_dead
    survivors = docs.join(dead_df, "doc_id", "left_anti")
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(survivors, QUERY, K)
    )
    assert idx.delete([10**9, 10**9 + 1], batch_key="dz") == 0
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(survivors, QUERY, K)
    )


def test_batch_topk_matches_scan_batch_and_topk(spark, docs, tmp_path):
    """batch_topk over the live snapshot (base + delta + tombstones):
    bit-identical to the scan-path bm25_batch over the equivalent
    surviving corpus, and at weight 1.0 to the index's own topk."""
    from gus_spark.operators.retrieval import bm25_batch

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_bt", n_buckets=8
    )
    idx.add(docs.filter(F.col("doc_id") % 2 == 1), batch_key="b1")
    dead = [r["doc_id"] for r in docs.filter(
        F.col("doc_id") % 13 == 2
    ).select("doc_id").collect()]
    idx.delete(dead, batch_key="d1")
    corpus = docs.filter(~F.col("doc_id").isin(dead))

    queries = spark.createDataFrame(
        [("qa", w, 1.0) for w in QUERY]
        + [("qb", "batch", 2.5), ("qb", "scan", 1.0)],
        "query_id string, w string, weight double",
    )
    got = idx.batch_topk(queries, K).toPandas().sort_values(
        ["query_id", "rank"]
    )
    ref = bm25_batch(corpus, queries, K).toPandas().sort_values(
        ["query_id", "rank"]
    )
    for col in ("query_id", "doc_id", "n_terms_hit", "score_fp",
                "rank"):
        assert got[col].tolist() == ref[col].tolist(), col

    # the base scan is bucket-pruned to the batch's terms
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.batch_topk(queries, K).explain(mode="formatted")
    plan = buf.getvalue()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan

    qa = got[got["query_id"] == "qa"]
    single = idx.topk(QUERY, K).toPandas()
    assert qa["doc_id"].tolist() == single["doc_id"].tolist()
    assert qa["score_fp"].tolist() == single["score_fp"].tolist()

    # all-zero-weight batch: empty, not an error
    zeroes = spark.createDataFrame(
        [("qz", "spark", 0.0)],
        "query_id string, w string, weight double",
    )
    assert idx.batch_topk(zeroes, K).count() == 0


def test_streaming_tombstones_match_batch_and_replay(
    spark, docs, tmp_path
):
    """posting_tombstone_stream: two delete micro-batches leave the
    index ranking bit-identical to the ad-hoc BM25 over the surviving
    corpus; a fresh-checkpoint replay is a no-op (disjoint tombstone
    marker namespace — the add stream's markers must not cross-skip);
    a replay AFTER compaction drains cleanly."""
    from gus_spark.streaming.postings import (
        posting_index_stream,
        posting_tombstone_stream,
    )

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_ts", n_buckets=8
    )
    # ingest the odd docs through the ADD stream first, so both
    # streams' batch-0 markers coexist under one root
    src_add = str(tmp_path / "add")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src_add)
    add_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_add)
    )
    posting_index_stream(
        add_stream, idx, str(tmp_path / "ckpt_add")
    ).awaitTermination()

    dead = docs.filter(F.col("doc_id") % 9 == 4).select("doc_id")
    src = str(tmp_path / "dead_ids")
    dead.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    dead.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(dead.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    posting_tombstone_stream(
        stream, idx, str(tmp_path / "ckpt")
    ).awaitTermination()

    survivors = docs.join(dead, "doc_id", "left_anti")
    want = _ranking(bm25_topk(survivors, QUERY, K))
    assert _ranking(idx.topk(QUERY, K)) == want
    assert idx.stats()["n_tombs"] == 2

    # fresh checkpoint over the unchanged id source: markers skip
    st = idx.stats()
    posting_tombstone_stream(
        stream, idx, str(tmp_path / "ckpt2")
    ).awaitTermination()
    assert idx.stats() == st
    assert _ranking(idx.topk(QUERY, K)) == want

    # compaction folds the tombstones; a later replay still drains
    # (markers fire before the folded-key guard)
    assert idx.compact()["n_tombs"] == 0
    posting_tombstone_stream(
        stream, idx, str(tmp_path / "ckpt3")
    ).awaitTermination()
    assert _ranking(idx.topk(QUERY, K)) == want


def test_positional_index_serves_bm25_and_phrases(
    spark, docs, tmp_path
):
    """positional=True: ONE live index serves both surfaces — BM25
    rankings stay bit-identical to bm25_topk (tf/dl ride the same
    rows; the positions array is column-pruned off BM25 reads), and
    phrase_topk over the live snapshot (build + add + delete) matches
    the ad-hoc retrieval.phrase_topk over the surviving corpus,
    before and after compaction."""
    from gus_spark.operators.retrieval import phrase_topk

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_pos",
        n_buckets=8, positional=True,
    )
    idx.add(docs.filter(F.col("doc_id") % 2 == 1), batch_key="b1")
    dead = [r["doc_id"] for r in docs.filter(
        F.col("doc_id") % 17 == 3
    ).select("doc_id").collect()]
    idx.delete(dead, batch_key="d1")
    corpus = docs.filter(~F.col("doc_id").isin(dead))

    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(corpus, QUERY, K)
    )
    phrase = ["row", "column", "sort"]
    want = [
        tuple(r) for r in phrase_topk(corpus, phrase, 50)
        .select("doc_id", "n_occurrences").collect()
    ]
    assert want, "phrase probe vacuous"
    got = [
        tuple(r) for r in idx.phrase_topk(phrase, 50)
        .select("doc_id", "n_occurrences").collect()
    ]
    assert got == want

    idx.compact()
    assert [
        tuple(r) for r in idx.phrase_topk(phrase, 50)
        .select("doc_id", "n_occurrences").collect()
    ] == want
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(corpus, QUERY, K)
    )

    # a non-positional index refuses phrase serving loudly
    flat = PostingIndex(spark, str(tmp_path / "flat"))
    flat.build(docs, "pidx_flat8", n_buckets=8)
    with pytest.raises(ValueError, match="positional"):
        flat.phrase_topk(phrase, 5)


def test_decontaminate_index_retroactive(spark, docs, tmp_path):
    """decontaminate_index: a benchmark that lands AFTER indexing —
    exact 13-gram + fuzzy gates run over the indexed corpus, flagged
    ids tombstoned with a benchmark-fingerprint batch key. Serving
    matches BM25 over the batch-decontaminated corpus; re-running the
    same benchmark is a manifest no-op; a GROWN benchmark tombstones
    only the newly-flagged docs."""
    from gus_spark.operators.decontaminate import (
        decontaminate,
        decontaminate_fuzzy,
        decontaminate_index,
    )

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_decon", n_buckets=8)

    bench1 = docs.filter(F.col("doc_id") % 83 == 7).select(
        "doc_id", "text"
    )
    survivors1 = decontaminate_fuzzy(
        decontaminate(docs, bench1, n=13, min_hits=1),
        bench1, ngram=1, threshold=0.7,
    )
    n_dead1 = docs.count() - survivors1.count()
    assert n_dead1 > 0, "bench1 flags nothing — vacuous"

    got = decontaminate_index(
        idx, docs, bench1, n=13, min_hits=1, fuzzy_ngram=1
    )
    assert got == n_dead1
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(survivors1, QUERY, K)
    )
    # same benchmark again: the fingerprint key short-circuits
    st = idx.stats()
    assert decontaminate_index(
        idx, docs, bench1, n=13, min_hits=1, fuzzy_ngram=1
    ) == n_dead1
    assert idx.stats() == st

    # the benchmark GROWS: only newly-flagged docs are tombstoned
    bench2 = docs.filter(
        (F.col("doc_id") % 83 == 7) | (F.col("doc_id") % 83 == 11)
    ).select("doc_id", "text")
    survivors2 = decontaminate_fuzzy(
        decontaminate(docs, bench2, n=13, min_hits=1),
        bench2, ngram=1, threshold=0.7,
    )
    extra = survivors1.count() - survivors2.count()
    assert extra > 0
    assert decontaminate_index(
        idx, docs, bench2, n=13, min_hits=1, fuzzy_ngram=1
    ) == extra
    assert _ranking(idx.topk(QUERY, K)) == _ranking(
        bm25_topk(survivors2, QUERY, K)
    )


def test_maintain_tombstone_fraction_policy(spark, docs, tmp_path):
    """maintain() compacts when the tombstoned fraction of the corpus
    exceeds max_tomb_frac, even with few tiers — a long-lived index
    under heavy curation must not serve mostly ghost postings."""
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_frac", n_buckets=8)
    idx.delete(
        docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
        batch_key="d1",
    )
    # one tombstone tier: count policy says no, fraction policy says
    # compact (~1/3 of the corpus is dead)
    assert idx.maintain(max_deltas=16, max_tomb_frac=0.5)["gen"] == 0
    st = idx.maintain(max_deltas=16, max_tomb_frac=0.2)
    assert st["gen"] == 1 and st["n_tombs"] == 0


def test_phrase_batch_on_live_index(spark, docs, tmp_path):
    """PostingIndex.phrase_batch: the batched forensics sweep over the
    live snapshot (with a delete applied) matches per-phrase
    phrase_topk over the surviving corpus."""
    from gus_spark.operators.retrieval import phrase_topk

    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_pb", n_buckets=8, positional=True)
    dead = docs.filter(F.col("doc_id") % 29 == 5).select("doc_id")
    idx.delete(dead, batch_key="d1")
    corpus = docs.join(dead, "doc_id", "left_anti")

    batch = {
        "p1": ["row", "column", "sort"],
        "p2": ["join", "small", "slow"],
    }
    phrases = spark.createDataFrame(
        [(qid, ph) for qid, ph in batch.items()],
        "query_id string, phrase array<string>",
    )
    got = idx.phrase_batch(phrases, 50).toPandas()
    for qid, ph in batch.items():
        part = got[got["query_id"] == qid].sort_values("rank")
        ref = phrase_topk(corpus, ph, 50).toPandas()
        assert part["doc_id"].tolist() == ref["doc_id"].tolist(), qid
        assert (
            part["n_occurrences"].tolist()
            == ref["n_occurrences"].tolist()
        ), qid


def test_decontaminate_index_edited_benchmark_text(spark, tmp_path):
    """Round-8 review: the idempotency key fingerprints benchmark
    CONTENT (ids AND texts) plus every gate parameter — re-running
    with a corrected benchmark text (same ids) or different gates must
    NOT short-circuit on the stale key."""
    from gus_spark.operators.decontaminate import decontaminate_index

    rows = [
        (i, f"alpha{i} " + " ".join(f"w{i}_{j}" for j in range(20)))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_edit", n_buckets=4)

    # benchmark v1: doc 3's text verbatim -> flags doc 3 only
    bench = spark.createDataFrame(
        [(100, rows[3][1])], "doc_id long, text string"
    )
    assert decontaminate_index(idx, docs, bench, n=13) == 1
    # corrected benchmark under the SAME bench id: now doc 5's text —
    # a stale ids-only fingerprint would skip; content key must not
    bench_fixed = spark.createDataFrame(
        [(100, rows[5][1])], "doc_id long, text string"
    )
    assert decontaminate_index(idx, docs, bench_fixed, n=13) == 1
    assert idx.stats()["tomb_docs"] == 2
    # same benchmark, different gate params -> different key, but the
    # flagged doc is already dead: 0 newly tombstoned, no error
    assert decontaminate_index(
        idx, docs, bench_fixed, n=13, min_hits=2
    ) == 0


def test_pipeline_index_config_mismatch_raises(spark, docs, tmp_path):
    """Round-8 review: a pipeline whose index_* config disagrees with
    the existing index manifest must refuse to drain, not silently
    append data in the wrong form."""
    from gus_spark.streaming import CurationPipelineStream

    root = str(tmp_path / "idx")
    mk = lambda **kw: CurationPipelineStream(  # noqa: E731
        spark, str(tmp_path / "src"), docs.schema,
        docs.limit(1).select("doc_id", "text"),
        str(tmp_path / "work"), index_root=root, **kw,
    )
    mk(index_positional=False)._ensure_index()
    with pytest.raises(ValueError, match="positional"):
        mk(index_positional=True)._ensure_index()
    with pytest.raises(ValueError, match="rebuild"):
        mk(index_buckets=64)._ensure_index()
    # matching config: fine
    mk(index_positional=False)._ensure_index()


AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


def _walk_plan(node):
    """Every node of an executed plan, through AQE query stages."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for kid in kids:
        yield from _walk_plan(kid)


def _base_scan_rows(df, table_name):
    """Run ``df`` and return the numOutputRows of each scan of the
    base-tier table ``table_name``."""
    df.collect()
    return [
        n.metrics().apply("numOutputRows").value()
        for n in _walk_plan(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.nodeName().endswith(f".{table_name}")
    ]


def test_public_calls_leave_session_conf_unchanged(spark, docs, tmp_path):
    """No PostingIndex call changes the caller's session conf: the
    conf snapshot is identical before and after each public call,
    phrase serving included."""
    orig = spark.conf.get(AUTO_BUCKETED_SCAN, None)
    spark.conf.unset(AUTO_BUCKETED_SCAN)
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    phrase = ["row", "column", "sort"]
    queries = spark.createDataFrame(
        [("qa", w, 1.0) for w in QUERY],
        "query_id string, w string, weight double",
    )
    phrases = spark.createDataFrame(
        [("p1", phrase)], "query_id string, phrase array<string>"
    )
    calls = [
        ("build", lambda: idx.build(
            docs.filter(F.col("doc_id") % 2 == 0), "pidx_conf",
            n_buckets=8, positional=True,
        )),
        ("add", lambda: idx.add(
            docs.filter(F.col("doc_id") % 2 == 1), batch_key="b1"
        )),
        ("delete", lambda: idx.delete([3, 5, 8], batch_key="d1")),
        ("topk", lambda: idx.topk(QUERY, K).collect()),
        ("batch_topk", lambda: idx.batch_topk(queries, K).collect()),
        ("phrase_topk", lambda: idx.phrase_topk(phrase, 5).collect()),
        ("phrase_batch", lambda: idx.phrase_batch(phrases, 5).collect()),
        ("health", lambda: idx.health(occupancy=True)),
        ("stats", idx.stats),
        ("fitted", lambda: idx.fitted),
        ("id_col", lambda: idx.id_col),
        ("maintain", lambda: idx.maintain(max_deltas=0)),
        ("compact", idx.compact),
    ]
    try:
        for name, call in calls:
            before = spark.conf.getAll
            call()
            assert spark.conf.getAll == before, name
    finally:
        if orig is not None:
            spark.conf.set(AUTO_BUCKETED_SCAN, orig)


def test_phrase_scan_prunes_buckets_without_conf_pin(spark, docs, tmp_path):
    """The phrase paths' base scan reads as few rows under the default
    conf as under autoBucketedScan=false: Spark drops the bucketed scan
    (no bucket distribution is needed downstream) but keeps skipping
    the files of unselected buckets, so no pin is needed."""
    idx = PostingIndex(spark, str(tmp_path / "idx"))
    idx.build(docs, "pidx_prune", n_buckets=8, positional=True)
    phrase = ["row", "column", "sort"]
    phrases = spark.createDataFrame(
        [("p1", phrase)], "query_id string, phrase array<string>"
    )
    serve = [
        lambda: idx.phrase_topk(phrase, 5),
        lambda: idx.phrase_batch(phrases, 5),
    ]
    orig = spark.conf.get(AUTO_BUCKETED_SCAN, None)
    try:
        spark.conf.unset(AUTO_BUCKETED_SCAN)
        default = [_base_scan_rows(f(), "pidx_prune_g0") for f in serve]
        spark.conf.set(AUTO_BUCKETED_SCAN, "false")
        pinned = [_base_scan_rows(f(), "pidx_prune_g0") for f in serve]
    finally:
        if orig is None:
            spark.conf.unset(AUTO_BUCKETED_SCAN)
        else:
            spark.conf.set(AUTO_BUCKETED_SCAN, orig)
    assert default == pinned and all(default), (default, pinned)
    total = spark.read.parquet(str(tmp_path / "idx" / "base-g0")).count()
    assert max(max(rows) for rows in default) < total, (default, total)

"""Streaming surface tests: batch/stream parity for windowed rollups,
session windows, and streaming dedup, driven synchronously via the file
source + memory sink."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR

from gus_spark.queries import table
from gus_spark.streaming import (
    dedup_stream,
    run_to_memory,
    session_aggregates,
    stream_events,
    windowed_rollup,
)


@pytest.fixture(scope="module")
def events_stream(spark):
    return stream_events(spark, SF_DIR)


def test_stream_ts_matches_batch_table(spark, events_stream):
    """The streamed ts column must be bit-identical to the batch
    ``table()`` read (same TIMESTAMP(MICROS) normalization contract)."""
    run_to_memory(
        events_stream.groupBy().agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"),
            F.count("*").alias("n"),
        ),
        "ts_probe",
        mode="complete",
    )
    got = spark.sql("SELECT * FROM ts_probe").first()
    exp = (
        table(spark, SF_DIR, "events")
        .groupBy()
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"),
             F.count("*").alias("n"))
        .first()
    )
    assert (got.lo, got.hi, got.n) == (exp.lo, exp.hi, exp.n)
    # sanity: not the micros-as-nanos 1970 corruption
    assert got.lo.year > 1990


def test_windowed_rollup_matches_batch(spark, events_stream):
    run_to_memory(windowed_rollup(events_stream), "rollup_out", mode="append")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    # parity vs the batch catalog query (hash-matched against DuckDB by
    # the driver's correctness harness)
    from gus_spark.queries import catalog

    batch = catalog()["events_hourly_rollup"].fn(spark, SF_DIR)
    expected = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    # watermark may hold back the final windows in append mode; everything
    # emitted must match the batch rollup exactly (counts AND sums)
    assert got, "stream emitted nothing"
    for key, val in got.items():
        assert expected.get(key) == val, key


def test_session_aggregates_run(spark, events_stream):
    run_to_memory(
        session_aggregates(events_stream), "sessions_out", mode="append"
    )
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    assert rows, "no sessions emitted"
    assert all(r.session_start <= r.session_end for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_dedup_stream_unique_ids(spark, events_stream):
    run_to_memory(dedup_stream(events_stream), "dedup_out", mode="append")
    df = spark.sql("SELECT event_id, COUNT(*) AS n FROM dedup_out GROUP BY 1")
    assert df.filter(F.col("n") > 1).count() == 0
    total = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").first().n
    assert total > 0


def test_stateful_running_totals(spark, events_stream):
    import time

    from gus_spark.streaming.stateful import running_user_totals

    # ProcessingTimeTimeout + availableNow never self-terminates (Spark
    # cannot prove no further timeouts will fire), so poll the sink for
    # the evicted rows and stop the query explicitly.
    query = (
        running_user_totals(events_stream, timeout_ms=1000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        expected = {
            r.user_id: r.n
            for r in table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        deadline = time.time() + 120
        evicted = 0
        while time.time() < deadline and evicted < len(expected):
            time.sleep(2)
            evicted = (
                spark.sql(
                    "SELECT COUNT(DISTINCT user_id) AS n FROM stateful_out "
                    "WHERE status = 'timed_out'"
                )
                .first()
                .n
            )
    finally:
        query.stop()
    assert evicted == len(expected), f"only {evicted} users evicted"
    got = {
        r.user_id: r.n
        for r in spark.sql(
            "SELECT user_id, MAX(n_events) AS n FROM stateful_out GROUP BY 1"
        ).collect()
    }
    assert got == expected


def test_streaming_neardup_matches_full_corpus(spark, tmp_path):
    """Documents streamed as two micro-batches through the incremental
    MinHash index must produce EXACTLY the full-corpus near-dup pairs,
    and a crash-replay (same batch ids, fresh checkpoint) must be a
    no-op thanks to the batch markers."""
    from gus_spark.operators.dedup import MinHashIndex, minhash_lsh_pairs
    from gus_spark.queries import table as load_table
    from gus_spark.streaming import neardup_stream

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    full = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(docs, threshold=0.8, ngram=1).collect()
    }

    src = str(tmp_path / "in")
    # two appends -> two files -> two micro-batches at one file/trigger
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.8, ngram=1)
    pairs_path = str(tmp_path / "pairs")
    q = neardup_stream(stream, index, pairs_path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in spark.read.parquet(pairs_path).collect()
    }
    assert got == full
    n_before = spark.read.parquet(pairs_path).count()

    # replay: fresh checkpoint re-feeds the same files as batches 0/1;
    # the markers must short-circuit both (no index growth, no new pairs)
    q2 = neardup_stream(stream, index, pairs_path, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert spark.read.parquet(pairs_path).count() == n_before


def test_streaming_curation_matches_batch(spark, tmp_path):
    """Documents streamed as two doc_id-ordered micro-batches through
    curate_stream must reproduce the batch curate_documents result
    row-for-row (same gates by construction — shared expressions; same
    dedup winner because arrival follows doc_id order)."""
    from gus_spark.queries import catalog
    from gus_spark.streaming import curate_stream

    batch = {
        tuple(r) for r in catalog()["curate_documents"].fn(spark, SF_DIR).collect()
    }
    docs = table(spark, SF_DIR, "documents")
    src = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "curated")
    q = curate_stream(stream, str(tmp_path / "state"), out,
                      str(tmp_path / "ckpt"))
    q.awaitTermination()

    from gus_spark.streaming.curation import _OUT_COLS

    def read_rows():
        # output lives in batch-keyed partition dirs (crash-safe keyed
        # overwrite); project the contract columns for comparison
        return {
            tuple(r)
            for r in spark.read.parquet(out).select(*_OUT_COLS).collect()
        }

    assert read_rows() == batch
    # replay with a fresh checkpoint: markers short-circuit both batches
    q2 = curate_stream(stream, str(tmp_path / "state"), out,
                       str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    assert read_rows() == batch
    # crash window: marker lost AFTER the batch's rows+fps were
    # written — the replayed batch must neither duplicate its rows
    # (keyed overwrite) nor anti-join itself away on its own
    # fingerprints (self-partition excluded from `seen`)
    state = tmp_path / "state"
    markers = sorted(
        p for p in os.listdir(state) if p.startswith("_batch-")
    )
    os.remove(str(state / markers[-1]))
    q3 = curate_stream(stream, str(tmp_path / "state"), out,
                       str(tmp_path / "ckpt3"))
    q3.awaitTermination()
    assert read_rows() == batch


def test_curate_stream_rejects_old_state_layout(spark, tmp_path):
    """ADVICE r6: the fp store moved from flat append files to
    batch=<id> partition dirs; resuming over a pre-round-6 state dir
    (fps present, no layout.json) or a future layout must fail with an
    explicit migration error up front, not a missing-`batch`-column
    AnalysisException mid-stream."""
    import json

    import pytest

    from gus_spark.streaming import curate_stream
    from gus_spark.streaming.curation import _check_state_layout

    docs = table(spark, SF_DIR, "documents").limit(1)
    src = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    # old layout: fps exist, no marker
    old_state = tmp_path / "old_state"
    (old_state / "fps").mkdir(parents=True)
    with pytest.raises(ValueError, match="unversioned"):
        curate_stream(stream, str(old_state), str(tmp_path / "o1"),
                      str(tmp_path / "c1"))

    # wrong version in the marker
    vs = tmp_path / "v9_state"
    vs.mkdir()
    (vs / "layout.json").write_text(json.dumps({"layout": 9}))
    with pytest.raises(ValueError, match="layout 9"):
        curate_stream(stream, str(vs), str(tmp_path / "o2"),
                      str(tmp_path / "c2"))

    # fresh dir: marker written, idempotent on re-check
    fresh = tmp_path / "fresh_state"
    fresh.mkdir()
    _check_state_layout(str(fresh), str(fresh / "fps"))
    assert json.loads((fresh / "layout.json").read_text()) == {"layout": 3}
    _check_state_layout(str(fresh), str(fresh / "fps"))  # no raise


def test_streaming_vector_ingest_matches_batch_adds(spark, tmp_path):
    """Embeddings streamed as two micro-batches into a fitted
    VectorIndex must yield search results identical to batch add()
    calls of the same rows (frozen-model encoding is deterministic),
    and an unfitted index must refuse the stream up front."""
    from gus_spark.errors import StorageError
    from gus_spark.operators.similarity import _as_double
    from gus_spark.operators.vector_index import VectorIndex
    from gus_spark.streaming import vector_index_stream

    e = table(spark, SF_DIR, "embeddings")
    queries = [
        (int(r.vec_id), list(r.v))
        for r in e.select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        ).limit(10).collect()
    ]

    batch_idx = VectorIndex(spark, str(tmp_path / "batch_idx"), iters=2)
    batch_idx.fit(e)
    batch_idx.add(e.filter(F.col("vec_id") < 250))
    batch_idx.add(e.filter(F.col("vec_id") >= 250))
    expected = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in batch_idx.search(queries, k=5, nprobe=4).collect()
    }

    # same fitted model, streamed codes: copy the model files only
    import shutil

    stream_dir = tmp_path / "stream_idx"
    stream_idx = VectorIndex(spark, str(stream_dir), iters=2)
    for name in ("centroids.npy", "codebooks.npy"):
        shutil.copy(tmp_path / "batch_idx" / name, stream_dir / name)

    src = str(tmp_path / "in")
    e.filter(F.col("vec_id") < 250).coalesce(1).write.mode("append").parquet(src)
    e.filter(F.col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = vector_index_stream(stream, stream_idx, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in stream_idx.search(queries, k=5, nprobe=4).collect()
    }
    assert got == expected
    assert stream_idx.stats() == batch_idx.stats()

    unfitted = VectorIndex(spark, str(tmp_path / "empty_idx"), iters=2)
    with pytest.raises(StorageError):
        vector_index_stream(stream, unfitted, str(tmp_path / "ckpt2"))


def test_stream_stream_attribution_matches_batch(spark, events_stream):
    """Stream-stream interval join parity: the watermarked click ⋈
    purchase attribution over the file-sourced stream must produce
    EXACTLY the rows the same join computes in batch. (Watermarks can
    only drop LATE data; availableNow processes the whole table, so
    any missing/extra row means the join condition or state eviction
    is wrong.)"""
    from gus_spark.streaming import click_purchase_attribution

    run_to_memory(
        click_purchase_attribution(events_stream), "attr", mode="append"
    )
    got = {
        tuple(r)
        for r in spark.table("attr")
        .select("user_id", "click_id", "purchase_id", "purchase_ts")
        .collect()
    }

    ev = table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        tuple(r)
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id", "purchase_id", "purchase_ts",
        )
        .collect()
    }
    assert len(want) > 0  # the corpus genuinely exercises the join
    assert got == want


def test_quota_gate_caps_per_key(spark):
    """per_key_quota_stream admits at most `quota` rows per key across
    ALL micro-batches (state carries the count), passes rows through
    unmodified, and under-quota keys keep every row. One file per
    trigger forces multi-batch accumulation — the state, not the
    batch, must enforce the cap."""
    from gus_spark.streaming import (
        per_key_quota_stream,
        run_to_memory,
        stream_events,
    )

    sf_small = "/root/testdata/sf0.001"
    quota = 5
    run_to_memory(
        per_key_quota_stream(
            stream_events(spark, sf_small), key_col="user_id", quota=quota
        ),
        "quota_out",
    )
    got = {
        r.user_id: r.n
        for r in spark.sql(
            "SELECT user_id, COUNT(*) AS n FROM quota_out GROUP BY 1"
        ).collect()
    }
    expected = {
        r.user_id: min(r.n, quota)
        for r in table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected
    # pass-through integrity: every emitted row is a real event row
    emitted = {
        (r.user_id, r.event_id)
        for r in spark.sql(
            "SELECT user_id, event_id FROM quota_out"
        ).collect()
    }
    real = {
        (r.user_id, r.event_id)
        for r in table(spark, sf_small, "events")
        .select("user_id", "event_id")
        .collect()
    }
    assert emitted <= real and len(emitted) == sum(got.values())


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """Documents streamed as two micro-batches through
    decontaminate_stream must keep exactly the rows the batch
    decontaminate() operator keeps — including the per-BENCH-DOC
    min_hits semantics — and replay must be a no-op.

    Planted cases: d1 shares one 13-gram with bench b1 (dirty at
    min_hits=1, clean at 2); d2 shares TWO distinct grams with the
    single bench doc b1 (dirty at both); d3 shares one gram with b1
    and one with b2 (dirty at 1; clean at 2 — cross-bench hits must
    not pool); d4 is a short doc verbatim-equal to short bench b3
    (whole-sequence gram); d5/d6 are clean."""
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.streaming import decontaminate_stream

    g1 = " ".join(f"g1w{i}" for i in range(13))
    g2 = " ".join(f"g2w{i}" for i in range(13))
    g3 = " ".join(f"g3w{i}" for i in range(13))
    docs_rows = [
        (1, f"start {g1} end"),
        (2, f"{g1} middle {g2}"),
        (3, f"{g1} then {g3} done"),
        (4, "tiny bench quote"),
        (5, "totally unrelated words here " * 3),
        (6, " ".join(f"clean{i}" for i in range(20))),
    ]
    bench_rows = [
        (101, f"{g1} plus {g2} context"),
        (102, f"other {g3} context"),
        (103, "tiny bench quote"),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    for min_hits in (1, 2):
        expected = {
            tuple(r)
            for r in decontaminate(docs, bench, min_hits=min_hits).collect()
        }
        # sanity-pin the planted semantics so the parity check can't
        # silently degenerate
        kept_ids = {r[0] for r in expected}
        if min_hits == 1:
            assert kept_ids == {5, 6}
        else:
            assert kept_ids == {1, 3, 4, 5, 6}

        base = tmp_path / f"mh{min_hits}"
        src = str(base / "in")
        docs.filter(F.col("doc_id") <= 3).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        docs.filter(F.col("doc_id") > 3).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = str(base / "clean")
        q = decontaminate_stream(
            stream, bench, str(base / "state"), out,
            str(base / "ckpt"), min_hits=min_hits,
        )
        q.awaitTermination()
        # output carries a batch partition column (the crash-safe
        # keyed-overwrite layout); drop it for the batch comparison
        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .select(*docs.columns)
            .collect()
        }
        assert got == expected, f"min_hits={min_hits}"

        # replay with a fresh checkpoint: markers short-circuit both
        # batches; batch-keyed overwrite keeps even a re-run exact
        n = spark.read.parquet(out).count()
        q2 = decontaminate_stream(
            stream, bench, str(base / "state"), out,
            str(base / "ckpt2"), min_hits=min_hits,
        )
        q2.awaitTermination()
        assert spark.read.parquet(out).count() == n
        assert os.path.exists(str(base / "state" / "meta.json"))

        # a crash BETWEEN the batch write and its marker: simulate by
        # deleting one marker and replaying — the keyed overwrite must
        # leave counts unchanged (an append layout would duplicate)
        markers = [
            p for p in os.listdir(str(base / "state"))
            if p.startswith("_batch-")
        ]
        os.remove(str(base / "state" / markers[0]))
        q3 = decontaminate_stream(
            stream, bench, str(base / "state"), out,
            str(base / "ckpt3"), min_hits=min_hits,
        )
        q3.awaitTermination()
        assert spark.read.parquet(out).count() == n

        # state built under different n / benchmark must be refused
        with pytest.raises(ValueError, match="state_dir"):
            decontaminate_stream(
                stream, bench, str(base / "state"), out,
                str(base / "ckpt4"), n=8, min_hits=min_hits,
            )
        with pytest.raises(ValueError, match="state_dir"):
            decontaminate_stream(
                stream, bench.limit(2), str(base / "state"), out,
                str(base / "ckpt5"), min_hits=min_hits,
            )


def test_streaming_pack_matches_batch_and_spans_batches(spark, tmp_path):
    """pack_stream over chunked documents: a single-trigger run assigns
    the SAME (shard, seq_id) pairs as the batch packer; a two-batch run
    keeps the global budget guarantee with open sequences continuing
    across the batch boundary (state carries (seq, fill))."""
    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.streaming.packing import pack_stream

    budget, shards = 48, 4
    chunks = chunk_documents(
        table(spark, SF_DIR, "documents"), max_tokens=16, overlap=4
    )
    src = str(tmp_path / "chunks")
    chunks.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    # single trigger: all files at once -> batch parity
    stream = spark.readStream.schema(schema).parquet(src)
    packed = pack_stream(stream, budget=budget, shards=shards)
    run_to_memory(packed, "packed_one", mode="append").awaitTermination()
    got = {
        (r.doc_id, r.chunk_index): (r.shard, r.seq_id)
        for r in spark.sql("SELECT * FROM packed_one").collect()
    }
    want = {
        (r.doc_id, r.chunk_index): (r.shard, r.seq_id)
        for r in pack_sequences(
            chunks, budget=budget, shards=shards
        ).collect()
    }
    assert got == want

    # two micro-batches: budget holds globally, sequences span batches
    half = chunks.count() // 2
    c = chunks.orderBy("doc_id", "chunk_index").collect()
    src2 = str(tmp_path / "chunks2")
    spark.createDataFrame(c[:half], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    spark.createDataFrame(c[half:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    packed2 = pack_stream(stream2, budget=budget, shards=shards)
    run_to_memory(packed2, "packed_two", mode="append").awaitTermination()
    rows = spark.sql("SELECT * FROM packed_two").collect()
    assert len(rows) == len(c)
    by_seq = {}
    for r in rows:
        by_seq.setdefault((r.shard, r.seq_id), []).append(r)
    for members in by_seq.values():
        assert sum(m.n_chunk_tokens for m in members) <= budget
        # fill_after is the running fill: its max IS the final total
        assert max(m.fill_after for m in members) == sum(
            m.n_chunk_tokens for m in members
        )
    # at least one sequence must span the batch boundary (state
    # continuity): sequences whose members straddle the doc split
    boundary_doc = c[half].doc_id
    spans = [
        ms
        for ms in by_seq.values()
        if any(m.doc_id < boundary_doc for m in ms)
        and any(m.doc_id >= boundary_doc for m in ms)
    ]
    assert spans, "no sequence continued across the batch boundary"


def test_streaming_pack_multi_arrow_batch_group(spark, tmp_path):
    """Regression for the per-pdf-sort bug: with
    arrow.maxRecordsPerBatch shrunk so ONE shard group arrives as
    SEVERAL pandas batches, pack_stream must still sort the whole
    group once — assignments identical to the batch packer."""
    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.streaming.packing import pack_stream

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        budget = 48
        chunks = chunk_documents(
            table(spark, SF_DIR, "documents"), max_tokens=16, overlap=4
        )
        # guard against this test going vacuous: the bug only shows
        # when the ONE state group spans several 37-row Arrow batches
        assert chunks.count() > 37, "corpus too small to force multi-pdf"
        src = str(tmp_path / "chunks")
        # shuffle the file order so arrival is NOT already sorted
        chunks.orderBy(F.xxhash64("doc_id", "chunk_index")).coalesce(
            1
        ).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        # shards=1: the whole corpus is one state group -> guaranteed
        # to span many 37-row Arrow batches
        packed = pack_stream(stream, budget=budget, shards=1)
        run_to_memory(packed, "packed_mb", mode="append").awaitTermination()
        got = {
            (r.doc_id, r.chunk_index): r.seq_id
            for r in spark.sql("SELECT * FROM packed_mb").collect()
        }
        want = {
            (r.doc_id, r.chunk_index): r.seq_id
            for r in pack_sequences(chunks, budget=budget, shards=1).collect()
        }
        assert got == want
    finally:
        spark.conf.set(key, old)


def test_streaming_pipeline_end_to_end_kill_and_resume(spark, tmp_path):
    """VERDICT r6 #6: the composed micro-batch pipeline — source →
    curation → decontamination → chunk+pack — run (a) in one drain and
    (b) incrementally with a simulated crash (lost done-markers in
    both stateful stages) and a resume, must produce PACKED OUTPUT
    row-identical to the batch composition of the same stages. The
    incremental run also proves packing state (open sequences)
    survives across pipeline drains."""
    import shutil

    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    # a real benchmark suite: actual corpus docs — their surviving
    # curated selves are contaminated BY CONSTRUCTION (a doc shares
    # its own 13-grams), so the decontamination stage is non-vacuous
    bench = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text")
    params = dict(
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )

    # ---- batch twin of the three stages
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    clean_b = decontaminate(curated_b, bench, n=13, min_hits=1)
    chunks_b = chunk_documents(clean_b, max_tokens=16, overlap=4)
    batch_packed = pack_sequences(chunks_b, budget=48, shards=4).collect()
    # batch emits the sequence TOTAL (seq_tokens); the stream emits the
    # RUNNING fill (fill_after) — compare assignments + content, and
    # totals via max(fill_after) per sequence
    want = {
        (r.doc_id, r.chunk_index): (
            r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
        )
        for r in batch_packed
    }
    want_totals = {
        (r.shard, r.seq_id): r.seq_tokens for r in batch_packed
    }
    assert want, "batch twin is vacuous"
    # the decontamination stage really dropped something
    n_curated = curated_b.count()
    n_clean = clean_b.count()
    assert n_clean < n_curated

    def packed_rows(p):
        return {
            (r.doc_id, r.chunk_index): (
                r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
            )
            for r in spark.read.parquet(p.packed).collect()
        }

    def packed_totals(p):
        totals = {}
        for r in spark.read.parquet(p.packed).collect():
            key = (r.shard, r.seq_id)
            totals[key] = max(totals.get(key, 0), r.fill_after)
        return totals

    # ---- (a) one-shot drain
    src_a = str(tmp_path / "src_a")
    docs.coalesce(1).write.parquet(src_a)
    pa = CurationPipelineStream(
        spark, src_a, docs.schema, bench, str(tmp_path / "work_a"),
        **params,
    )
    pa.run()
    assert packed_rows(pa) == want
    assert packed_totals(pa) == want_totals

    # ---- loader handoff from the STREAMED tier (r11): sequences are
    # held open in pack state across batches, so the token-id loader
    # materialization is a BATCH job over the drained packed tier by
    # design — and it must produce token tensors + doc spans
    # bit-identical to assembling the batch twin's pack (the packed
    # rows are row-identical, asserted above; this pins the whole
    # downstream chain through encode + span fold).
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
    )
    from gus_spark.operators.chunk import assemble_token_sequences

    merges = bpe_fit(clean_b, num_merges=8, merge_batch=2)
    vocab = bpe_vocab(merges, bpe_base_symbols(clean_b))

    def seq_key(df):
        return {
            r.seq_uid: (
                list(r.token_ids),
                sorted(
                    (s.doc_id, s.chunk_index, s.start, s.len)
                    for s in r.doc_spans
                ),
                r.n_tokens,
                r.n_unk,
            )
            for r in df.collect()
        }

    from_stream = seq_key(
        assemble_token_sequences(
            spark.read.parquet(pa.packed), merges, vocab
        )
    )
    from_batch = seq_key(
        assemble_token_sequences(
            pack_sequences(chunks_b, budget=48, shards=4), merges, vocab
        )
    )
    assert from_stream == from_batch and from_stream

    # ---- (b) incremental arrival + crash + resume
    src_b = str(tmp_path / "src_b")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src_b)
    pb = CurationPipelineStream(
        spark, src_b, docs.schema, bench, str(tmp_path / "work_b"),
        **params,
    )
    pb.run()  # drains wave 1; packing leaves open sequences in state
    n_wave1 = len(packed_rows(pb))
    assert 0 < n_wave1 < len(want)
    # wave 2 arrives and is drained
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src_b)
    pb.run()
    # crash simulation — REAL marker-window replay, not a no-op: kill
    # the newest checkpoint COMMIT of both foreachBatch stages (so the
    # restarted query re-delivers that exact batch, which is what a
    # crash between the output write and the commit looks like) AND
    # the matching done-marker (the crash landed before the marker
    # write too). The resume must re-run _process for those batches;
    # keyed overwrite + self-batch-excluded fps keep output identical.
    def crash_window(stage_state, ckpt):
        sd = tmp_path / "work_b" / stage_state
        ms = sorted(
            m for m in os.listdir(sd) if m.startswith("_batch-")
        )
        os.remove(str(sd / ms[-1]))
        commits = tmp_path / "work_b" / ckpt / "commits"
        ids = sorted(
            int(f) for f in os.listdir(commits) if f.isdigit()
        )
        os.remove(str(commits / str(ids[-1])))
        crc = commits / f".{ids[-1]}.crc"  # hadoop checksum sibling
        if crc.exists():
            os.remove(str(crc))
        return sd / ms[-1]

    killed = [
        crash_window("state1", "ckpt1"),
        crash_window("state2", "ckpt2"),
    ]
    pb.run()  # resume: genuinely replays the crashed batch windows
    # the replay actually ran: the DELETED markers were re-written
    for m in killed:
        assert m.exists(), m
    assert packed_rows(pb) == want
    assert packed_totals(pb) == want_totals


def test_streaming_pipeline_checkpoint_loss_raises_not_drops(
    spark, tmp_path
):
    """Round-7 review finding (reproduced before the fix): done-markers
    keyed on batch_id alone silently DROPPED data after a checkpoint
    wipe — a restarted query renumbers batches from 0, the stale
    _batch-0.done marker short-circuits the handler, and documents
    that arrived since are never curated. Markers now record the
    batch's content fingerprint, so the stale-lineage skip becomes a
    loud lineage-divergence error with recovery guidance."""
    import shutil

    import pytest

    from gus_spark.streaming import curate_stream

    docs = table(spark, SF_DIR, "documents")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")

    def run(ckpt):
        stream = spark.readStream.schema(docs.schema).parquet(src)
        curate_stream(stream, state, out, ckpt).awaitTermination()

    run(str(tmp_path / "ckpt"))
    n_wave1 = spark.read.parquet(out).count()
    # operator error: checkpoint wiped while the source grew
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    shutil.rmtree(str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="different lineage"):
        run(str(tmp_path / "ckpt"))
    # and nothing was silently skipped-as-done: output unchanged, no
    # data loss masquerading as success
    assert spark.read.parquet(out).count() == n_wave1
    # RECOVERY: a new lineage whose batching re-aligns with the
    # markers (one file per trigger → batch 0 is wave 1 again) skips
    # the genuinely-done batch on its matching fingerprint and
    # processes the new data — completing what the wiped checkpoint
    # would have silently lost before this fix
    shutil.rmtree(str(tmp_path / "ckpt"))
    sub = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    curate_stream(
        sub, state, out, str(tmp_path / "ckpt")
    ).awaitTermination()
    assert spark.read.parquet(out).count() > n_wave1


def test_streaming_pipeline_live_mode(spark, tmp_path):
    """run_live: the three stages run CONCURRENTLY on processing-time
    triggers — stage 2/3 start lazily at their upstream's first
    commit, a second arrival wave lands WHILE the graph is running,
    and the self-quiescing stop drains everything. Final packed
    output must be row-identical to the batch composition (same
    parity contract as the sequential drain test), and the returned
    metrics must show every stage started, multi-batch progress on
    the source stage, and the progress hook firing."""
    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text")
    params = dict(
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )

    # batch twin (identical to the sequential test's contract)
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    clean_b = decontaminate(curated_b, bench, n=13, min_hits=1)
    chunks_b = chunk_documents(clean_b, max_tokens=16, overlap=4)
    want = {
        (r.doc_id, r.chunk_index): (
            r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
        )
        for r in pack_sequences(chunks_b, budget=48, shards=4).collect()
    }
    assert want, "batch twin is vacuous"

    # wave 1 on disk before the graph starts; wave 2 lands mid-run
    # (ascending doc_id split keeps stream arrival order == the batch
    # twin's scan order for the order-sensitive next-fit packer)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    state = {"wave2": False, "calls": 0}

    def on_progress(snapshot):
        state["calls"] += 1
        if (not state["wave2"]
                and snapshot["stages"]["curate"]["rows_in"] > 0):
            docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            state["wave2"] = True

    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        **params,
    )
    metrics = p.run_live(
        processing_time="1 second", poll=0.5, idle_polls=4,
        timeout=600.0, on_progress=on_progress,
    )

    assert not metrics["timed_out"], metrics
    assert state["wave2"], "second wave never landed"
    assert state["calls"] >= 2
    stages = metrics["stages"]
    assert all(s["started"] for s in stages.values()), stages
    # both waves flowed through the source stage (rows_in counts
    # SCANS, not logical rows — the curate stage's multi-action
    # foreachBatch reads each micro-batch more than once, so it is an
    # upper bound that must still cover every logical row)
    assert stages["curate"]["batches"] >= 2, stages
    assert stages["curate"]["rows_in"] >= docs.count(), stages
    assert stages["decon"]["rows_in"] > 0, stages
    assert stages["pack"]["rows_in"] > 0, stages

    got = {
        (r.doc_id, r.chunk_index): (
            r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
        )
        for r in spark.read.parquet(p.packed).collect()
    }
    assert got == want


def test_streaming_fuzzy_decontamination_matches_batch(spark, tmp_path):
    """The fuzzy companion stream: two micro-batches through
    fuzzy_decontaminate_stream keep exactly the rows the batch
    decontaminate_fuzzy() keeps (reformatted copies dropped, clean
    docs survive), replay is a no-op, and state built under a
    different ngram/benchmark is refused."""
    import random

    from gus_spark.operators.decontaminate import decontaminate_fuzzy
    from gus_spark.streaming.decontaminate import (
        fuzzy_decontaminate_stream,
    )

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(300)]
    bench_rows = [
        (200 + b, " ".join(rng.choice(vocab) for _ in range(60)))
        for b in range(4)
    ]
    # docs 0..3: every-8th-token edits of the bench items (breaks all
    # verbatim 13-grams, unigram Jaccard ~0.78); 10..19 clean
    def edit(text):
        return " ".join(
            f"X{i}" if i % 8 == 7 else w
            for i, w in enumerate(text.split())
        )

    docs_rows = [(b - 200, edit(t)) for b, t in bench_rows] + [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(60)))
        for i in range(10)
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    expected = {
        tuple(r) for r in decontaminate_fuzzy(docs, bench).collect()
    }
    assert {r[0] for r in expected} == {10 + i for i in range(10)}

    base = tmp_path / "fuzzy"
    src = str(base / "in")
    docs.filter(F.col("doc_id") < 10).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") >= 10).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(base / "clean")
    q = fuzzy_decontaminate_stream(
        stream, bench, str(base / "state"), out, str(base / "ckpt")
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.read.parquet(out).select(*docs.columns).collect()
    }
    assert got == expected

    # replay with a fresh checkpoint: markers short-circuit
    n = spark.read.parquet(out).count()
    q2 = fuzzy_decontaminate_stream(
        stream, bench, str(base / "state"), out, str(base / "ckpt2")
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n

    # a different threshold REUSES the state (verify-time knob)
    q3 = fuzzy_decontaminate_stream(
        stream, bench, str(base / "state"), str(base / "clean2"),
        str(base / "ckpt3"), threshold=0.95,
    )
    q3.awaitTermination()

    # different ngram or benchmark must be refused
    with pytest.raises(ValueError, match="state_dir"):
        fuzzy_decontaminate_stream(
            stream, bench, str(base / "state"), out,
            str(base / "ckpt4"), ngram=2,
        )
    with pytest.raises(ValueError, match="state_dir"):
        fuzzy_decontaminate_stream(
            stream, bench.limit(2), str(base / "state"), out,
            str(base / "ckpt5"),
        )


def test_streaming_pipeline_live_mode_with_fuzzy(spark, tmp_path):
    """Round-8 review (high): with fuzzy_ngram set, run_live must (a)
    actually run the fuzzy decontamination stage and (b) pack from the
    fuzzy-clean tier — before the fix _start_pack_live read `clean`,
    so contaminated near-duplicate benchmark copies reached the packed
    output silently, and run()/run_live() pointed the shared ckpt3
    file-source checkpoint at two different directories. Exercises the
    MIXED mode the review called out: wave 1 drains through run(),
    wave 2 through run_live() on the same work_dir; packed output must
    be row-identical to the four-stage batch composition."""
    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import (
        decontaminate,
        decontaminate_fuzzy,
    )
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    # benchmark = verbatim corpus docs (13-gram gate's prey) PLUS
    # every-8th-token edits of OTHER corpus docs: the edits break all
    # verbatim 13-grams (runs <= 7 tokens), so their curated originals
    # pass the exact gate and only the fuzzy MinHash gate drops them
    exact_bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    fuzzy_rows = [
        (10_000 + r["doc_id"], " ".join(
            f"Z{i}" if i % 8 == 7 else w
            for i, w in enumerate(r["text"].split())
        ))
        for r in docs.filter(
            (F.col("doc_id") % 50 == 7) & (F.col("doc_id") % 97 != 3)
        ).select("doc_id", "text").collect()
    ]
    bench = exact_bench.unionByName(
        spark.createDataFrame(fuzzy_rows, "doc_id long, text string")
    )
    params = dict(
        ngram=13, min_hits=1, fuzzy_ngram=1, fuzzy_threshold=0.7,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )

    # ---- batch twin of the FOUR stages
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    clean_b = decontaminate(curated_b, bench, n=13, min_hits=1)
    fuzzy_b = decontaminate_fuzzy(
        clean_b, bench, ngram=1, threshold=0.7
    )
    n_clean, n_fuzzy = clean_b.count(), fuzzy_b.count()
    # non-vacuous: the fuzzy gate drops docs the exact gate waved
    # through — exactly the rows the pre-fix live packer leaked
    assert n_fuzzy < n_clean, (n_fuzzy, n_clean)
    chunks_b = chunk_documents(fuzzy_b, max_tokens=16, overlap=4)
    want = {
        (r.doc_id, r.chunk_index): (
            r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
        )
        for r in pack_sequences(chunks_b, budget=48, shards=4).collect()
    }
    assert want, "batch twin is vacuous"

    # ---- wave 1 through the sequential drain
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        **params,
    )
    p.run()
    assert p.pack_src == p.fuzzy_clean

    # ---- wave 2 lands, then live mode resumes the same work_dir
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    metrics = p.run_live(
        processing_time="1 second", poll=0.5, idle_polls=4,
        timeout=600.0,
    )
    assert not metrics["timed_out"], metrics
    stages = metrics["stages"]
    assert set(stages) == {"curate", "decon", "fuzzy", "pack"}, stages
    assert all(s["started"] for s in stages.values()), stages
    assert stages["fuzzy"]["rows_in"] > 0, stages

    got = {
        (r.doc_id, r.chunk_index): (
            r.chunk_text, r.n_chunk_tokens, r.shard, r.seq_id
        )
        for r in spark.read.parquet(p.packed).collect()
    }
    assert got == want


def test_streaming_pipeline_feeds_live_posting_index(spark, tmp_path):
    """VERDICT r7 #6: with index_root set, the composed pipeline feeds
    every curated+decontaminated document into a live BM25
    PostingIndex — after two drains (the second with a fresh arrival
    wave), BM25 over the live index must rank BIT-IDENTICALLY to the
    ad-hoc bm25_topk over the batch-equivalent final corpus, and a
    re-drain must not double-index anything. Second drain runs in
    LIVE mode to cover both entry points against one checkpoint."""
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.operators.posting_index import PostingIndex
    from gus_spark.operators.retrieval import bm25_topk
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.streaming import CurationPipelineStream
    from pyspark.sql import Window

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )

    # batch twin of the final (indexable) tier
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    clean_b = decontaminate(curated_b, bench, n=13, min_hits=1)
    query = ["spark", "join", "dup"]

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    idx_root = str(tmp_path / "bm25_index")
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1, chunk_tokens=16, chunk_overlap=4,
        seq_budget=48, pack_shards=4,
        index_root=idx_root, index_name="pidx_live_pipe",
        index_max_deltas=64, index_positional=True,
    )
    p.run()
    idx = PostingIndex(spark, idx_root)
    wave1 = clean_b.filter(F.col("doc_id") < 250)

    def ranking(df):
        pdf = df.toPandas()
        return list(zip(pdf["doc_id"], pdf["score_fp"]))

    assert ranking(idx.topk(query, 25)) == ranking(
        bm25_topk(wave1, query, 25)
    )

    # wave 2 + live-mode drain on the same work_dir/checkpoints
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    metrics = p.run_live(
        processing_time="1 second", poll=0.5, idle_polls=4,
        timeout=600.0,
    )
    assert not metrics["timed_out"], metrics
    assert metrics["stages"]["index"]["started"], metrics
    want = ranking(bm25_topk(clean_b, query, 25))
    assert ranking(idx.topk(query, 25)) == want

    # a third drain over an unchanged source: markers short-circuit,
    # nothing double-indexes
    st = idx.stats()
    p.run()
    assert idx.stats() == st
    assert ranking(idx.topk(query, 25)) == want

    # index_positional=True: the SAME live index answers exact-phrase
    # forensics over the curated corpus, matching the ad-hoc operator
    from gus_spark.operators.retrieval import phrase_topk

    phrase = ["row", "column", "sort"]
    want_p = [
        tuple(r) for r in phrase_topk(clean_b, phrase, 25)
        .select("doc_id", "n_occurrences").collect()
    ]
    got_p = [
        tuple(r) for r in idx.phrase_topk(phrase, 25)
        .select("doc_id", "n_occurrences").collect()
    ]
    # the raw corpus has 2 docs containing the phrase; curation may
    # drop some, but the comparison must not be vacuous by accident
    assert want_p, "phrase probe vacuous on this corpus"
    assert got_p == want_p


def test_stage_outputs_respect_batch_width(spark, tmp_path):
    """markers.batch_width: a micro-batch that arrived as ONE file
    must publish as ONE part file per batch dir, not
    spark.sql.shuffle.partitions — unchecked, each downstream file
    source runs one trigger PER part file and the composed pipeline's
    trigger count multiplies stage over stage (8 arrival batches ->
    256 pack triggers, the 50x wall tools/pipeline_stream_bench.py
    measured before the bound)."""
    from gus_spark.streaming.curation import curate_stream
    from gus_spark.streaming.decontaminate import decontaminate_stream

    docs = table(spark, SF_DIR, "documents")
    src = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def parquet_files_per_batch(root):
        out = {}
        for d in sorted(os.listdir(root)):
            if d.startswith("batch="):
                out[d] = sum(
                    1
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                )
        return out

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    curated = str(tmp_path / "curated")
    q = curate_stream(
        stream, str(tmp_path / "state1"), curated,
        str(tmp_path / "ckpt1"), include_text=True,
    )
    q.awaitTermination()
    per_batch = parquet_files_per_batch(curated)
    assert len(per_batch) == 2  # one batch per arrival file
    assert all(n == 1 for n in per_batch.values()), per_batch
    # the fingerprint state deltas ride the same budget (they are
    # re-listed and read EVERY trigger)
    fp_batches = parquet_files_per_batch(
        str(tmp_path / "state1" / "fps")
    )
    assert all(n == 1 for n in fp_batches.values()), fp_batches

    # downstream: the curated source now yields one trigger per
    # UPSTREAM BATCH, and its own publish holds the budget too
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    cur_schema = spark.read.parquet(curated).schema
    stream2 = (
        spark.readStream.schema(cur_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(curated)
    )
    clean = str(tmp_path / "clean")
    q2 = decontaminate_stream(
        stream2, bench, str(tmp_path / "state2"), clean,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    clean_batches = parquet_files_per_batch(clean)
    assert len(clean_batches) == 2, clean_batches
    assert all(n == 1 for n in clean_batches.values()), clean_batches


def test_streaming_pipeline_cap_gate_matches_batch(spark, tmp_path):
    """Optional cap gate (r11): a CurationPipelineStream built with a
    persisted cap_thresholds artifact rate-caps the curated stream
    between curation and decontamination — packed output must be
    row-identical to the batch composition applying the same frozen
    gate, the gate must genuinely drop rows vs the uncapped pipeline,
    and groups absent from the fit must pass whole."""
    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.operators.mixing import (
        apply_cap_thresholds,
        cap_thresholds,
    )
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text")
    params = dict(
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    CAP = 20  # binds on lang (en >> 20 x margin); sources wouldn't

    # batch twin WITH the frozen gate between curation and decon
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "lang", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    thr = cap_thresholds(curated_b, group_col="lang", max_rows=CAP)
    art_path = str(tmp_path / "cap_art")
    thr.write.parquet(art_path)
    gated_b = (
        apply_cap_thresholds(
            curated_b, spark.read.parquet(art_path), group_col="lang"
        )
        .filter(F.col("keep").isNull() | F.col("keep"))
        .drop("keep")
    )
    assert gated_b.count() < curated_b.count()  # the gate bites
    clean_b = decontaminate(
        gated_b.select("doc_id", "text"), bench, n=13, min_hits=1
    )
    chunks_b = chunk_documents(clean_b, max_tokens=16, overlap=4)
    want = {
        (r.doc_id, r.chunk_index): (r.chunk_text, r.shard, r.seq_id)
        for r in pack_sequences(chunks_b, budget=48, shards=4).collect()
    }
    assert want

    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        cap_thresholds=art_path, cap_group_col="lang", **params,
    )
    p.run()
    got = {
        (r.doc_id, r.chunk_index): (r.chunk_text, r.shard, r.seq_id)
        for r in spark.read.parquet(p.packed).collect()
    }
    assert got == want

    # uncapped pipeline over the same source packs strictly more rows
    p0 = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work0"),
        **params,
    )
    p0.run()
    assert spark.read.parquet(p0.packed).count() > len(got)


def test_cap_gate_refit_signal_is_observable(spark, tmp_path):
    """r12 (VERDICT r11 ask #5): an unfitted group arriving mid-stream
    is VISIBLE. Drain 1 carries only fitted groups (cap_summary shows
    rows but zero unfitted); then a brand-new source lands and drain 2
    (run_live — covering the live harvest path too) reports its rows
    in stages.decon.cap while they still PASS downstream per the
    documented keep-IS-NULL semantics. The cap_refit_warn_frac knob
    then warns loudly on the cumulative fraction."""
    import warnings as _warnings

    from gus_spark.operators.mixing import cap_thresholds
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    thr = cap_thresholds(docs, group_col="source", max_rows=5)
    art = str(tmp_path / "art")
    thr.write.parquet(art)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        cap_thresholds=art, cap_group_col="source",
        cap_refit_warn_frac=1e-6,
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # drain 1 must NOT warn
        p.run()
        s1 = p.cap_summary()
    assert s1["rows_seen"] > 0
    assert s1["unfitted_rows"] == 0 and s1["triggers_with_unfitted"] == 0
    assert s1["dropped_rows"] > 0  # the fitted cap genuinely bites

    # a brand-new head domain arrives mid-stream. Base texts come
    # from drain 1's CLEAN tier (they passed every gate and the
    # decon join once already); the per-id suffix makes each content
    # fp unique (the documents table deliberately contains exact
    # duplicates) and any 13-gram spanning it contains the unique id
    # token, so no NEW bench overlap can appear — every fresh row
    # must therefore reach the clean tier iff the cap gate admits it.
    fresh_text = F.concat(
        F.col("text"), F.lit(" freshly crawled "),
        F.col("doc_id").cast("string"),
    )
    fresh = (
        spark.read.parquet(p.clean)
        .select("doc_id", "text", "lang")
        .limit(8)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            fresh_text.alias("text"),
            "lang",
            F.lit("brand-new-domain").alias("source"),
            F.length(fresh_text).cast("long").alias("n_chars"),
        )
    )
    n_fresh = fresh.count()
    assert n_fresh == 8
    fresh.coalesce(1).write.mode("append").parquet(src)
    snap = p.run_live(timeout=120.0)
    cap = snap["stages"]["decon"]["cap"]
    assert cap["unfitted_rows"] > 0
    assert cap["triggers_with_unfitted"] >= 1
    # the unfitted rows PASSED the gate (keep IS NULL admits):
    clean_fresh = (
        spark.read.parquet(p.clean)
        .filter(F.col("doc_id") >= 1_000_000)
        .count()
    )
    assert clean_fresh == n_fresh
    # the loud knob: cumulative unfitted fraction now exceeds 1e-6
    with pytest.warns(UserWarning, match="refit cap_thresholds"):
        p.cap_summary()


def test_url_dedup_stream_matches_batch_and_holds_state(spark, tmp_path):
    """Streaming URL-tier dedup (r12): the ingest twin of
    operators.dedup.dedup_by_url. Claims: a single-batch drain equals
    the batch operator's representatives row-for-row; a multi-batch
    drain emits each canonical exactly once with the canonical SET
    identical to batch; and a LATER drain (fresh query, same
    state/checkpoint) of nothing but re-spellings of already-served
    canonicals emits zero survivors — the seen-canonical state
    persists across restarts."""
    from gus_spark.operators.dedup import dedup_by_url, normalize_url
    from gus_spark.queries.dedup import _synth_urls
    from gus_spark.streaming import url_dedup_stream

    docs = table(spark, SF_DIR, "documents")
    urls = _synth_urls(docs)  # (doc_id, url) with real variant groups
    want_reps = {
        (r.canonical_url, r.keep_doc_id)
        for r in dedup_by_url(urls).collect()
    }

    def drain(src, work):
        q = url_dedup_stream(
            spark.readStream.schema("doc_id long, url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            os.path.join(work, "state"),
            os.path.join(work, "out"),
            os.path.join(work, "ckpt"),
        )
        q.awaitTermination()
        out = os.path.join(work, "out")
        return (
            spark.read.parquet(out)
            if os.path.isdir(out)
            else None
        )

    # A. all-in-one-batch drain == the batch operator exactly
    src1 = str(tmp_path / "src1")
    urls.coalesce(1).write.parquet(src1)
    got = drain(src1, str(tmp_path / "w1"))
    assert {
        (r.canonical_url, r.doc_id) for r in got.collect()
    } == want_reps

    # B. two-batch drain: one row per canonical, set == batch
    src2 = str(tmp_path / "src2")
    half = docs.agg(F.max("doc_id")).first()[0] // 2
    urls.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src2)
    urls.filter(F.col("doc_id") > half).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    w2 = str(tmp_path / "w2")
    got2 = drain(src2, w2).collect()
    canons = [r.canonical_url for r in got2]
    assert len(canons) == len(set(canons))  # once each, across batches
    assert set(canons) == {c for c, _ in want_reps}

    # C. restart with ONLY re-spellings of served canonicals: the
    # persisted state must anti-join them all away
    # r13: canonicals may carry a kept query string, so the re-spell
    # appends its tracker noise as an extra param there (and as a
    # fresh tracker-only query on bare-path canonicals)
    canon = normalize_url(F.col("url"))
    respell = urls.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("https://www."),
            canon,
            F.when(
                canon.contains("?"), F.lit("&gclid=retry")
            ).otherwise(F.lit("/?utm_medium=retry")),
        ).alias("url"),
    )
    respell.coalesce(1).write.mode("append").parquet(src2)
    got3 = drain(src2, w2)
    assert got3.filter(F.col("doc_id") >= 10_000_000).count() == 0
    assert got3.count() == len(got2)  # nothing new served


def test_pipeline_url_tier_matches_batch_composition(spark, tmp_path):
    """URL tier composed as stage 0 of CurationPipelineStream (r12,
    pre-empting the r13 roadmap item): with url_col set, the packed
    output must be row-identical to the batch composition
    dedup_by_url-survivors → curate → decontaminate → chunk → pack,
    in BOTH modes — run() (sequential drains; curation is a lazy
    no-op until stage 0 commits) and run_live() (concurrent, curation
    starts lazily on the first url_clean commit)."""
    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.operators.dedup import dedup_by_url
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate
    from gus_spark.queries.dedup import _synth_urls
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    with_url = docs.join(_synth_urls(docs), "doc_id")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    params = dict(
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )

    # batch twin: URL survivors (min doc_id per canonical) first
    reps = dedup_by_url(with_url).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = with_url.join(reps, "doc_id", "semi")
    assert survivors.count() < with_url.count()  # the tier bites
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated_b = (
        profile_and_gate(survivors)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "text")
    )
    clean_b = decontaminate(curated_b, bench, n=13, min_hits=1)
    chunks_b = chunk_documents(clean_b, max_tokens=16, overlap=4)
    want = {
        (r.doc_id, r.chunk_index): (r.chunk_text, r.shard, r.seq_id)
        for r in pack_sequences(chunks_b, budget=48, shards=4).collect()
    }
    assert want

    src = str(tmp_path / "src")
    with_url.coalesce(1).write.parquet(src)

    def packed_rows(p):
        return {
            (r.doc_id, r.chunk_index): (r.chunk_text, r.shard, r.seq_id)
            for r in spark.read.parquet(p.packed).collect()
        }

    # run() mode
    p = CurationPipelineStream(
        spark, src, with_url.schema, bench, str(tmp_path / "work"),
        url_col="url", **params,
    )
    p.run()
    assert packed_rows(p) == want
    # the hand-off tier exists and curation consumed it (not the src)
    assert os.path.isdir(p.url_clean) and p.curate_src == p.url_clean

    # run_live() mode: fresh work dir, concurrent stages, curation
    # started lazily after stage 0's first commit
    p2 = CurationPipelineStream(
        spark, src, with_url.schema, bench, str(tmp_path / "work2"),
        url_col="url", **params,
    )
    snap = p2.run_live(timeout=180.0)
    assert not snap["timed_out"]
    assert snap["stages"]["urldedup"]["batches"] >= 1
    assert snap["stages"]["curate"]["started"]
    assert packed_rows(p2) == want


def test_publish_shards_ingest_to_trainer_loop(spark, tmp_path):
    """publish_shards (r12): the crawl→training-order loop. Drain →
    publish, ingest more → drain → publish (a new GENERATION), final
    close-out publish — the union of all generations' sequences must
    equal assemble_token_sequences over the full packed tier, with no
    duplicate seq_uid, the tokenizer persisted beside the manifest,
    and a decode receipt through the reloaded artifact. Then crash
    surgery: a publish that died between landing and finalizing its
    watermarks must reconcile (finalize-only — no duplicate
    generation) on the next call."""
    import json

    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_decode_ids,
        bpe_fit,
        bpe_vocab,
        load_tokenizer,
        save_tokenizer,
    )
    from gus_spark.operators.chunk import assemble_token_sequences
    from gus_spark.operators.splits import (
        iter_training_order,
        read_manifest,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(
        merges, bpe_base_symbols(docs.limit(100)), byte_fallback=True
    )
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")

    p.run()
    m1 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m1 is not None and m1["generations"] == 1
    # second wave → a new generation; final close-out → a third
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p.run()
    m2 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m2 is not None and m2["generations"] == 2
    m3 = p.publish_shards(shards_dir, tok_dir, shards=4, final=True)
    assert m3 is not None and m3["generations"] == 3
    # nothing left to publish after a final close-out
    assert p.publish_shards(shards_dir, tok_dir, final=True) is None

    # union across generations == assemble over the FULL packed tier
    want = {
        r["seq_uid"]: (tuple(r["token_ids"]), r["n_tokens"])
        for r in assemble_token_sequences(
            spark.read.parquet(p.packed), merges, vocab
        ).collect()
    }
    got = {}
    for b, _c in iter_training_order(shards_dir, "train"):
        for row in b.to_pylist():
            assert row["seq_uid"] not in got  # no dup across gens
            got[row["seq_uid"]] = (
                tuple(row["token_ids"]), row["n_tokens"],
            )
    for split in ("validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for row in b.to_pylist():
                assert row["seq_uid"] not in got
                got[row["seq_uid"]] = (
                    tuple(row["token_ids"]), row["n_tokens"],
                )
    assert got == want
    # tokenizer artifact beside the manifest + decode receipt
    m_r, v_r = load_tokenizer(shards_dir)
    assert (m_r, v_r) == (merges, vocab)
    some = next(iter(got.values()))[0]
    assert isinstance(bpe_decode_ids(list(some), v_r), str)

    # crawl→mixture receipt (r13): the published set is a standard
    # shard set, so it drops straight into iter_mixture — exact
    # schedule, token budget, no glue. (A multi-domain train = one
    # pipeline per domain, each publishing its own set.)
    from gus_spark.operators.splits import iter_mixture

    train_uids = {
        u
        for b, _c in iter_training_order(shards_dir, "train")
        for u in b.column("seq_uid").to_pylist()
    }
    budget = sum(want[u][1] for u in train_uids) // 2
    mixed_toks, mixed_uids = 0, []
    for _n, b, cur in iter_mixture(
        {"crawl": (shards_dir, 1.0)}, "train",
        batch_rows=8, schedule="exact", max_tokens=budget,
    ):
        mixed_toks += sum(b.column("n_tokens").to_pylist())
        mixed_uids.extend(b.column("seq_uid").to_pylist())
    assert mixed_toks >= budget and cur["tokens"] == mixed_toks
    assert len(mixed_uids) == len(set(mixed_uids))
    assert set(mixed_uids) <= train_uids

    # crash surgery: died between landing generation 3 and finalizing
    state_path = os.path.join(str(tmp_path / "work"),
                              "shards_published.json")
    state = json.load(open(state_path))
    assert state["intent"] is None
    pre_final = {
        s: v - 1 for s, v in state["watermarks"].items()
    }  # the final publish added +1 per shard
    state["intent"] = {
        "lo": pre_final,
        "hi": state["watermarks"],
        "gen_before": 2,  # generation 3 already landed
    }
    state["watermarks"] = pre_final
    json.dump(state, open(state_path, "w"))
    assert p.publish_shards(shards_dir, tok_dir, final=True) is None
    assert read_manifest(shards_dir)["generations"] == 3  # no dup gen
    after = json.load(open(state_path))
    assert after["intent"] is None
    assert after["watermarks"] == {
        s: v + 1 for s, v in pre_final.items()
    }


def test_run_live_auto_publish(spark, tmp_path):
    """run_live(publish=...) (r12): shard generations land WHILE the
    graph streams (watermark windows only take immutable sequences),
    plus one drained-tail publish after the stop — after an explicit
    final close-out, the shard set's sequences equal assembling the
    full packed tier, exactly as in the post-drain flow."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.chunk import assemble_token_sequences
    from gus_spark.operators.splits import iter_training_order
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(100)))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    src = str(tmp_path / "src")
    # several source files -> several micro-batches to publish across
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        max_files_per_trigger=1,
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    snap = p.run_live(
        timeout=180.0,
        publish={
            "shards_dir": shards_dir,
            "tokenizer_dir": tok_dir,
            "shards": 4,
            "every_polls": 4,
        },
    )
    assert not snap["timed_out"]
    assert snap["publishes"] >= 1  # incl. the drained-tail publish
    # explicit final close-out, then full parity
    p.publish_shards(shards_dir, tok_dir, shards=4, final=True)
    want = {
        r["seq_uid"]: tuple(r["token_ids"])
        for r in assemble_token_sequences(
            spark.read.parquet(p.packed), merges, vocab
        ).collect()
    }
    got = {}
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for row in b.to_pylist():
                assert row["seq_uid"] not in got
                got[row["seq_uid"]] = tuple(row["token_ids"])
    assert got == want
    with pytest.raises(ValueError, match="every_polls"):
        p.run_live(publish={
            "shards_dir": shards_dir, "tokenizer_dir": tok_dir,
            "every_polls": 0,
        })


def test_publish_reconcile_preserves_idle_watermarks(spark, tmp_path):
    """r13 (ADVICE r12 #1): a crashed publish whose window touched
    only SOME pack shards (the others idle) must reconcile without
    losing the idle shards' watermarks — the finalize branch merges
    {**lo, **hi}, mirroring the normal path. Pre-fix it kept hi
    alone, so the next publish recomputed lo=0 for every idle shard
    and re-appended their entire already-published windows as a
    duplicate generation (duplicate seq_uids in the training order).
    Wave 2 is engineered to hash into ONE pack shard
    (pmod(xxhash64(doc_id), 4) == 0) so the crashed intent's hi
    genuinely omits idle shards."""
    import json

    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.splits import (
        iter_training_order,
        read_manifest,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(100)))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    p.run()
    m1 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m1 is not None and m1["generations"] == 1
    state_path = os.path.join(
        str(tmp_path / "work"), "shards_published.json"
    )
    w1 = json.load(open(state_path))["watermarks"]
    assert len(w1) > 1  # several shards watermarked

    # wave 2: odd docs that all hash into pack shard 0
    wave2 = docs.filter(
        (F.col("doc_id") % 2 == 1)
        & (F.pmod(F.xxhash64(F.col("doc_id")), 4) == 0)
    ).limit(40)
    assert wave2.count() > 10
    wave2.coalesce(1).write.mode("append").parquet(src)
    p.run()
    m2 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m2 is not None and m2["generations"] == 2
    w2 = json.load(open(state_path))["watermarks"]
    hi = {s: v for s, v in w2.items() if v != w1.get(s)}
    # precondition for the regression: the window left ≥1 shard idle
    assert hi and set(w1) - set(hi), (w1, w2)

    baseline = {}
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for u in b.column("seq_uid").to_pylist():
                assert u not in baseline
                baseline[u] = split

    # rewind state to mid-crash: generation 2 landed, watermarks not
    # finalized — exactly what the real intent recorded
    state = {
        "watermarks": w1,
        "intent": {"lo": w1, "hi": hi, "gen_before": 1},
    }
    json.dump(state, open(state_path, "w"))
    assert p.publish_shards(shards_dir, tok_dir) is None  # finalize
    after = json.load(open(state_path))
    assert after["intent"] is None
    assert after["watermarks"] == w2  # idle shards' marks preserved
    assert read_manifest(shards_dir)["generations"] == 2  # no dup gen
    got = {}
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for u in b.column("seq_uid").to_pylist():
                assert u not in got  # no duplicate seq_uids
                got[u] = split
    assert got == baseline


def test_publish_tokenizer_identity_guard(spark, tmp_path):
    """r13 (VERDICT r12 #1 + ADVICE r12 #3): publish_shards guards
    tokenizer identity across generations — a refit at tokenizer_dir
    between publishes raises loudly instead of landing a generation
    whose token ids shards_dir/tokenizer.json misinterprets. And the
    artifact persists BEFORE the first manifest advance (no crash gap
    can leave generations without it); a pre-guard set missing the
    artifact is repaired on the next publish."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        load_tokenizer,
        save_tokenizer,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    base = docs.limit(100)
    merges = bpe_fit(base, num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(base))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    p.run()
    m1 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m1 is not None and m1["generations"] == 1
    assert os.path.exists(os.path.join(shards_dir, "tokenizer.json"))

    # refit between publishes (more merges → different artifact)
    refit = bpe_fit(base, num_merges=24)
    save_tokenizer(tok_dir, refit, bpe_vocab(refit, bpe_base_symbols(base)))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p.run()
    with pytest.raises(ValueError, match="refit"):
        p.publish_shards(shards_dir, tok_dir, shards=4)
    # the guard fired BEFORE anything landed
    from gus_spark.operators.splits import read_manifest

    assert read_manifest(shards_dir)["generations"] == 1

    # restoring the original artifact unblocks the publish
    save_tokenizer(tok_dir, merges, vocab)
    m2 = p.publish_shards(shards_dir, tok_dir, shards=4)
    assert m2 is not None and m2["generations"] == 2

    # crash-gap repair: a pre-guard crash could leave generations
    # with no artifact — the next publish (even a no-op one)
    # persists it
    os.remove(os.path.join(shards_dir, "tokenizer.json"))
    assert p.publish_shards(shards_dir, tok_dir) is None  # no new data
    assert load_tokenizer(shards_dir) == (merges, vocab)


def test_cap_gate_mid_stream_refit_reload(spark, tmp_path):
    """r13 (VERDICT r12 #6): the composed refit loop. The gate rides
    decontaminate_stream's per-trigger pre hook, so
    reload_cap_thresholds() makes a REFIT artifact take effect on the
    next trigger of a LIVE stream — no query restart. Wave 1
    ('alpha') is gated by the v1 fit; mid-stream the operator refits
    onto the arriving 'beta' domain (overwriting the SAME artifact
    path), reloads, and appends wave 2 — whose rows must be capped by
    v2 (under the stale v1 they are unfitted and would ALL pass).
    Expected survivors computed by applying each artifact to the
    pipeline's own curated tier (the exact batch twin)."""
    from gus_spark.operators.mixing import (
        apply_cap_thresholds,
        cap_thresholds,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    # unique text per row (the corpus holds exact dups) so curation's
    # fp-dedup keeps every row and the wave sizes stay meaningful
    uniq = F.concat(
        F.col("text"), F.lit(" uniq "), F.col("doc_id").cast("string")
    )
    base = docs.select(
        "doc_id", uniq.alias("text"), "lang",
        F.length(uniq).cast("long").alias("n_chars"),
    )
    wave1 = base.filter(F.col("doc_id") % 7 == 0).limit(60).select(
        "doc_id", "text", "lang", F.lit("alpha").alias("source"),
        "n_chars",
    )
    wave2 = base.filter(F.col("doc_id") % 7 == 1).limit(60).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text", "lang",
        F.lit("beta").alias("source"), "n_chars",
    )
    # a benchmark that cannot overlap any document 13-gram
    bench = spark.createDataFrame(
        [(1, " ".join(f"zq{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    art = str(tmp_path / "cap_art")
    thr1 = cap_thresholds(wave1, group_col="source", max_rows=5)
    thr1_rows = thr1.collect()
    thr1.write.parquet(art)

    src = str(tmp_path / "src")
    schema = wave1.schema
    wave1.coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, schema, bench, str(tmp_path / "work"),
        cap_thresholds=art, cap_group_col="source",
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    state = {"phase": 0}

    def on_progress(snapshot):
        if (
            state["phase"] == 0
            and snapshot["stages"].get("decon", {}).get("batches", 0)
            >= 1
        ):
            # the operator's refit: fit v2 on the arriving domain,
            # overwrite the artifact path, reload, then wave 2 lands
            thr2 = cap_thresholds(
                wave2, group_col="source", max_rows=5
            )
            state["thr2"] = thr2.collect()
            thr2.write.mode("overwrite").parquet(art)
            p.reload_cap_thresholds()
            wave2.coalesce(1).write.mode("append").parquet(src)
            state["phase"] = 1

    snap = p.run_live(timeout=240.0, on_progress=on_progress)
    assert not snap["timed_out"] and state["phase"] == 1

    def expected(curated, thr_rows):
        thr = spark.createDataFrame(thr_rows, thr1.schema)
        gated = apply_cap_thresholds(
            curated, thr, group_col="source"
        )
        return {
            r.doc_id
            for r in gated.filter(
                F.col("keep").isNull() | F.col("keep")
            ).collect()
        }

    curated = spark.read.parquet(p.curated).select(
        "doc_id", "source"
    )
    cur1 = curated.filter(F.col("source") == "alpha")
    cur2 = curated.filter(F.col("source") == "beta")
    assert cur2.count() > 10  # wave 2 genuinely flowed
    want1 = expected(cur1, thr1_rows)
    want2 = expected(cur2, state["thr2"])
    # both gates genuinely bit — and v2 biting at all IS the reload
    # (under stale v1, beta is unfitted: every row would pass)
    assert len(want1) < cur1.count()
    assert len(want2) < cur2.count()
    got = {
        r.doc_id
        for r in spark.read.parquet(p.clean).select("doc_id").collect()
    }
    assert got == want1 | want2
    # the exact per-trigger stats recorded the v2 drops
    s = p.cap_summary()
    assert s["dropped_rows"] == (cur1.count() - len(want1)) + (
        cur2.count() - len(want2)
    )
    assert s["unfitted_rows"] == 0  # every arriving group was fitted


def test_publish_shards_bounded_generations(spark, tmp_path):
    """r13: publish_shards(max_generations=1) keeps the shard set at
    one generation across publishes (compact_generations runs after
    each land), with the sequence union still equal to assembling the
    full packed tier — the steady-state form a run_live publish
    cadence needs so loader file counts stop growing."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.chunk import assemble_token_sequences
    from gus_spark.operators.splits import (
        iter_training_order,
        read_manifest,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(100)))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    p.run()
    m1 = p.publish_shards(
        shards_dir, tok_dir, shards=4, max_generations=1
    )
    assert m1["generations"] == 1
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p.run()
    m2 = p.publish_shards(
        shards_dir, tok_dir, shards=4, max_generations=1, final=True
    )
    assert m2["generations"] == 1  # folded right after the land
    assert read_manifest(shards_dir)["generations"] == 1
    train_dir = os.path.join(shards_dir, "data", "split=train")
    assert (
        len([d for d in os.listdir(train_dir) if d.startswith("shard=")])
        == 4
    )
    want = {
        r["seq_uid"]: tuple(r["token_ids"])
        for r in assemble_token_sequences(
            spark.read.parquet(p.packed), merges, vocab
        ).collect()
    }
    got = {}
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for row in b.to_pylist():
                assert row["seq_uid"] not in got
                got[row["seq_uid"]] = tuple(row["token_ids"])
    assert got == want


def test_mask_published_shards_late_benchmark(spark, tmp_path):
    """r13: mask_published_shards — a benchmark landing AFTER
    sequences were published decontaminates the shard set with
    minimal retention loss, in one call: packed-tier docs
    reconstructed from chunk windows, ngram-flagged with the
    pipeline's own n/min_hits, doc-span masks recorded. Flagged
    sequences carry masks exactly over the flagged docs' spans;
    every sequence still flows; the call is batch-key idempotent."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.splits import iter_training_order
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    old_bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(100)))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, old_bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    p.run()
    p.publish_shards(shards_dir, tok_dir, shards=4, final=True)

    # the LATE benchmark: full texts of some already-published docs
    packed_docs = spark.read.parquet(p.packed).select("doc_id").distinct()
    late_ids = {r.doc_id for r in packed_docs.limit(7).collect()}
    late_bench = docs.filter(
        F.col("doc_id").isin(*late_ids)
    ).select((F.col("doc_id") + 900).alias("doc_id"), "text")
    n = p.mask_published_shards(shards_dir, late_bench, "late-v1")
    assert n > 0
    assert p.mask_published_shards(shards_dir, late_bench, "late-v1") == 0

    # every sequence still flows; masks cover exactly the sequences
    # whose doc_spans include a flagged doc (flagged ⊇ late_ids —
    # exact duplicates of a late doc's text are flagged too)
    total = 0
    masked_uids = set()
    spans_by_uid = {}
    flagged_docs = set()
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for row in b.to_pylist():
                total += 1
                spans_by_uid[row["seq_uid"]] = row["doc_spans"]
                if row["masked_spans"] is not None:
                    masked_uids.add(row["seq_uid"])
                    for s in row["masked_spans"]:
                        flagged_docs.update(
                            d["doc_id"]
                            for d in row["doc_spans"]
                            if (d["start"], d["len"])
                            == (s["start"], s["len"])
                        )
    n_seqs = spark.read.parquet(
        os.path.join(shards_dir, "data")
    ).count()
    assert total == n_seqs  # nothing removed
    assert late_ids <= flagged_docs  # the late bench docs are masked
    want_masked = {
        uid
        for uid, spans in spans_by_uid.items()
        if any(d["doc_id"] in flagged_docs for d in spans)
    }
    assert masked_uids == want_masked


def test_run_live_cap_auto_refit(spark, tmp_path):
    """r13: run_live(cap_refit=...) closes the refit loop
    automatically — an unfitted domain's delta fraction crosses the
    trigger, the operator-refit runs itself (fit over the accumulated
    curated tier, VERSIONED artifact dir, reload), and rows arriving
    after are capped by the new thresholds while the pre-refit
    unfitted rows passed per the frozen-threshold semantics."""
    from gus_spark.operators.mixing import (
        apply_cap_thresholds,
        cap_thresholds,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    uniq = F.concat(
        F.col("text"), F.lit(" uq "), F.col("doc_id").cast("string")
    )
    base = docs.select(
        "doc_id", uniq.alias("text"), "lang",
        F.length(uniq).cast("long").alias("n_chars"),
    )

    def wave(residue, offset, source):
        return base.filter(F.col("doc_id") % 7 == residue).limit(
            60
        ).select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" w{offset}")).alias("text"),
            "lang", F.lit(source).alias("source"), "n_chars",
        )

    wave1 = wave(0, 0, "alpha")
    wave2 = wave(1, 500_000, "beta")
    wave3 = wave(2, 900_000, "beta")
    bench = spark.createDataFrame(
        [(1, " ".join(f"zq{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    art = str(tmp_path / "cap_art")
    cap_thresholds(wave1, group_col="source", max_rows=5).write.parquet(
        art
    )
    src = str(tmp_path / "src")
    wave1.coalesce(1).write.parquet(src)
    wave2.coalesce(1).write.mode("append").parquet(src)
    p = CurationPipelineStream(
        spark, src, wave1.schema, bench, str(tmp_path / "work"),
        cap_thresholds=art, cap_group_col="source",
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    state = {"appended": False}

    def on_progress(snapshot):
        if snapshot["cap_refits"] >= 1 and not state["appended"]:
            wave3.coalesce(1).write.mode("append").parquet(src)
            state["appended"] = True

    snap = p.run_live(
        timeout=240.0,
        on_progress=on_progress,
        cap_refit={"max_rows": 5, "frac": 0.01, "every_polls": 1},
    )
    assert not snap["timed_out"] and state["appended"]
    assert snap["cap_refits"] == 1  # beta fitted by refit 1, no more

    clean = spark.read.parquet(p.clean).select("doc_id")
    # pre-refit beta (wave 2) passed whole: unfitted under v1
    curated = spark.read.parquet(p.curated).select("doc_id", "source")
    n_w2 = curated.filter(
        (F.col("doc_id") >= 500_000) & (F.col("doc_id") < 900_000)
    ).count()
    assert n_w2 > 10
    assert (
        clean.filter(
            (F.col("doc_id") >= 500_000) & (F.col("doc_id") < 900_000)
        ).count()
        == n_w2
    )
    # post-refit beta (wave 3) gated by the refit artifact, exactly
    v2 = spark.read.parquet(f"{art}_refit1")
    cur3 = curated.filter(F.col("doc_id") >= 900_000)
    assert cur3.count() > 10
    want3 = {
        r.doc_id
        for r in apply_cap_thresholds(cur3, v2, group_col="source")
        .filter(F.col("keep").isNull() | F.col("keep"))
        .collect()
    }
    got3 = {
        r.doc_id
        for r in clean.filter(F.col("doc_id") >= 900_000).collect()
    }
    assert got3 == want3
    assert len(want3) < cur3.count()  # the refit gate genuinely bites


def test_url_dedup_state_identity_gate(spark, tmp_path):
    """r13: a pre-r13 (layout-1) URL-dedup state dir raises instead
    of silently anti-joining against canonicals computed under the
    OLD normalization (r13 changed the identity: query params kept),
    and flipping drop_query against existing state is equally loud."""
    import json as _json

    from gus_spark.streaming import url_dedup_stream

    urls = spark.createDataFrame(
        [(1, "https://a.org/x"), (2, "https://a.org/y")],
        "doc_id long, url string",
    )
    src = str(tmp_path / "src")
    urls.coalesce(1).write.parquet(src)

    def start(work, **kw):
        return url_dedup_stream(
            spark.readStream.schema("doc_id long, url string")
            .parquet(src),
            os.path.join(work, "state"),
            os.path.join(work, "out"),
            os.path.join(work, "ckpt"),
            **kw,
        )

    # legacy layout-1 marker → loud
    w1 = str(tmp_path / "w1")
    os.makedirs(os.path.join(w1, "state"))
    _json.dump(
        {"layout": 1},
        open(os.path.join(w1, "state", "layout.json"), "w"),
    )
    with pytest.raises(ValueError, match="layout"):
        start(w1)

    # drop_query flip against existing state → loud
    w2 = str(tmp_path / "w2")
    start(w2, drop_query=False).awaitTermination()
    with pytest.raises(ValueError, match="drop_query"):
        start(w2, drop_query=True)


def test_publish_resumes_crashed_compact_before_appending(
    spark, tmp_path, monkeypatch
):
    """r13: a compact that crashed mid-fold leaves an intent whose
    receipt covers the tree AS OF the fold — a publish that appended
    a new generation first would complete the fold into a tree the
    receipt doesn't expect (loud mismatch, manual recovery). The
    publish loop therefore resumes any pending fold BEFORE landing
    its window; this surgery test injects the crash inside the fold's
    move step and asserts the next publish self-heals and full
    sequence parity holds."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.chunk import assemble_token_sequences
    from gus_spark.operators.splits import (
        iter_training_order,
        read_manifest,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    merges = bpe_fit(docs.limit(100), num_merges=16)
    vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(100)))
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(src)
    p = CurationPipelineStream(
        spark, src, docs.schema, bench, str(tmp_path / "work"),
        ngram=13, min_hits=1,
        chunk_tokens=16, chunk_overlap=4, seq_budget=48, pack_shards=4,
    )
    shards_dir = str(tmp_path / "shards")
    p.run()
    p.publish_shards(shards_dir, tok_dir, shards=4, max_generations=1)

    # wave 2 → the publish appends gen 2 then folds; crash the fold
    # mid-move (after the intent + removals)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p.run()
    real_rename = os.rename
    calls = {"n": 0}

    def flaky(a, b):
        if "shard=" in str(a) and "_compact_tmp" in str(a):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash mid-fold")
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        p.publish_shards(
            shards_dir, tok_dir, shards=4, max_generations=1
        )
    monkeypatch.setattr(os, "rename", real_rename)
    assert os.path.exists(os.path.join(shards_dir, "compact_intent.json"))

    # wave 3 → the next publish must resume the fold FIRST, then land
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p.run()
    m = p.publish_shards(
        shards_dir, tok_dir, shards=4, max_generations=1, final=True
    )
    assert m["generations"] == 1
    assert read_manifest(shards_dir)["generations"] == 1
    assert not os.path.exists(
        os.path.join(shards_dir, "compact_intent.json")
    )
    want = {
        r["seq_uid"]: tuple(r["token_ids"])
        for r in assemble_token_sequences(
            spark.read.parquet(p.packed), merges, vocab
        ).collect()
    }
    got = {}
    for split in ("train", "validation", "test"):
        for b, _c in iter_training_order(shards_dir, split):
            for row in b.to_pylist():
                assert row["seq_uid"] not in got
                got[row["seq_uid"]] = tuple(row["token_ids"])
    assert got == want


def test_multi_domain_publish_to_mixture(spark, tmp_path):
    """The multi-domain crawl→train story end-to-end (r13): one
    CurationPipelineStream PER DOMAIN, each draining its own source
    and publishing its own token-id shard set; the trainer derives
    loader weights from the published sets' measured token mass
    (host-side token totals → temperature_weights) and reads one
    exact-schedule mixture over both. Domains never merge on disk —
    re-weighting between runs is a config change. Receipts: both
    components flow, realized draw shares track the derived weights
    within the exact schedule's <1-per-prefix bound, every sequence
    decodes under the shared tokenizer artifact, and the composite
    cursor reports per-domain epochs."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
        save_tokenizer,
    )
    from gus_spark.operators.mixing import temperature_weights
    from gus_spark.operators.splits import (
        iter_mixture,
        iter_training_order,
    )
    from gus_spark.streaming import CurationPipelineStream

    docs = table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", "text"
    )
    # one tokenizer for the whole mixture (domains must share it —
    # token ids are only comparable under one vocab)
    merges = bpe_fit(docs.limit(80), num_merges=16)
    vocab = bpe_vocab(
        merges, bpe_base_symbols(docs.limit(80)), byte_fallback=True
    )
    tok_dir = str(tmp_path / "tok")
    os.makedirs(tok_dir)
    save_tokenizer(tok_dir, merges, vocab)

    shard_dirs = {}
    for name, pred in (
        ("web", F.col("doc_id") % 3 == 0),
        ("books", F.col("doc_id") % 3 == 1),
    ):
        src = str(tmp_path / f"src_{name}")
        docs.filter(pred).coalesce(1).write.parquet(src)
        p = CurationPipelineStream(
            spark, src, docs.schema, bench,
            str(tmp_path / f"work_{name}"),
            ngram=13, min_hits=1,
            chunk_tokens=16, chunk_overlap=4,
            seq_budget=48, pack_shards=2,
        )
        p.run()
        d = str(tmp_path / f"shards_{name}")
        m = p.publish_shards(d, tok_dir, shards=2, final=True)
        assert m is not None and m["generations"] == 1
        shard_dirs[name] = d

    counts = {
        n: sum(
            sum(b.column("n_tokens").to_pylist())
            for b, _c in iter_training_order(d, "train")
        )
        for n, d in shard_dirs.items()
    }
    assert all(v > 0 for v in counts.values()), counts
    w = temperature_weights(counts, alpha=0.5)
    mix = {n: (shard_dirs[n], w[n]) for n in shard_dirs}
    draws = {n: 0 for n in mix}
    uids = {n: set() for n in mix}
    last = None
    for name, b, last in iter_mixture(
        mix, "train", batch_rows=4, max_steps=60, schedule="exact",
    ):
        draws[name] += 1
        uids[name].update(b.column("seq_uid").to_pylist())
    assert all(draws[n] > 0 for n in mix), draws
    for n in mix:  # exact schedule: every prefix within 1 of w*t
        assert abs(draws[n] - w[n] * 60) < 1.0, (n, draws, w)
    # the components stayed separate sets: no uid needs to be
    # globally unique across domains, but each domain's stream is
    # exactly-once per epoch — and the cursor carries per-domain state
    assert set(last["states"]) == set(mix)
    assert last["served"] == draws


def test_run_and_run_live_hand_stages_the_same_wiring(
    spark, tmp_path, monkeypatch
):
    """Both modes start every stage from the one stage table: with
    every optional stage on (url_col, fuzzy_ngram, index_root), the
    source tier, state dir, output dir and checkpoint dir each stage
    builder receives are the same under run() and run_live() — the
    wiring the two mode-specific copies once drifted on (the live
    packer read `clean` while the drain read `pack_src`). The
    builders are stubbed, so no trigger runs."""
    from gus_spark.streaming import pipeline as P
    from gus_spark.streaming import postings, urldedup

    class FakeQuery:
        status = {"isDataAvailable": False, "isTriggerActive": False}
        recentProgress = []

        def awaitTermination(self):
            pass

        def stop(self):
            pass

    class FakeStream:
        """A streaming source stand-in that remembers its path and
        records the sink options a stage sets on its writer."""

        def __init__(self, path):
            self.path, self.opts = path, {}

        def drop(self, *cols):
            return self

        def select(self, *cols):
            return self

        @property
        def writeStream(self):
            return self

        def format(self, fmt):
            return self

        def outputMode(self, mode):
            return self

        def option(self, key, value):
            self.opts[key] = value
            return self

        def trigger(self, **kw):
            return self

        def start(self):
            calls["pack"] = (
                self.path, None, self.opts["path"],
                self.opts["checkpointLocation"],
            )
            return FakeQuery()

    calls: dict[str, tuple] = {}

    def builder(name):
        def stub(stream, *args, **kw):
            # (source, [bench,] state dir, output dir, checkpoint dir)
            paths = [a for a in args if isinstance(a, str)]
            calls[name] = (stream.path, *paths)
            return FakeQuery()

        return stub

    def index_stub(stream, index, checkpoint_path, **kw):
        calls["index"] = (stream.path, None, None, checkpoint_path)
        return FakeQuery()

    monkeypatch.setattr(urldedup, "url_dedup_stream", builder("urldedup"))
    monkeypatch.setattr(P, "curate_stream", builder("curate"))
    monkeypatch.setattr(P, "decontaminate_stream", builder("decon"))
    monkeypatch.setattr(P, "fuzzy_decontaminate_stream", builder("fuzzy"))
    monkeypatch.setattr(P, "chunk_documents", lambda s, **kw: s)
    monkeypatch.setattr(P, "pack_stream", lambda s, **kw: s)
    monkeypatch.setattr(postings, "posting_index_stream", index_stub)

    src = str(tmp_path / "src")
    p = P.CurationPipelineStream(
        spark, src, None, None, str(tmp_path / "work"),
        url_col="url", fuzzy_ngram=1, index_root=str(tmp_path / "idx"),
    )
    monkeypatch.setattr(p, "_reader", lambda path, schema: FakeStream(path))
    monkeypatch.setattr(p, "_ensure_index", lambda: type(
        "Idx", (), {"maintain": lambda self, n: None})())
    # every upstream tier holds committed data, so every stage starts
    one = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for tier in (p.url_clean, p.curated, p.clean, p.fuzzy_clean):
        one.write.parquet(os.path.join(tier, "batch=0"))

    secs = p.run()
    drained = dict(calls)
    calls.clear()
    metrics = p.run_live(
        processing_time="10 milliseconds", poll=0.01, idle_polls=1,
        timeout=30.0,
    )
    assert not metrics["timed_out"], metrics
    stages = ["urldedup", "curate", "decon", "fuzzy", "pack", "index"]
    assert list(secs) == stages
    assert list(metrics["stages"]) == stages
    assert calls == drained
    assert drained["curate"][0] == p.url_clean
    assert drained["pack"][0] == drained["index"][0] == p.fuzzy_clean
    assert len(set(v[-1] for v in drained.values())) == len(stages)

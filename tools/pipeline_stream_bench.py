"""Batch-vs-stream decade for the COMPOSED pipeline (roadmap r11 #1):
the per-operator SCALING rows pin each stage's shape, and
test_streaming.py pins bit-parity of the two compositions — this tool
pins the COST of choosing the micro-batched form at corpus scale: the
same source, once as the batch composition (profile/gate + exact dedup
+ decontaminate + chunk + pack in one job graph) and once through
CurationPipelineStream with the source split into K files consumed
maxFilesPerTrigger=1 (K real micro-batches per stage, the arrival
shape a live deployment pays for), per-stage wall attributed.

The claim under test: stream cost = batch cost + K x (per-trigger
fixed overhead: source listing, checkpoint/offset commits, marker
fingerprinting, state reload) — the OPERATOR work inside each trigger
is the same code the batch twin runs, so the delta must scale with
TRIGGER COUNT, not with rows. Read the per-decade delta against K and
the decade's row count: a row-scaled delta would mean a stage
recomputes corpus state per trigger (the bug class the persisted-state
design exists to prevent).

Parity here is a row-count sanity only (value parity is
test_streaming.py's job — packing is arrival-order-sensitive, and the
bench's hash-ordered file split deliberately feeds a REALISTIC
unsorted arrival, not the batch twin's scan order).

Run: python tools/pipeline_stream_bench.py [label=sf_dir ...]
(default: 0.1=/root/testdata/sf0.1, plus 1=/tmp/gus_sf1 if present)
One JSON line: {label: {stream: {...}, batch: {...}, k_files: K}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

K_FILES = 8
PARAMS = dict(
    ngram=13,
    min_hits=1,
    chunk_tokens=64,
    chunk_overlap=8,
    seq_budget=256,
    pack_shards=16,
)


def _batch_twin(spark, docs, bench) -> tuple[float, int]:
    from pyspark.sql import Window

    from gus_spark.operators.chunk import chunk_documents, pack_sequences
    from gus_spark.operators.decontaminate import decontaminate
    from gus_spark.queries.curation import VAL_RESIDUE, profile_and_gate

    t0 = time.time()
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    curated = (
        profile_and_gate(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "text",
            F.when(F.col("doc_id") % 20 == VAL_RESIDUE, "val")
            .otherwise("train").alias("split"),
        )
    )
    clean = decontaminate(
        curated, bench, n=PARAMS["ngram"], min_hits=PARAMS["min_hits"]
    )
    chunks = chunk_documents(
        clean,
        max_tokens=PARAMS["chunk_tokens"],
        overlap=PARAMS["chunk_overlap"],
    )
    packed = pack_sequences(
        chunks, budget=PARAMS["seq_budget"], shards=PARAMS["pack_shards"]
    )
    dest = tempfile.mkdtemp(prefix="psb_batch_")
    try:
        packed.write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
    finally:
        shutil.rmtree(dest, ignore_errors=True)
    return round(time.time() - t0, 2), n


def _stream_run(spark, docs, bench) -> tuple[dict, int]:
    from gus_spark.streaming import CurationPipelineStream

    root = tempfile.mkdtemp(prefix="psb_stream_")
    src = os.path.join(root, "src")
    # K files of round-robin rows: realistic unsorted arrival, K real
    # micro-batches per stage under maxFilesPerTrigger=1 (a global
    # hash sort here would be wasted — repartition redistributes
    # round-robin regardless)
    docs.repartition(K_FILES).write.parquet(src)
    try:
        p = CurationPipelineStream(
            spark, src, docs.schema, bench, os.path.join(root, "work"),
            max_files_per_trigger=1, **PARAMS,
        )
        # run() returns {stage: wall seconds} for the stages it ran
        # (curate, decon, pack with this config)
        stage_secs = {k: round(v, 2) for k, v in p.run().items()}
        stage_secs["total"] = round(sum(stage_secs.values()), 2)
        n = spark.read.parquet(p.packed).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return stage_secs, n


def _live_run(spark, docs, bench) -> tuple[dict, int]:
    """The steady-state form (VERDICT r10 ask #3): every stage runs
    CONCURRENTLY on processing-time triggers (run_live) over the same
    K-file arrival — stage 2 consumes curated commits while stage 1 is
    still draining, which is the overlap the sequential availableNow
    drain above cannot price. Wall is start→quiesce; per-stage
    data-carrying trigger counts come from run_live's metrics."""
    from gus_spark.streaming import CurationPipelineStream

    root = tempfile.mkdtemp(prefix="psb_live_")
    src = os.path.join(root, "src")
    docs.repartition(K_FILES).write.parquet(src)
    try:
        p = CurationPipelineStream(
            spark, src, docs.schema, bench, os.path.join(root, "work"),
            max_files_per_trigger=1, **PARAMS,
        )
        t0 = time.time()
        metrics = p.run_live(timeout=1800.0)
        wall = round(time.time() - t0, 2)
        assert not metrics["timed_out"], "live run hit its deadline"
        n = spark.read.parquet(p.packed).count()
        batches = {
            k: v["batches"] for k, v in metrics["stages"].items()
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {"total": wall, "stage_batches": batches}, n


def main() -> None:
    from gus_spark.session import get_spark

    spark = get_spark(app_name="gus_spark-pipeline-stream-bench")
    dirs: dict[str, str] = {}
    if len(sys.argv) > 1:
        for arg in sys.argv[1:]:
            label, d = arg.split("=", 1)
            dirs[label] = d
    else:
        dirs["0.1"] = os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
        sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/gus_sf1")
        if os.path.isdir(sf1):
            dirs["1"] = sf1
    out: dict[str, dict] = {}
    warmed = False
    for label, d in dirs.items():
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        # the sf1/sf10 scale-ups word-salt every token, which defeats
        # profile_and_gate's English-marker gate by construction (no
        # literal " the/and/of " survives) — the whole decade would
        # flow zero rows. Append one marker phrase at EVERY decade so
        # all decades re-admit identically and compare the same
        # per-row work.
        docs = docs.withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" and the rest of it")),
        )
        bench = docs.filter(F.col("doc_id") % 97 == 3).select(
            "doc_id", "text"
        )
        if not warmed:
            # untimed mini-run: JVM codegen + Python worker spin-up
            # must not land on the first decade's batch line
            _batch_twin(spark, docs.limit(300), bench.limit(20))
            warmed = True
        batch_secs, batch_rows = _batch_twin(spark, docs, bench)
        # min-of-2 per stage (the repo bench convention): the stateful
        # pack stage shows 2x run-to-run variance locally (state-store
        # maintenance pauses land inside single runs)
        runs = [_stream_run(spark, docs, bench) for _ in range(2)]
        stream_rows = runs[0][1]
        assert all(r[1] == stream_rows for r in runs)
        stream_secs = {
            k: min(r[0][k] for r in runs) for k in runs[0][0]
        }
        # packed ROW COUNT is arrival-order-invariant (chunking is
        # per-doc; packing reassigns seq ids, never drops rows) — a
        # mismatch means a composition bug, and the premium numbers
        # would compare non-equivalent work
        assert batch_rows == stream_rows, (label, batch_rows, stream_rows)
        live_runs = [_live_run(spark, docs, bench) for _ in range(2)]
        live_rows = live_runs[0][1]
        assert all(r[1] == live_rows for r in live_runs)
        assert batch_rows == live_rows, (label, batch_rows, live_rows)
        live = min((r[0] for r in live_runs), key=lambda s: s["total"])
        out[label] = {
            "k_files": K_FILES,
            "batch": {"total": batch_secs, "rows": batch_rows},
            "stream": dict(stream_secs, rows=stream_rows),
            "live": dict(live, rows=live_rows),
            "overhead_per_trigger": round(
                (stream_secs["total"] - batch_secs)
                / ((len(stream_secs) - 1) * K_FILES),
                3,
            ),
            # the steady-state dividend: wall the concurrent-stage form
            # recovers from the sequential drain (positive = overlap
            # pays; negative = trigger contention costs more than the
            # overlap buys at this batch shape)
            "live_overlap_gain": round(
                stream_secs["total"] - live["total"], 2
            ),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

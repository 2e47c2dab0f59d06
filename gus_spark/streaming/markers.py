"""Content-fingerprinted done-markers for ``foreachBatch`` stages.

The round-6 design keyed done-markers on the streaming ``batch_id``
alone. That id is only meaningful WITHIN one checkpoint lineage: after
a checkpoint loss the restarted query renumbers batches from 0, a
stale ``_batch-0.done`` short-circuits the handler, and any data that
arrived since the marker was written is silently never processed
(round-7 review finding, reproduced empirically).

The marker therefore now records WHAT the batch contained — a cheap
input fingerprint, ``{"n": row count, "xor": bit-xor of
xxhash64(id)}`` (one O(batch) map-side agg; order/partitioning
independent) — and the skip applies ONLY when the delivered batch
matches it:

- marker exists, fingerprint matches  → genuine crash-replay of a
  completed batch (same lineage, or a fresh checkpoint over an
  unchanged source with identical batching): skip, exactly as before;
- marker exists, fingerprint differs → the marker belongs to a
  DIFFERENT lineage (checkpoint wiped/moved while the source grew):
  raise with recovery guidance. Batch-keyed outputs
  (curation/decontamination partitions, MinHash/vector index deltas
  keyed by batch id) cannot safely interleave two batchings — the same
  rows would land under different keys than the stale state holds,
  duplicating across keys;
- legacy pre-fingerprint markers (body ``"done"``) are treated as a
  mismatch.

Every marker-gated stream starts through `start_marked`, which owns
that protocol (fingerprint the RAW batch → check → body → marker) and,
through `start_query` (the pipeline's packer starts there too), the
trigger choice; the stream bodies hold only their own work.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def batch_fingerprint(batch_df: DataFrame, id_col: str) -> dict:
    """Order-independent input fingerprint: one map-side agg job."""
    row = batch_df.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("x"),
    ).first()
    return {"n": row["n"], "xor": row["x"]}


def batch_width(batch_df: DataFrame) -> int:
    """Volume-proportional output-file budget for one micro-batch: the
    batch's own SCAN partition count (its input files/splits), never
    ``spark.sql.shuffle.partitions``. Any exchange inside a per-batch
    transform re-partitions the (usually small) batch to the session
    constant, so an unchecked publish emits ~32 part files per trigger
    regardless of carried volume — small-file death for the table AND
    a trigger-count explosion for the next stage's file source, which
    consumes per FILE (measured before this bound: 8 arrival batches
    became 256 downstream triggers and a 50x composed-pipeline wall at
    sf0.1 under maxFilesPerTrigger=1 — tools/pipeline_stream_bench.py).
    A genuinely large trigger scans many splits and keeps writing many
    files, so downstream parallelism survives at scale; coalesce to
    this width narrows only the post-exchange stage, which holds
    exactly the batch's rows."""
    return max(1, batch_df.rdd.getNumPartitions())


def check_marker(state_dir: str, batch_id: int, fp: dict) -> bool:
    """True when this exact batch already completed, False when it
    must (re)run. Raises ValueError on a lineage divergence (marker
    present for different content)."""
    marker = _path(state_dir, batch_id)
    if not os.path.exists(marker):
        return False
    try:
        with open(marker, encoding="utf-8") as fh:
            stored = json.load(fh)
    except (json.JSONDecodeError, UnicodeDecodeError):
        stored = None  # legacy "done" body (pre-fingerprint layout)
    if stored == fp:
        return True
    raise ValueError(
        f"done-marker for batch {batch_id} in {state_dir!r} was "
        f"written for different input ({stored} != {fp}): the "
        "stream's checkpoint and this state dir belong to "
        "different lineages (was the checkpoint wiped while the "
        "source grew?). Restore the original checkpoint, or "
        "rebuild state dir + output + checkpoint together."
    )


def start_query(
    writer: DataStreamWriter,
    checkpoint_path: str,
    processing_time: str | None,
) -> StreamingQuery:
    """Checkpoint + trigger + start for every pipeline stage and
    marker-gated stream: ``processing_time=None`` drains what is
    available (availableNow), anything else runs a live
    processing-time cadence until stopped."""
    writer = writer.option("checkpointLocation", checkpoint_path)
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_marked(
    stream: DataFrame,
    marker_dir: str,
    id_col: str,
    checkpoint_path: str,
    body,
    processing_time: str | None = None,
    skip_empty: bool = False,
) -> StreamingQuery:
    """Start ``stream`` through ``foreachBatch`` under the replay
    protocol: fingerprint the raw batch on ``id_col``, return on a
    completed same-content replay (raise on a stale-lineage marker),
    run ``body(batch_df, batch_id)``, then write the marker under
    ``marker_dir``. ``skip_empty`` skips the body for a zero-row batch
    — the fingerprint's own count decides, so the check costs no
    extra action — and still writes its marker."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        fp = batch_fingerprint(batch_df, id_col)
        if check_marker(marker_dir, batch_id, fp):
            return
        if not (skip_empty and fp["n"] == 0):
            body(batch_df, batch_id)
        write_marker(marker_dir, batch_id, fp)

    return start_query(
        stream.writeStream.foreachBatch(_process),
        checkpoint_path,
        processing_time,
    )


def keep_first_arrivals(
    batch_df: DataFrame,
    rows: DataFrame,
    key: str,
    order_col: str,
    seen_path: str,
    out_path: str,
    batch_id: int,
) -> None:
    """The first-arrival key gate (curate_stream's content fp,
    url_dedup_stream's canonical URL) over ``rows``, the batch already
    projected to the published columns: keep the lowest ``order_col``
    row per ``key`` within the batch, anti-join the keys every OTHER
    batch kept (``seen_path``), publish the survivors to
    ``out_path/batch=<id>`` and overwrite this batch's key delta
    ``seen_path/batch=<id>``.

    The anti-join excludes this batch's own partition: a replay that
    crashed after the key write would otherwise anti-join the batch
    against its own keys and overwrite the rows away (the MinHashIndex
    ``exclude_key`` rule). Both writes land in batch-keyed partition
    dirs with overwrite semantics, so a crash anywhere before the
    marker replays idempotently. The two actions consume one cached
    frame, coalesced back to the batch's input width (`batch_width`:
    the dedup window re-partitioned it to the shuffle constant)."""
    w = Window.partitionBy(key).orderBy(order_col)
    kept = (
        rows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    if os.path.isdir(seen_path):
        seen = (
            batch_df.sparkSession.read.parquet(seen_path)
            .filter(F.col("batch") != batch_id)
            .select(key)
        )
        kept = kept.join(seen, key, "left_anti")
    kept = kept.coalesce(batch_width(batch_df)).cache()
    # publish-if-changed: a replay must not emit fresh part files for
    # identical content — downstream file sources would re-consume
    # them as new data. The select restores ``rows``' column order
    # (a USING anti-join moves the key first).
    publish_batch(
        kept.select(*rows.columns),
        os.path.join(out_path, f"batch={batch_id}"),
    )
    kept.select(key).write.mode("overwrite").parquet(
        os.path.join(seen_path, f"batch={batch_id}")
    )
    kept.unpersist()


def publish_batch(df: DataFrame, out_part: str) -> None:
    """Write ``df`` to the batch partition dir ``out_part`` —
    EXACTLY-ONCE for downstream file-source consumers.

    A plain overwrite on crash-replay would be row-idempotent but not
    FILE-idempotent: overwrite emits fresh part-file names, and any
    downstream stage tailing the directory as a streaming file source
    re-consumes the rewritten batch as new data (round-7 review: the
    composed pipeline duplicated wave-2 rows at every handoff under a
    genuine marker-window replay). Since every batch transform in this
    repo is deterministic, the fix is publish-if-changed: when the
    partition already exists and holds exactly ``df``'s rows
    (order-insensitive count + bit-xor of xxhash64 over all columns),
    the replay skips the rewrite — downstream sees no new files. A
    partial/corrupt partition (crash mid-write) fails the comparison
    (or the read) and is overwritten; the sequential drain model
    (pipeline.run) guarantees downstream never consumed those partial
    files, because the crashed stage resumes before downstream runs."""
    spark = df.sparkSession
    if os.path.isdir(out_part):
        try:
            existing = spark.read.parquet(out_part).select(*df.columns)
            if _content_fp(existing) == _content_fp(df):
                return
        except Exception:
            pass  # unreadable partial write → republish
    df.write.mode("overwrite").parquet(out_part)


def _content_fp(frame: DataFrame) -> tuple:
    row = frame.select(
        F.xxhash64(*frame.columns).alias("h")
    ).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return (row["n"], row["x"])


def write_marker(state_dir: str, batch_id: int, fp: dict) -> None:
    with open(_path(state_dir, batch_id), "w", encoding="utf-8") as fh:
        json.dump(fp, fh)


def _path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"_batch-{batch_id}.done")

"""Delta-directory maintenance and the shared delete tier for the
append-only index tables (MinHashIndex, VectorIndex, PostingIndex).

The incremental index paths (VectorIndex codes, MinHashIndex bands /
shingles) append one small delta directory per batch — the right write
shape for streaming ingest, but left alone it is small-file death: a
year of micro-batches is ~100k tiny files whose per-file open/footer
cost dominates every search. This module is the compaction half of the
bargain, mirroring ParquetStore.maintain's heuristics (file-count
threshold → fold into a few well-laid-out files).

Layout matters as much as count: the compacted output is
range-partitioned and sorted on the index's probe key (cell for IVF-PQ
codes, band hash for LSH bands), so parquet row-group stats prune a
probe to the files/pages that can contain its key — compaction makes
searches faster, not just the filesystem happier.

Crash safety: the compacted output is written to a dot-prefixed temp
directory (invisible to Spark's hidden-file filter), atomically renamed
into place, and only then are the source deltas removed. A crash
between rename and removal leaves duplicate rows, which every reader of
these tables tolerates (search collapses duplicate candidates before
ranking; band-join candidates are distinct()-ed) and the next
compaction removes.

Deletes are one protocol for all three indexes (``DeleteTier``): an
atomic ``meta.json`` manifest, one ``tomb-<key>`` id directory per
keyed delete batch whose per-key record lives in the manifest's
``tombs``, a serving anti-join against the union of live tombstones,
and a fold that moves the keys to ``folded_tombs`` once a compaction
has dropped their rows physically.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def count_parquet_files(base: str) -> int:
    total = 0
    for _root, _dirs, files in os.walk(base):
        total += sum(1 for f in files if f.endswith(".parquet"))
    return total


def read_deltas(spark: SparkSession, base: str) -> DataFrame:
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(base)
    )


def parquet_rows(path: str) -> int:
    """Row count of every parquet file under ``path`` from footer
    metadata only — no Spark job, no data read."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(root, f)
                ).metadata.num_rows
    return total


def tombstone_fold_due(
    rows_path: str, tomb_docs: int, max_tomb_frac: float
) -> bool:
    """The shared tombstone-fraction compaction trigger (VectorIndex /
    MinHashIndex maintain): fold when tombstoned rows exceed
    ``max_tomb_frac`` of the LIVE rows under ``rows_path`` — totals
    from parquet footers only, no Spark job.

    HEURISTIC, deliberately: ``tomb_docs`` counts documents while the
    footer total counts physical rows, and a tombstoned doc can hold
    more than one physical row (the same id appended under two batch
    keys, or crash-replay leftovers the delta contract tolerates) —
    then the live denominator overcounts and the fold fires LATER
    than a strict reading of max_tomb_frac. That error is bounded by
    the duplicate-row fraction (near zero outside crash windows,
    self-healing at the next fold, which drops both the duplicates
    and the tombstoned rows) and errs only toward deferring an
    optimization, never toward wrong results — the serving anti-join
    is what hides tombstoned rows, not this trigger. Exactness here
    would cost a distinct-id Spark job on every maintain() poll,
    the wrong trade for a fold-scheduling hint."""
    if not tomb_docs:
        return False
    total = parquet_rows(rows_path) if os.path.isdir(rows_path) else 0
    live = total - tomb_docs
    return live <= 0 or tomb_docs / live > max_tomb_frac


def compact_deltas(
    spark: SparkSession,
    base: str,
    target_files: int,
    range_cols: list[str] | None = None,
    filter_fn=None,
) -> int:
    """Fold every delta directory under ``base`` into one compacted
    delta of ``target_files`` files, range-partitioned and sorted on
    ``range_cols`` (falls back to round-robin when None). Returns the
    resulting parquet file count. ``filter_fn`` (DataFrame ->
    DataFrame), when given, transforms the unioned rows before the
    rewrite — the tombstone-fold hook: dropped rows disappear
    PHYSICALLY, with the usual crash contract (old deltas removed only
    after the compacted delta is atomically in place, so a crash
    leaves either the old rows or the filtered rows, never neither)."""
    old = [
        d
        for d in os.listdir(base)
        if d.startswith("delta-")
        and os.path.isdir(os.path.join(base, d))
    ]
    if not old:
        return 0
    df = read_deltas(spark, base)
    if filter_fn is not None:
        df = filter_fn(df)
    if range_cols:
        df = df.repartitionByRange(target_files, *range_cols)
        df = df.sortWithinPartitions(*range_cols)
    else:
        df = df.repartition(target_files)
    token = uuid.uuid4().hex
    tmp = os.path.join(base, f".compacting-{token}")
    df.write.parquet(tmp)
    os.rename(tmp, os.path.join(base, f"delta-compact-{token}"))
    for d in old:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return count_parquet_files(base)


class DeleteTier:
    """The manifest and keyed-tombstone protocol the live indexes
    share. A subclass supplies its own live ids and per-key record;
    everything else — the atomic manifest, the tombstone paths, the
    live-tombstone union, keyed deletes and the post-fold ledger — is
    defined here once.

    Manifest fields this owns: ``tombs`` (delete key -> the record the
    index keeps for it) and ``folded_tombs`` (every key a compaction
    has folded). Replay contract of a keyed delete: a live key returns
    its recorded value, a folded key raises (its rows are physically
    gone, so a replayed delete would count ghosts)."""

    #: directory under the root that holds ``tomb-<key>`` dirs
    _tomb_dir = "tombs"
    #: manifest ``layout`` value a reader requires (None: no gate)
    _layout: int | None = None

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self._root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _meta_path(self) -> str:
        return os.path.join(self._root, "meta.json")

    def _read_meta(self, check_layout: bool = True) -> dict:
        if not os.path.exists(self._meta_path):
            raise ValueError(
                f"no index at {self._root!r} — call build() first"
            )
        with open(self._meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        if (
            check_layout
            and self._layout is not None
            and meta.get("layout") != self._layout
        ):
            raise ValueError(
                f"index at {self._root!r} uses layout "
                f"{meta.get('layout')}, this build reads {self._layout}"
                " — rebuild the index"
            )
        # a config-only manifest (written before deletes existed)
        # carries no tombstone state — default it in
        meta.setdefault("tombs", {})
        meta.setdefault("folded_tombs", [])
        return meta

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta_path)  # the atomic snapshot swap

    def _open_meta(self, config: dict) -> None:
        """Config guard: the first open writes ``config`` with empty
        tombstone state; a later open with a different config raises
        (rows built under other constants would not line up)."""
        if not os.path.exists(self._meta_path):
            self._write_meta(dict(config, tombs={}, folded_tombs=[]))
            return
        existing = self._read_meta()
        got = {k: existing.get(k) for k in config}
        if got != config:
            raise ValueError(
                f"index at {self._root} was built with {got}, got {config}"
            )

    def _tomb_path(self, key: str) -> str:
        return os.path.join(self._root, self._tomb_dir, f"tomb-{key}")

    def _live_tombstones(self, meta: dict | None = None) -> DataFrame | None:
        """Union of live tombstone ids, or None when there are none.
        Small by the maintain fraction contract, so callers broadcast
        it into their anti-joins."""
        meta = self._read_meta() if meta is None else meta
        if not meta["tombs"]:
            return None
        return self.spark.read.parquet(
            *[self._tomb_path(k) for k in meta["tombs"]]
        ).distinct()

    def _keyed_delete(
        self,
        ids,
        batch_key: str | None,
        id_col: str,
        live_ids,
        input_col: str | None = None,
        measure=None,
    ):
        """Tombstone one batch of ids and return what the manifest
        records for it. ``ids`` is a list or a DataFrame carrying
        ``input_col`` (default ``id_col``, the stored id name).
        ``live_ids(meta)`` gives the index's live id rows, with any
        columns ``measure`` reads; it runs only past the replay
        short-circuit. Ids absent from it, or already tombstoned, are
        ignored, so records never double-subtract. ``measure(matched)``
        computes the record (default: the matched id count)."""
        from pyspark.sql import functions as F

        from gus_spark.streaming import markers

        meta = self._read_meta()
        key = batch_key if batch_key is not None else uuid.uuid4().hex
        if key in meta["folded_tombs"]:
            raise ValueError(
                f"delete batch key {key!r} was already folded away by a "
                f"compaction of {self._root!r}: its rows are physically "
                "gone. Use a fresh key."
            )
        if key in meta["tombs"]:
            return meta["tombs"][key]
        live = live_ids(meta)
        input_col = input_col or id_col
        if not isinstance(ids, DataFrame):
            field = live.schema[id_col]
            ids = self.spark.createDataFrame(
                [(i,) for i in ids],
                schema=f"{id_col} {field.dataType.simpleString()}",
            )
        elif input_col != id_col and input_col in ids.columns:
            ids = ids.select(F.col(input_col).alias(id_col))
        # localCheckpoint: the caller's id plan may be an expensive
        # curation join, and it is consumed by two actions (the record
        # and the tombstone publish). NO broadcast hint on the
        # semi-join: a heavy curation pass can flag a large corpus
        # fraction; AQE broadcasts genuinely small id sets on its own.
        ids = ids.select(id_col).distinct().localCheckpoint()
        matched = live.join(ids, id_col, "left_semi")
        prior = self._live_tombstones(meta)
        if prior is not None:
            matched = matched.join(F.broadcast(prior), id_col, "left_anti")
        if measure is None:
            matched = matched.localCheckpoint()
            entry = matched.count()
        else:
            entry = measure(matched)
        markers.publish_batch(matched.select(id_col), self._tomb_path(key))
        meta["tombs"][key] = entry
        self._write_meta(meta)
        return entry

    def _fold_tombstones(self, meta: dict, **updates) -> None:
        """After a compaction dropped every live tombstone's rows:
        swap in the manifest with ``tombs`` cleared, their keys added
        to ``folded_tombs`` and ``updates`` applied, then remove the
        tombstone dirs. A crash before the swap leaves the tombstones
        live, and the serving anti-join still hides any rows an
        unfinished fold left behind."""
        folded = list(meta["tombs"])
        if folded or updates:
            self._write_meta(dict(
                meta,
                **updates,
                tombs={},
                folded_tombs=meta["folded_tombs"] + folded,
            ))
        for key in folded:
            shutil.rmtree(self._tomb_path(key), ignore_errors=True)

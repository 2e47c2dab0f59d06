"""Persisted IVF-PQ vector index: fit once, encode incrementally,
search forever — the index lifecycle that makes ANN viable at corpus
scale, where re-fitting or re-encoding per query is the thing you can
never afford.

The MinHashIndex pattern (operators/dedup.py) applied to similarity:
the fitted model (Lloyd centroids + residual codebooks, <1 MB) persists
as .npy files; encoded rows (cell + m codes + reconstruction norm, ~25
bytes/vector vs 256 for raw float32) persist as an append-only parquet
table. Arriving batches encode against the FROZEN model — encoding is
deterministic, so incremental adds are bit-identical to a one-shot
encode of the same rows (asserted in tests), and a search touches only
nprobe/cells of the code bytes plus the shortlisted rows' full vectors
for the exact re-rank.

Freezing the quantizer is the standard production trade (FAISS trains
on a sample, then add() forever): drift in the vector distribution
degrades cell balance, not correctness — ``stats()`` exposes occupancy
so an operator can decide when to re-fit and re-encode.

Deletes (round 8): a curation pipeline REMOVES documents (dedup,
decontamination), and their embeddings must stop serving as neighbors
— the shared delete tier (storage/deltas.DeleteTier) applied to the
dense tier.
``delete(ids)`` tombstones them (batch-key idempotent, the ``add``
replay contract); every search anti-joins the (small, broadcast)
tombstone union against the codes BEFORE the shortlist, so a deleted
vector neither ranks nor occupies a shortlist slot that would evict a
live neighbor — results are bit-identical to an index that never
added those rows (asserted in tests). ANN makes this strictly simpler
than BM25: there are no corpus-level stats (no df/N/avgdl), so hiding
the rows IS the whole delete. ``compact()`` folds tombstones
physically (live rows rewritten cell-ranged, tombstone dirs removed);
``maintain()`` adds a tombstoned-fraction trigger so a long-lived
index under heavy curation bounds the anti-join it pays per search.
Unlike PostingIndex there is no generation/manifest machinery: the
codes table has no cross-row invariants, so the delta layout's
crash-contract (duplicates tolerated, tombstones cleared from meta
only after the fold completes) already yields a consistent snapshot.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gus_spark.errors import StorageError
from gus_spark.operators.quantization import (
    IvfPqModel,
    ivf_pq_encode,
    ivf_pq_fit,
    ivf_pq_shortlist,
    ivf_pq_topk,
)
from gus_spark.storage.deltas import (
    DeleteTier,
    compact_deltas,
    count_parquet_files,
    parquet_rows,
    tombstone_fold_due,
)


class VectorIndex(DeleteTier):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 16,
        codes: int = 256,
        iters: int = 3,
    ):
        super().__init__(spark, path)
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self._open_meta({"m": m, "codes": codes, "iters": iters})
        self.m, self.codes, self.iters = m, codes, iters

    # ------------------------------------------------------------ model io
    def _model_paths(self) -> tuple[str, str]:
        return (
            os.path.join(self.path, "centroids.npy"),
            os.path.join(self.path, "codebooks.npy"),
        )

    def _codes_path(self) -> str:
        return os.path.join(self.path, "codes")

    @property
    def cells(self) -> int:
        """Number of IVF cells in the FROZEN quantizer — the value a
        full-coverage probe needs (``nprobe >= cells`` scans every
        cell; note ``codes`` is the PQ codebook size, a different
        axis). Requires a fitted model."""
        return int(self._load_model().centroids.shape[0])

    @property
    def fitted(self) -> bool:
        return all(os.path.exists(p) for p in self._model_paths())

    def _load_model(self) -> IvfPqModel:
        if not self.fitted:
            raise StorageError(f"index at {self.path} is not fitted")
        cpath, bpath = self._model_paths()
        return IvfPqModel(np.load(cpath), np.load(bpath))

    # ------------------------------------------------------------ lifecycle
    def fit(self, df: DataFrame, seed_col: str | None = "label") -> None:
        """Train and persist the quantizer (NOT the codes — call
        ``add`` for every batch, including the training one). Refusing
        to silently re-fit keeps encoded rows consistent: a new fit on
        an index holding codes would orphan them."""
        if os.path.isdir(self._codes_path()):
            raise StorageError(
                f"index at {self.path} already holds encoded rows; "
                "re-fitting would orphan them (build a new index)"
            )
        model = ivf_pq_fit(
            df, id_col=self.id_col, vec_col=self.vec_col, seed_col=seed_col,
            m=self.m, codes=self.codes, iters=self.iters,
        )
        cpath, bpath = self._model_paths()
        np.save(cpath, model.centroids)
        np.save(bpath, model.codebooks)

    def _read_codes(self) -> DataFrame:
        # codes live in per-add delta directories (idempotent replay
        # unit); recursiveFileLookup reads them all without inferring
        # partition columns from the directory names
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self._codes_path())
        )

    def _live_codes(self) -> DataFrame:
        """The serving snapshot: every code row minus the tombstoned
        ids. The anti-join runs BEFORE the shortlist, so a deleted
        vector can't occupy a shortlist slot and evict a live
        neighbor — results match an index that never held the row."""
        from pyspark.sql import functions as F

        enc = self._read_codes()
        tombs = self._live_tombstones()
        if tombs is None:
            return enc
        dead = tombs.withColumnRenamed("id", "_dead_id")
        return enc.join(
            F.broadcast(dead),
            enc["id"] == dead["_dead_id"],
            "left_anti",
        )

    def add(self, batch: DataFrame, batch_key: str | None = None) -> int:
        """Encode ``batch`` against the frozen model and append its
        codes as one delta directory. Returns rows added. O(batch) —
        the existing corpus is never read, let alone re-encoded.

        ``batch_key`` makes the append IDEMPOTENT: the delta directory
        is named by the key and written with overwrite semantics, so a
        crash-replay of the same batch (streaming foreachBatch re-runs
        after a failure between sink write and checkpoint commit)
        replaces its own earlier output instead of duplicating rows.
        Without a key a fresh unique delta is written.
        """
        import uuid

        model = self._load_model()
        key = batch_key if batch_key is not None else uuid.uuid4().hex
        dest = os.path.join(self._codes_path(), f"delta-{key}")
        # the tombstone guard applies to NEW batches only: a replay of
        # a committed key (its delta dir exists) is the crash-replay
        # path, whose ids may legitimately have been deleted since.
        # Re-adding a live-tombstoned id would write codes the
        # anti-join then hides — the add would silently not serve.
        if not os.path.isdir(dest):
            tombs = self._live_tombstones()
            if tombs is not None:
                from pyspark.sql import functions as F

                n_dead = (
                    batch.join(
                        F.broadcast(tombs),
                        batch[self.id_col] == tombs["id"],
                        "left_semi",
                    ).limit(1).count()
                )
                if n_dead:
                    raise ValueError(
                        "add() received ids with LIVE tombstones in "
                        f"{self.path!r}: a deleted id cannot be "
                        "re-added until a compaction folds its "
                        "tombstone away (the serving anti-join would "
                        "hide the new codes). compact() first."
                    )
        enc = ivf_pq_encode(
            batch, model, id_col=self.id_col, vec_col=self.vec_col
        )
        enc.write.mode("overwrite").parquet(dest)
        # row count from the written files' parquet footers — the Arrow
        # encode kernel runs exactly once (the write); a .count() on enc
        # would re-execute the whole encode a second time
        return parquet_rows(dest)

    def delete(self, ids, batch_key: str | None = None) -> int:
        """Tombstone one batch of vector ids (a list, or a DataFrame
        whose ``id_col`` column holds them). O(index ids + batch): the
        match runs against the codes table column-pruned to the id —
        never the code bytes, never the float vectors. Ids absent from
        the index — or already tombstoned by an earlier batch — are
        ignored, so the recorded counts never double-subtract. Returns
        the number of vectors newly tombstoned.

        Same replay contract as ``add``: with ``batch_key`` the delete
        is idempotent (publish-if-changed tombstone dir + meta
        set-add; a committed key short-circuits), and a key already
        folded by a compaction raises — its physical rows are gone, so
        a replayed subtract would count ghosts."""

        def live_ids(_meta):
            if not os.path.isdir(self._codes_path()):
                raise StorageError(
                    f"index at {self.path} holds no codes — nothing to "
                    "delete"
                )
            # the codes table names its id column literally `id`
            # (ivf_pq_encode output), whatever ``id_col`` the raw
            # vectors use — tombstones are stored in the codes' name
            return self._read_codes().select("id").distinct()

        return self._keyed_delete(
            ids, batch_key, "id", live_ids, input_col=self.id_col
        )

    def search(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 4,
        shortlist: int | None = None,
        rerank_df: DataFrame | None = None,
    ) -> DataFrame:
        """ADC search over the persisted codes. With ``rerank_df`` (the
        full-vector table) the shortlist is exactly re-ranked — the
        two-stage production path; without it, ADC scores rank directly
        (columns adc_sim instead of cos_sim)."""
        model = self._load_model()
        encoded = self._live_codes()
        if rerank_df is not None:
            return ivf_pq_topk(
                rerank_df, encoded, queries, model, k=k, nprobe=nprobe,
                shortlist=shortlist, id_col=self.id_col, vec_col=self.vec_col,
            )
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        sl = ivf_pq_shortlist(encoded, queries, model, k=shortlist or 5 * k,
                              nprobe=nprobe)
        # collapse duplicate candidates (e.g. the same id added twice)
        # BEFORE ranking — otherwise a duplicate occupies two ranks and
        # evicts a legitimate neighbor from the top k. Same key as the
        # ranking window, so AQE plans a single query_id exchange.
        sl = sl.dropDuplicates(["query_id", "neighbor_id"])
        w = Window.partitionBy("query_id").orderBy(
            F.desc("adc_sim"), "neighbor_id"
        )
        return (
            sl.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_sim",
                    F.col("rank").cast("long").alias("rank"))
        )

    # ------------------------------------------------------------ maintenance
    def health(self) -> dict:
        """Codes-table layout health from filesystem metadata only (no
        Spark job) — the VectorIndex twin of ParquetStore.table_health."""
        base = self._codes_path()
        if not os.path.isdir(base):
            return {"n_files": 0, "n_deltas": 0}
        return {
            "n_files": count_parquet_files(base),
            "n_deltas": sum(
                1 for d in os.listdir(base) if d.startswith("delta-")
            ),
        }

    def compact(self, target_files: int = 4) -> dict:
        """Fold the code deltas — and every live tombstone — into one
        compacted delta of ``target_files`` files, range-partitioned
        and sorted on ``cell`` (the probe key, so nprobe filters prune
        files/row-groups). Tombstoned rows are dropped PHYSICALLY and
        their keys move to ``folded_tombs`` (a late replay of a folded
        delete raises, see ``delete``).

        Crash contract, in write order: (1) live rows land in a
        dot-prefixed temp dir, (2) atomic rename into place, (3) old
        delta dirs removed, (4) meta swapped (tombs cleared), (5)
        tombstone dirs removed. A crash anywhere before (4) leaves
        tombstones live in meta, so the serving anti-join still hides
        any dead rows the unfinished fold left behind (and duplicate
        live rows are collapsed pre-rank, the deltas.py contract);
        after (4), the dead rows are already physically gone."""
        from pyspark.sql import functions as F

        base = self._codes_path()
        if not os.path.isdir(base):
            return self.health()
        meta = self._read_meta()
        tombs = self._live_tombstones(meta)
        drop = (
            None
            if tombs is None
            else (lambda df: df.join(F.broadcast(tombs), "id", "left_anti"))
        )
        compact_deltas(
            self.spark, base, target_files, range_cols=["cell"],
            filter_fn=drop,
        )
        self._fold_tombstones(meta)
        return self.health()

    def maintain(
        self,
        max_files: int = 16,
        target_files: int = 4,
        max_tomb_frac: float = 0.2,
        occupancy: bool = False,
    ) -> dict:
        """Compact the per-add code deltas once they exceed
        ``max_files`` — streaming ingest appends one delta per
        micro-batch, which unchecked is small-file death — OR when the
        tombstoned fraction of the index exceeds ``max_tomb_frac``: a
        long-lived index under heavy curation can hold few tombstone
        batches that cover much of the corpus, and every search then
        scans + anti-joins ghost codes the fold would remove (the
        PostingIndex.maintain policy). Compacted output is
        range-partitioned AND sorted on ``cell`` so a search's nprobe
        cell filter prunes to the files/row-groups holding those
        cells. A healthy table is a metadata-only no-op, so this can
        run on a timer like ParquetStore.maintain. Search results are
        unchanged: the LIVE codes row set is identical, and every
        consumer is order-independent."""
        health = self.health()
        meta = self._read_meta()
        tomb_docs = sum(meta["tombs"].values())
        trigger = health["n_files"] > max_files or tombstone_fold_due(
            self._codes_path(), tomb_docs, max_tomb_frac
        )
        if trigger:
            self.compact(target_files)
        report = {"before": health, "compacted": trigger,
                  "after": self.health()}
        if occupancy:
            # the IVF tier's occupancy regime IS the per-cell spread
            # stats() reports (cells play the bucket role) — included
            # opt-in for the same reason as the banded tiers' probes
            # (one aggregation; r11 uniform maintain contract)
            report["occupancy"] = self.stats()
        return report

    def stats(self) -> dict:
        """Index health: LIVE rows (tombstones excluded — occupancy
        should describe what searches actually scan) + per-cell
        occupancy spread (a drifting corpus skews cells; re-fit when
        the ratio degrades) + the tombstone burden."""
        meta = self._read_meta()
        base = {
            "n_tombs": len(meta["tombs"]),
            "tomb_docs": sum(meta["tombs"].values()),
        }
        if not os.path.isdir(self._codes_path()):
            return dict(
                base, n_rows=0, n_cells=0, max_cell_fraction=0.0
            )
        enc = self._live_codes()
        per_cell = enc.groupBy("cell").count().collect()
        total = sum(r["count"] for r in per_cell)
        return dict(
            base,
            n_rows=total,
            n_cells=len(per_cell),
            max_cell_fraction=(
                max(r["count"] for r in per_cell) / total if total else 0.0
            ),
        )

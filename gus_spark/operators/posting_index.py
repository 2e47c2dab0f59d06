"""Live BM25 posting index: base + delta layout under an atomic
manifest snapshot — incremental maintenance for the inverted index
(ROADMAP r7 #4: "make the index a live table like VectorIndex").

This is the one served BM25 index: repeated-query serving and
streaming ingest both go through it, and only the ad-hoc
``retrieval.bm25_topk`` scan stays outside it. Layout, all under one
``root`` directory:

- ``base-g<gen>/``   — the bucketed-by-term posting table (external
  table ``<name>_g<gen>`` in the session catalog, so query-term bucket
  pruning and the zero-exchange df-count keep working on the base);
- ``delta-<key>/``   — one small plain-parquet postings directory per
  ``add`` batch, written with publish-if-changed overwrite semantics
  (streaming.markers.publish_batch) so a crash-replay of the same
  batch key is file-idempotent;
- ``doclen-g<gen>/`` / ``doclen-<key>/`` — the per-document (id, dl)
  sidecar for each tier: one row per doc, the index's own record of
  document lengths, so ``delete`` can recover the exact totals of the
  removed docs WITHOUT scanning the postings (the postings are
  bucketed by term, not id — a per-id lookup there is a full scan);
- ``tomb-<key>/``    — one small (id) directory per ``delete`` batch:
  the TOMBSTONE tier. Serving anti-joins the (broadcast-small) union
  of live tombstones against every posting tier and subtracts the
  tombstoned totals from N/avgdl, so deleted docs stop scoring AND
  stop influencing df/idf/avgdl the moment the manifest commits —
  scores are bit-identical to a from-scratch rebuild without those
  docs (asserted in tests). Compaction physically folds them away;
- ``meta.json``      — the SNAPSHOT MANIFEST: current generation +
  base totals, the set of live delta keys with each delta's exact
  (n_docs, tok_sum), the set of live tombstone keys with each batch's
  exact removed (n_docs, tok_sum), and every key ever folded by a
  compaction. Swapped with ``os.replace`` — readers resolve the
  manifest first, so every read sees one consistent (base, deltas,
  tombstones) snapshot and a crash anywhere leaves only invisible
  orphans, never a half-state. The manifest and tombstone protocol is
  the one MinHashIndex and VectorIndex share (storage/deltas.DeleteTier).

Corpus stats live in the manifest, not on the posting rows: N and avgdl
change on EVERY append, so stats carried per row would go stale the
moment a delta lands. The manifest holds exact integer totals per tier
(base + each delta), and serving derives avgdl from their sums in the
same IEEE double division the ad-hoc scan performs, keeping rankings
bit-identical to ``bm25_topk`` over the equivalent full corpus
(asserted in tests).

Serving cost at 100 TB: the base scan stays bucket-pruned to the query
terms' buckets and its per-term df-count completes WITHOUT an exchange
(bucketed groupBy); only the delta tier — small by the compaction
contract — pays a term-keyed shuffle, and the two tiny per-tier df
frames re-aggregate in an exchange of <= 2x|query| rows. The one
matched-row-scaled shuffle is the final per-doc sum, exactly as in the
ad-hoc path. ``compact()`` folds deltas into the next base generation
(full rewrite of the postings, the LSM bargain) and ``maintain()``
triggers it on a delta-count threshold, mirroring VectorIndex.

Append-only contract (as MinHashIndex/VectorIndex): every ``add`` must
carry NEW document ids. A re-added id would double its postings and
silently double-score — the one guard the index can afford cheaply is
the folded-key check: re-``add`` of a batch key that a compaction has
already folded into the base raises instead of double-counting (a
live delta key just republishes idempotently).

Deletes (round 8, VERDICT r7 #2): a curation pipeline REMOVES
documents (dedup, decontamination), and an index that cannot forget
them keeps counting ghosts in df/N/avgdl. ``delete(ids)`` tombstones
them (batch-key idempotent, exactly the ``add`` replay contract);
``compact`` folds tombstones into the rewrite. One asymmetry is
deliberate: deleting an id and re-``add``-ing it while its tombstone
is still live would serve the doc as deleted while the delta holds
its postings — ``add`` pays one tiny count job (only when live
tombstones exist) to refuse that, keeping the lineage's id space
append-only between compactions.

Reference surface: none — the reference engine has no search path;
this extends the SURVEY §2.3 training-data layer.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gus_spark.operators.retrieval import (
    B,
    K1,
    _query_term_table,
    _query_terms,
    _score_postings,
    _score_postings_weighted,
    posting_lists,
)
from gus_spark.functions.tokenize import tokenize
from gus_spark.storage.deltas import DeleteTier
from gus_spark.streaming import markers

#: manifest layout generation — bump on any incompatible change so a
#: resumed writer fails loudly instead of misreading old state.
#: 2 (round 8): doclen sidecar tiers + tombstone deletes.
LAYOUT = 2


def _corpus_totals(
    df: DataFrame, text_col: str
) -> tuple[int, int]:
    """(n_docs, tok_sum) as exact longs over non-null-text rows — the
    integer halves of retrieval.corpus_stats, so avgdl derived from
    their sums is the same double division the ad-hoc path computes."""
    row = df.filter(F.col(text_col).isNotNull()).agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.size(tokenize(F.col(text_col))).cast("long")),
            F.lit(0).cast("long"),
        ).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"])


def _doclens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl): one row per non-null-text document — the per-tier
    doclen sidecar. dl is the same size(tokenize(...)) the postings
    carry, so a delete's recovered totals are exact."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(tokenize(F.col(text_col))).cast("long").alias("dl"),
    )


def _removed_totals(matched: DataFrame) -> dict:
    """The delete record: exact (n_docs, tok_sum) of the matched
    doclen rows, the totals serving subtracts from N/avgdl."""
    row = matched.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias("s"),
    ).first()
    return {"n_docs": int(row["n"]), "tok_sum": int(row["s"])}


def _totals(meta: dict) -> tuple[int, int, int]:
    """(n_docs, tok_sum, tomb_docs) of a manifest snapshot: base plus
    live deltas minus live tombstones, and the tombstoned doc count."""
    tomb_docs = sum(t["n_docs"] for t in meta["tombs"].values())
    n_docs = meta["n_docs"] + sum(
        d["n_docs"] for d in meta["deltas"].values()
    ) - tomb_docs
    tok_sum = meta["tok_sum"] + sum(
        d["tok_sum"] for d in meta["deltas"].values()
    ) - sum(t["tok_sum"] for t in meta["tombs"].values())
    return n_docs, tok_sum, tomb_docs


class PostingIndex(DeleteTier):
    """Persisted, incrementally-maintained BM25 index under ``root``.

    Lifecycle: ``build`` once on the starting corpus, ``add`` new-doc
    batches (directly or via streaming.postings.posting_index_stream),
    ``topk`` to serve, ``maintain``/``compact`` to fold deltas.
    Single-writer, many-reader — the same assumption every incremental
    index in this repo makes."""

    _tomb_dir = ""
    _layout = LAYOUT

    def __init__(self, spark: SparkSession, root: str) -> None:
        super().__init__(spark, root)
        self.root = root

    @property
    def fitted(self) -> bool:
        return os.path.exists(self._meta_path)

    @property
    def id_col(self) -> str:
        """The document id column this index was built with — the
        public accessor (composing operators like hybrid retrieval
        need it to name their join keys; the meta layout stays
        private)."""
        return self._read_meta()["id_col"]

    # ---------------------------------------------------------- build
    def build(
        self,
        df: DataFrame,
        name: str,
        n_buckets: int = 32,
        id_col: str = "doc_id",
        text_col: str = "text",
        positional: bool = False,
    ) -> dict:
        """Full build from the starting corpus: bucketed base table at
        generation 0, empty delta set. ``name`` must be unique per
        index (generation tables are ``<name>_g<gen>`` in the session
        catalog). Rebuilding over an existing root starts a fresh
        lineage (old generations dropped).

        ``positional=True`` stores the positional posting form
        (id, w, positions, dl, tf — retrieval.posting_positions):
        BM25 serving is unchanged (tf/dl ride the same rows; parquet
        column-prunes the positions array away on BM25 reads) and
        ``phrase_topk`` becomes available — exact-phrase forensics
        over the LIVE corpus without a rescan."""
        if self.fitted:
            # no layout gate: build() IS the rebuild an old layout
            # demands, so it must be able to clean one up
            old = self._read_meta(check_layout=False)
            self._drop_generation(old)
            for key in old["deltas"]:
                shutil.rmtree(self._delta_path(key), ignore_errors=True)
                shutil.rmtree(
                    self._doclen_delta_path(key), ignore_errors=True
                )
            for key in old["tombs"]:
                shutil.rmtree(self._tomb_path(key), ignore_errors=True)
        # a fresh lineage invalidates every streaming done-marker: the
        # marker's "output still holds this batch" promise refers to
        # deltas this build just wiped, and a fresh stream checkpoint
        # restarts batch ids at 0 — identical (id, fingerprint) pairs
        # would SKIP and silently never re-add those docs (round-8
        # review fix); glob.escape: a root containing glob
        # metacharacters must not silently match nothing and leave
        # the stale markers alive
        for m in glob.glob(
            os.path.join(glob.escape(self.root), "_batch-*.done")
        ):
            os.remove(m)
        shutil.rmtree(
            os.path.join(self.root, "_tomb_markers"),
            ignore_errors=True,
        )
        post = self._posting_fn(positional)(df, id_col, text_col)
        n_docs, tok_sum = _corpus_totals(df, text_col)
        table = f"{name}_g0"
        self._write_base(post, table, 0, n_buckets)
        _doclens(df, id_col, text_col).write.mode("overwrite").parquet(
            self._doclen_base_path(0)
        )
        self._write_meta({
            "layout": LAYOUT,
            "name": name,
            "gen": 0,
            "table": table,
            "n_buckets": n_buckets,
            "id_col": id_col,
            "text_col": text_col,
            "schema_ddl": ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in post.schema.fields
            ),
            "n_docs": n_docs,
            "tok_sum": tok_sum,
            "positional": positional,
            "deltas": {},
            "folded": [],
            "tombs": {},
            "folded_tombs": [],
        })
        return self.stats()

    @staticmethod
    def _posting_fn(positional: bool):
        if positional:
            from gus_spark.operators.retrieval import posting_positions

            return posting_positions
        return posting_lists

    def _base_path(self, gen: int) -> str:
        return os.path.join(self.root, f"base-g{gen}")

    def _delta_path(self, key: str) -> str:
        return os.path.join(self.root, f"delta-{key}")

    def _doclen_base_path(self, gen: int) -> str:
        return os.path.join(self.root, f"doclen-g{gen}")

    def _doclen_delta_path(self, key: str) -> str:
        return os.path.join(self.root, f"doclen-{key}")

    def _live_doclens(self, meta: dict) -> DataFrame:
        paths = [self._doclen_base_path(meta["gen"])] + [
            self._doclen_delta_path(k) for k in meta["deltas"]
        ]
        return self.spark.read.parquet(*paths)

    def _write_base(
        self, post: DataFrame, table: str, gen: int, n_buckets: int
    ) -> None:
        (
            post.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, "w")
            .sortBy("w")
            .option("path", self._base_path(gen))
            .saveAsTable(table)
        )

    def _drop_generation(self, meta: dict) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {meta['table']}")
        shutil.rmtree(self._base_path(meta["gen"]), ignore_errors=True)
        shutil.rmtree(
            self._doclen_base_path(meta["gen"]), ignore_errors=True
        )

    def _ensure_table(self, meta: dict) -> None:
        """Re-register the external base table in a fresh session's
        catalog (the files under root are the source of truth; the
        catalog entry is just how Spark learns the bucket layout)."""
        if self.spark.catalog.tableExists(meta["table"]):
            return
        self.spark.sql(
            f"CREATE TABLE {meta['table']} ({meta['schema_ddl']}) "
            f"USING parquet CLUSTERED BY (w) SORTED BY (w) "
            f"INTO {meta['n_buckets']} BUCKETS "
            f"LOCATION '{self._base_path(meta['gen'])}'"
        )

    # ------------------------------------------------------------ add
    def add(self, docs: DataFrame, batch_key: str | None = None) -> int:
        """Append one batch of NEW documents as a delta directory.
        O(batch): tokenizes only the new docs, never reads the corpus.
        Returns docs added. With ``batch_key`` the append is
        idempotent (publish-if-changed delta + manifest set-add); a
        key already folded by a compaction raises — replaying it would
        double-count rows the base already holds."""
        import uuid

        meta = self._read_meta()
        key = batch_key if batch_key is not None else uuid.uuid4().hex
        if key in meta["folded"]:
            raise ValueError(
                f"batch key {key!r} was already folded into base "
                f"generation {meta['gen']} of {self.root!r}: replaying "
                "it would double-count its postings. Use the streaming "
                "ingest's done-markers (streaming.postings) or a fresh "
                "key."
            )
        # the tombstone guard applies to NEW batches only: a replay of
        # a committed key (key already in deltas) is the crash-replay
        # path, whose ids may legitimately have been deleted since
        tombs = (
            None if key in meta["deltas"]
            else self._live_tombstones(meta)
        )
        if tombs is not None:
            id_col = meta["id_col"]
            n_dead = (
                docs.join(
                    F.broadcast(tombs),
                    docs[id_col] == tombs[id_col],
                    "left_semi",
                ).limit(1).count()
            )
            if n_dead:
                raise ValueError(
                    "add() received ids with LIVE tombstones in "
                    f"{self.root!r}: a deleted id cannot be re-added "
                    "until a compaction folds its tombstone away "
                    "(serving would hide the new postings while the "
                    "delta holds them). compact() first."
                )
        post = self._posting_fn(meta.get("positional", False))(
            docs, meta["id_col"], meta["text_col"]
        )
        n_docs, tok_sum = _corpus_totals(docs, meta["text_col"])
        markers.publish_batch(post, self._delta_path(key))
        markers.publish_batch(
            _doclens(docs, meta["id_col"], meta["text_col"]),
            self._doclen_delta_path(key),
        )
        meta["deltas"][key] = {"n_docs": n_docs, "tok_sum": tok_sum}
        self._write_meta(meta)
        return n_docs

    # --------------------------------------------------------- delete
    def delete(
        self, ids, batch_key: str | None = None
    ) -> int:
        """Tombstone one batch of document ids (a list, or a DataFrame
        whose ``id_col`` column holds them). O(doclen tier + batch):
        the removed docs' exact (n_docs, tok_sum) come from the doclen
        sidecar (one row per doc), never the postings. Ids absent from
        the index — or already tombstoned by an earlier batch — are
        ignored, so the recorded totals never double-subtract. Returns
        the number of documents newly tombstoned.

        Same replay contract as ``add``: with ``batch_key`` the delete
        is idempotent (publish-if-changed tombstone dir + manifest
        set-add; a committed key short-circuits), and a key already
        folded by a compaction raises."""
        return self._keyed_delete(
            ids, batch_key, self.id_col, self._live_doclens,
            measure=_removed_totals,
        )["n_docs"]

    # ---------------------------------------------------------- serve
    def topk(
        self, query: list[str], k: int, k1: float = K1, b: float = B
    ) -> DataFrame:
        """Top-k by BM25 over the current snapshot, bit-identical to
        ``bm25_topk`` over the equivalent full corpus. Base postings
        are bucket-pruned to the query terms and df-counted without an
        exchange; deltas pay one small term-keyed shuffle; the tier
        df-counts sum in a <= 2x|query|-row re-aggregation."""
        meta = self._read_meta()
        terms = _query_terms(query)
        post, dfreq, stats = self._snapshot(meta, terms)
        return _score_postings(
            post, dfreq, stats, k, meta["id_col"], k1, b
        )

    def batch_topk(
        self,
        queries: DataFrame,
        k: int,
        k1: float = K1,
        b: float = B,
    ) -> DataFrame:
        """`bm25_batch` served from the live snapshot: one
        bucket-pruned base read for the whole (query_id, w, weight)
        batch, per-query top-k as a window rank — scores bit-identical
        to the scan-path `bm25_batch` over the equivalent corpus and,
        at weight 1.0, to `topk` (shared scoring tail; asserted in
        tests). The distinct-term IN-list is collected from the
        query-batch-sized table — a bounded driver collect, the price
        of bucket pruning."""
        meta = self._read_meta()
        qterms = _query_term_table(queries)
        terms = sorted(
            r["w"] for r in qterms.select("w").distinct().collect()
        )
        if not terms:
            spark = self.spark
            return _score_postings_weighted(
                # the manifest's posting DDL carries the true id type
                spark.createDataFrame([], meta["schema_ddl"]),
                spark.createDataFrame([], "w string, df long"),
                spark.createDataFrame(
                    [], "n_docs long, avgdl double"
                ),
                qterms, k, meta["id_col"], k1, b,
            )
        post, dfreq, stats = self._snapshot(meta, terms)
        return _score_postings_weighted(
            post, dfreq, stats, qterms, k, meta["id_col"], k1, b
        )

    def phrase_topk(self, phrase: list[str], k: int) -> DataFrame:
        """Top-k documents by exact-phrase occurrence count over the
        LIVE snapshot (base + deltas, tombstones excluded) — identical
        result to the ad-hoc `retrieval.phrase_topk` over the
        surviving corpus (asserted in tests). Requires an index built
        with ``positional=True``.

        The base scan stays pruned to the phrase terms' buckets: Spark's
        DisableUnnecessaryBucketedScan turns the bucketed scan into a
        plain one (the id-keyed joins need no bucket distribution), and
        a plain scan of a bucketed table still skips the files of
        unselected buckets."""
        from gus_spark.operators.retrieval import _phrase_occurrences

        if k <= 0:
            raise ValueError(f"k must be > 0, got {k}")
        meta = self._read_meta()
        if not meta.get("positional", False):
            raise ValueError(
                f"posting index at {self.root!r} was built without "
                "positional=True — rebuild positional to serve phrase "
                "queries"
            )
        terms = sorted(set(phrase))
        if not terms:
            raise ValueError("phrase must contain at least one token")
        post, _dfreq, _stats = self._snapshot(meta, terms)
        id_col = meta["id_col"]
        return (
            _phrase_occurrences(post, phrase, id_col)
            .orderBy(F.col("n_occurrences").desc(), F.col(id_col))
            .limit(k)
        )

    def phrase_batch(self, phrases: DataFrame, k: int) -> DataFrame:
        """Batched exact-phrase sweep over the LIVE snapshot — the
        whole eval suite's forensics in one pass, per-phrase results
        identical to `phrase_topk` (asserted in tests). ``phrases`` is
        (query_id, phrase array<string>); returns (query_id, id,
        n_occurrences, rank). Requires positional=True. Same
        bounded driver collect of distinct terms as `batch_topk`, same
        bucket-pruned base scan as `phrase_topk`."""
        from gus_spark.operators.retrieval import _phrase_batch_tail

        if k <= 0:
            raise ValueError(f"k must be > 0, got {k}")
        meta = self._read_meta()
        if not meta.get("positional", False):
            raise ValueError(
                f"posting index at {self.root!r} was built without "
                "positional=True — rebuild positional to serve phrase "
                "queries"
            )
        q = phrases.select(
            "query_id", F.posexplode("phrase").alias("j", "w")
        )
        plen = phrases.select(
            "query_id", F.size("phrase").alias("_m")
        )
        if plen.filter(F.col("_m") <= 0).limit(1).count():
            raise ValueError(
                "every phrase must contain at least one token"
            )
        terms = sorted(
            r["w"] for r in q.select("w").distinct().collect()
        )
        post, _dfreq, _stats = self._snapshot(meta, terms)
        return _phrase_batch_tail(post, q, plen, k, meta["id_col"])

    def _snapshot(
        self, meta: dict, terms: list[str]
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(matched postings, per-term df, 1-row stats) for the current
        (base, deltas, tombstones) snapshot — the tier assembly both
        serving paths share."""
        self._ensure_table(meta)
        n_docs, tok_sum, _ = _totals(meta)
        if n_docs == 0:
            raise ValueError(f"posting index at {self.root!r} is empty")
        # the same IEEE double division corpus_stats performs — Python
        # floats ARE binary64, so the quotient is bit-identical
        avgdl = float(tok_sum) / float(n_docs)
        stats = self.spark.range(1).select(
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(avgdl).cast("double").alias("avgdl"),
        )
        base = self.spark.table(meta["table"]).filter(
            F.col("w").isin(terms)
        )
        id_col = meta["id_col"]
        tiers = [base]
        if meta["deltas"]:
            delta = self.spark.read.parquet(
                *[self._delta_path(kk) for kk in meta["deltas"]]
            ).filter(F.col("w").isin(terms))
            tiers.append(delta)
        tombs = self._live_tombstones(meta)
        if tombs is not None:
            # broadcast anti-join on the (small) tombstone set, AFTER
            # the term filter so it touches matched rows only — and
            # BEFORE the df-count, so deleted docs stop counting in
            # idf exactly as a rebuild would drop them
            tombs = tombs.withColumnRenamed(id_col, "_dead_id")
            tiers = [
                t.join(
                    F.broadcast(tombs),
                    F.col(id_col) == F.col("_dead_id"),
                    "left_anti",
                )
                for t in tiers
            ]
        # per-tier partial df (base side completes on the bucket
        # layout with no exchange), then the tiny re-aggregation
        partials = [
            t.groupBy("w").agg(F.count("*").alias("df")) for t in tiers
        ]
        dfreq = partials[0]
        for p in partials[1:]:
            dfreq = dfreq.unionByName(p)
        dfreq = dfreq.groupBy("w").agg(F.sum("df").alias("df"))
        post = tiers[0]
        for t in tiers[1:]:
            post = post.unionByName(t)
        return post, dfreq, stats

    # ----------------------------------------------------- compaction
    def compact(self) -> dict:
        """Fold every live delta AND tombstone into the next base
        generation: one bucketed rewrite of the surviving postings
        (union of tiers, anti-joined against the tombstones), the
        doclen sidecar rewritten the same way, manifest swapped
        atomically to (gen+1, no deltas, no tombstones), then the old
        generation, delta, doclen and tombstone dirs are removed. A
        crash before the swap leaves an orphan staging table readers
        never see; after it, orphan dirs the next compaction ignores.
        Folded keys are recorded forever so a late replay of a folded
        batch raises (see ``add`` / ``delete``)."""
        meta = self._read_meta()
        self._ensure_table(meta)
        if not meta["deltas"] and not meta["tombs"]:
            return self.stats()
        all_post = self.spark.table(meta["table"])
        all_lens = self.spark.read.parquet(
            self._doclen_base_path(meta["gen"])
        )
        if meta["deltas"]:
            all_post = all_post.unionByName(self.spark.read.parquet(
                *[self._delta_path(kk) for kk in meta["deltas"]]
            ))
            all_lens = all_lens.unionByName(self.spark.read.parquet(
                *[self._doclen_delta_path(kk) for kk in meta["deltas"]]
            ))
        id_col = meta["id_col"]
        tombs = self._live_tombstones(meta)
        if tombs is not None:
            dead = tombs.withColumnRenamed(id_col, "_dead_id")
            cond = F.col(id_col) == F.col("_dead_id")
            all_post = all_post.join(
                F.broadcast(dead), cond, "left_anti"
            )
            all_lens = all_lens.join(
                F.broadcast(dead), cond, "left_anti"
            )
        gen = meta["gen"] + 1
        table = f"{meta['name']}_g{gen}"
        self._write_base(all_post, table, gen, meta["n_buckets"])
        all_lens.write.mode("overwrite").parquet(
            self._doclen_base_path(gen)
        )
        folded_now = list(meta["deltas"])
        n_docs, tok_sum, _ = _totals(meta)
        self._fold_tombstones(
            meta,
            gen=gen,
            table=table,
            n_docs=n_docs,
            tok_sum=tok_sum,
            deltas={},
            folded=meta["folded"] + folded_now,
        )
        self._drop_generation(meta)
        for key in folded_now:
            shutil.rmtree(self._delta_path(key), ignore_errors=True)
            shutil.rmtree(
                self._doclen_delta_path(key), ignore_errors=True
            )
        return self.stats()

    def maintain(
        self,
        max_deltas: int = 16,
        max_tomb_frac: float = 0.2,
        occupancy: bool = False,
    ) -> dict:
        """Compact when the live delta + tombstone TIER COUNT exceeds
        ``max_deltas`` (the VectorIndex.maintain policy — each live
        tier is directories a query lists and, for tombstones, a
        broadcast anti-join every query pays), OR when the tombstoned
        fraction of the corpus exceeds ``max_tomb_frac`` — a
        long-lived index under heavy curation can hold few tombstone
        BATCHES that cover much of the corpus, and every query then
        scans/anti-joins ghost postings the fold would remove."""
        meta = self._read_meta()
        if len(meta["deltas"]) + len(meta["tombs"]) > max_deltas:
            report = self.compact()
        else:
            n_docs, _, dead = _totals(meta)
            live = n_docs + dead
            if live > 0 and dead / live > max_tomb_frac:
                report = self.compact()
            else:
                report = self.stats()
        if occupancy:  # opt-in: the probe costs one aggregation (r11)
            report = dict(
                report,
                occupancy=self.health(occupancy=True)["occupancy"],
            )
        return report

    # ----------------------------------------------------------- info
    def health(self, occupancy: bool = False) -> dict:
        """Layout health from the manifest alone; ``occupancy=True``
        additionally reports the TERM-BUCKET occupancy regime — the
        MinHashIndex.health(occupancy=True) contract (r10) carried to
        the sparse tier (VERDICT r10 ask #4). The serving path's whole
        scale story is bucket pruning (query terms' buckets only), so
        the regime to catch is postings concentrating in few buckets —
        a degenerate tokenization (one dominant term) makes every
        query's "pruned" scan pay the corpus, and nothing in topk says
        so.

        Live postings (base + deltas, minus live-tombstoned docs —
        mirroring what the serving snapshot actually scans) aggregate
        per TERM first (the vocab-sized frame), then per bucket via
        Spark's own bucket function (pmod(hash(w), n_buckets) — the
        bucketBy layout identity), so the second exchange moves vocab
        rows, not postings. Read ``occupied_buckets`` << n_buckets or
        ``max_term_df`` ≈ n_docs as 'this corpus does not separate
        under the current tokenization'."""
        meta = self._read_meta()
        out = {
            "gen": meta["gen"],
            "n_deltas": len(meta["deltas"]),
            "n_tombs": len(meta["tombs"]),
        }
        if not occupancy:
            return out
        paths = [self._base_path(meta["gen"])] + [
            self._delta_path(k) for k in meta["deltas"]
        ]
        post = self.spark.read.parquet(*paths)
        tombs = self._live_tombstones(meta)
        if tombs is not None:
            post = post.join(
                F.broadcast(tombs), meta["id_col"], "left_anti"
            )
        n_buckets = meta["n_buckets"]
        per_term = post.groupBy("w").agg(F.count("*").alias("df"))
        row = (
            per_term.groupBy(
                F.pmod(F.hash("w"), F.lit(n_buckets)).alias("b")
            )
            .agg(F.sum("df").alias("c"), F.max("df").alias("mx"))
            .agg(
                F.count("*").alias("occupied"),
                F.sum("c").alias("rows"),
                F.max("c").alias("max_bucket"),
                F.max("mx").alias("max_df"),
            )
            .first()
        )
        if not row["occupied"]:
            out["occupancy"] = None
            return out
        out["occupancy"] = {
            "posting_rows": row["rows"],
            "n_buckets": n_buckets,
            "occupied_buckets": row["occupied"],
            "mean_bucket_rows": round(row["rows"] / row["occupied"], 4),
            "max_bucket_rows": row["max_bucket"],
            "max_term_df": row["max_df"],
        }
        return out

    def stats(self) -> dict:
        meta = self._read_meta()
        n_docs, tok_sum, tomb_docs = _totals(meta)
        return {
            "gen": meta["gen"],
            "n_docs": n_docs,
            "avgdl": (float(tok_sum) / float(n_docs)) if n_docs else 0.0,
            "n_deltas": len(meta["deltas"]),
            "n_folded": len(meta["folded"]),
            "n_tombs": len(meta["tombs"]),
            "tomb_docs": tomb_docs,
        }

"""Deterministic corpus splits and reproducible training order — the
last mile between a curated corpus and a training loader.

Two operators, both keyed on a content-independent (id, seed) hash so
assignments are REPRODUCIBLE (same seed → same split/order on any
cluster, any partitioning, any run) and STABLE under corpus growth (a
new document changes nothing about existing assignments — the property
random-number splits lose the moment rows move):

- `hash_split`: train/validation/test assignment as a pure map —
  ZERO shuffles at any corpus size. Each id hashes into a fixed
  integer space; split boundaries are exact integer thresholds
  computed once from the weights, so both engines compare the same
  literals (no float rounding drift).
- `shuffled_shards`: the reproducible global shuffle a training
  loader consumes — every row gets (shard, pos): shard by hash range,
  pos by rank of the hash within the shard. At 100 TB this is ONE
  shard-keyed exchange + a per-shard sort (the exchange a training-
  order materialization cannot avoid, and nothing more); shard count
  is the loader's file parallelism knob.

Hash: the first 15 hex chars of md5(seed || ':' || id) as a 60-bit
integer — the portable cross-engine identity this repo's oracle tiers
already use (dedup_simhash / winnowing precedent): DuckDB parses
'0x…' casts, Spark CONVs the same substring, and both engines see
identical buckets bit-for-bit. md5 here is a uniform-spreader, not a
security boundary.

Reference surface: none — extends the SURVEY §2.3 training-data
family (corpus → loader handoff).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the bucket space: 16^15 = 2^60 values from 15 md5 hex chars
_SPACE = 16**15

#: default three-way split — the conventional pretraining shape
DEFAULT_WEIGHTS: dict[str, float] = {
    "train": 0.98,
    "validation": 0.01,
    "test": 0.01,
}


def _bucket(id_col: Column, seed: str) -> Column:
    """Uniform 60-bit integer from (seed, id) — portable across
    engines (see module docstring)."""
    h = F.md5(F.concat(F.lit(seed), F.lit(":"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def _sql_bucket(id_expr: str, seed: str) -> str:
    quoted = seed.replace("'", "''")
    return (
        "CAST(('0x' || substr(md5('" + quoted + ":' || "
        f"CAST({id_expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
    )


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper bucket bound) per split, in the caller's
    insertion order — computed ONCE in exact integer arithmetic so the
    Spark expression and the SQL twin compare identical literals. The
    last split absorbs the rounding remainder (bounds end exactly at
    the space size, so every bucket lands somewhere)."""
    if not weights:
        raise ValueError("weights must name at least one split")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to > 0")
    bounds: list[tuple[str, int]] = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        bounds.append((name, int(acc * _SPACE)))
    bounds.append((names[-1], _SPACE))
    return bounds


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    seed: str = "split-v1",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label — pure map, zero shuffles,
    reproducible and stable under growth (module docstring). Weights
    need not sum to 1 (normalized); boundaries are exact integers."""
    bounds = split_thresholds(
        DEFAULT_WEIGHTS if weights is None else weights
    )
    b = _bucket(F.col(id_col), seed)
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(b < F.lit(upper), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def sql_hash_split(
    weights: dict[str, float] | None = None,
    seed: str = "split-v1",
    table: str = "documents",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> str:
    """DuckDB twin of `hash_split` — identical thresholds, identical
    bucket identity."""
    bounds = split_thresholds(
        DEFAULT_WEIGHTS if weights is None else weights
    )
    b = _sql_bucket(id_col, seed)
    cases = " ".join(
        f"WHEN {b} < {upper} THEN '{name}'"
        for name, upper in bounds[:-1]
    )
    tail = bounds[-1][0]
    case = (
        f"CASE {cases} ELSE '{tail}' END" if cases else f"'{tail}'"
    )
    return f"SELECT *, {case} AS {split_col} FROM {table}"


def _ranked_shards(
    df: DataFrame,
    shards: int,
    seed: str,
    id_col: str,
    extra_partition_cols: tuple[str, ...] = (),
    order_col: str | None = None,
    order_desc: bool = False,
) -> DataFrame:
    """THE definition of the training-order contract — shard =
    60-bit-bucket % shards, pos = 1-based rank of (bucket, id) within
    each (*extra_partition_cols, shard) window — shared by
    `shuffled_shards` (no extra keys) and `write_training_shards`
    (per-split ranking), so the two can never drift.

    ``order_col`` (r13, the CURRICULUM knob): rank by the column's
    value FIRST — (order, bucket, id), ``order_desc=True`` for
    best-first — so epoch 0 reads each shard in e.g. quality order
    (ties and the no-order default stay the seeded shuffle; NULL
    order values sort first ascending / last descending,
    deterministic). Still one exchange; still a pure function of
    (values, seed, ids)."""
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    from pyspark.sql import Window

    lead = []
    if order_col is not None:
        if order_col not in df.columns:
            raise ValueError(
                f"order_col {order_col!r} is not a column of the "
                f"input (have: {df.columns})"
            )
        c = F.col(order_col)
        lead = [
            c.desc_nulls_last() if order_desc else c.asc_nulls_first()
        ]
    b = _bucket(F.col(id_col), seed)
    w = Window.partitionBy(*extra_partition_cols, "shard").orderBy(
        *lead, "_order_bucket", id_col
    )
    return (
        df.withColumn("_order_bucket", b)
        .withColumn("shard", (F.col("_order_bucket") % F.lit(shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_order_bucket")
    )


def shuffled_shards(
    df: DataFrame,
    shards: int = 1024,
    seed: str = "shuffle-v1",
    id_col: str = "doc_id",
    order_col: str | None = None,
    order_desc: bool = False,
) -> DataFrame:
    """(…, shard, pos): the reproducible global training order. shard
    = hash-range bucket (uniform row counts by construction), pos =
    dense 1-based rank of the hash within the shard, ties broken by
    id (two ids can collide in 60 bits at planetary scale; the order
    must stay total). One shard-keyed exchange + per-shard sort —
    the minimal physical cost of materializing a global order — and
    the shard key is uniform, so no skew at any corpus size. Readers
    stream shards independently in (shard, pos) order; concatenated,
    that IS the seeded permutation. ``order_col``/``order_desc``
    turn the base order into a per-shard CURRICULUM (see
    _ranked_shards)."""
    return _ranked_shards(
        df, shards, seed, id_col,
        order_col=order_col, order_desc=order_desc,
    )


def sql_shuffled_shards(
    shards: int = 1024,
    seed: str = "shuffle-v1",
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of `shuffled_shards`."""
    b = _sql_bucket(id_col, seed)
    return f"""
    SELECT * EXCLUDE (_order_bucket),
           CAST(ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY _order_bucket, {id_col}
           ) AS BIGINT) AS pos
    FROM (
      SELECT *, {b} AS _order_bucket,
             CAST({b} % {shards} AS INTEGER) AS shard
      FROM {table})
    """


# --------------------------------------------------------- loader boundary

#: manifest schema version for written shard sets
_MANIFEST_VERSION = 1


def write_training_shards(
    df: DataFrame,
    dest: str,
    shards: int = 64,
    seed: str = "shuffle-v1",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    split_seed: str = "split-v1",
    split_col: str = "split",
    verify: bool = True,
    order_col: str | None = None,
    order_desc: bool = False,
) -> dict:
    """Materialize the training-loader contract: split + seeded global
    order as ``dest/data/split=<name>/shard=<k>/`` parquet with EXACTLY
    one file per (split, shard), rows ``pos``-ordered inside each file
    — so a loader streams shard files sequentially in shard order and
    the concatenation IS the seeded permutation, no sort at read time.

    Physical cost is ONE exchange: ``pos`` ranks inside each
    (split, shard) window, and the write reuses that exchange's layout
    (each combo lives wholly in one task partition, so ``partitionBy``
    emits one file per directory; the trailing sortWithinPartitions is
    satisfied by the window sort and costs nothing). At 100 TB the
    exchange is shard-keyed and uniform (60-bit hash range) — shards
    is the loader's file-parallelism knob, NOT a skew risk. Neither
    epochs nor corpus growth rewrite what this materialized: a new
    epoch is ``iter_training_order(epoch=e)`` (r12 — a read, not a
    rewrite), and new rows append as a fresh GENERATION of shard
    directories via `append_training_shards` (r12 — existing files
    stay byte-identical).

    Splits share the shard count; with the default 98/1/1 weights the
    validation/test shard files are proportionally small — harmless
    (they're read whole, not streamed). Returns (and persists, tmp +
    atomic-rename) ``dest/manifest.json``: seeds, shard count, and the
    per-(split, shard) row counts.

    ``verify`` picks how hard the receipt checks — a real trade, not a
    formality: ``True`` (default) RE-READS AND DECODES the written
    files (a Spark grouped recount), catching torn data pages and
    codec corruption, at the price of a second full read of everything
    just written — at 100 TB that DOUBLES the write job's read I/O.
    ``False`` takes counts from the written files' parquet FOOTERS
    during the layout walk below — pure metadata, one footer per shard
    file, no data read — trusting the data pages the commit wrote.
    Both modes emit identical manifests on a clean write (asserted in
    tests; under ``verify=True`` the decoded counts are additionally
    checked AGAINST the footers and a mismatch raises).

    Always (either mode): the exactly-one-parquet-file-per-
    (split, shard) layout that ``iter_training_order``'s cross-file
    order contract rides on is verified against the actual directory
    tree (cheap metadata walk) and violations raise — e.g. a session
    with ``spark.sql.files.maxRecordsPerFile`` set would otherwise
    silently fragment directories and void the loader's read order.

    ``order_col``/``order_desc`` (r13): the CURRICULUM knob — pos
    ranks by (order value, seeded hash, id) per (split, shard), so
    epoch 0 reads each shard in e.g. quality-descending order while
    epochs > 0 reshuffle as always (the curriculum is the base
    order, not a cage). Recorded in the manifest; appends and
    compaction folds rank their generations by the same rule, so the
    discipline survives the whole lifecycle.

    Filesystem contract: ``dest`` must be a LOCAL (POSIX-visible)
    path — the receipt walk, the manifest write, and the consuming
    ``iter_training_order`` all read it through ``os``/pyarrow, by
    design: this is the host-side trainer boundary, not a Spark
    surface. At the 100-TB design point that means a mounted
    filesystem (NFS/FUSE/Lustre) over whatever object store holds the
    shards; a raw scheme URI (``s3://…``, ``hdfs://…``) fails fast
    here rather than half-writing (the Spark write would accept it;
    the receipts could not). See SCALING.md §loader.
    """
    import json
    import os

    if "://" in dest:
        raise ValueError(
            f"dest {dest!r} is a filesystem-scheme URI — the loader "
            "boundary (receipt walk, manifest, iter_training_order) "
            "is host-side and reads dest via the local filesystem; "
            "use a mounted path (NFS/FUSE) instead of a raw "
            "object-store URI (see docstring)"
        )

    clobbered = {split_col, "shard", "pos"} & set(df.columns)
    if clobbered:
        raise ValueError(
            f"input already carries {sorted(clobbered)} — this writer "
            "derives split/shard/pos itself (a silent overwrite would "
            "discard the caller's labels; rename or drop them first, "
            "or pass a different split_col)"
        )
    spark = df.sparkSession
    labeled = hash_split(df, weights, split_seed, id_col, split_col)
    # order_col (r13): epoch-0 curriculum — pos ranks by
    # (order, bucket, id) per (split, shard); epochs > 0 reshuffle
    # as always, so the curriculum is the BASE order, not a cage
    ordered = _ranked_shards(
        labeled, shards, seed, id_col,
        extra_partition_cols=(split_col,),
        order_col=order_col, order_desc=order_desc,
    )
    data_dir = os.path.join(dest, "data")
    (
        ordered.sortWithinPartitions(split_col, "shard", "pos")
        .write.mode("overwrite")
        .partitionBy(split_col, "shard")
        .parquet(data_dir)
    )
    shard_rows = _layout_receipt(data_dir, split_col)
    if verify:
        _verify_recount(spark, data_dir, split_col, shard_rows)
    manifest = {
        "version": _MANIFEST_VERSION,
        "shards": shards,
        "seed": seed,
        "split_seed": split_seed,
        "id_col": id_col,
        "split_col": split_col,
        "weights": dict(DEFAULT_WEIGHTS if weights is None else weights),
        "generations": 1,
        "layout": 1,
        "order_col": order_col,
        "order_desc": bool(order_desc),
        "shard_rows": shard_rows,
        "total_rows": sum(
            n for per in shard_rows.values() for n in per.values()
        ),
    }
    tmp = os.path.join(dest, "manifest.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(dest, "manifest.json"))
    return manifest


def _layout_receipt(data_dir: str, split_col: str) -> dict:
    """Layout receipt (both verify modes): walk the directory tree,
    assert the one-file-per-(split, shard) invariant, and take footer
    counts — metadata only, |splits| x shards footers, no data read.
    Partition DIRECTORY names are Spark-escaped (escapePathName
    %XX-encodes ':', '=', '#', '%', control chars...), while the
    manifest — and the verify recount — key by the split VALUE:
    unquote restores it (Spark's escape is exactly %XX hex), so a
    split named 'train:v2' doesn't fail verification on a clean
    write or emit a key no consumer can look up."""
    import os
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    shard_rows: dict[str, dict[str, int]] = {}
    for split_dir in sorted(os.listdir(data_dir)):
        if not split_dir.startswith(f"{split_col}="):
            continue
        sname = unquote(split_dir.split("=", 1)[1])
        for shard_dir in sorted(
            os.listdir(os.path.join(data_dir, split_dir))
        ):
            if not shard_dir.startswith("shard="):
                continue
            d = os.path.join(data_dir, split_dir, shard_dir)
            files = [
                f
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            if len(files) != 1:
                raise ValueError(
                    f"{d} holds {len(files)} parquet files — the "
                    "loader's pos-order contract needs exactly ONE "
                    "file per (split, shard) directory (is "
                    "spark.sql.files.maxRecordsPerFile set on this "
                    "session?); the written shard set is not a valid "
                    "training order"
                )
            n = pq.ParquetFile(
                os.path.join(d, files[0])
            ).metadata.num_rows
            shard_rows.setdefault(sname, {})[
                shard_dir.split("=", 1)[1]
            ] = n
    return shard_rows


def _verify_recount(
    spark, data_dir: str, split_col: str, shard_rows: dict
) -> None:
    """Full decode recount, cross-checked against the footer walk.
    Partition-column TYPE INFERENCE off for the recount read: the
    footer walk keys by the directory VALUE STRING, and a split set
    whose names all parse numerically (weights = {'0': .., '1': ..})
    would otherwise come back as ints — str(0) == '0' papers over
    most of it, but '00' -> 0 -> '0' would still spuriously fail a
    clean write (ADVICE r11 #1)."""
    infer_key = (
        "spark.sql.sources.partitionColumnTypeInference.enabled"
    )
    infer_was = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        counts = (
            spark.read.parquet(data_dir)
            .groupBy(split_col, "shard")
            .agg(F.count("*").alias("n"))
            .collect()
        )  # bounded: |splits| x shards x generations rows
    finally:
        spark.conf.set(infer_key, infer_was)
    decoded: dict[str, dict[str, int]] = {}
    for r in counts:
        decoded.setdefault(str(r[split_col]), {})[
            str(r["shard"])
        ] = r["n"]
    if decoded != shard_rows:
        raise ValueError(
            "write verification failed: decoded row counts differ "
            f"from parquet footers (footers {shard_rows}, decoded "
            f"{decoded}) — the written data pages are corrupt or "
            "the write was torn"
        )


def append_training_shards(
    df: DataFrame, dest: str, verify: bool = True
) -> dict:
    """Grow a written shard set WITHOUT touching a byte of it: the new
    rows land as a fresh GENERATION of shard directories — generation
    g's shard k gets directory id ``g*shards + k`` — so existing files
    stay byte-identical (tested) and `iter_training_order`,
    `iter_epochs`, rank slicing, and every cursor inherit unchanged
    (they enumerate shard dirs; a generation is just more of them).
    Split assignment, seeds, and shard count come from the manifest —
    the same (seed, id) hashes, so an id's split is exactly what a
    fresh full write would assign (growth stability is `hash_split`'s
    defining property). pos ranks within the new generation's shards
    cost ONE exchange over ONLY the new rows — at 100 TB an append of
    1 TB moves 1 TB, not 101.

    Order semantics: epoch 0 visits generations in id order (old
    corpus first, then the new rows' seeded order); epoch e > 0's
    shard-visit permutation mixes generations freely — the reshuffle
    a trainer runs anyway is what interleaves old and new data.

    Caller contract: ``df`` holds ONLY rows not already in the shard
    set. The writer cannot check that without reading every
    generation back (the exact cost this operator exists to avoid);
    an id appended twice WILL appear twice in the training order —
    dedup upstream (this repo's exact/URL tiers) before appending.

    The write uses dynamic partition overwrite scoped to the new
    generation's directories, so a crashed append re-run overwrites
    its own partial output and never touches prior generations.
    ``verify=True`` recounts the WHOLE tree (all generations — it
    re-verifies old data pages too, at the cost of a full read);
    ``verify=False`` is the metadata-only footer receipt, as in
    `write_training_shards`. Returns the updated manifest
    (``generations`` incremented; ``shard_rows`` covers every
    generation)."""
    import json
    import os

    manifest = read_manifest(dest)
    shards = manifest["shards"]
    split_col = manifest["split_col"]
    id_col = manifest["id_col"]
    gen = manifest.get("generations", 1)
    clobbered = {split_col, "shard", "pos"} & set(df.columns)
    if clobbered:
        raise ValueError(
            f"input already carries {sorted(clobbered)} — this writer "
            "derives split/shard/pos itself; rename or drop them first"
        )
    spark = df.sparkSession
    labeled = hash_split(
        df,
        manifest["weights"],
        manifest["split_seed"],
        id_col,
        split_col,
    )
    ordered = _ranked_shards(
        labeled,
        shards,
        manifest["seed"],
        id_col,
        extra_partition_cols=(split_col,),
        order_col=manifest.get("order_col"),
        order_desc=manifest.get("order_desc", False),
    ).withColumn(
        "shard", (F.col("shard") + gen * shards).cast("int")
    )
    data_dir = os.path.join(dest, "data")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_was = spark.conf.get(mode_key, "STATIC")
    spark.conf.set(mode_key, "dynamic")
    try:
        (
            ordered.sortWithinPartitions(split_col, "shard", "pos")
            .write.mode("overwrite")
            .partitionBy(split_col, "shard")
            .parquet(data_dir)
        )
    finally:
        spark.conf.set(mode_key, mode_was)
    shard_rows = _layout_receipt(data_dir, split_col)
    if verify:
        _verify_recount(spark, data_dir, split_col, shard_rows)
    manifest = {
        **manifest,
        "generations": gen + 1,
        # the layout stamp: bumped by EVERY structural change (append
        # or compact) — the cursor-binding token (generation count
        # alone regrows to the same value at a bounded-compaction
        # steady state and would validate a stale cursor)
        "layout": _layout_stamp(manifest) + 1,
        "shard_rows": shard_rows,
        "total_rows": sum(
            n for per in shard_rows.values() for n in per.values()
        ),
    }
    tmp = os.path.join(dest, "manifest.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(dest, "manifest.json"))
    return manifest


def compact_generations(
    spark,
    dest: str,
    max_generations: int = 1,
    verify: bool = True,
) -> dict:
    """Fold a shard set's accumulated generations back down to at
    most ``max_generations`` (r13 — VERDICT r12 'missing' #1): a
    long-running ``run_live(publish=...)`` lands a generation per
    cadence, and every generation multiplies the per-(split, shard)
    file count — loader open cost rises, the epoch permutation
    degrades toward per-tiny-file seeks. This is the shard-set twin
    of PostingIndex/VectorIndex ``maintain()``.

    Fold policy (LSM-style, so the corpus is NOT rewritten per
    cycle): the NEWEST suffix of generations folds into one, starting
    at index ``max_generations − 1`` and extending DOWN one older
    generation at a time only while the accumulated tail's bytes
    outweigh that next older generation — so a small fresh tail never
    drags the bulk into the rewrite, and when it has grown to bulk
    size the two merge once. Each byte is rewritten O(log N) times
    over a publish lifetime, never once per cycle (folding the OLDEST
    prefix instead — the obvious policy — makes every cycle rewrite
    the whole accumulated corpus, quadratic at 100 TB). Generations
    older than the fold point keep their directories BYTE-IDENTICAL
    at unchanged ids (no renames — age order is id order and the fold
    lands at the suffix slot), so epoch-0 semantics ("old corpus
    first") hold. Rows tombstoned via `tombstone_training_shards`
    are physically dropped from the folded region (storage-level
    erasure for the tail; the sidecar id set stays — absent ids are
    harmless no-ops at read). Cost: one exchange over ONLY the folded
    bytes.

    Crash safety (the publish_shards intent-log discipline): phase 1
    writes the folded layout under ``dest/_compact_tmp`` (invisible
    to every reader; a crash re-runs it). Phase 2 records an INTENT
    (``dest/compact_intent.json``: the fold boundary + the expected
    final per-(split, shard) row counts) and advances a PHASE MARKER
    between removals and moves — both land directories in the same id
    range, so a marker-less replay could not tell an old folded dir
    from a freshly moved-in one (and would delete it); with the
    marker each step replays only itself and every op is idempotent
    (remove: skip-if-absent; move: atomic, src-gone means done). The
    final tree is receipt-checked against the intent's expected
    counts.

    Ordering semantics: the folded suffix gets a fresh seeded epoch-0
    order over its merged rows (deterministic — manifest seed); kept
    generations keep their internal order. OUTSTANDING CURSORS ARE
    INVALID after a compact — the manifest's monotonic LAYOUT STAMP
    bumps here (as on append), so any resume raises, including at the
    bounded-compaction steady state where the generation COUNT
    regrows to the same value every cycle (TestLifecycleInterleave).

    Single-writer, like every maintain(): no concurrent loader reads
    or publishes during phase 2. Returns the rewritten manifest."""
    import json
    import os
    import shutil

    manifest = read_manifest(dest)
    shards = manifest["shards"]
    split_col = manifest["split_col"]
    id_col = manifest["id_col"]
    gens = manifest.get("generations", 1)
    if max_generations < 1:
        raise ValueError(
            f"max_generations must be >= 1, got {max_generations}"
        )
    data_dir = os.path.join(dest, "data")
    tmp_dir = os.path.join(dest, "_compact_tmp")
    intent_path = os.path.join(dest, "compact_intent.json")

    def list_split_dirs():
        return [
            d
            for d in sorted(os.listdir(data_dir))
            if d.startswith(f"{split_col}=")
        ]

    def write_intent(intent: dict) -> None:
        tmp = intent_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(intent, fh)
        os.replace(tmp, intent_path)

    def finish(intent: dict) -> dict:
        lo, hi = intent["lo_gen"], intent["gen_before"]
        if intent.get("phase", "start") == "start":
            # (a) remove every folded-suffix dir — nothing has moved
            # into [lo*shards, hi*shards) yet in this phase
            for sd in list_split_dirs():
                base = os.path.join(data_dir, sd)
                for k in range(lo * shards, hi * shards):
                    p = os.path.join(base, f"shard={k}")
                    if os.path.isdir(p):
                        shutil.rmtree(p)
            intent["phase"] = "cleared"
            write_intent(intent)
        # (b) move the folded suffix in from tmp (src gone = already
        # moved by a crashed attempt)
        if os.path.isdir(tmp_dir):
            for sd in sorted(os.listdir(tmp_dir)):
                if not sd.startswith(f"{split_col}="):
                    continue
                tsd = os.path.join(tmp_dir, sd)
                for shard_dir in sorted(os.listdir(tsd)):
                    src = os.path.join(tsd, shard_dir)
                    dst = os.path.join(data_dir, sd, shard_dir)
                    if os.path.isdir(src) and not os.path.isdir(dst):
                        os.rename(src, dst)
        shard_rows = _layout_receipt(data_dir, split_col)
        if shard_rows != intent["expected_shard_rows"]:
            raise ValueError(
                "compaction receipt mismatch: expected "
                f"{intent['expected_shard_rows']}, found {shard_rows} "
                "— the tree was modified during/between compaction "
                "phases (concurrent writer?); restore from the packed "
                "tier"
            )
        if verify:
            _verify_recount(spark, data_dir, split_col, shard_rows)
        new_manifest = {
            **manifest,
            "generations": lo + 1,
            "layout": _layout_stamp(manifest) + 1,
            "shard_rows": shard_rows,
            "total_rows": sum(
                n for per in shard_rows.values() for n in per.values()
            ),
        }
        tmp = os.path.join(dest, "manifest.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(new_manifest, fh)
        os.replace(tmp, os.path.join(dest, "manifest.json"))
        os.remove(intent_path)
        if os.path.isdir(tmp_dir):
            shutil.rmtree(tmp_dir)
        return new_manifest

    if os.path.exists(intent_path):  # crashed phase 2: complete it
        with open(intent_path, encoding="utf-8") as fh:
            return finish(json.load(fh))
    if gens <= max_generations:
        return manifest

    # the fold boundary: per-generation on-disk bytes (pure metadata
    # walk), then extend the suffix down while it outweighs the next
    # older generation (the LSM merge rule)
    size = [0] * gens
    for sd in list_split_dirs():
        base = os.path.join(data_dir, sd)
        for d in os.listdir(base):
            if not d.startswith("shard="):
                continue
            g = int(d.split("=", 1)[1]) // shards
            p = os.path.join(base, d)
            size[g] += sum(
                e.stat().st_size
                for e in os.scandir(p)
                if e.is_file() and not e.name.startswith((".", "_"))
            )
    lo = max_generations - 1
    tail = sum(size[lo:])
    while lo > 0 and tail >= size[lo - 1]:
        lo -= 1
        tail += size[lo]

    # phase 1: re-rank the folded suffix into ONE generation at slot
    # lo, under the manifest seed, keeping the EXISTING split labels
    # (identical to a re-hash by growth stability, without
    # re-deriving them). One exchange over only the folded bytes.
    infer_key = (
        "spark.sql.sources.partitionColumnTypeInference.enabled"
    )
    infer_was = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        folded = spark.read.parquet(data_dir).filter(
            F.col("shard").cast("int") >= lo * shards
        )
        tombs = _load_tombstones(_loader_fs(None), dest)
        if tombs is not None:
            from pyspark.sql.types import StructField, StructType

            dead = spark.createDataFrame(
                [(t,) for t in sorted(tombs.to_pylist())],
                StructType(
                    [
                        StructField(
                            id_col, folded.schema[id_col].dataType
                        )
                    ]
                ),
            )
            folded = folded.join(
                F.broadcast(dead), id_col, "left_anti"
            )
        ordered = _ranked_shards(
            folded.drop("shard", "pos"),
            shards,
            manifest["seed"],
            id_col,
            extra_partition_cols=(split_col,),
            order_col=manifest.get("order_col"),
            order_desc=manifest.get("order_desc", False),
        ).withColumn(
            "shard", (F.col("shard") + lo * shards).cast("int")
        )
        if os.path.isdir(tmp_dir):  # crashed phase 1: overwrite
            shutil.rmtree(tmp_dir)
        (
            ordered.sortWithinPartitions(split_col, "shard", "pos")
            .write.mode("overwrite")
            .partitionBy(split_col, "shard")
            .parquet(tmp_dir)
        )
    finally:
        spark.conf.set(infer_key, infer_was)
    # expected final receipt: the untouched older generations'
    # manifest counts at their UNCHANGED ids + tmp's folded suffix
    expected: dict[str, dict[str, int]] = {}
    for sname, per in manifest["shard_rows"].items():
        for k, n in per.items():
            if int(k) < lo * shards:
                expected.setdefault(sname, {})[k] = n
    for sname, per in _layout_receipt(tmp_dir, split_col).items():
        expected.setdefault(sname, {}).update(per)
    intent = {
        "lo_gen": lo,
        "gen_before": gens,
        "expected_shard_rows": expected,
    }
    write_intent(intent)
    return finish(intent)


def _loader_fs(filesystem):
    """The pyarrow FileSystem the HOST-SIDE read path goes through —
    LocalFileSystem by default; pass S3FileSystem/GcsFileSystem (or
    any pyarrow.fs implementation) to stream shards straight off
    object storage with no POSIX mount (r12 — the write side stays
    Spark/POSIX; see write_training_shards)."""
    import pyarrow.fs as pa_fs

    return pa_fs.LocalFileSystem() if filesystem is None else filesystem


def _fs_ls(fs, path: str) -> list[str]:
    """Sorted base names of a directory's entries via the filesystem
    abstraction (never os.listdir — the path may not be POSIX)."""
    import pyarrow.fs as pa_fs

    return sorted(
        info.base_name
        for info in fs.get_file_info(pa_fs.FileSelector(path))
    )


def read_manifest(dest: str, filesystem=None) -> dict:
    import json
    import posixpath

    fs = _loader_fs(filesystem)
    with fs.open_input_file(
        posixpath.join(dest, "manifest.json")
    ) as fh:
        return json.loads(fh.read().decode("utf-8"))


def _split_visit(fs, dest, split_col, split, seed, epoch):
    """Resolve a split's directory and the epoch's SHARD VISIT ORDER
    — the one place this arithmetic lives, shared by the loader and
    `migrate_cursors` (a migration map is only correct if both sides
    slice the identical order). Partition dir names are
    Spark-escaped, so splits are matched by VALUE (a literal
    f"{split_col}={split}" path would miss e.g. 'train:v2'); the
    visit order is identity for epoch 0, else the (seed, epoch)
    permutation."""
    import posixpath
    from urllib.parse import unquote

    data_dir = posixpath.join(dest, "data")
    prefix = f"{split_col}="
    by_value = {
        unquote(d[len(prefix):]): d
        for d in _fs_ls(fs, data_dir)
        if d.startswith(prefix)
    }
    if split not in by_value:
        raise ValueError(
            f"no split {split!r} under {data_dir} "
            f"(have: {sorted(by_value)})"
        )
    split_dir = posixpath.join(data_dir, by_value[split])
    shard_ids = sorted(
        int(d.split("=", 1)[1])
        for d in _fs_ls(fs, split_dir)
        if d.startswith("shard=")
    )
    visit = (
        shard_ids
        if epoch == 0
        else _epoch_perm(shard_ids, f"{seed}|epoch={epoch}|shards")
    )
    return split_dir, visit


def _epoch_perm(items, key: str) -> list:
    """Deterministic seeded permutation of ``items`` — one
    ``random.Random(key)`` Fisher–Yates per call. The seed is a string
    (version-2 seeding hashes it with sha512), so the permutation is a
    pure function of the key: identical across runs, hosts, and
    processes — the property every epoch/rank coverage test pins."""
    import random

    out = list(items)
    random.Random(key).shuffle(out)
    return out


def _shard_file(fs, split_dir: str, shard: int) -> str:
    """THE parquet file of one (split, shard) directory — the writer's
    layout walk guarantees exactly one; a fragmented directory (layout
    mutated after the write) raises rather than voiding the order."""
    import posixpath

    d = posixpath.join(split_dir, f"shard={shard}")
    files = [
        f
        for f in _fs_ls(fs, d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    if len(files) != 1:
        raise ValueError(
            f"{d} holds {len(files)} parquet files — the written "
            "shard set is not a valid training order (was the "
            "directory modified after write_training_shards?)"
        )
    return posixpath.join(d, files[0])


def iter_training_order(
    dest: str,
    split: str = "train",
    cursor: tuple | None = None,
    batch_rows: int = 4096,
    epoch: int = 0,
    rank: int = 0,
    world_size: int = 1,
    consumed: dict | None = None,
    filesystem=None,
    prefetch_batches: int = 0,
):
    """The loader itself: yield ``(batch, (shard, pos,
    layout))`` pairs in the
    epoch's global order — pyarrow record batches read shard-file by
    shard-file on the consuming host (this is deliberately NOT a Spark
    job: a training loader is a sequential reader, and the writer
    already materialized the base order). The yielded cursor names the
    LAST row of the batch; persist it and pass it back to resume
    mid-epoch after a crash — resumption recomputes the same
    deterministic order and continues strictly after that row, never
    re-reading consumed rows (exactly-once delivery per epoch).

    ``epoch`` reshuffles WITHOUT rewriting the corpus (a reseeded
    ``write_training_shards`` run costs a full read+shuffle+write —
    100 TB per epoch; this costs exactly one read):

    - epoch 0 is the materialized base order bit-for-bit (ascending
      shards, ``pos`` order inside each — what the writer verified);
    - epoch e > 0 permutes three deterministic levels, each keyed on
      (manifest seed, epoch): the SHARD visit order, the ROW-GROUP
      visit order inside each shard file, and the row order inside
      each row group (the buffered block shuffle — the buffer is one
      parquet row group, so host memory stays one row group + one
      batch regardless of corpus size). Every (shard, pos) of the
      split appears exactly once per epoch; orders across epochs are
      decorrelated but each is a pure function of (seed, epoch).

    ``rank``/``world_size`` shard the epoch across a distributed
    trainer: rank r visits positions r, r+w, r+2w … of the epoch's
    shard visit order — per-rank streams are DISJOINT and their union
    is exactly the split (shards are hash-range uniform, so the
    assignment is row-balanced). Each rank keeps its OWN cursor; a
    cursor is only meaningful under the same (split, epoch, rank,
    world_size) — resuming one under different settings raises when
    the cursor shard falls outside the rank's assignment (and is
    otherwise the caller's contract to keep paired, exactly like the
    seed itself).

    Cursors are ``(shard, pos, layout)`` (r13): the manifest's
    LAYOUT STAMP — bumped by every structural change
    (`append_training_shards` and `compact_generations`) — rides
    every yielded cursor, and a resume raises when the stamp moved in
    between: a restructure changes the epoch's shard-visit
    permutation and the rank slices (both enumerate shard dirs), so
    silently resuming a stale cursor would skip or re-deliver rows
    and, under world_size > 1, break rank disjointness. The stamp is
    monotonic, so a bounded-compaction steady state whose GENERATION
    COUNT returns to the same value still invalidates (the counter a
    count-based binding would miss). The loud path: finish the epoch
    under the old layout, or restart the epoch (a read, not a
    rewrite). Legacy ``(shard, pos)`` 2-tuples are still accepted and
    resume WITHOUT the check.

    ``consumed`` (r13) is the WORLD-SIZE MIGRATION map from
    `migrate_cursors`: rows the OLD rank layout already delivered,
    expressed per shard ("done" shards + partial shards' last pos).
    It composes with, never replaces, this rank's own ``cursor``:
    shards before the cursor shard in visit order are skipped as
    always, the cursor shard resumes at the rank's OWN pos (the rank
    started from the migrated point, so its progress strictly
    contains it), and shards after it resume at the map's pos (or
    skip when fully consumed). Valid only for the exact (epoch,
    layout) it was derived at — mismatches raise. This works because
    the within-shard order is a pure function of (seed, epoch,
    shard) — never of rank or world_size — so whatever prefix an old
    rank consumed of a shard is a prefix of the SAME order any new
    rank reads; rescaling a trainer is therefore a cursor transform,
    not an epoch restart.

    ``prefetch_batches > 0`` runs the read a bounded number of
    batches ahead on a background thread (`_prefetched`) — IO/compute
    overlap for object-store reads; order, cursors, and exactly-once
    semantics are untouched (identical stream, asserted in tests).

    Rows tombstoned via `tombstone_training_shards` are filtered out
    of every batch (the read-side compliance-delete gate); cursors
    track the position consumed, so tombstones never move or strand a
    resume point. When `mask_training_sequences` has recorded
    doc-span masks, every batch additionally carries a
    ``masked_spans`` column (list<struct<start, len>>, null for clean
    rows) — the trainer zeroes those token ranges; rows still flow
    (r13).

    Filesystem contract: every path this reader touches goes through
    ``filesystem`` — a ``pyarrow.fs.FileSystem``, default
    LocalFileSystem (the POSIX-mount deployment,
    ``write_training_shards``'s write-side contract). Pass
    ``pyarrow.fs.S3FileSystem()``/``GcsFileSystem()`` to stream
    shards straight off object storage with no mount — the trainer
    host needs only this reader, never Spark (see SCALING.md
    §loader). Every epoch reads each shard's ONE parquet file
    through the same per-shard reader (`_iter_shard_permuted`), so
    a fragmented shard directory raises and every file handle is
    closed per shard, at epoch 0 as at any other."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if prefetch_batches < 0:
        raise ValueError(
            f"prefetch_batches must be >= 0, got {prefetch_batches}"
        )
    if prefetch_batches:
        yield from _prefetched(
            iter_training_order(
                dest,
                split,
                cursor=cursor,
                batch_rows=batch_rows,
                epoch=epoch,
                rank=rank,
                world_size=world_size,
                consumed=consumed,
                filesystem=filesystem,
            ),
            prefetch_batches,
        )
        return
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    if world_size < 1:
        raise ValueError(
            f"world_size must be >= 1, got {world_size}"
        )
    if not 0 <= rank < world_size:
        raise ValueError(
            f"rank must be in [0, world_size={world_size}), got {rank}"
        )
    fs = _loader_fs(filesystem)
    manifest = read_manifest(dest, filesystem)
    seed = manifest["seed"]
    layout = _layout_stamp(manifest)
    # retroactive removals (tombstone_training_shards): a read-side
    # gate over every yielded batch. The CURSOR tracks the position
    # CONSUMED (computed before the gate), so tombstones never move
    # or strand a resume point — a batch emptied by the gate is
    # simply not yielded and its region rides the next cursor.
    tomb_keys = _load_tombstones(fs, dest)
    # doc-span masks (r13): when dest/masks.parquet exists, EVERY
    # yielded batch carries a masked_spans column (null for clean
    # rows — a stable schema per run, never per-batch); the trainer
    # zeroes those token ranges out of the loss/attention. Rows still
    # flow, so positions/cursors/epochs are untouched.
    span_masks = _load_masks(fs, dest)
    id_col = manifest["id_col"]
    mask_keys = None
    if span_masks is not None:
        import pyarrow as pa

        mask_keys = pa.array(sorted(span_masks))

    def gate(batch):
        # both sidecars test membership the same way: pc.is_in over a
        # key array loaded once, cast once to the id column's type
        nonlocal tomb_keys, mask_keys
        ids = batch.column(id_col)
        if tomb_keys is not None:
            if tomb_keys.type != ids.type:
                tomb_keys = tomb_keys.cast(ids.type)
            dead = pc.is_in(ids, value_set=tomb_keys)
            if dead.true_count:
                batch = batch.filter(pc.invert(dead))
                ids = batch.column(id_col)
        if mask_keys is not None and batch.num_rows:
            if mask_keys.type != ids.type:
                mask_keys = mask_keys.cast(ids.type)
            batch = _attach_masks(batch, span_masks, id_col, mask_keys)
        return batch

    split_dir, visit = _split_visit(
        fs, dest, manifest["split_col"], split, seed, epoch
    )
    # this rank's round-robin slice of the visit order — disjoint
    # across ranks, union = the split, balanced because shards are
    # hash-range uniform
    mine = visit[rank::world_size]
    start_idx, start_pos = 0, None
    if cursor is not None:
        _e, c_shard, start_pos, _l = _parse_cursor(cursor, layout)
        if c_shard not in mine:
            raise ValueError(
                f"cursor shard {c_shard} is not assigned to rank "
                f"{rank}/{world_size} in epoch {epoch} — cursors are "
                "only valid under the (split, epoch, rank, world_size)"
                " they were yielded from"
            )
        start_idx = mine.index(c_shard)
    done_shards, partial = _consumed_frontier(consumed, epoch, layout)

    for idx in range(start_idx, len(mine)):
        shard = mine[idx]
        if idx == start_idx and start_pos is not None:
            # the rank's own progress strictly contains the migrated
            # point for its cursor shard — own pos wins
            after_pos = start_pos
        else:
            if shard in done_shards:
                continue  # fully delivered under the old layout
            after_pos = partial.get(shard)
        # Close BOTH the ParquetFile and the input stream it wraps
        # per shard (ADVICE r12 #4): a long multi-epoch run
        # (iter_epochs epochs=None) over S3/GCS would otherwise leak
        # one open object-store stream per shard per epoch.
        handle = fs.open_input_file(_shard_file(fs, split_dir, shard))
        pf = pq.ParquetFile(handle)
        try:
            yield from _iter_shard_permuted(
                pf, shard, after_pos, seed, epoch, batch_rows, gate,
                layout,
            )
        finally:
            pf.close()
            if not handle.closed:
                handle.close()


def _iter_shard_permuted(
    pf, shard, after_pos, seed, epoch, batch_rows, gate, layout,
):
    """One shard's stream in every epoch: the epoch's row-group visit
    order and in-row-group order, resuming strictly after
    ``after_pos`` when given (see iter_training_order — split out so
    the caller can close the file handle deterministically per
    shard). At epoch 0 both orders are the identity — the file's own
    pos order, no permutation drawn and no ``take``. pos is dense
    1..n in file order, so row group g covers the half-open pos
    range (cum[g], cum[g+1]] — the cursor's row group is recomputable
    from footer metadata alone."""
    import pyarrow as pa

    counts = [
        pf.metadata.row_group(g).num_rows
        for g in range(pf.num_row_groups)
    ]
    cum = [0]
    for n in counts:
        cum.append(cum[-1] + n)
    rg_visit = range(pf.num_row_groups)
    if epoch:
        rg_visit = _epoch_perm(
            rg_visit, f"{seed}|epoch={epoch}|shard={shard}|rgs"
        )
    start_rg_idx = 0
    if after_pos is not None:
        # locate the cursor row's group in THIS epoch's rg order
        g = next(
            (g for g in range(len(counts)) if cum[g + 1] >= after_pos),
            None,
        )
        if g is None:
            raise ValueError(
                f"cursor pos {after_pos} is past the end of shard "
                f"{shard} ({cum[-1]} rows) — the cursor does not "
                "belong to this shard set"
            )
        start_rg_idx = rg_visit.index(g)
    for rg_i in range(start_rg_idx, len(rg_visit)):
        g = rg_visit[rg_i]
        tbl = pf.read_row_group(g)
        if epoch:
            perm = _epoch_perm(
                range(tbl.num_rows),
                f"{seed}|epoch={epoch}|shard={shard}|rg={g}",
            )
            tbl = tbl.take(pa.array(perm, type=pa.int64()))
        if rg_i == start_rg_idx and after_pos is not None:
            # skip rows up to AND INCLUDING the cursor row, in the
            # recomputed within-group order (exactly-once resume)
            poss = tbl.column("pos").to_pylist()
            try:
                k = poss.index(after_pos)
            except ValueError:
                raise ValueError(
                    f"cursor pos {after_pos} not found in shard "
                    f"{shard} row group {g} — the cursor does not "
                    "belong to this shard set"
                ) from None
            tbl = tbl.slice(k + 1)
            if tbl.num_rows == 0:
                continue
        for batch in tbl.combine_chunks().to_batches(
            max_chunksize=batch_rows
        ):
            if batch.num_rows == 0:
                continue
            last = batch.column("pos")[batch.num_rows - 1].as_py()
            batch = gate(batch)
            if batch.num_rows == 0:
                continue
            yield batch, (shard, last, layout)


def _layout_stamp(manifest: dict) -> int:
    """THE read of a manifest's LAYOUT STAMP, the token every cursor
    and migration map binds to: bumped on every append AND compact.
    Pre-stamp manifests fall back to the generation count, which was
    a faithful stamp while appends were the only structural
    change."""
    return manifest.get("layout", manifest.get("generations", 1))


def _parse_cursor(cursor, layout=None, epoch_first=False, who="cursor"):
    """THE tuple-cursor parser: ``(shard, pos[, layout])``, or with
    ``epoch_first`` ``(epoch, shard, pos[, layout])`` (``None``:
    either, a 4-tuple leading with its epoch) — into ``(epoch |
    None, shard, pos, layout | None)``. A cursor without the layout
    stamp is a legacy cursor and resumes unchecked; a stamped one
    must match ``layout`` when given: an append or compaction
    changes the epoch's shard-visit permutation and the rank slices
    (both enumerate shard dirs), so a stale resume would silently
    skip or re-deliver rows."""
    c = tuple(cursor)
    if epoch_first is None:
        epoch_first = len(c) == 4
    epoch, rest = (c[0], c[1:]) if epoch_first else (None, c)
    if len(rest) not in (2, 3):
        raise ValueError(
            f"{who} has {len(c)} fields — expected (shard, pos[, "
            "layout])" + (" with a leading epoch" if epoch_first else "")
        )
    shard, pos, c_layout = (*rest, None)[:3]
    if layout is not None and c_layout is not None and c_layout != layout:
        raise ValueError(
            f"{who} was yielded at shard-set layout {c_layout} but the "
            f"set is now at layout {layout} — an append or compaction "
            "between checkpoint and resume changes the epoch's "
            "shard-visit permutation and rank slices, so resuming "
            "would silently skip or re-deliver rows; restart the "
            "epoch (a read) or finish it before restructuring"
        )
    return epoch, shard, pos, c_layout


def _map_in_epoch(consumed: dict | None, epoch: int) -> dict | None:
    """A `migrate_cursors` map iff it applies to ``epoch`` — a map
    is derived at one epoch and drops once the stream rolls past."""
    if consumed is not None and int(consumed.get("epoch", -1)) == epoch:
        return consumed
    return None


def _consumed_frontier(consumed: dict | None, epoch: int, layout: int):
    """THE consumed-map reader: ``(done shard ids, {shard: last
    delivered pos})`` of a `migrate_cursors` map, which is valid only
    for the exact (epoch, layout) it was derived at — a mismatch
    raises. No map reads as nothing delivered."""
    if consumed is None:
        return set(), {}
    if (
        int(consumed.get("epoch", -1)) != epoch
        or int(consumed.get("layout", -1)) != layout
    ):
        raise ValueError(
            f"consumed map was derived at epoch "
            f"{consumed.get('epoch')} / layout "
            f"{consumed.get('layout')} but this read is epoch "
            f"{epoch} / layout {layout} — migration maps are "
            "only valid for the exact epoch and shard-set "
            "layout they were computed from"
        )
    done = {int(s) for s in consumed.get("done", ())}
    partial = {
        int(s): int(p) for s, p in consumed.get("partial", {}).items()
    }
    return done, partial


def _roll_epochs(
    dest, split, epoch, inner, consumed, *, epochs, what,
    batch_rows, rank, world_size, filesystem, prefetch_batches,
):
    """THE multi-epoch loop behind `iter_epochs` and every
    `iter_mixture` component: yield ``(batch, (epoch, shard, pos,
    layout))`` from ``(epoch, inner cursor)`` on, rolling to epoch
    e+1 (inner cursor reset) once e's slice is exhausted, until
    ``epochs`` (None = forever). ``consumed`` applies only in the
    epoch it was derived at. A FRESH epoch (no inner cursor, no map)
    that yields nothing raises — an empty rank slice or fully
    tombstoned shards would otherwise spin forever; a resumed or
    mapped epoch may legitimately be empty (its remainder was
    already delivered)."""
    while epochs is None or epoch < epochs:
        m = _map_in_epoch(consumed, epoch)
        fresh = inner is None and m is None
        batch = None
        it = iter_training_order(
            dest,
            split,
            cursor=inner,
            batch_rows=batch_rows,
            epoch=epoch,
            rank=rank,
            world_size=world_size,
            consumed=m,
            filesystem=filesystem,
            prefetch_batches=prefetch_batches,
        )
        try:
            for batch, (shard, pos, layout) in it:
                yield batch, (epoch, shard, pos, layout)
        finally:
            it.close()
        if batch is None and fresh:
            raise ValueError(
                f"{what} yields no rows for split={split!r} under "
                f"rank {rank}/{world_size} epoch {epoch} — an empty "
                "rank slice (world_size > shard directories) or "
                "fully tombstoned shards can never feed a training "
                "loop"
            )
        inner = None
        epoch += 1


def iter_epochs(
    dest: str,
    split: str = "train",
    cursor: tuple | None = None,
    batch_rows: int = 4096,
    rank: int = 0,
    world_size: int = 1,
    epochs: int | None = None,
    consumed: dict | None = None,
    filesystem=None,
    prefetch_batches: int = 0,
):
    """Multi-epoch training loop over `iter_training_order`: yield
    ``(batch, (epoch, shard, pos, layout))`` — the composite
    cursor a trainer
    checkpoints ONCE, valid across epoch boundaries (the single-epoch
    cursor is only meaningful inside its epoch; callers previously had
    to bookkeep the epoch number themselves — README's old example).
    Resume with the last yielded cursor and the stream continues
    strictly after that row, finishing the cursor's epoch and then
    moving on; epoch e ends exactly when its last assigned row is
    yielded, so a resume AT an epoch's final row starts cleanly at
    epoch e+1. ``epochs`` bounds the loop (None = run forever — the
    deployment loop); each epoch's order, rank semantics, and
    exactly-once guarantees are `iter_training_order`'s, unchanged.
    Note rank assignment is PER EPOCH (the sliced visit order is the
    epoch's permutation), so a rank sees different shards — and a
    slightly different row count, within shard-size variance — each
    epoch: deliberate, it decorrelates what each worker reads across
    epochs; only the per-epoch UNION is invariant. A fresh epoch
    whose rank slice yields no rows raises instead of spinning.

    Cursors are ``(epoch, shard, pos, layout)`` (r13) — the
    single-epoch layout-stamp binding composed through: a resume
    after an `append_training_shards`/`compact_generations` raises
    instead of silently misreading the restructured set (see
    iter_training_order). Legacy ``(epoch, shard, pos)`` 3-tuples
    resume without the check.

    ``consumed`` (r13) re-enters the multi-epoch loop after a
    world-size migration: the `migrate_cursors` map applies to
    exactly the epoch it was derived at (the one a 4-tuple fleet
    cursor names) and is dropped the moment the loop rolls past it
    — including the edge where the rank's mapped-epoch remainder is
    EMPTY (every assigned shard done): the loop yields nothing for
    that epoch and moves on, which a hand-driven
    `iter_training_order(consumed=)` cannot do (no batch, no
    cursor to re-enter with)."""
    if epochs is not None and epochs < 1:
        raise ValueError(f"epochs must be >= 1 or None, got {epochs}")
    epoch, inner = 0, None
    if cursor is not None:
        epoch, *_rest = _parse_cursor(cursor, epoch_first=True)
        inner = tuple(cursor)[1:]
    yield from _roll_epochs(
        dest, split, epoch, inner, consumed, epochs=epochs,
        what=f"shard set {dest!r}", batch_rows=batch_rows, rank=rank,
        world_size=world_size, filesystem=filesystem,
        prefetch_batches=prefetch_batches,
    )


_MIXTURE_CURSOR_V = 1


def _check_mixture_cursor(cursor: dict, sig: str, why: str) -> None:
    """THE mixture-cursor check: the schema gate (absent ``v`` reads
    as version 1, every cursor this code ever wrote; a version from
    the future refuses loudly instead of silently misreading keys it
    does not know), then the fingerprint — a cursor whose ``sig`` is
    not the expected mixture's raises ``why``."""
    v = int(cursor.get("v", 1))
    if v > _MIXTURE_CURSOR_V:
        raise ValueError(
            f"mixture cursor is schema version {v} but this code "
            f"reads up to {_MIXTURE_CURSOR_V} — it was written by a "
            "newer release; resuming could silently drop state it "
            "carries (upgrade, or restart the stream)"
        )
    if cursor.get("sig") != sig:
        raise ValueError(why)


def _mixture_cursor(
    step, sig, states, tokens=None, served=None, consumed_sig=None
) -> dict:
    """THE mixture-cursor constructor (schema v1): ``{"v", "step", "sig",
    "states": {name: {"epoch", "cursor": [shard, pos, layout] |
    None}}}`` plus ``tokens`` / ``served`` / ``consumed_sig`` when
    the stream tracks them — JSON-serializable, one checkpoint for
    the whole mixture."""
    out = {
        "v": _MIXTURE_CURSOR_V,
        "step": step,
        "sig": sig,
        "states": {
            n: {
                "epoch": st["epoch"],
                "cursor": list(st["cursor"]) if st["cursor"] else None,
            }
            for n, st in states.items()
        },
    }
    if tokens is not None:
        out["tokens"] = tokens
    if served is not None:
        out["served"] = dict(served)
    if consumed_sig is not None:
        out["consumed_sig"] = consumed_sig
    return out


def _mixture_spec(components: dict, schedule: str):
    """Validate and normalize a mixture spec (shared by
    `iter_mixture` and `rebase_mixture_cursor`)."""
    import math

    if not components:
        raise ValueError("components must not be empty")
    if schedule not in ("stochastic", "exact"):
        raise ValueError(
            f"schedule must be 'stochastic' or 'exact', "
            f"got {schedule!r}"
        )
    names = list(components)
    dests, weights = {}, {}
    for name in names:
        dest, w = components[name]
        w = float(w)
        if not (w > 0 and math.isfinite(w)):
            raise ValueError(
                f"component {name!r} weight must be finite and > 0, "
                f"got {w}"
            )
        dests[name], weights[name] = dest, w
    return names, dests, weights, sum(weights.values())


def _mixture_idents(names, dests, split, filesystem):
    """Each component's shard-set CONTENT identity (never its path:
    corpora move between mounts) — seeds + split-level row layout. A
    rebuilt or swapped component under the same name almost always
    changes these, so a stale cursor raises at resume instead of
    epoch-0's pos-filter silently skipping or re-delivering rows
    against the wrong corpus. (Residual: two distinct corpora with
    identical seeds AND identical per-shard counts are
    indistinguishable — content hashing per resume would cost a full
    read.) Also the empty-component gate: a split with zero rows
    raises here. ONE manifest read per component — callers needing
    several sigs (per-rank, old-and-new specs) reuse the result."""
    idents = []
    for name in names:
        m = read_manifest(dests[name], filesystem)
        per_shard = m.get("shard_rows", {}).get(split, {})
        if sum(per_shard.values()) == 0:
            raise ValueError(
                f"component {name!r} has no rows in split {split!r} "
                f"({dests[name]}) — an empty component can never be "
                "scheduled"
            )
        idents.append(
            (
                name,
                m.get("seed"),
                m.get("split_seed"),
                m.get("id_col"),
                tuple(sorted((k, v) for k, v in per_shard.items())),
            )
        )
    return idents


def _mixture_sig(
    names, weights, total_w, split, seed, rank, world_size,
    schedule, idents,
):
    """The mixture cursor fingerprint: everything whose change would
    silently alter the schedule, the rank slices, or what the
    per-component cursors point into (see `_mixture_idents`)."""
    import hashlib

    return hashlib.md5(
        repr(
            (
                seed,
                split,
                [(n, weights[n] / total_w) for n in names],
                rank,
                world_size,
                schedule,
                idents,
            )
        ).encode()
    ).hexdigest()[:16]


def iter_mixture(
    components: dict,
    split: str = "train",
    cursor: dict | None = None,
    batch_rows: int = 4096,
    seed: str = "mix-v1",
    rank: int = 0,
    world_size: int = 1,
    max_steps: int | None = None,
    max_tokens: int | None = None,
    tokens_col: str = "n_tokens",
    schedule: str = "stochastic",
    consumed: dict | None = None,
    filesystem=None,
    prefetch_batches: int = 0,
):
    """Weighted multi-corpus training stream: sample batches from
    several materialized shard sets at READ time — the loader-side
    complement of `mixture_plan`/`mixture_sample` (operators/
    mixing.py), which bake a mixture into ONE corpus by rewriting it.
    Every production pre-train mixes domains this way (GPT-3's
    per-dataset weights with >1 epoch on the small high-quality sets,
    Brown et al. 2020 table 2.2; The Pile's per-subset epochs, Gao
    et al. 2020 table 1; LLaMA's sampling proportions, Touvron et al.
    2023 table 1) — and tunes the weights BETWEEN runs, which must be
    a loader-config change, not a 100-TB rewrite. Here each domain
    stays its own shard set; re-weighting costs nothing.

    ``components`` maps name -> (dest, weight): each dest a
    `write_training_shards` set (every loader feature — epochs,
    ranks, tombstones, masks, curriculum, generations — inherits
    unchanged, component by component). Weights are normalized;
    at step t the stream draws component c(t) with probability
    w_c — a PURE function of (seed, t) (`random.Random(key)`, the
    `_epoch_perm` convention), so the schedule needs no state and
    any step is recomputable. Yields ``(name, batch, cursor)``.

    ``schedule`` picks how draws track the weights:

    - ``"stochastic"`` (default): the i.i.d. draw above — proportions
      converge at the multinomial √t rate, adjacent runs of the same
      component occur at their natural frequency (what an i.i.d.
      sample of the merged corpus would look like).
    - ``"exact"``: the greedy minimal-error interleave (the
      Megatron-LM blendable-dataset rule): step t goes to the
      component maximizing w_c·(t+1) − served_c, ties to the earlier
      name, so every prefix's realized draw counts deviate from
      w_c·t by less than 1 — short runs and expensive-step regimes
      (big batches) hit the published weights exactly instead of
      eventually. Deterministic with no RNG at all; the per-component
      served counts ride the cursor (``served``).

    Sampling is per BATCH. With a fixed ``batch_rows`` over packed
    token sequences (constant tokens per row) that is per-TOKEN
    weighting up to the short tail batch each shard/row-group
    boundary emits — the deviation is O(components × shards /
    steps) and vanishes over a training run.

    Components CYCLE: when a component's epoch is exhausted it rolls
    to the next epoch (`iter_training_order(epoch=e+1)` — a reseeded
    read, never a rewrite), so small high-quality sets repeat while
    big ones may not finish epoch 0 — exactly the >1-epoch regime the
    published mixtures run. The per-component epoch counter rides the
    cursor; a component whose current (split, rank) slice yields NO
    rows raises instead of spinning (an all-tombstoned rank slice is
    a restructure signal, not an idle loop).

    The yielded ``cursor`` is one JSON-serializable checkpoint for
    the whole mixture: ``{"v": 1, "step": t, "sig": …, "states":
    {name: {"epoch": e, "cursor": [shard, pos, layout] | None}}}``
    (schema versioned — a deployment persists millions of these;
    cursors without ``v`` read as version 1, a version this code
    does not know refuses loudly instead of misreading) — resume
    by passing it back; every component continues strictly after its
    last consumed row and the schedule continues at step t+1
    (exactly-once end to end, each component's layout stamp checked
    by its own resume). ``sig`` fingerprints (seed, split, component
    names, normalized weights, rank, world_size): resuming under ANY
    change that would alter the schedule or the slices raises — the
    wrong-rank-cursor precedent, composed.

    ``consumed`` (fleet rescale, from `migrate_mixture_cursors`)
    maps component name -> the per-shard done/partial map
    `iter_training_order(consumed=)` takes: each component's stream
    starts from the OLD fleet's delivered frontier. A map applies
    only while the component is still in the epoch it was derived
    at — once the component rolls, fresh epochs read whole. A
    component whose mapped epoch is already fully delivered rolls
    over silently (that is a legitimate empty resume, not the
    empty-component error).

    ``rank``/``world_size`` shard every component's stream; every
    component therefore needs at least ``world_size`` shard
    directories (shards × generations) or some rank's slice of it is
    empty and the loader refuses (size ``shards=`` for the largest
    fleet the set will serve). All ranks
    run the SAME schedule (same seed ⇒ same component at step t), so
    the global mixture proportions are exactly the per-rank ones.
    ``max_steps`` bounds the stream at a total step budget (indices
    < max_steps, counted from stream start — a resumed run continues
    toward the same budget). ``max_tokens`` bounds it at a TOKEN
    budget — the unit training runs are actually planned in
    (Chinchilla-style compute budgets): the stream stops once the
    cumulative sum of ``tokens_col`` over yielded rows reaches the
    budget, slicing the final batch at the crossing ROW (so the
    overshoot is at most one row's tokens, and the yielded cursor
    names exactly the last delivered row — resume semantics
    unchanged). The cumulative count rides the cursor (``tokens``)
    and, once tracked, keeps accumulating even across a resumed leg
    that sets NO budget — the spent total survives mixed budgeted/
    unbudgeted legs, so a later ``max_tokens=`` resume counts
    against the truth; resuming a token-budgeted run continues
    toward the SAME budget, and a cursor that never tracked tokens
    is refused
    under ``max_tokens`` (count-from-zero would silently over-train;
    to grant "N more tokens" from such a checkpoint, set its
    ``tokens`` key to 0 explicitly). Null ``tokens_col`` values
    raise — a token budget over rows of unknown length is not a
    budget. Single-corpus runs wanting a token budget: pass ONE
    component. ``prefetch_batches`` applies per
    component; with several components the background readers overlap
    each other's consumption — the object-store design point."""
    import random

    names, dests, weights, total_w = _mixture_spec(
        components, schedule
    )
    cum, acc = [], 0.0
    for name in names:
        acc += weights[name] / total_w
        cum.append((acc, name))
    cum[-1] = (1.0, names[-1])  # close the float-sum gap
    sig = _mixture_sig(
        names, weights, total_w, split, seed, rank,
        world_size, schedule,
        _mixture_idents(names, dests, split, filesystem),
    )

    served = {n: 0 for n in names}
    if cursor is None:
        step, tok = 0, 0
        states = {n: {"epoch": 0, "cursor": None} for n in names}
    else:
        _check_mixture_cursor(
            cursor,
            sig,
            "mixture cursor was yielded under a different "
            "mixture — (seed, split, components, weights, rank, "
            "world_size, schedule) or a component's shard-set "
            "identity (rebuilt / restructured / swapped dest) "
            "changed; resuming would silently alter the "
            "schedule, the rank slices, or what the per-"
            "component cursors point into. Cursors are only "
            "valid under the exact mixture they were yielded "
            "from — after a component restructure, restart the "
            "epoch (a read, never a rewrite).",
        )
        if "consumed_sig" in cursor and (
            consumed is None
            or _consumed_sig(consumed) != cursor["consumed_sig"]
        ):
            raise ValueError(
                "this cursor depends on a rescale bundle "
                "(consumed_sig) that was not passed (or does not "
                "match) — resuming without it would silently "
                "re-read rows the pre-rescale fleet already "
                "delivered; pass the bundle returned by "
                "migrate_mixture_cursors as consumed="
            )
        step = int(cursor["step"]) + 1
        if max_tokens is not None and "tokens" not in cursor:
            raise ValueError(
                "max_tokens is set but the cursor never tracked "
                "tokens — resuming would count from zero and "
                "silently over-train; resume the run that yielded "
                "it without a budget, or set the cursor's 'tokens' "
                "key explicitly to grant a fresh budget"
            )
        tok = int(cursor.get("tokens", 0))
        if schedule == "exact":
            # sig pins the schedule, so an exact-mode cursor always
            # carries its served counts
            served = {n: int(c) for n, c in cursor["served"].items()}
        states = {
            n: {
                "epoch": int(s["epoch"]),
                "cursor": tuple(s["cursor"]) if s["cursor"] else None,
            }
            for n, s in cursor["states"].items()
        }
    # once a stream tracks tokens, it tracks them FOREVER: a cursor
    # that carries "tokens" keeps accumulating even when the resumed
    # call sets no budget, so the spent count survives a budget-less
    # leg and a later max_tokens= run resumes against the true total
    # instead of refusing (or worse, restarting from zero)
    track_tokens = max_tokens is not None or (
        cursor is not None and "tokens" in cursor
    )
    if max_tokens is not None and tok >= max_tokens:
        return

    consumed = consumed or {}
    bundle_sig = _consumed_sig(consumed) if consumed else None
    its = {
        n: _roll_epochs(
            dests[n], split, states[n]["epoch"], states[n]["cursor"],
            consumed.get(n), epochs=None, what=f"component {n!r}",
            batch_rows=batch_rows, rank=rank, world_size=world_size,
            filesystem=filesystem, prefetch_batches=prefetch_batches,
        )
        for n in names
    }

    def pick(t: int) -> str:
        if schedule == "exact":
            # greedy minimal-error interleave: |served_c - w_c*t| < 1
            # for every prefix; ties break to the earlier name
            best, best_err = None, None
            for n in names:
                err = (weights[n] / total_w) * (t + 1) - served[n]
                if best is None or err > best_err:
                    best, best_err = n, err
            return best
        u = random.Random(f"{seed}|step={t}").random()
        for edge, name in cum:
            if u < edge:
                return name
        return names[-1]

    try:
        while max_steps is None or step < max_steps:
            name = pick(step)
            batch, (epoch, shard, pos, layout) = next(its[name])
            done = False
            if track_tokens:
                if tokens_col not in batch.schema.names:
                    raise ValueError(
                        f"token tracking needs a {tokens_col!r} "
                        f"column in component {name!r}'s batches "
                        "(token-id shard sets carry n_tokens; pass "
                        "tokens_col= for another name)"
                    )
                counts = batch.column(tokens_col)
                if counts.null_count:
                    raise ValueError(
                        f"{tokens_col!r} holds nulls in component "
                        f"{name!r} — a token budget over rows of "
                        "unknown length is not a budget"
                    )
                import numpy as np

                csum = np.cumsum(
                    counts.to_numpy(zero_copy_only=False)
                )
                if (
                    max_tokens is not None
                    and tok + int(csum[-1]) >= max_tokens
                ):
                    # slice at the crossing row; the cursor must
                    # name the LAST DELIVERED row, so rebind pos
                    # (the rest of this batch re-delivers on a
                    # post-budget resume)
                    k = (
                        int(np.searchsorted(csum, max_tokens - tok))
                        + 1
                    )
                    if k < batch.num_rows:
                        batch = batch.slice(0, k)
                        pos = batch.column("pos")[k - 1].as_py()
                    done = True
                    tok += int(csum[k - 1])
                else:
                    tok += int(csum[-1])
            served[name] += 1
            states[name] = {
                "epoch": epoch,
                "cursor": (shard, pos, layout),
            }
            # a component still inside its mapped epoch needs the
            # rescale bundle to resume — bind it to the checkpoint;
            # once every component rolls past, cursors stand alone
            mapped = any(
                _map_in_epoch(consumed.get(n), states[n]["epoch"])
                is not None
                for n in names
            )
            snap = _mixture_cursor(
                step,
                sig,
                states,
                tokens=tok if track_tokens else None,
                served=served if schedule == "exact" else None,
                consumed_sig=bundle_sig if mapped else None,
            )
            yield name, batch, snap
            if done:
                return
            step += 1
    finally:
        # deterministic teardown on EVERY exit (budget stop,
        # max_steps, abandon, error): close each component's
        # iterator so suspended shard handles and prefetch producers
        # shut down now, not at GC/process exit
        for it in its.values():
            it.close()


def rebase_mixture_cursor(
    cursor: dict,
    old_components: dict,
    new_components: dict,
    split: str = "train",
    seed: str = "mix-v1",
    rank: int = 0,
    world_size: int = 1,
    schedule: str = "stochastic",
    filesystem=None,
) -> dict:
    """Retune a running mixture's WEIGHTS without losing position —
    the DoReMi/online-mixing move (weights are revised from observed
    signal mid-train), as a checkpoint transform instead of cursor
    surgery. A mixture's per-component states (epoch counters, inner
    shard cursors) stay exactly-once-valid when only the weights
    change — it is the SCHEDULE that restarts — so this: verifies
    ``cursor`` belongs to the mixture described by
    ``old_components`` (+ the shared seed/split/rank/schedule args;
    the same sig check a resume runs), requires ``new_components``
    to keep the same component names over the same shard sets (only
    weights may differ — repointing a name at different data is the
    rebuild hazard the sig exists to catch), and returns a
    stream-START checkpoint under the new weights whose components
    are already mid-epoch: step restarts at 0, exact-mode served
    counts reset (the new weights' <1-per-prefix bound starts
    fresh), the spent-token total carries over (a later
    ``max_tokens=`` still counts against the truth), and the sig is
    recomputed so old and new cursors can never cross. Each rank
    rebases its own cursor with its own ``rank=``."""
    names, dests, weights, total_w = _mixture_spec(
        old_components, schedule
    )
    idents = _mixture_idents(names, dests, split, filesystem)
    old_sig = _mixture_sig(
        names, weights, total_w, split, seed, rank,
        world_size, schedule, idents,
    )
    _check_mixture_cursor(
        cursor,
        old_sig,
        "cursor does not belong to the mixture described by "
        "old_components (+ seed/split/rank/world_size/schedule) "
        "— rebase must start from the exact mixture the cursor "
        "was yielded under",
    )
    n_names, n_dests, n_weights, n_total = _mixture_spec(
        new_components, schedule
    )
    if list(n_names) != list(names) or any(
        n_dests[n] != dests[n] for n in names
    ):
        raise ValueError(
            "rebase changes only WEIGHTS: new_components must keep "
            "the same component names over the same shard sets "
            "(add/remove/repoint is a new mixture — start it fresh; "
            "the carried positions would be meaningless)"
        )
    new_sig = _mixture_sig(
        n_names, n_weights, n_total, split, seed, rank,
        world_size, schedule, idents,  # same sets: idents reuse
    )
    return _mixture_cursor(
        -1,  # resume adds 1: the new schedule starts at 0
        new_sig,
        cursor["states"],
        tokens=int(cursor["tokens"]) if "tokens" in cursor else None,
        served={n: 0 for n in names} if schedule == "exact" else None,
        # positions still depend on the rescale bundle — the retuned
        # stream needs it just as much
        consumed_sig=cursor.get("consumed_sig"),
    )


def _consumed_sig(bundle: dict) -> str:
    """Fingerprint of a migration bundle (single map or per-component
    dict) — stamped into the cursors that depend on it, so a resume
    that forgets the bundle (or brings the wrong one) raises instead
    of silently re-reading the old fleet's delivered prefixes."""
    import hashlib
    import json

    return hashlib.md5(
        json.dumps(bundle, sort_keys=True).encode()
    ).hexdigest()[:16]


def migrate_mixture_cursors(
    cursors,
    components: dict,
    world_size_new: int,
    split: str = "train",
    seed: str = "mix-v1",
    schedule: str = "stochastic",
    consumed: dict | None = None,
    filesystem=None,
) -> tuple:
    """Rescale a MIXTURE fleet: compose `migrate_cursors` per
    component with a schedule restart — the rank-rescale move and
    the weight-retune move, unified. ``cursors`` is the old fleet's
    composite mixture cursors indexed by rank (length = old world
    size; None for a rank that consumed nothing); each is verified
    against its own rank's fingerprint, so a cursor from a different
    mixture (or slotted under the wrong rank) is refused. Every
    component must sit in the SAME epoch on every old rank — near an
    epoch boundary a synchronous fleet can briefly straddle (slices
    exhaust at slightly different draws); take one more checkpoint
    past the boundary or restart the epoch (a read).

    Returns ``(new_cursors, consumed)``: per-new-rank stream-START
    mixture cursors (schedule at step 0, exact-mode served counts
    zeroed, components already mid-epoch) plus ONE shared
    ``consumed`` bundle — component name -> per-shard done/partial
    map — that every new rank passes as
    ``iter_mixture(consumed=...)``. Union-exactness inherits from
    `migrate_cursors` component by component: the new fleet's
    streams deliver exactly each component's undelivered remainder
    of its current epoch, then roll on as always.

    The returned cursors are STAMPED with the bundle's fingerprint
    (``consumed_sig``): resuming one without passing the bundle — or
    with a different bundle — raises, because the bundle IS part of
    the stream's definition until every component rolls past its
    mapped epoch. Rescaling a fleet that was itself already rescaled
    in the same epoch: pass the prior bundle as ``consumed`` so each
    component's earlier frontier carries into the new maps
    (`migrate_cursors`' chained-rescale merge, per component; a
    component that rolled past its prior map drops it).

    Per-rank spent-token counters do NOT survive a rescale (they are
    per-stream; dividing a fleet total across a different rank count
    is budget policy, not bookkeeping) — the returned cursors carry
    no ``tokens`` key; re-grant per-rank budgets from the trainer's
    own ledger."""
    world_size_old = len(cursors)
    if world_size_new < 1:
        raise ValueError(
            f"world_size_new must be >= 1, got {world_size_new} — "
            "an empty new fleet would silently strand the epoch "
            "remainder"
        )
    names, dests, weights, total_w = _mixture_spec(
        components, schedule
    )
    # ONE manifest read per component; every per-rank sig reuses it
    # (a 512→1024-rank rescale is thousands of redundant reads
    # otherwise)
    idents = _mixture_idents(names, dests, split, filesystem)
    live = [
        (r, cur) for r, cur in enumerate(cursors) if cur is not None
    ]
    if not live:
        raise ValueError(
            "every old rank consumed nothing — there is nothing to "
            "migrate; start the new fleet fresh"
        )
    for r, cur in live:
        _check_mixture_cursor(
            cur,
            _mixture_sig(
                names, weights, total_w, split, seed, r,
                world_size_old, schedule, idents,
            ),
            f"rank {r} cursor does not belong to this mixture "
            f"at rank {r}/{world_size_old} — cursors must be "
            "passed in rank order under the exact (components, "
            "weights, seed, split, schedule) they were yielded "
            "from",
        )
    needs_prior = {
        cur["consumed_sig"] for _r, cur in live if "consumed_sig" in cur
    }
    if needs_prior:
        if len(needs_prior) > 1:
            raise ValueError(
                "old cursors carry different rescale-bundle "
                "fingerprints — they are not one fleet"
            )
        if consumed is None or _consumed_sig(consumed) not in needs_prior:
            raise ValueError(
                "the old fleet was itself running under a rescale "
                "bundle (cursors carry consumed_sig) — pass that "
                "bundle as consumed= so each component's earlier "
                "frontier carries into the new maps; omitting it "
                "would re-deliver the original fleet's rows"
            )
    epochs = {}
    for n in names:
        per_rank = {
            r: int(cur["states"][n]["epoch"]) for r, cur in live
        }
        if len(set(per_rank.values())) != 1:
            raise ValueError(
                f"component {n!r} straddles an epoch boundary "
                f"across the old fleet ({per_rank}) — checkpoint "
                "once more past the boundary, or restart the epoch"
            )
        epochs[n] = next(iter(per_rank.values()))
    bundle = {}
    for n in names:
        inners = [None] * world_size_old
        for r, cur in live:
            c = cur["states"][n]["cursor"]
            inners[r] = tuple(c) if c else None
        # a component that rolled past its prior map drops it
        prior = _map_in_epoch((consumed or {}).get(n), epochs[n])
        bundle[n] = migrate_cursors(
            dests[n],
            inners,
            world_size_old,
            split=split,
            epoch=epochs[n],
            consumed=prior,
            filesystem=filesystem,
        )
    bundle_sig = _consumed_sig(bundle)
    # the bundle is part of these cursors' meaning: a resume without
    # it (or with a different one) raises instead of silently
    # re-reading the old fleet's delivered prefixes
    new_cursors = [
        _mixture_cursor(
            -1,  # resume adds 1: the schedule restarts
            _mixture_sig(
                names, weights, total_w, split, seed, r,
                world_size_new, schedule, idents,
            ),
            {n: {"epoch": epochs[n], "cursor": None} for n in names},
            served={n: 0 for n in names} if schedule == "exact" else None,
            consumed_sig=bundle_sig,
        )
        for r in range(world_size_new)
    ]
    return new_cursors, bundle


def migrate_cursors(
    dest: str,
    cursors,
    world_size: int,
    split: str = "train",
    epoch: int | None = None,
    consumed: dict | None = None,
    filesystem=None,
) -> dict:
    """Rescale a distributed trainer WITHOUT restarting the epoch:
    turn the per-rank cursors of an old ``world_size`` into one
    ``consumed`` map that any rank of a NEW world size passes to
    `iter_training_order(consumed=)` — the union of the new ranks'
    streams is then exactly the epoch's undelivered remainder, still
    disjoint, still exactly-once.

    Pure manifest arithmetic, no data read: the epoch's shard visit
    order depends only on (manifest seed, epoch) and the
    within-shard order only on (seed, epoch, shard) — world_size
    merely SLICES the visit order — so an old rank's cursor
    (shard, pos, layout) says precisely "every shard before `shard`
    in my slice is fully delivered; `shard` is delivered up to
    `pos` in the shared within-shard order". Collecting that across
    ranks gives a per-shard done/partial map that is meaningful
    under ANY slicing.

    ``cursors`` is the old ranks' last checkpoints, indexed by rank
    (a list/tuple of length ``world_size``; None for a rank that had
    consumed nothing). 3-tuples need ``epoch=``; 4-tuple
    `iter_epochs` cursors carry their epoch — all ranks must be IN
    the same epoch (a mid-boundary fleet, with some ranks already
    rolled over, has no single well-defined remainder: finish the
    boundary first or restart the cheap read). Layout stamps must
    be uniform and current — the append/compact protection composes
    through migration unchanged.

    RESCALING A RESCALE: when the old fleet was itself running under
    a migration map, pass that map as ``consumed`` — its frontier
    for the shards the old fleet had NOT yet reached must carry into
    the new map, or those shards' previously-delivered prefixes
    would be silently re-read. The merge is per shard: the old
    fleet's progress wins wherever it reached (it resumed FROM the
    prior frontier, so it is strictly further); the prior map stands
    everywhere else. The returned map is therefore always the
    complete delivered frontier of the epoch, no matter how many
    rescales preceded it."""
    if len(cursors) != world_size:
        raise ValueError(
            f"need one cursor slot per old rank: got {len(cursors)} "
            f"for world_size={world_size} (use None for a rank that "
            "consumed nothing)"
        )
    manifest = read_manifest(dest, filesystem)
    layout = _layout_stamp(manifest)
    norm = []
    for r, cur in enumerate(cursors):
        if cur is None:
            norm.append(None)
            continue
        e, shard, pos, c_layout = _parse_cursor(
            cur, layout, epoch_first=None, who=f"rank {r} cursor"
        )
        if c_layout is None:
            raise ValueError(
                f"rank {r} cursor carries no layout stamp — expected "
                "(shard, pos, layout) or (epoch, shard, pos, layout)"
            )
        if e is not None:
            if epoch is None:
                epoch = int(e)
            elif int(e) != epoch:
                raise ValueError(
                    f"rank {r} cursor is in epoch {e} but the "
                    f"migration is for epoch {epoch} — the fleet "
                    "straddles an epoch boundary; finish it or "
                    "restart the epoch read"
                )
        norm.append((int(shard), int(pos)))
    if epoch is None:
        raise ValueError(
            "epoch= is required with (shard, pos, layout) cursors "
            "(they do not carry it; it is part of their contract)"
        )

    fs = _loader_fs(filesystem)
    _split_dir, visit = _split_visit(
        fs, dest, manifest["split_col"], split, manifest["seed"], epoch
    )
    # chained rescale: start from the prior frontier — the old fleet
    # ran ON TOP of it, so its progress supersedes the prior map only
    # where it reached
    done, partial = _consumed_frontier(consumed, epoch, layout)
    for r, cur in enumerate(norm):
        if cur is None:
            continue
        shard, pos = cur
        mine = visit[r::world_size]
        if shard not in mine:
            raise ValueError(
                f"rank {r} cursor shard {shard} is not assigned to "
                f"rank {r}/{world_size} in epoch {epoch} — cursors "
                "are only valid under the (split, epoch, rank, "
                "world_size) they were yielded from"
            )
        idx = mine.index(shard)
        # the fleet's progress supersedes any prior frontier where
        # it reached: shards behind its cursor are done (drop a
        # stale prior partial), its cursor shard moved to its pos
        # (>= the prior pos it resumed from)
        done.update(mine[:idx])
        for s in mine[:idx]:
            partial.pop(s, None)
        partial[int(shard)] = int(pos)
    partial = {s: p for s, p in partial.items() if s not in done}
    return {
        "epoch": int(epoch),
        "layout": int(layout),
        "done": sorted(done),
        "partial": {str(s): p for s, p in partial.items()},
    }


class LoaderTelemetry:
    """Rate and stall observability for any loader stream — the
    cursor records POSITION; this measures RATE, which is
    what a 3am stall hunt actually needs. Wrap a stream and read
    `snapshot()` on any cadence:

        tel = LoaderTelemetry()
        for name, batch, cur in tel.wrap(iter_mixture(...)):
            train_step(batch)          # consumer time, attributed
        print(tel.snapshot())

    Per component (mixture streams are keyed by their yielded name;
    single-set streams land under "_"): batches, rows, loader-side
    wall (time blocked inside the stream — IO, decode, the gates),
    consumer-side wall (time between yields — the training step),
    rows/s over the combined window, and ``io_wait_frac`` =
    loader wall / total — ~0 means the trainer is compute-bound
    (healthy), ~1 means it is starved by the read path (raise
    ``prefetch_batches``, check the object store). Pure
    perf_counter bookkeeping on the consuming host; the stream's
    items, order, and cursors pass through untouched."""

    def __init__(self) -> None:
        self._per: dict = {}

    def _acc(self, key: str, rows: int, wait_s: float, consume_s: float):
        a = self._per.setdefault(
            key,
            {"batches": 0, "rows": 0, "wait_s": 0.0, "consume_s": 0.0},
        )
        a["batches"] += 1
        a["rows"] += rows
        a["wait_s"] += wait_s
        a["consume_s"] += consume_s

    def wrap(self, stream):
        import time

        it = iter(stream)
        while True:
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                return
            wait = time.perf_counter() - t0
            if (
                isinstance(item, tuple)
                and len(item) == 3
                and isinstance(item[0], str)
            ):  # mixture stream: (name, batch, cursor)
                key, batch = item[0], item[1]
            else:  # loader stream: (batch, cursor)
                key, batch = "_", item[0]
            t_yield = time.perf_counter()
            yield item
            # the consumer's work happens INSIDE the yield
            # suspension — this resumes when it asks for the next
            # batch (an abandoned stream skips the last accrual)
            self._acc(
                key,
                batch.num_rows,
                wait,
                time.perf_counter() - t_yield,
            )

    def snapshot(self) -> dict:
        out = {}
        t_rows = t_wait = t_consume = 0.0
        t_batches = 0
        for key, a in sorted(self._per.items()):
            total = a["wait_s"] + a["consume_s"]
            out[key] = {
                "batches": a["batches"],
                "rows": a["rows"],
                "loader_s": round(a["wait_s"], 4),
                "consumer_s": round(a["consume_s"], 4),
                "rows_per_s": round(a["rows"] / total) if total else None,
                "io_wait_frac": (
                    round(a["wait_s"] / total, 4) if total else None
                ),
            }
            t_rows += a["rows"]
            t_wait += a["wait_s"]
            t_consume += a["consume_s"]
            t_batches += a["batches"]
        total = t_wait + t_consume
        return {
            "components": out,
            "batches": t_batches,
            "rows": int(t_rows),
            "rows_per_s": round(t_rows / total) if total else None,
            "io_wait_frac": round(t_wait / total, 4) if total else None,
        }


def tombstone_training_shards(dest: str, ids) -> dict:
    """Retroactively REMOVE rows from a materialized shard set without
    rewriting a byte of it — the trainer-boundary form of this repo's
    index delete tiers (PostingIndex/VectorIndex/MinHashIndex
    tombstones): merge ``ids`` (values of the manifest's ``id_col``)
    into ``dest/tombstones.parquet`` (tmp + atomic rename; repeat
    calls union). `iter_training_order` then filters tombstoned rows
    out of every batch — epoch order, cursors, rank slicing, and
    resume semantics are untouched because positions never move (the
    cursor tracks the position CONSUMED, not the rows yielded, so a
    batch whose tail was tombstoned still advances past it).

    This is the compliance-delete path: the set is read into host
    memory by the loader, so it is sized for targeted removals
    (opt-outs, contamination discoveries — thousands to millions of
    ids), not corpus-scale filtering; bulk re-curation is a fresh
    `write_training_shards` run by design. The removal is a READ-side
    gate — the bytes remain on disk until the set is next rewritten;
    for storage-level erasure, rewrite. Returns
    ``{"tombstones": total, "added": newly added}``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    manifest = read_manifest(dest)  # proves dest IS a shard set
    new_ids = set(ids)
    if not new_ids:
        raise ValueError("ids is empty — nothing to tombstone")
    path = os.path.join(dest, "tombstones.parquet")
    existing: set = set()
    if os.path.exists(path):
        existing = set(pq.read_table(path).column("id").to_pylist())
    merged = sorted(existing | new_ids)
    tmp = path + ".tmp"
    pq.write_table(pa.table({"id": merged}), tmp)
    os.replace(tmp, path)
    return {
        "id_col": manifest["id_col"],
        "tombstones": len(merged),
        "added": len(merged) - len(existing),
    }


def _load_tombstones(fs, dest: str):
    """The tombstone id array (None when none exist) — read through
    the loader's filesystem abstraction like everything else
    host-side."""
    import posixpath

    import pyarrow.fs as pa_fs
    import pyarrow.parquet as pq

    path = posixpath.join(dest, "tombstones.parquet")
    if fs.get_file_info(path).type == pa_fs.FileType.NotFound:
        return None
    with fs.open_input_file(path) as fh:
        return pq.ParquetFile(fh).read().column("id").combine_chunks()


class TrainingShardSet:
    """The trainer boundary as a DELETE TARGET under the same
    duck-typed contract the serving indexes expose
    (``delete(ids_df, batch_key=...)`` — PostingIndex / VectorIndex /
    MinHashIndex), so `operators.decontaminate.decontaminate_index`
    retroactively decontaminates a SHARD SET exactly the way it
    tombstones a retrieval index: a benchmark that lands after the
    corpus was materialized flags overlapping ids, and the flagged
    ids become loader tombstones (`tombstone_training_shards`) — no
    shard file rewritten, every epoch/rank/cursor untouched.

    ``ids_df``'s single column must be in the manifest ``id_col``
    domain. For a seq_uid-keyed set (the publish_shards output), map
    document-level findings to sequences first with
    `sequences_containing` — removing the WHOLE sequence is the
    conservative compliance action (the sequence is the delivery
    unit). When the goal is decontamination with minimal retention
    loss, use `mask` instead (r13): it takes DOCUMENT ids directly
    and records doc-span masks, keeping every packed neighbor.

    Batch-key idempotency mirrors the index contract: a replay of the
    same key short-circuits to 0 (keys persist in
    ``dest/tombstone_keys.json``); a new benchmark/key tombstones
    only the not-yet-dead ids (`tombstone_training_shards` unions).
    The flagged set is collected driver-side — bounded by
    contamination volume, the same bound the tombstone gate itself
    documents."""

    def __init__(self, spark, dest: str) -> None:
        self.spark = spark
        self.dest = dest
        self.id_col = read_manifest(dest)["id_col"]

    def _keys_path(self) -> str:
        import os

        return os.path.join(self.dest, "tombstone_keys.json")

    def delete(self, ids_df: DataFrame, batch_key: str) -> int:
        import json
        import os

        path = self._keys_path()
        keys: list[str] = []
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                keys = json.load(fh)
        if batch_key in keys:
            return 0
        ids = [
            r[0]
            for r in ids_df.select(ids_df.columns[0])
            .distinct()
            .collect()
        ]
        added = 0
        if ids:
            added = tombstone_training_shards(self.dest, ids)["added"]
        keys.append(batch_key)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(keys, fh)
        os.replace(tmp, path)
        return added

    def mask(
        self,
        doc_ids_df: DataFrame,
        batch_key: str,
        doc_col: str = "doc_id",
    ) -> int:
        """Retention-preserving twin of `delete` (r13): record the
        contaminated DOCUMENTS' doc-span masks
        (`mask_training_sequences`) instead of tombstoning whole
        sequences — packed neighbors keep training (SCALING.md
        §masking: whole-sequence removal costs ~36x the contaminated
        tokens at 2048-token budgets). Takes DOCUMENT ids (the
        finding's natural key — no `sequences_containing` mapping
        step), idempotent per ``batch_key`` via ``mask_keys.json``
        (the delete ledger pattern; the two ledgers are separate —
        the same benchmark may first mask, later escalate to
        delete). Returns the number of sequences whose mask set
        GREW (0 on a replayed key)."""
        import json
        import os

        path = os.path.join(self.dest, "mask_keys.json")
        keys: list[str] = []
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                keys = json.load(fh)
        if batch_key in keys:
            return 0
        receipt = mask_training_sequences(
            self.spark, self.dest, doc_ids_df, doc_col=doc_col
        )
        keys.append(batch_key)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(keys, fh)
        os.replace(tmp, path)
        return receipt["changed"]


def sequences_containing(
    spark,
    dest: str,
    doc_ids: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """seq_uids of every sequence in the shard set whose ``doc_spans``
    include one of ``doc_ids`` — the document→sequence mapping for
    retroactive removals from a publish_shards-style set. One scan of
    the shard set (the honest minimum: span membership lives in the
    rows) with a span explode + broadcast semi-join; output is
    contamination-bounded. Feed the result to
    ``TrainingShardSet.delete``."""
    import os

    id_col = read_manifest(dest)["id_col"]
    rows = spark.read.parquet(os.path.join(dest, "data"))
    return (
        rows.select(id_col, F.explode("doc_spans").alias("_s"))
        .select(id_col, F.col(f"_s.{doc_col}").alias(doc_col))
        .join(
            F.broadcast(doc_ids.select(doc_col).distinct()),
            doc_col,
            "semi",
        )
        .select(id_col)
        .distinct()
    )


def mask_training_sequences(
    spark,
    dest: str,
    doc_ids: DataFrame,
    doc_col: str = "doc_id",
) -> dict:
    """Retention-optimizing alternative to whole-sequence removal
    (r13 — VERDICT r12 #5: measured on the sf0.1-sf10 corpora, whole-
    sequence removal at 2048-token pack budgets costs ~36x the
    contaminated tokens — 3.6% of the corpus at 0.1% doc
    contamination, 17% at 0.5% (SCALING.md §masking) — because a
    sequence packs every neighbor of a contaminated document):
    instead of tombstoning the seq_uids `sequences_containing`
    flags, record the contaminated documents' EXACT token spans
    (the ``doc_spans`` boundaries `assemble_token_sequences` already
    materializes) in a ``dest/masks.parquet`` sidecar;
    `iter_training_order` then attaches a ``masked_spans`` column —
    the trainer zeroes those positions out of the loss/attention
    (it already masks across doc_spans boundaries, so the plumbing
    is one more span source) and every packed NEIGHBOR survives.

    One scan of the shard set (span membership lives in the rows),
    explode + broadcast join, output bounded by contamination volume
    (the tombstone collect bound). Repeat calls MERGE per sequence
    (span-set union — two benchmarks masking the same sequence
    compose). Positions, cursors, epochs, ranks, and shard files are
    untouched: masking is metadata the read path carries, the row
    still flows.

    Use `tombstone_training_shards` (via `sequences_containing` /
    `TrainingShardSet.delete`) when the WHOLE sequence must go
    (compliance deletes); use this when the goal is decontamination
    with minimal retention loss. Returns
    ``{"masked_sequences": total, "masked_spans": total spans}``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    id_col = read_manifest(dest)["id_col"]
    rows = spark.read.parquet(os.path.join(dest, "data"))
    if "doc_spans" not in rows.columns:
        raise ValueError(
            f"shard set at {dest!r} carries no doc_spans column — "
            "masking needs assemble_token_sequences-shaped rows "
            "(publish_shards output); for plain document sets use "
            "tombstone_training_shards"
        )
    dead = F.broadcast(
        doc_ids.select(F.col(doc_col).alias("_dead")).distinct()
    )
    hits = (
        rows.select(id_col, F.explode("doc_spans").alias("_s"))
        .join(dead, F.col(f"_s.{doc_col}") == F.col("_dead"))
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(
                        F.col("_s.start").alias("start"),
                        F.col("_s.len").alias("len"),
                    )
                )
            ).alias("spans")
        )
        .collect()  # bounded: contaminated sequences only
    )
    new = {
        r[id_col]: {(s["start"], s["len"]) for s in r["spans"]}
        for r in hits
    }
    path = os.path.join(dest, "masks.parquet")
    merged: dict = {}
    if os.path.exists(path):
        t = pq.read_table(path)
        for i, spans in zip(
            t.column("id").to_pylist(), t.column("spans").to_pylist()
        ):
            merged[i] = {(s["start"], s["len"]) for s in spans}
    changed = 0
    for i, spans in new.items():
        have = merged.setdefault(i, set())
        if spans - have:
            changed += 1
            have.update(spans)
    ids = sorted(merged)
    span_t = pa.list_(
        pa.struct([("start", pa.int64()), ("len", pa.int64())])
    )
    tbl = pa.table(
        {
            "id": pa.array(ids),
            "spans": pa.array(
                [
                    [
                        {"start": s, "len": ln}
                        for s, ln in sorted(merged[i])
                    ]
                    for i in ids
                ],
                type=span_t,
            ),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return {
        "id_col": id_col,
        "masked_sequences": len(ids),
        "masked_spans": sum(len(v) for v in merged.values()),
        "changed": changed,
    }


def retokenize_shard_set(
    spark,
    packed_dir: str,
    old_dest: str,
    new_dest: str,
    tokenizer_dir: str,
    verify: bool = False,
) -> dict:
    """The publish guard's documented remedy, executable (r13): when
    the tokenizer is refit, `publish_shards` refuses to land
    generations into the old shard set — this builds the FRESH set
    under the new artifact from the durable source of truth (the
    packed tier), carrying the delete/mask state over:

    - every packed sequence re-assembles under the tokenizer at
      ``tokenizer_dir`` (`assemble_token_sequences` — one Arrow
      encode pass + the one shard exchange); splits/seeds/shard
      count come from the OLD manifest, and seq_uids derive from the
      pack tier alone, so each sequence keeps its split and identity;
    - the seq_uid SET must equal the old set's — a mismatch means
      the old set wasn't a final close-out of this packed tier
      (publish with ``final=True`` first) and raises before anything
      is half-migrated;
    - tombstones carry over verbatim (seq_uids are
      tokenizer-independent), ledger included;
    - doc-span masks are RE-DERIVED, not copied: the old sidecar's
      spans are token offsets under the OLD vocab, but each mask
      span was copied verbatim from a doc_spans entry, so joining
      (id, start, len) back onto the old rows' spans recovers the
      MASKED DOCUMENT ids exactly, and `mask_training_sequences`
      records their new-vocab offsets in the new set; the mask-key
      ledger carries over.

    The new tokenizer persists into ``new_dest`` BEFORE the shard
    write (the publish_shards crash-gap discipline). ``new_dest``
    must not exist. Returns the new manifest."""
    import json
    import os
    import shutil

    from gus_spark.operators.bpe import load_tokenizer, save_tokenizer
    from gus_spark.operators.chunk import assemble_token_sequences

    if os.path.exists(new_dest):
        raise ValueError(
            f"new_dest {new_dest!r} already exists — retokenization "
            "builds a FRESH shard set (the old one stays serving "
            "until the trainer switches)"
        )
    old = read_manifest(old_dest)
    merges, vocab = load_tokenizer(tokenizer_dir)
    seqs = assemble_token_sequences(
        spark.read.parquet(packed_dir), merges, vocab
    )
    os.makedirs(new_dest)
    save_tokenizer(new_dest, merges, vocab)
    manifest = write_training_shards(
        seqs,
        new_dest,
        shards=old["shards"],
        seed=old["seed"],
        id_col=old["id_col"],
        weights=old["weights"],
        split_seed=old["split_seed"],
        split_col=old["split_col"],
        verify=verify,
        order_col=old.get("order_col"),
        order_desc=old.get("order_desc", False),
    )
    id_col = old["id_col"]
    old_ids = spark.read.parquet(os.path.join(old_dest, "data")).select(
        id_col
    )
    new_ids = spark.read.parquet(os.path.join(new_dest, "data")).select(
        id_col
    )
    missing = new_ids.join(old_ids, id_col, "left_anti").count()
    extra = old_ids.join(new_ids, id_col, "left_anti").count()
    if missing or extra:
        shutil.rmtree(new_dest)
        raise ValueError(
            f"packed tier and old shard set disagree: {missing} "
            f"sequences in the tier but not the old set, {extra} "
            "the other way — the old set is not a FINAL close-out "
            "of this packed tier (publish_shards(final=True) first, "
            "or point at the right packed_dir); nothing migrated"
        )
    for name in ("tombstones.parquet", "tombstone_keys.json",
                 "mask_keys.json"):
        src = os.path.join(old_dest, name)
        if os.path.exists(src):
            shutil.copy2(src, os.path.join(new_dest, name))
    old_masks = os.path.join(old_dest, "masks.parquet")
    recovered = 0
    if os.path.exists(old_masks):
        spans = (
            spark.read.parquet(os.path.join(old_dest, "data"))
            .select(id_col, F.explode("doc_spans").alias("_d"))
            .select(
                id_col,
                F.col("_d.doc_id").alias("_doc"),
                F.col("_d.start").alias("start"),
                F.col("_d.len").alias("len"),
            )
        )
        masked_docs = (
            spark.read.parquet(old_masks)
            .select(
                F.col("id").alias(id_col),
                F.explode("spans").alias("_s"),
            )
            .select(
                id_col,
                F.col("_s.start").alias("start"),
                F.col("_s.len").alias("len"),
            )
            .join(spans, [id_col, "start", "len"])
            .select(F.col("_doc").alias("doc_id"))
            .distinct()
        )
        receipt = mask_training_sequences(spark, new_dest, masked_docs)
        recovered = receipt["masked_sequences"]
    manifest = read_manifest(new_dest)
    receipt_path = os.path.join(new_dest, "retokenize_receipt.json")
    with open(receipt_path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "from": old_dest,
                "packed_dir": packed_dir,
                "masked_sequences_recovered": recovered,
            },
            fh,
        )
    return manifest


def mask_weights(n_tokens: int, masked_spans) -> list[int]:
    """Host-side reference for consuming ``masked_spans``: the
    per-token loss-weight vector (1 = train, 0 = masked) for one
    sequence — pins the span arithmetic so trainers don't re-derive
    it wrong (spans are 1-BASED and inclusive of ``start``, the
    doc_spans convention). ``masked_spans`` is the loader column
    value: None (clean row) or a list of {start, len} mappings.
    Raises on a span outside [1, n_tokens] — a span from a different
    tokenizer's offsets must never silently truncate."""
    w = [1] * n_tokens
    for s in masked_spans or ():
        start, ln = int(s["start"]), int(s["len"])
        if start < 1 or ln < 0 or start + ln - 1 > n_tokens:
            raise ValueError(
                f"masked span (start={start}, len={ln}) falls "
                f"outside the {n_tokens}-token sequence — stale or "
                "foreign mask sidecar?"
            )
        w[start - 1 : start - 1 + ln] = [0] * ln
    return w


def _load_masks(fs, dest: str):
    """id → sorted [(start, len), …] masked spans (None when the
    sidecar doesn't exist) — the read-side twin of _load_tombstones."""
    import posixpath

    import pyarrow.fs as pa_fs
    import pyarrow.parquet as pq

    path = posixpath.join(dest, "masks.parquet")
    if fs.get_file_info(path).type == pa_fs.FileType.NotFound:
        return None
    with fs.open_input_file(path) as fh:
        t = pq.ParquetFile(fh).read()
    return dict(
        zip(t.column("id").to_pylist(), t.column("spans").to_pylist())
    )


_SPAN_TYPE = None


def _span_type():
    global _SPAN_TYPE
    if _SPAN_TYPE is None:
        import pyarrow as pa

        _SPAN_TYPE = pa.list_(
            pa.struct([("start", pa.int64()), ("len", pa.int64())])
        )
    return _SPAN_TYPE


def _attach_masks(batch, masks: dict, id_col: str, key_set):
    """Append the ``masked_spans`` column (list<struct<start,len>>,
    null for unmasked rows) to a loader batch — pure pyarrow, no
    Spark on the trainer host. Vectorized membership first (masks
    are contamination-bounded, most batches of a big corpus are
    clean), per-row construction only for the rows that hit — the
    attach stays sub-microsecond per row either way, noise against
    production token-tensor row widths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    span_t = _span_type()
    ids = batch.column(id_col)
    # scatter construction: vectorized membership finds the few hit
    # rows (masks are contamination-bounded); only THEY pay python
    # conversion, the column assembles via take
    hit = pc.is_in(ids, value_set=key_set).to_numpy(zero_copy_only=False)
    k = int(hit.sum())
    if k == 0:
        col = pa.nulls(batch.num_rows, type=span_t)
    else:
        pos = np.flatnonzero(hit)
        hit_ids = ids.take(pa.array(pos)).to_pylist()
        values = pa.array([masks[i] for i in hit_ids], type=span_t)
        take_idx = np.zeros(len(hit), dtype="int64")
        take_idx[pos] = np.arange(k)
        col = values.take(pa.array(take_idx, mask=~hit))
    return pa.RecordBatch.from_arrays(
        [*batch.columns, col],
        names=[*batch.schema.names, "masked_spans"],
    )


def _prefetched(gen, depth: int):
    """Bounded background read-ahead over a loader generator: a
    daemon thread advances ``gen`` up to ``depth`` items ahead while
    the trainer consumes — pure IO/compute overlap, order and
    exactly-once semantics untouched (one queue, one producer).
    Exceptions re-raise at the consumer's position. Abandoning the
    consumer mid-stream (generator close, `break`, a bounded
    `iter_mixture` run ending) SHUTS THE PRODUCER DOWN
    deterministically: the stop flag wakes it out of its bounded
    put, it closes the inner generator in its own thread (the
    generator is suspended between next() calls, so its finally
    blocks — the per-shard file handles — run right then), and
    exits. Without this, every abandoned prefetched stream parked a
    daemon thread holding an open shard handle and ``depth``
    buffered batches until process exit — the opposite of the
    deterministic-handle-close contract, and a real leak for a
    long-lived trainer process over object storage."""
    import queue
    import threading

    q: queue.Queue = queue.Queue(maxsize=depth)
    _END = object()
    stop = threading.Event()

    def _put(item) -> bool:
        while not stop.is_set():
            try:
                q.put(item, timeout=0.1)
                return True
            except queue.Full:
                continue
        return False

    def produce() -> None:
        try:
            for item in gen:
                if not _put(item):
                    return
            _put(_END)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            _put(exc)
        finally:
            # no-op if gen finished/raised; on abandon it is
            # suspended, so close() runs its finally blocks here
            gen.close()

    t = threading.Thread(target=produce, daemon=True)
    t.start()
    try:
        while True:
            item = q.get()
            if item is _END:
                return
            if isinstance(item, BaseException):
                raise item
            yield item
    finally:
        stop.set()
        try:  # drain so a producer parked in put() wakes promptly
            while True:
                q.get_nowait()
        except queue.Empty:
            pass
        t.join(timeout=10)

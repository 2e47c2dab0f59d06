"""Approximate nearest-neighbor search: random-hyperplane LSH (with
multi-probe) and IVF coarse quantization.

The scale path for similarity search over an embedding column. The
hyperplane matrix is a small deterministic ±1 matrix generated driver-
side (seeded, no RNG state); each row's bucket signature and probe
buckets come from one numpy kernel pass (`_sig_probe_udf`), and the only
shuffle is the bucket-key exchange. Brute-force cosine (the correctness
baseline) lives in gus_spark.queries.similarity.

Scale design (the three knobs that keep the self-join bounded at 100 TB):

- the number of hyperplanes adapts to corpus size (``log2(n / target
  bucket rows)``), so mean bucket size stays ~constant as the corpus
  grows instead of buckets growing linearly;
- every query probes its own bucket PLUS the ``nprobe`` buckets reached
  by flipping its lowest-|margin| sign bits (the classic multi-probe
  trick): a vector near a hyperplane finds the neighbors that landed on
  the other side, which closes the singleton-bucket recall hole — a
  vector alone in its bucket still probes where its neighbors live;
- the candidate side is capped at ``bucket_cap`` rows per bucket
  (deterministic hash order), so one pathological hot bucket cannot
  produce an O(b²) task; with the cap the join cost is bounded by
  O(n × (nprobe+1) × bucket_cap) pairs.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


NUM_PLANES = 12          # used when corpus size is not supplied/derivable
TARGET_BUCKET_ROWS = 16  # adaptive planes aim for this mean bucket size
MIN_PLANES, MAX_PLANES = 8, 24
DIM = 64


def planes_for_corpus(n_rows: int) -> int:
    """#hyperplanes so that 2^planes ≈ n / TARGET_BUCKET_ROWS, clamped.

    Doubling the corpus adds one plane — mean bucket occupancy stays
    ~TARGET_BUCKET_ROWS instead of doubling, which is what keeps the
    within-bucket self-join linear in n at any scale."""
    if n_rows <= 0:
        return NUM_PLANES
    raw = math.ceil(math.log2(max(n_rows / TARGET_BUCKET_ROWS, 2.0)))
    return max(MIN_PLANES, min(MAX_PLANES, raw))


def _plane_matrix(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane components via md5(seed|plane|dim)."""
    planes = []
    for p in range(num_planes):
        row = []
        for j in range(dim):
            digest = hashlib.md5(f"gus-lsh|{p}|{j}".encode()).digest()
            row.append(1 if digest[0] % 2 == 0 else -1)
        planes.append(row)
    return planes


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot_cols(x: Column, y: Column) -> Column:
    """x·y as a zip_with product + aggregate fold.

    Deliberately NOT unrolled into per-element ``element_at`` adds: a
    64-term expression tree (duplicated per use site) overflows the
    codegen method-size budget and drops the whole stage to interpreted
    eval — measured 3-7× slower than this fold on the pair stage."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def cosine_cols(x: Column, y: Column) -> Column:
    """THE cross-engine cosine: fold-order dot over both norms in one
    expression — bit-identical to DuckDB's
    ``list_dot_product(x,y)/(SQRT(..x,x..)*SQRT(..y,y..))``. Every
    module needing oracle-parity cosine uses this single definition
    (queries/similarity.py delegates here; operators/hybrid.py's
    batch tier precomputes the same norms pre-join, pinned
    bit-identical by its batch-vs-single test)."""
    return _dot_cols(x, y) / (
        F.sqrt(_dot_cols(x, x)) * F.sqrt(_dot_cols(y, y))
    )


def dot_sql(x: str, y: str) -> str:
    """``_dot_cols`` as SQL text — the SAME zip_with-product +
    sequential-fold tree, built in ONE expression-parse py4j call
    instead of one py4j round trip per Column op (r13, guide §1.2
    driver-side build cost; the minhash `_band_rows_arr` precedent).
    Bit parity with `_dot_cols` is pinned in tests (the two parse /
    build to the same resolved ArrayAggregate(ZipWith(..)) plan)."""
    return (
        f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0D, "
        "(acc, t) -> acc + t)"
    )


def cosine_sql(x: str, y: str) -> str:
    """``cosine_cols`` as SQL text — see `dot_sql`; same fold-order
    dot over both norms, one parsed expression."""
    return (
        f"({dot_sql(x, y)} / "
        f"(sqrt({dot_sql(x, x)}) * sqrt({dot_sql(y, y)})))"
    )


def double_array_sql(vals) -> str:
    """A Python float list as ONE array<double> SQL literal.

    ``repr(float)`` is the shortest round-trip decimal form, and
    Spark's double-literal parse returns the nearest IEEE double of
    that form — i.e. the exact same value ``F.lit`` would ship — so
    the parsed literal is bit-identical to the per-element build it
    replaces (pinned in tests over a tricky-value grid). Non-finite
    values have no SQL literal form and raise loudly."""
    import math

    out = []
    for v in vals:
        v = float(v)
        if not math.isfinite(v):
            raise ValueError(
                f"double_array_sql: non-finite value {v!r} has no SQL "
                "double literal — filter or encode it explicitly"
            )
        out.append(repr(v) + "D")
    return "array(" + ", ".join(out) + ")"


def _dot_lit(vec: Column, plane: list[int]) -> Column:
    lit_plane = F.array(*[F.lit(float(s)) for s in plane])
    return _dot_cols(vec, lit_plane)


def bucket_signature(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """Pack hyperplane sign bits into one long — the LSH bucket key."""
    planes = planes or _plane_matrix()
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(_dot_lit(vec, plane) > 0, 1).otherwise(0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    return sig


def _sig_probe_udf(planes: list[list[int]], nprobe: int):
    """Arrow-vectorized signature + multi-probe kernel as a SCALAR
    pandas_udf over ``v`` returning ``struct<norm, buckets>`` where
    ``buckets = [home, home, flip_1..flip_n]`` (candidate bucket +
    the nprobe+1 probe buckets). All plane dot products for a batch
    are ONE numpy matmul — the JVM formulation evaluates each
    64-element `aggregate(zip_with)` fold interpreted (higher-order
    functions don't codegen), measured ~15 µs per dot; the matmul
    does the same work in microseconds per batch and the
    margins/bit-packing are vectorized alongside.

    r13 (guide §4.2 — pass/return only what the kernel needs): the
    former mapInPandas form replicated the 64-double vector
    ``nprobe+2`` times per input row INSIDE Python and shipped every
    copy back over Arrow (~10x the input volume at nprobe=8). The
    scalar form returns one (norm, buckets) struct per vector — the
    vector itself never crosses back — and the row replication is a
    JVM-side `explode` over the bucket list, pre-shuffle as before.
    Decomposed rows are identical (parity-tested).

    Null ``v`` rows (pre-filtered by ann_lsh_topk; guarded here for
    direct use) return a null struct, and the caller's
    explode(concat(..)) drops them — same rows as the old kernel's
    row drop.

    Sign parity with the JVM expressions: float addition order differs
    (sequential fold vs blocked matmul), so a dot within rounding error
    of zero can land on the other side — bucket ASSIGNMENT may differ
    for such borderline vectors between the kernel and the JVM
    expressions, which multi-probe is designed to absorb (recall
    asserted in tests); the kernel itself is deterministic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    pm = np.array(planes, dtype=np.float64)  # (planes, dim)
    n_planes = pm.shape[0]
    n_flip = min(nprobe, n_planes)
    ret = StructType(
        [
            StructField("norm", DoubleType()),
            StructField("buckets", ArrayType(LongType())),
        ]
    )

    # NB: the file-wide `from __future__ import annotations` stringifies
    # hints and `pd` is task-local here, so PySpark's hint inference
    # can't resolve them — attach real type objects below instead.
    def sig_probe(vs):
        out = pd.DataFrame(
            {"norm": pd.Series(np.nan, index=vs.index),
             "buckets": pd.Series([None] * len(vs), index=vs.index)}
        )
        live = vs.notna()
        if not live.any():
            return out
        lv = vs[live]
        vm = np.stack(lv.to_numpy())  # (n, dim)
        norms = np.sqrt(np.einsum("ij,ij->i", vm, vm))
        dots = vm @ pm.T  # (n, planes)
        bits = (dots > 0).astype(np.int64)
        sig = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
        # lowest-|margin| planes first — stable ties on plane index
        flip_idx = np.argsort(np.abs(dots), axis=1, kind="stable")[
            :, :n_flip
        ]
        probe_sigs = np.concatenate(
            [sig[:, None], sig[:, None] ^ (np.int64(1) << flip_idx)],
            axis=1,
        )  # (n, nprobe+1)
        buckets = np.concatenate([sig[:, None], probe_sigs], axis=1)
        out.loc[live, "norm"] = norms
        out.loc[live, "buckets"] = pd.Series(
            list(buckets), index=lv.index
        )
        return out

    sig_probe.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(ret)(sig_probe)


def _grouped_topk_matmul(
    union_df: DataFrame,
    group_cols: list[str],
    k: int,
    num_partitions: int | None = None,
    cap_candidates: int | None = None,
    cap_order: list | None = None,
) -> DataFrame:
    """Exact-cosine top-k inside each candidate group as ONE BLAS
    matmul (probe matrix @ index matrixᵀ) per group, via an
    Arrow-batched map over group-contiguous partitions.

    Input: (*group_cols, id, v, norm, is_probe) — probe rows are the
    queries, non-probe rows the candidate index. A per-pair JVM fold
    costs ~µs × candidates; the matmul scores the same candidates in
    milliseconds, and per-group top-k bounds this stage's output to
    n × groups_per_query × k rows regardless of group sizes. Output:
    (query_id, neighbor_id, cos_sim) with cross-group duplicates
    collapsed by max (guards against BLAS blocking producing last-ulp
    differences between groups); callers apply the global top-k window
    — exact, because any global winner is within the top-k of its own
    group.

    r13 (guide §4.1): the scoring stage is ``mapInPandas`` over
    hash-clustered, group-sorted partitions instead of the former
    ``applyInPandas`` per-group map. applyInPandas frames ONE Python
    call (its own Arrow batch + pandas construction, ~1-3 ms) per
    GROUP — at the default occupancy that is hundreds of framing
    round trips per task for microseconds of matmul each (measured:
    the ann_lsh scoring stage spent ~0.5 s framing 256 bucket calls
    on 20k rows at sf0.1). The map form pays one call per Arrow
    BATCH; group boundaries are recovered from the sort (groups are
    contiguous; the possibly-split trailing group of each batch is
    carried into the next), so per-group matrices — and therefore
    the scored values — are built from exactly the same rows in the
    same order as the grouped map built them. Distribution/order are
    established explicitly (repartition on the group key + local
    sort), which is the same exchange+sort applyInPandas required
    implicitly.

    ``cap_candidates`` (r13) folds the caller's per-group candidate
    cap into the kernel: keep only the first N non-probe rows of each
    group in the arrival order established by ``cap_order`` — the
    running-count-window-then-filter idiom without the window
    operator. Callers that pass it MUST pass the cap's tie-break
    columns as ``cap_order`` (sorted after the group key; enforced
    below — an omitted order would make the cap depend on partition
    arrival order, ADVICE r13).

    Precondition: ``group_cols`` values must be NON-NULL (every
    current caller derives them from hashes/ids). The batch-split
    tail carve compares against the last row's key, which can never
    match a null/NaN key; the pandas groupby below passes
    ``dropna=False`` so a null-keyed group is scored rather than
    silently dropped (Spark's groupBy keeps null keys — ADVICE r13),
    but the carve would pend such rows conservatively, so keep keys
    non-null."""
    if cap_candidates is not None and not cap_order:
        raise ValueError(
            "cap_candidates requires cap_order (the cap's tie-break "
            "columns): without an explicit arrival order the per-group "
            "cap would keep a partition-arrival-dependent candidate set"
        )

    def _topk_kernel(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )

        def score_group(pdf):
            # one complete group: same math, row order and dtypes the
            # per-group applyInPandas kernel used (bit-identical sims)
            mask = pdf["is_probe"].to_numpy()
            p = pdf[mask]
            i = pdf[~mask]
            if cap_candidates is not None:
                i = i.iloc[:cap_candidates]
            if p.empty or i.empty:
                return None
            pm = np.stack(p["v"].to_numpy())
            im = np.stack(i["v"].to_numpy())
            sims = (pm @ im.T) / np.outer(
                p["norm"].to_numpy(), i["norm"].to_numpy()
            )
            pid = p["id"].to_numpy()
            iid = i["id"].to_numpy()
            sims[pid[:, None] == iid[None, :]] = -np.inf  # no self-pairs
            kk = min(k, sims.shape[1])
            # top-k with a DETERMINISTIC (-sim, neighbor_id) tie-break:
            # argpartition would pick an arbitrary kk among equal-cosine
            # candidates (exact duplicates produce whole ties at
            # cos=1.0), which both breaks run-to-run determinism and
            # loses recall against an id-tie-broken exact ground truth.
            # lexsort's last key is primary. Groups are cap-bounded, so
            # the O(b log b) over argpartition's O(b) is noise.
            iid_rows = np.broadcast_to(iid, sims.shape)
            top = np.lexsort((iid_rows, -sims), axis=1)[:, :kk]
            rows = np.repeat(np.arange(sims.shape[0]), kk)
            cols = top.ravel()
            keep = np.isfinite(sims[rows, cols])
            return pd.DataFrame(
                {"query_id": pid[rows[keep]],
                 "neighbor_id": iid[cols[keep]],
                 "cos_sim": sims[rows[keep], cols[keep]]}
            )

        def complete_groups(pdf):
            out = [
                r for _, g in pdf.groupby(
                    group_cols, sort=False, dropna=False
                )
                if (r := score_group(g)) is not None
            ]
            return pd.concat(out, ignore_index=True) if out else empty

        pend = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if pdf.empty:
                continue
            # groups are contiguous (local sort on the group key): the
            # trailing run sharing the last row's key may continue in
            # the next batch — hold it back
            same = np.ones(len(pdf), dtype=bool)
            for c in group_cols:
                col = pdf[c].to_numpy()
                same &= col == col[-1]
            tail_start = len(pdf) - int(
                np.argmin(same[::-1]) or len(pdf)
            )
            pend = pdf.iloc[tail_start:]
            head = pdf.iloc[:tail_start]
            if not head.empty:
                yield complete_groups(head)
        if pend is not None and not pend.empty:
            yield complete_groups(pend)

    grouped = union_df.select(
        *group_cols, "id", "v", "norm", "is_probe"
    )
    if num_partitions is not None:
        # few/hot groups: AQE would byte-size-coalesce the tiny shuffle
        # input onto ~1 task and serialize the compute-heavy kernel; an
        # explicit count keeps groups × salt parallel tasks
        grouped = grouped.repartition(num_partitions, *group_cols)
    else:
        grouped = grouped.repartition(*group_cols)
    pairs = grouped.sortWithinPartitions(
        *group_cols, *(cap_order or [])
    ).mapInPandas(
        _topk_kernel, "query_id bigint, neighbor_id bigint, cos_sim double"
    )
    # r13 (guide §2.1): the collapse agg formerly shuffled on
    # (query_id, neighbor_id), and every caller's final top-k window
    # immediately re-shuffled the collapsed pairs on query_id — two
    # exchanges over the same bounded (n_queries × groups_per_query
    # × k) pair set. Distributing the kernel output by query_id ONCE
    # satisfies both the collapse agg's clustered distribution
    # (query_id is a subset of its grouping keys) and the callers'
    # window distribution, so agg + window ride a single exchange
    # (ann_lsh plan: 4 exchanges -> 3, asserted in tests). Pair
    # volume is k-bounded per (query, group) — never corpus-scaled —
    # so shuffling pre-collapse rows costs the same class of bytes
    # the old partial aggregate shipped.
    return pairs.repartition("query_id").groupBy(
        "query_id", "neighbor_id"
    ).agg(F.max("cos_sim").alias("cos_sim"))


def lsh_bucket_occupancy(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int | None = None,
    bucket_cap: int = 256,
) -> dict:
    """Bucket-occupancy health probe for the ANN LSH tier — the
    MinHashIndex.health(occupancy=True) contract (r10) carried to the
    dense banded tier (VERDICT r10 ask #4): the signal that catches a
    degenerate bucketing regime (e.g. near-identical embeddings, or a
    plane count far off the corpus size) at BUILD time instead of in a
    blown-up scoring stage.

    One aggregation over HOME-bucket assignments (the candidate side
    of ann_lsh_topk; multi-probe multiplies the probe-side read volume
    ~(nprobe+1)× but never this histogram). Healthy: mean occupancy ≈
    TARGET_BUCKET_ROWS (the adaptive plane count aims exactly there)
    and ``capped_candidate_rows`` ≈ rows × TARGET_BUCKET_ROWS.
    Degenerate: one bucket holds the corpus — mean ≈ n,
    ``candidate_pairs`` ≈ n²/2 (though the operator's ``bucket_cap``
    bounds what scoring actually admits, reported as
    ``capped_candidate_rows`` = Σ c·min(c, cap): recall silently
    collapses in that regime even when cost doesn't). Uses the same
    plane derivation and the JVM signature definition
    (`bucket_signature`) the operator's kernel is parity-tested
    against."""
    df = df.filter(F.col(vec_col).isNotNull())
    num_planes = (
        num_planes
        if num_planes is not None
        else planes_for_corpus(df.count())
    )
    planes = _plane_matrix(num_planes, DIM)
    sig = bucket_signature(_as_double(F.col(vec_col)), planes)
    row = (
        df.select(sig.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").alias("buckets"),
            F.sum("c").alias("rows"),
            F.max("c").alias("max_bucket"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("cand"),
            F.sum(
                F.col("c") * F.least(F.col("c"), F.lit(bucket_cap))
            ).alias("capped"),
        )
        .first()
    )
    if not row["buckets"]:
        return {"planes": num_planes, "occupancy": None}
    return {
        "planes": num_planes,
        "occupancy": {
            "rows": row["rows"],
            "buckets": row["buckets"],
            "mean_occupancy": round(row["rows"] / row["buckets"], 4),
            "max_bucket": row["max_bucket"],
            "candidate_pairs": int(row["cand"]),
            "capped_candidate_rows": int(row["capped"]),
        },
    }


def ann_lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int | None = None,
    nprobe: int = 8,
    bucket_cap: int = 256,
) -> DataFrame:
    """Approximate top-k neighbors for every vector via multi-probe LSH.
    Output: (query_id, neighbor_id, cos_sim, rank).

    ``num_planes=None`` derives the plane count from the corpus size
    (one cheap count job — parquet footer metadata at scale) so mean
    bucket occupancy stays ~TARGET_BUCKET_ROWS. Each query probes its
    own bucket plus ``nprobe`` bit-flip neighbors, so singleton-bucket
    vectors still retrieve candidates; the candidate side is capped at
    ``bucket_cap`` rows per bucket (deterministic xxhash64 order) to
    bound skew. Within-probe pairs are ranked by exact cosine.

    Signatures and probes come from one numpy scalar-udf pass
    (`_sig_probe_udf` — the vector never crosses back over Arrow; row
    fan-out is a JVM explode), and the candidate cap rides the scoring
    stage's one hashpartitioning(bucket) exchange — one shuffle of the
    probe/candidate rows total. The kernel's bucket assignments can
    differ from the JVM `bucket_signature` definition on
    borderline-margin vectors (see `_sig_probe_udf`); multi-probe
    absorbs that, and recall is asserted against brute-force cosine.
    """
    # null embeddings can't be bucketed or matched; dropped up front
    #
    # r13: no parallelism guard. The per-row signature work is ONE
    # 64×planes matvec inside a batched numpy matmul (~µs/row) and the
    # bucket exchange redistributes rows immediately after — spreading
    # the scan bought no compute overlap but paid ~8 ms of Python-task
    # framing × slots per run (measured: the signature stage at 1
    # input partition 0.39 s vs 0.61 s at 32, sf0.1; identical rows).
    df = df.filter(F.col(vec_col).isNotNull())
    if num_planes is None:
        num_planes = planes_for_corpus(df.count())
    planes = _plane_matrix(num_planes, DIM)

    vin = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    # one scalar-udf pass returns (norm, buckets) per vector; the
    # candidate/probe row fan-out is a JVM explode over
    # [(buckets[0], false)] ++ [(b, true) for b in buckets[1:]] —
    # identical rows to the old mapInPandas replication with ~10x
    # less Arrow return volume (the vector never crosses back)
    base = vin.select("id", "v", _sig_probe_udf(planes, nprobe)("v").alias("sp"))
    union = base.selectExpr(
        "id",
        "v",
        "sp.norm AS norm",
        "explode(concat("
        "array(struct(sp.buckets[0] AS bucket, false AS is_probe)), "
        "transform(slice(sp.buckets, 2, size(sp.buckets) - 1), "
        "b -> struct(b AS bucket, true AS is_probe)))) AS be",
    ).selectExpr(
        "id", "v", "norm",
        "be.bucket AS bucket", "be.is_probe AS is_probe",
    )
    # cap candidates per bucket WITHOUT a dedicated operator (r13):
    # the kernel keeps the first bucket_cap non-probe rows per bucket
    # in (is_probe, xxhash64(id), id) order — the same rows the former
    # running-count window kept — so the cap rides the scoring stage's
    # one hashpartitioning(bucket) exchange and its local sort, and
    # the window (its running sum over every probe/candidate row)
    # disappears from the plan outright
    pairs = _grouped_topk_matmul(
        union, ["bucket"], k,
        cap_candidates=bucket_cap,
        cap_order=["is_probe", F.xxhash64("id"), "id"],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), "neighbor_id"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str | None = "label",
    k_cells: int = 16,
    iters: int = 3,
    dim: int = DIM,
) -> DataFrame:
    """Lloyd-iterated spherical k-means coarse quantizer.

    Returns a small (cell: long, cv: array<double>) frame suitable for
    broadcasting as an IVF quantizer. Init is deterministic — the
    per-``seed_col`` means (the honest stand-in ivf_topk used alone
    before), or a ``pmod(xxhash64(id), k_cells)`` hash partition when no
    seed column exists; no RNG state anywhere, so results are stable
    across runs and resumable.

    Scale shape (the Spark MLlib KMeans shape): centroids live
    driver-side between iterations — k × dim doubles, broadcast each
    pass. One iteration is ONE scan of the data: an Arrow-batched
    kernel assigns every batch with a single ``n_batch × dim @ dim × k``
    matmul and emits per-batch partial (cell, count, sum-vector) rows —
    at most cells × batches rows total, independent of n — which the
    driver combines. No per-row shuffle exists at any point; total cost
    is ``iters`` scans, the canonical Lloyd cost. (A 100 TB production
    fit would k-means||-init on a sample first; the seeded init plays
    that role deterministically here.)

    Empty cells keep their previous centroid (standard Lloyd fallback),
    so the cell count never silently shrinks.
    """
    import numpy as np

    spark = df.sparkSession
    key = (
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(k_cells))
        if seed_col is None
        else F.col(seed_col).cast("long")
    )
    v = df.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
        key.alias("cell0"),
    )
    # init: per-key mean via dim scalar SUMs (partial agg before the one
    # tiny shuffle — same no-explode shape as the ivf_topk seed build)
    init_rows = (
        v.groupBy("cell0")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(dim)],
        )
        .collect()
    )
    init_rows.sort(key=lambda r: r["cell0"])
    centers = np.array(
        [[r[f"s{i}"] / r["n"] for i in range(dim)] for r in init_rows],
        dtype="float64",
    )

    data = v.select("v")
    for _ in range(iters):
        norms = np.linalg.norm(centers, axis=1)
        norms[norms == 0.0] = 1.0
        unit = centers / norms[:, None]
        bc = spark.sparkContext.broadcast(unit)

        def _partials(batches, _bc=bc):
            import numpy as np  # noqa: PLC0415 — runs on executors
            import pandas as pd

            cn = _bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.stack(pdf["v"].to_numpy())
                # cosine argmax: query norm is cell-invariant, so plain
                # dot vs unit centroids suffices; ties -> lowest cell
                cell = (m @ cn.T).argmax(axis=1)
                order = np.argsort(cell, kind="stable")
                ms, cs = m[order], cell[order]
                uc, starts = np.unique(cs, return_index=True)
                sums = np.add.reduceat(ms, starts, axis=0)
                counts = np.diff(np.append(starts, len(cs)))
                yield pd.DataFrame(
                    {
                        "cell": uc.astype("int64"),
                        "n": counts.astype("int64"),
                        "s": [row.tolist() for row in sums],
                    }
                )

        partials = data.mapInPandas(
            _partials, "cell long, n long, s array<double>"
        ).collect()
        counts = np.zeros(len(centers), dtype="int64")
        sums = np.zeros_like(centers)
        for r in partials:
            counts[r["cell"]] += r["n"]
            sums[r["cell"]] += np.asarray(r["s"])
        occupied = counts > 0
        centers = centers.copy()
        centers[occupied] = sums[occupied] / counts[occupied, None]

    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(centers)],
        "cell long, cv array<double>",
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    k: int = 10,
    nprobe: int = 2,
    dim: int = DIM,
    salt: int = 8,
    index_probes: int | None = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    Coarse quantizer: per-``label_col`` centroids (deterministic), or —
    with ``lloyd_iters > 0`` — those same seeds refined through
    :func:`kmeans_fit` spherical Lloyd iterations (each iteration one
    scan, centroids driver-held; the quality that makes classic
    ``index_probes=1`` viable). Every query *probes* its ``nprobe`` nearest
    cells; every vector is *indexed* in its ``index_probes`` nearest
    cells (default = ``nprobe``). Classic IVF is ``index_probes=1`` —
    the right setting once the quantizer is Lloyd-quality, cutting
    candidate volume ``nprobe``×; with a weak seeded quantizer (this
    testdata), multi-cell indexing is what recovers recall ≥0.9,
    because a neighbor's single home cell often isn't among the
    query's probes. Exact cosine ranks the candidates. Scale shape:
    centroids are a broadcast of O(cells × dim); the only row-scaled
    shuffle is the cell-key query→index join — cost
    O(n² × nprobe × index_probes / cells) instead of O(n²).

    The centroid build is ``dim`` per-element SUM aggregates over one
    groupBy — map-side partial aggregation collapses each partition to
    one row per cell before the shuffle, with no posexplode row blowup
    (the explode formulation shuffles n×dim rows; this shuffles
    partitions×cells).
    """
    index_probes = nprobe if index_probes is None else index_probes
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"),
        F.col(label_col).alias("cell_seed"),
    ).withColumn("norm", F.sqrt(_dot_cols(F.col("v"), F.col("v"))))

    if lloyd_iters > 0:
        centroids = kmeans_fit(
            df, id_col=id_col, vec_col=vec_col, seed_col=label_col,
            iters=lloyd_iters, dim=dim,
        )
    else:
        # coarse quantizer: mean per dimension via dim scalar SUMs
        # (partial agg before the one shuffle; no n×dim explode)
        sums = v.groupBy("cell_seed").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        centroids = sums.select(
            F.col("cell_seed").alias("cell"),
            F.array(
                *[(F.col(f"s{i}") / F.col("n")) for i in range(dim)]
            ).alias("cv"),
        )
    # rank each vector's cells once (cosine vs broadcast centroids);
    # vector norms hoisted, centroid norm computed once per cell
    centroids = centroids.withColumn(
        "cnorm", F.sqrt(_dot_cols(F.col("cv"), F.col("cv")))
    )
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "id", "v", "norm", "cell",
        (_dot_cols(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cnorm")))
        .alias("cell_sim"),
    )
    w_assign = Window.partitionBy("id").orderBy(F.desc("cell_sim"), "cell")
    ranked = scored.withColumn("probe_rank", F.row_number().over(w_assign))
    # queries probe nprobe cells; the index side holds each vector once
    # (its home cell) — the asymmetric join is what keeps candidate
    # volume at n x nprobe x mean_cell_size
    # salt the cell key: a cell is one join partition, so with few (or
    # hot) cells the exact-cosine stage would run on that few tasks.
    # Probe rows take one deterministic salt; index rows are replicated
    # across all salts — same pairs, cells × salt parallel tasks, and a
    # hot cell's work is spread over ``salt`` executors.
    probes = ranked.filter(F.col("probe_rank") <= nprobe).select(
        "id", "v", "norm", "cell",
        F.pmod(F.xxhash64("id"), F.lit(salt)).alias("salt"),
        F.lit(True).alias("is_probe"),
    )
    indexed = ranked.filter(F.col("probe_rank") <= index_probes).select(
        "id", "v", "norm", "cell",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))
        ).alias("salt"),
        F.lit(False).alias("is_probe"),
    )

    # exact-cosine scoring via the shared per-group BLAS kernel; the
    # explicit partition count keeps cells × salt parallel tasks even
    # though the shuffle input is only a few MB (AQE would otherwise
    # byte-size-coalesce the compute-heavy stage onto ~1 task)
    pairs = _grouped_topk_matmul(
        probes.unionByName(indexed),
        ["cell", "salt"],
        k,
        num_partitions=max(salt * 8, 32),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("long").alias("rank"))
    )


#: target vectors per k-means cell for the auto-scaled ``k_cells``
#: default — ~2k doubles^2 keeps every per-cell cosine matrix at
#: ~32 MB (float64) whatever the corpus size, the same occupancy the
#: recall bench has graded since round 6.
CELL_OCCUPANCY = 2000


def auto_k_cells(n_rows: int, occupancy: int = CELL_OCCUPANCY) -> int:
    """The paper's k ∝ n contract (SemDeDup runs 50k clusters at 100M
    scale) as a default: enough cells to hold mean occupancy at
    ``occupancy`` vectors, floored at 16 so small corpora keep real
    cell structure. Callers pass ``k_cells=None`` to use it — the
    corpus count is one cheap agg; an explicit int overrides."""
    if occupancy < 1:
        raise ValueError(f"occupancy must be >= 1, got {occupancy}")
    return max(16, -(-n_rows // occupancy))


def _resolve_k_cells(
    live: DataFrame, k_cells: int | None, occupancy: int
) -> int:
    return auto_k_cells(live.count(), occupancy) if k_cells is None \
        else k_cells


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    threshold: float = 0.95,
    k_cells: int | None = None,
    lloyd_iters: int = 2,
    dim: int = DIM,
    cell_occupancy: int = CELL_OCCUPANCY,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv 2303.09540): cluster the corpus with the
    spherical k-means quantizer, then inside every cell run a
    deterministic greedy leader pass — ascending id, a vector is KEPT
    iff no already-kept vector in its cell has cosine ≥ ``threshold``
    with it, else it is dropped and attributed to the kept leader of
    highest similarity. Returns (id, cell, keep, dup_of, dup_sim) for
    every non-null embedding.

    Scale shape: the quantizer is `kmeans_fit` (driver-held centroids,
    one Arrow scan per iteration); assignment is one matmul per Arrow
    batch vs the broadcast unit centroids; the leader pass is ONE
    shuffle on the cell key into an applyInPandas kernel doing a
    b×b cell-local similarity matrix — O(Σ b_i²) exactly like the
    paper, so ``k_cells`` must scale with the corpus to bound cell
    occupancy (the paper runs 50k clusters at 100M scale; occupancy
    n/k is the knob, same contract as `planes_for_corpus`). Cross-cell
    near-duplicates are missed BY DESIGN — that is SemDeDup's
    approximation; with ``k_cells=1`` the pass IS the exact greedy
    leader algorithm (no quantizer is fit at all — every vector lands
    in cell 0).

    ``k_cells`` is always honored: the default init is the
    deterministic id-hash partition (``label_col=None``); passing a
    ``label_col`` seeds k-means from the per-label means instead, in
    which case the CELL COUNT BECOMES the label count (kmeans_fit's
    seeded-init contract) and ``k_cells`` is ignored — only opt into
    that when the label granularity is the clustering you want.

    ``k_cells=None`` (the default) derives the cell count from the
    corpus size — one cheap count, then ``auto_k_cells(n,
    cell_occupancy)`` — so the paper's k ∝ n occupancy contract holds
    without every caller re-deriving it; an explicit int overrides.

    Determinism: hash/seeded k-means init (no RNG), stable argmax
    tie-breaks (lowest cell), ascending-id greedy order, and
    highest-sim/lowest-id attribution — identical output across runs
    and partitionings.
    """
    live = df.filter(F.col(vec_col).isNotNull())
    if label_col is None:
        k_cells = _resolve_k_cells(live, k_cells, cell_occupancy)
    v = live.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if k_cells == 1 and label_col is None:
        # exact tier: single cell, no quantizer
        assigned = v.select("id", "v", F.lit(0).cast("long").alias("cell"))
        return _greedy_leader_by_cell(assigned, id_col, threshold)
    assigned = _assign_cells(
        live, v, id_col, vec_col, label_col, k_cells, lloyd_iters, dim,
        index_probes=1,
    )
    return _greedy_leader_by_cell(assigned, id_col, threshold)


def _assign_cells(
    live: DataFrame,
    v: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    k_cells: int,
    lloyd_iters: int,
    dim: int,
    index_probes: int,
) -> DataFrame:
    """(id, v, cell) with each vector in its ``index_probes`` nearest
    cells of the fitted quantizer — the shared assignment stage of
    semantic_dedup (ip=1) and semantic_pairs (multi-probe). Top cells
    come from one matmul per Arrow batch vs the broadcast unit
    centroids; ties break deterministically toward the lowest cell
    (lexsort with the cell index as the secondary key — identical to
    argmax's first-max rule at ip=1)."""
    import numpy as np

    spark = live.sparkSession
    centroids = kmeans_fit(
        live, id_col, vec_col,
        seed_col=label_col, k_cells=k_cells, iters=lloyd_iters, dim=dim,
    ).collect()
    centers = np.array(
        [r["cv"] for r in sorted(centroids, key=lambda r: r["cell"])],
        dtype="float64",
    )
    norms = np.linalg.norm(centers, axis=1)
    norms[norms == 0.0] = 1.0
    bc = spark.sparkContext.broadcast(centers / norms[:, None])
    ip = min(index_probes, len(centers))

    def _assign_multi(batches, _bc=bc):
        import numpy as np  # noqa: PLC0415 — runs on executors
        import pandas as pd

        cn = _bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["v"].to_numpy())
            scores = m @ cn.T
            order = np.lexsort(
                (
                    np.broadcast_to(
                        np.arange(scores.shape[1]), scores.shape
                    ),
                    -scores,
                ),
                axis=1,
            )[:, :ip]
            if ip == 1:
                yield pdf.assign(cell=order[:, 0].astype("int64"))
                continue
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), ip),
                    "v": [
                        vv
                        for vv in pdf["v"].to_numpy()
                        for _ in range(ip)
                    ],
                    "cell": order.reshape(-1).astype("int64"),
                }
            )

    return v.mapInPandas(
        _assign_multi, "id long, v array<double>, cell long"
    )


def _greedy_leader_by_cell(
    assigned: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Deterministic ascending-id greedy leader pass per cell over an
    (id, v, cell) frame — the shared tail of both semantic_dedup tiers."""

    def _leader(pdf):
        import numpy as np  # noqa: PLC0415 — runs on executors
        import pandas as pd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.stack(pdf["v"].to_numpy())
        n = np.linalg.norm(m, axis=1)
        n[n == 0.0] = 1.0
        u = m / n[:, None]
        sims = u @ u.T
        kept: list[int] = []
        keep = np.zeros(len(pdf), dtype=bool)
        dup_of = np.full(len(pdf), -1, dtype="int64")
        dup_sim = np.full(len(pdf), np.nan)
        ids = pdf["id"].to_numpy()
        for i in range(len(pdf)):
            if kept:
                s = sims[i, kept]
                j = int(np.argmax(s))  # ties -> earliest kept (lowest id)
                if s[j] >= threshold:
                    dup_of[i] = ids[kept[j]]
                    dup_sim[i] = float(s[j])
                    continue
            keep[i] = True
            kept.append(i)
        return pd.DataFrame(
            {
                "id": ids,
                "cell": pdf["cell"],
                "keep": keep,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of],
                    dtype="Int64",
                ),
                "dup_sim": dup_sim,
            }
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(
            _leader,
            "id long, cell long, keep boolean, dup_of long, dup_sim double",
        )
        .select(
            F.col("id").alias(id_col), "cell", "keep", "dup_of", "dup_sim"
        )
    )


def semantic_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k_cells: int | None = None,
    index_probes: int = 1,
    lloyd_iters: int = 2,
    dim: int = DIM,
    cell_occupancy: int = CELL_OCCUPANCY,
) -> DataFrame:
    """Embedding near-duplicate candidate PAIRS (id_a < id_b, cos_sim)
    via cell-local exact cosine: every vector is indexed in its
    ``index_probes`` nearest cells (the IVF multi-probe trick applied
    to SemDeDup), pairs are scored inside each cell with one matmul,
    and cross-cell duplicates of the same pair are dropped. At
    ``index_probes=1`` this is exactly the candidate set the
    single-assignment SemDeDup pass sees; ``index_probes=2`` recovers
    most pairs that straddle a cell boundary for 2× index volume —
    measured in tools/ann_recall_bench.py (the moderate-similarity
    regime where single-assignment recall collapses).

    Scale shape: quantizer as in `semantic_dedup`; assignment emits
    index_probes rows per vector (top cells from one matmul per Arrow
    batch); pair scoring is one shuffle on the cell key into per-cell
    O(b²) matmuls — occupancy stays the k_cells knob; the pair
    dropDuplicates shuffles only the (tiny) above-threshold pair set.
    """
    if index_probes < 1:
        raise ValueError(f"index_probes must be >= 1, got {index_probes}")
    live = df.filter(F.col(vec_col).isNotNull())
    k_cells = _resolve_k_cells(live, k_cells, cell_occupancy)
    # more probes than cells is just "index everywhere": clamp (the
    # k_cells=1 exact tier keeps working with the default ip=2)
    index_probes = min(index_probes, k_cells)
    v = live.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if k_cells == 1:
        assigned = v.select("id", "v", F.lit(0).cast("long").alias("cell"))
    else:
        assigned = _assign_cells(
            live, v, id_col, vec_col, None, k_cells, lloyd_iters, dim,
            index_probes=index_probes,
        )

    def _cell_pairs(pdf):
        import numpy as np  # noqa: PLC0415 — runs on executors
        import pandas as pd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.stack(pdf["v"].to_numpy())
        n = np.linalg.norm(m, axis=1)
        n[n == 0.0] = 1.0
        u = m / n[:, None]
        sims = u @ u.T
        ids = pdf["id"].to_numpy()
        ia, ib = np.triu_indices(len(ids), k=1)
        hit = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[hit]],
                "id_b": ids[ib[hit]],
                "cos_sim": sims[ia[hit], ib[hit]],
            }
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        _cell_pairs, "id_a long, id_b long, cos_sim double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"]).select(
        F.col("id_a").alias(f"{id_col}_a"),
        F.col("id_b").alias(f"{id_col}_b"),
        "cos_sim",
    )


def semantic_dedup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k_cells: int | None = None,
    index_probes: int = 2,
    lloyd_iters: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Cluster-semantics semantic dedup: `semantic_pairs` resolved to
    connected components (operators.graph) with the min-id
    representative kept — the exact structure of the text pipeline's
    dedup_clusters, applied to embedding space. Returns every non-null
    vector as (id, cluster_rep, cluster_size, keep).

    Versus `semantic_dedup`'s greedy leader: component resolution is
    order-free (no greedy chain effects), multi-probe assignment
    recovers cross-cell pairs, and transitive near-dup chains collapse
    into ONE cluster (SemDeDup's per-cell greedy can keep several
    members of a chain). The trade is the components iteration
    (2-4 rounds of small-edge-set shuffles) on top of the pair scan.
    """
    from gus_spark.operators.graph import connected_components

    pairs = semantic_pairs(
        df, id_col, vec_col, threshold, k_cells, index_probes,
        lloyd_iters, dim,
    )
    labels = connected_components(
        pairs, src=f"{id_col}_a", dst=f"{id_col}_b"
    )
    live = df.filter(F.col(vec_col).isNotNull()).select(id_col)
    lab = (
        live.join(
            labels.withColumnRenamed("node", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
        )
    )
    sizes = lab.groupBy("cluster_rep").agg(
        F.count("*").alias("cluster_size")
    )
    return lab.join(sizes, "cluster_rep").select(
        id_col,
        "cluster_rep",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_rep")).alias("keep"),
    )

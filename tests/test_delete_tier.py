"""On-disk layout of the delete tier the three live indexes share
(storage/deltas.DeleteTier): MinHashIndex, VectorIndex, PostingIndex.

Contracts pinned here, for each index through build/add -> keyed
delete -> fold:
- the exact ``meta.json`` keys;
- the tombstone path: ``tombs/tomb-<key>`` for MinHash and Vector
  (their ``tombs`` values are counts), ``tomb-<key>`` at the root for
  Posting (its values are ``{n_docs, tok_sum}``);
- after the fold: ``tombs`` empty, the key in ``folded_tombs``, the
  tombstone dir gone;
- a config-only ``meta.json`` (no ``tombs``/``folded_tombs``, the form
  written before deletes existed) still opens for MinHash and Vector.
"""

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE

from gus_spark.operators.dedup import MinHashIndex
from gus_spark.operators.posting_index import PostingIndex
from gus_spark.operators.vector_index import VectorIndex
from gus_spark.queries import table

MINHASH_CONFIG = {"num_perms", "num_bands", "ngram", "threshold", "hash"}
VECTOR_CONFIG = {"m", "codes", "iters"}
POSTING_KEYS = {
    "layout", "name", "gen", "table", "n_buckets", "id_col", "text_col",
    "schema_ddl", "n_docs", "tok_sum", "positional", "deltas", "folded",
    "tombs", "folded_tombs",
}
TOMB_KEYS = {"tombs", "folded_tombs"}


def _meta(root):
    with open(os.path.join(root, "meta.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _strip_tombs(root):
    """Rewrite meta.json as its config-only form."""
    meta = {k: v for k, v in _meta(root).items() if k not in TOMB_KEYS}
    with open(os.path.join(root, "meta.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    return meta


def _docs(spark):
    return (
        table(spark, SF_DIR_ORACLE, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )


def test_minhash_layout(spark, tmp_path):
    root = str(tmp_path / "mh")
    idx = MinHashIndex(spark, root, ngram=3)
    assert set(_meta(root)) == MINHASH_CONFIG | TOMB_KEYS
    idx.add_and_find(_docs(spark), batch_key="a1").count()
    assert idx.delete([1, 2, 3, 10**9], batch_key="k1") == 3
    meta = _meta(root)
    assert set(meta) == MINHASH_CONFIG | TOMB_KEYS
    assert meta["tombs"] == {"k1": 3} and meta["folded_tombs"] == []
    assert os.listdir(os.path.join(root, "tombs")) == ["tomb-k1"]

    idx.maintain(max_tomb_frac=0)
    meta = _meta(root)
    assert set(meta) == MINHASH_CONFIG | TOMB_KEYS
    assert meta["tombs"] == {} and meta["folded_tombs"] == ["k1"]
    assert os.listdir(os.path.join(root, "tombs")) == []


def test_minhash_config_only_meta_opens(spark, tmp_path):
    root = str(tmp_path / "mh")
    MinHashIndex(spark, root, ngram=3).add_and_find(
        _docs(spark), batch_key="a1"
    ).count()
    config = _strip_tombs(root)
    idx = MinHashIndex(spark, root, ngram=3)
    assert _meta(root) == config  # opening does not rewrite it
    assert idx._read_meta()["tombs"] == {}
    assert idx.delete([4, 5], batch_key="k1") == 2
    assert _meta(root) == dict(config, tombs={"k1": 2}, folded_tombs=[])


def _vectors(spark):
    return table(spark, SF_DIR_ORACLE, "embeddings").filter(
        F.col("vec_id") < 200
    )


def test_vector_layout(spark, tmp_path):
    root = str(tmp_path / "vec")
    idx = VectorIndex(spark, root, iters=1, m=8, codes=16)
    assert set(_meta(root)) == VECTOR_CONFIG | TOMB_KEYS
    emb = _vectors(spark)
    idx.fit(emb)
    idx.add(emb, batch_key="a1")
    assert idx.delete([1, 2, 10**9], batch_key="k1") == 2
    meta = _meta(root)
    assert set(meta) == VECTOR_CONFIG | TOMB_KEYS
    assert meta["tombs"] == {"k1": 2} and meta["folded_tombs"] == []
    assert os.listdir(os.path.join(root, "tombs")) == ["tomb-k1"]

    idx.compact()
    meta = _meta(root)
    assert set(meta) == VECTOR_CONFIG | TOMB_KEYS
    assert meta["tombs"] == {} and meta["folded_tombs"] == ["k1"]
    assert os.listdir(os.path.join(root, "tombs")) == []
    assert idx.stats()["n_rows"] == emb.count() - 2


def test_vector_config_only_meta_opens(spark, tmp_path):
    root = str(tmp_path / "vec")
    first = VectorIndex(spark, root, iters=1, m=8, codes=16)
    emb = _vectors(spark)
    first.fit(emb)
    first.add(emb, batch_key="a1")
    config = _strip_tombs(root)
    idx = VectorIndex(spark, root, iters=1, m=8, codes=16)
    assert _meta(root) == config
    assert idx.stats()["n_tombs"] == 0
    assert idx.delete([4], batch_key="k1") == 1
    assert _meta(root) == dict(config, tombs={"k1": 1}, folded_tombs=[])


def test_posting_layout(spark, tmp_path):
    root = str(tmp_path / "post")
    docs = _docs(spark)
    idx = PostingIndex(spark, root)
    idx.build(
        docs.filter(F.col("doc_id") % 2 == 0), "pidx_layout", n_buckets=4
    )
    idx.add(docs.filter(F.col("doc_id") % 2 == 1), batch_key="a1")
    dead = [2, 3, 10**9]
    want = docs.filter(F.col("doc_id").isin(dead)).select(
        F.size(F.split(F.trim("text"), r"\s+")).alias("dl")
    ).agg(F.count("*").alias("n"), F.sum("dl").alias("s")).first()
    assert idx.delete(dead, batch_key="k1") == 2
    meta = _meta(root)
    assert set(meta) == POSTING_KEYS
    assert meta["tombs"] == {"k1": {"n_docs": 2, "tok_sum": want["s"]}}
    assert meta["folded_tombs"] == []
    assert os.path.isdir(os.path.join(root, "tomb-k1"))
    assert not os.path.exists(os.path.join(root, "tombs"))

    idx.compact()
    meta = _meta(root)
    assert set(meta) == POSTING_KEYS
    assert meta["tombs"] == {} and meta["folded_tombs"] == ["k1"]
    assert meta["deltas"] == {} and meta["folded"] == ["a1"]
    assert meta["gen"] == 1 and meta["n_docs"] == docs.count() - 2
    assert not os.path.exists(os.path.join(root, "tomb-k1"))

"""ParquetStore's record-level Arrow writer (``_write_table``) against
Spark: Spark's reader sees NaN rows in the files it writes exactly as
the Arrow snapshot reader does, and ``read_df``, ``compact()`` and
``ChangeFeed.poll`` return the same rows over its files as over files
from Spark's writer (``_write_data_file``)."""

import json
import random

import pytest
from pyspark.sql import functions as F

from gus_spark.api.subscriptions import ChangeFeed
from gus_spark.model.types import ModelDefinition
from gus_spark.storage.parquet_store import ParquetStore, _arrow_predicate

NAN = float("nan")


def _model(pk_type: str) -> ModelDefinition:
    return ModelDefinition.from_json(
        {
            "model_name": "sample",
            "attributes": {
                "id": pk_type,
                "name": "String",
                "score": "Float",
                "scores": ["Float"],
                "tags": ["String"],
                "flag": "Boolean",
            },
            "primary_key": "id",
            "required": ["id"],
        }
    )


def _ids(rows):
    return sorted(r["id"] for r in rows)


def test_spark_filters_see_nan_rows_of_arrow_written_files(spark, tmp_path):
    """parquet's float min/max skip NaN and Spark's filter pushdown
    trusts them, so a file with float stats would lose the NaN rows
    Spark ranks above every number (``score > 2.25`` keeps them)."""
    model = _model("Integer")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [
        {"id": 1, "score": 0.5, "scores": [0.5, NAN]},
        {"id": 2, "score": NAN, "scores": [1.0]},
        {"id": 3, "score": 1.0, "scores": [NAN]},
        {"id": 4, "score": None, "scores": []},
    ])
    # a rewritten file too: id 4 turns NaN
    store.update_one(model, "4", {"score": NAN, "scores": [2.0, NAN]})
    [entry] = store._current_manifest(model)["files"]
    df = store.read_df(model)
    rows = store._scan(model, [entry], None).to_pylist()
    ops = {"eq": "==", "gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
    for value in (2.25, 1.0, 0.75, -1.0, NAN):
        for op, sql in ops.items():
            spark_ids = _ids(
                df.filter(f"score {sql} double('{value}')").collect()
            )
            arrow = store._scan(
                model, [entry], _arrow_predicate(model, [("score", op, value)])
            )
            assert spark_ids == _ids(arrow.to_pylist()), (op, value)
        # an array element: Spark ranks NaN above every number
        spark_ids = _ids(
            df.filter(F.exists("scores", lambda x: x > F.lit(value))).collect()
        )
        want = [
            r["id"] for r in rows
            if any(x != x or x > value for x in r["scores"] or [])
            and value == value
        ]
        assert spark_ids == sorted(want), value


class SparkWriterStore(ParquetStore):
    """Record-level writes through Spark's writer (``_write_data_file``,
    one job, up to ``defaultParallelism`` files), as the store wrote
    them before the Arrow writer."""

    def _write_table(self, table, model):
        if not len(table):  # as the Arrow writer: nothing to write
            return []
        df = self.spark.createDataFrame(table, model.to_struct_type())
        return self._write_data_file(df, model)


KEYS = {
    "Integer": [-(2**63), 2**63 - 1, *range(-12, 36, 3)],
    "Float": [NAN, -1e300, 1e300, *(i * 0.5 for i in range(-6, 18))],
    "String": ["", "a", "é", "日本", "～", "😀",
               *(f"k{i:02d}" for i in range(14))],
    "Boolean": [True, False],
}


def _record(rng, key):
    return {
        "id": key,
        "name": rng.choice([None, "", "naïve", "日本語", "😀x", "a\nb"]),
        "score": rng.choice([None, NAN, -2.0, 0.0, 1.5]),
        "scores": rng.choice([None, [], [NAN, 1.0], [0.5], [NAN]]),
        "tags": rng.choice([None, [], ["日本", "x"], ["é"]]),
        "flag": rng.choice([None, True, False]),
    }


def _id_str(key):
    return key if isinstance(key, str) else json.dumps(key)


def _canon(rows):
    """Rows as sorted reprs (``repr`` spells every NaN ``nan``)."""
    return sorted(
        repr(r.asDict() if hasattr(r, "asDict") else r) for r in rows
    )


def _ops(rng, keys):
    """A seeded sequence of record-level writes: two create batches,
    updates, a delete, an upsert batch and a CDC apply."""
    live = list(keys)
    rng.shuffle(live)
    half = len(live) // 2
    out = [("create_many", [_record(rng, k) for k in live[:half]]),
           ("create_many", [_record(rng, k) for k in live[half:]])]
    for k in rng.sample(live, min(2, len(live))):
        out.append(("update_one", _id_str(k), {
            "name": rng.choice(["é_%", None]), "scores": [NAN, -0.5]}))
    gone = rng.choice(live)
    live = [k for k in live if k is not gone]
    out.append(("delete_one", _id_str(gone)))
    out.append(("upsert_many", [_record(rng, k) for k in [*live[:1], gone]]))
    live.append(gone)
    out.append(("apply_changes", [_record(rng, live[-1])], live[:1]))
    return out


def _apply(store, model, op):
    name, *args = op
    if name == "apply_changes":
        upserts, deletes = args
        return store.apply_changes(model, upserts=upserts, deletes=deletes)
    return getattr(store, name)(model, *args)


@pytest.mark.parametrize("pk_type", sorted(KEYS))
def test_arrow_and_spark_written_files_read_alike(spark, tmp_path, pk_type):
    rng = random.Random(f"parity-{pk_type}")
    model = _model(pk_type)
    arrow = ParquetStore(spark, str(tmp_path / "arrow"))
    parent = SparkWriterStore(spark, str(tmp_path / "spark"))
    feeds = [ChangeFeed(arrow, model), ChangeFeed(parent, model)]

    def same(step):
        got, want = (s.read_df(model) for s in (arrow, parent))
        assert got.schema == want.schema, step
        assert _canon(got.collect()) == _canon(want.collect()), step
        delivered, expected = (f.poll() for f in feeds)
        assert _canon(delivered) == _canon(expected), step

    for op in _ops(rng, KEYS[pk_type]):
        assert repr(_apply(arrow, model, op)) == repr(
            _apply(parent, model, op)), op
        same(op[0])
    for store in (arrow, parent):
        store.compact(model, target_files=2)
    same("compact")
    # compaction rewrote Arrow files through Spark; a point write after
    # it goes back through the Arrow writer
    op = ("upsert_many", [_record(rng, KEYS[pk_type][0])])
    assert repr(_apply(arrow, model, op)) == repr(_apply(parent, model, op))
    same("upsert after compact")

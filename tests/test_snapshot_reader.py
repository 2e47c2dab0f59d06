"""The serving path's Arrow snapshot reader (``ParquetStore._scan``):
``read_one`` and ``scan_page`` against their Spark references
(``read_df().filter`` and ``GraphQLApi.read_many_df``), the schema
rules the metadata-only migrations rely on, the early stop of a keyset
page, and reads that launch no Spark job (the write pins are in
test_storage.py)."""

import json
import math
import random

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from gus_spark.api.graphql import GraphQLApi, _filter_terms
from gus_spark.errors import GusError, NotFoundError
from gus_spark.model.registry import ModelRegistry
from gus_spark.model.types import ModelDefinition
from gus_spark.storage.parquet_store import ParquetStore

# every char LIKE treats specially, plus a newline and non-ASCII
ALPHABET = ["a", "b", "é", "日", "😀", "_", "%", "\\", "\n"]
LIKE_PATTERNS = [
    "a%", "%b", "_", "__", "a_b", "%日%", "é%", "%😀", "a%b%",
    "\\_%", "%\\%%", "%\\\\%", "\\\\", "", "%", "%\n%", "a_",
]


def _sample_model(pk_type: str) -> ModelDefinition:
    return ModelDefinition.from_json(
        {
            "model_name": "sample",
            "attributes": {
                "id": pk_type,
                "name": "String",
                "score": "Float",
                "flag": "Boolean",
                "tags": ["String"],
            },
            "primary_key": "id",
            "required": ["id"],
        }
    )


def _api(model, store):
    registry = ModelRegistry()
    registry.register(model)
    return GraphQLApi(registry, store)


def _norm(rows):
    """Rows with NaN made comparable (NaN != NaN in Python)."""
    return [
        {k: "NaN" if isinstance(v, float) and math.isnan(v) else v
         for k, v in r.items()}
        for r in rows
    ]


def _spark_page(gapi, model, args, limit, after):
    df = gapi.read_many_df(model, dict(args), limit, after)
    return [r.asDict() for r in df.collect()]


def _id_str(key):
    """The URI form of a pk: a String as is, the rest as JSON."""
    return key if isinstance(key, str) else json.dumps(key)


def _record(rng, key):
    name = (
        None if rng.random() < 0.1
        else "".join(rng.choices(ALPHABET, k=rng.randint(0, 4)))
    )
    score = rng.choice(
        [None, float("nan"), -1.5, 0.0, 2.25, round(rng.uniform(-5, 5), 2)]
    )
    tags = rng.choice([None, ["x"], ["日本", "y"]])
    return {"id": key, "name": name, "score": score,
            "flag": rng.random() < 0.5, "tags": tags}


def _build(store, model, rng, keys):
    """Overlapping delta files on top of compacted ones, then churn."""
    rng.shuffle(keys)
    first, rest = keys[: len(keys) // 2], keys[len(keys) // 2:]
    for i in range(0, len(first), 7):
        store.create_many(model, [_record(rng, k) for k in first[i:i + 7]])
    store.compact(model, target_files=2)
    for i in range(0, len(rest), 5):
        store.create_many(model, [_record(rng, k) for k in rest[i:i + 5]])
    live = sorted(keys, key=repr)
    for k in rng.sample(live, 3):
        store.update_one(model, _id_str(k), {"name": "é_%\\"})
    for k in rng.sample(live, 2):
        store.delete_one(model, _id_str(k))


def _random_args(rng, keys):
    args = {}
    if rng.random() < 0.5:
        op = rng.choice(["score", "score_gt", "score_gte", "score_lt",
                         "score_lte"])
        args[op] = rng.choice([0.0, 2.25, -1.5, 1.0, float("nan")])
    if rng.random() < 0.4:
        args["name_like"] = rng.choice(LIKE_PATTERNS)
    if rng.random() < 0.3:
        args["flag"] = rng.random() < 0.5
    if rng.random() < 0.2:
        args["id_gte"] = rng.choice(keys)
    return args


def _cursors(pk_type, keys):
    finite = sorted(k for k in keys if k == k)
    lo, hi = finite[0], finite[-1]
    below = lo - 1 if pk_type != "String" else ""
    above = hi + 1 if pk_type != "String" else hi + "~"
    inside = finite[len(finite) // 3]
    out = [below, inside, finite[len(finite) // 2], above]
    if pk_type == "Float":
        out.append(inside + 0.5)  # between keys
        out.append(float("nan"))  # nothing ranks above NaN
    return out


KEYS = {
    "Integer": list(range(0, 120, 2)),
    "Float": [i * 0.5 for i in range(60)] + [float("nan")],
    "String": [f"k{i:03d}" for i in range(50)] + ["é1", "日本", "😀"],
}


@pytest.mark.parametrize("pk_type", sorted(KEYS))
@pytest.mark.parametrize("seed", [1, 2])
def test_scan_page_and_read_one_match_spark(spark, tmp_path, pk_type, seed):
    rng = random.Random(seed)
    model = _sample_model(pk_type)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    keys = list(KEYS[pk_type])
    _build(store, model, rng, keys)
    gapi = _api(model, store)
    layout = store._current_manifest(model)["files"]
    assert len(layout) > 3

    for after in _cursors(pk_type, keys):
        for limit in (0, 1, rng.randint(2, 40), 200):
            for _ in range(3):
                args = _random_args(rng, keys)
                want = _spark_page(gapi, model, args, limit, after)
                got = store.scan_page(
                    model, after, limit, _filter_terms(model, args)
                )
                assert _norm(got) == _norm(want), (after, limit, args)

    snapshot = store.read_df(model)
    probes = rng.sample(keys, 8) + _cursors(pk_type, keys)[:1]
    if pk_type == "Float":
        probes.append(float("nan"))
    for key in probes:
        want = [
            r.asDict()
            for r in snapshot.filter(F.col("id") == F.lit(key)).collect()
        ]
        try:
            got = [store.read_one(model, _id_str(key))]
        except NotFoundError:
            got = []
        assert _norm(got) == _norm(want), key


def test_invalid_like_escape_errors_on_both_paths(spark, tmp_path):
    model = _sample_model("Integer")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": 1, "name": "ab"}])
    gapi = _api(model, store)
    for pattern in ["a\\b", "a\\"]:
        args = {"name_like": pattern}
        with pytest.raises(Exception):
            _spark_page(gapi, model, args, 5, 0)
        with pytest.raises(GusError, match="LIKE"):
            store.scan_page(model, 0, 5, _filter_terms(model, args))
        out = gapi.execute(
            '{ samples(limit: 5, after: 0, name_like: %s) { id } }'
            % json.dumps(pattern)
        )
        assert out["errors"]


def test_invalid_like_escape_is_one_error_on_every_page_shape(
    spark, tmp_path
):
    """An invalid LIKE escape is rejected while the filter args are
    parsed, so the keyset page (Arrow), the offset and ``orderBy``
    pages and ``<plural>Stats`` (all Spark) return the same GraphQL
    error entry, never Spark's raw analysis error at collect."""
    model = _sample_model("Integer")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(model, [{"id": 1, "name": "ab"}])
    gapi = _api(model, store)
    for pattern in ["a\\b", "a\\"]:
        like = json.dumps(pattern)
        queries = [
            "{ samples(limit: 5, after: 0, name_like: %s) { id } }",
            "{ samples(limit: 5, name_like: %s) { id } }",
            '{ samples(limit: 5, orderBy: "name", name_like: %s) { id } }',
            "{ samplesStats(name_like: %s) { count } }",
        ]
        errors = []
        for q in queries:
            out = gapi.execute(q % like)
            assert len(out["errors"]) == 1, (q, out)
            errors.append(out["errors"][0]["message"])
        assert errors == [errors[0]] * len(queries), errors
        assert "invalid LIKE pattern" in errors[0]
        assert "INVALID_FORMAT" not in errors[0]


def test_metadata_only_added_attribute_reads_null(spark, tmp_path):
    from gus_spark.storage.migrate import migrate

    old = ModelDefinition.from_json(
        {"model_name": "evolve",
         "attributes": {"id": "Integer", "note": "String", "gone": "Float"},
         "primary_key": "id", "required": ["id"]}
    )
    new = ModelDefinition.from_json(
        {"model_name": "evolve",
         "attributes": {"id": "Integer", "note": "String",
                        "extra": "String"},
         "primary_key": "id", "required": ["id"]}
    )
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(old, [{"id": i, "note": f"n{i}", "gone": 1.0}
                            for i in range(1, 6)])
    plan = migrate(store, old, new)
    assert not plan.requires_rewrite
    store.create_one(new, {"id": 9, "note": "n9", "extra": "x"})
    gapi = _api(new, store)

    expected = {"id": 2, "extra": None, "note": "n2"}
    assert store.read_one(new, "2") == expected
    assert store.scan_page(new, 1, 1) == [expected]
    assert _spark_page(gapi, new, {}, 1, 1) == [expected]
    for args in ({"extra": "x"}, {"extra_like": "%"}):
        terms = _filter_terms(new, args)
        assert store.scan_page(new, 0, 10, terms) == _spark_page(
            gapi, new, args, 10, 0
        ) == [{"id": 9, "extra": "x", "note": "n9"}]


def test_first_page_over_compacted_table_opens_one_file(
    spark, tmp_path, monkeypatch
):
    model = _sample_model("Integer")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(
        model, [{"id": i, "name": f"n{i}"} for i in range(1, 41)]
    )
    store.compact(model, target_files=4)
    assert len(store._current_manifest(model)["files"]) == 4

    opened = []
    scan = ParquetStore._scan

    def spy(self, model, files, *args, **kwargs):
        opened.extend(f["path"] for f in files)
        return scan(self, model, files, *args, **kwargs)

    monkeypatch.setattr(ParquetStore, "_scan", spy)
    page = store.scan_page(model, 0, 5)
    assert [r["id"] for r in page] == [1, 2, 3, 4, 5]
    assert len(opened) == 1
    # a page that outgrows its first file reads on, in lo order
    opened.clear()
    page = store.scan_page(model, 8, 5)
    assert [r["id"] for r in page] == [9, 10, 11, 12, 13]
    assert len(opened) == 2
    # a filter that empties a file keeps the page reading
    opened.clear()
    page = store.scan_page(model, 0, 2, [("id", "gt", 35)])
    assert [r["id"] for r in page] == [36, 37]
    assert len(opened) == 4


def test_reads_launch_no_spark_job(spark, tmp_path):
    model = _sample_model("Integer")
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_many(
        model, [{"id": i, "name": f"n{i}"} for i in range(2, 82, 2)]
    )
    store.compact(model, target_files=4)
    gapi = _api(model, store)

    got, n = spark_jobs(spark, lambda: store.read_one(model, "8"))
    assert (got["name"], n) == ("n8", 0)
    got, n = spark_jobs(
        spark, lambda: store.scan_page(model, 10, 3, [("name", "like", "n%")])
    )
    assert ([r["id"] for r in got], n) == ([12, 14, 16], 0)
    got, n = spark_jobs(
        spark,
        lambda: gapi.execute("{ samples(limit: 2, after: 76) { id } }"),
    )
    assert (got, n) == ({"data": {"samples": [{"id": 78}, {"id": 80}]}}, 0)

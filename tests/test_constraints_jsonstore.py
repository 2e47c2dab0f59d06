"""Constraint completion + JSON-file storage backend parity tests."""

import json

import pytest

from gus_spark.errors import (
    DuplicateKeyError,
    ModelValidationError,
    NotFoundError,
    RecordValidationError,
    StorageError,
)
from gus_spark.model.record import parse_record
from gus_spark.model.types import ModelDefinition
from gus_spark.storage.json_store import JsonFileStore


def model_with(constraints):
    return ModelDefinition.from_json(
        {
            "model_name": "movie",
            "attributes": {
                "id": "Integer",
                "name": "String",
                "year": "Integer",
                "actors": ["String"],
            },
            "primary_key": "id",
            "required": ["id"],
            "constraints": constraints,
        }
    )


def test_empty_shells_are_noop():  # reference behavior preserved
    m = model_with({"year": {}, "name": {}})
    parse_record({"id": 1, "year": 1800, "name": ""}, m)


def test_unknown_constraint_attr_rejected():
    with pytest.raises(ModelValidationError):
        model_with({"phantom": {"min": 1}})


def test_unknown_constraint_key_rejected():
    with pytest.raises(ModelValidationError):
        model_with({"year": {"max_length": 3}})  # string key on Integer


@pytest.mark.parametrize(
    "constraints,record,ok",
    [
        ({"year": {"min": 1870, "max": 2100}}, {"id": 1, "year": 1994}, True),
        ({"year": {"min": 1870}}, {"id": 1, "year": 1492}, False),
        ({"name": {"max_length": 5}}, {"id": 1, "name": "abcdef"}, False),
        ({"name": {"regex": "[A-Z][a-z]+"}}, {"id": 1, "name": "Heat"}, True),
        ({"name": {"regex": "[A-Z][a-z]+"}}, {"id": 1, "name": "heat"}, False),
        ({"actors": {"min_items": 1}}, {"id": 1, "actors": []}, False),
        ({"actors": {"max_length": 10}}, {"id": 1, "actors": ["ok"]}, True),
        ({"year": {"min": 1870}}, {"id": 1}, True),  # null skips checks
    ],
)
def test_constraint_enforcement(constraints, record, ok):
    m = model_with(constraints)
    if ok:
        parse_record(record, m)
    else:
        with pytest.raises(RecordValidationError):
            parse_record(record, m)


def test_spark_predicate(spark):
    from gus_spark.model.constraints import to_spark_predicate

    m = model_with({"year": {"min": 1900}, "name": {"max_length": 4}})
    # field order: id, actors, name, year (pk first, then alphabetical)
    df = spark.createDataFrame(
        [(1, None, "Heat", 1995), (2, None, "Seven", 1995), (3, None, "Alien", 1850)],
        m.to_struct_type(),
    )
    bad = df.filter(~to_spark_predicate(m))
    assert {r.id for r in bad.collect()} == {2, 3}


# --- JSON store (json/mod.rs parity) ----------------------------------------
@pytest.fixture()
def movie(movie_model):
    return movie_model


@pytest.fixture()
def jstore(spark, tmp_path):
    return JsonFileStore(spark, str(tmp_path / "data.json.gus"))


RECORD = {"id": 1, "name": "Heat", "recommended": True}


def test_json_store_missing_file_empty(jstore, movie):  # json/mod.rs tests
    assert jstore.read_db(movie) == {"movie": {}}


def test_json_store_empty_file(jstore, movie, tmp_path):
    open(jstore.storage_file, "w").close()
    assert jstore.read_db(movie) == {"movie": {}}


def test_json_store_other_model_preserved(jstore, movie):
    with open(jstore.storage_file, "w") as fh:
        fh.write('{"another": {"1": {"id": 1}}}')
    db = jstore.read_db(movie)
    assert db["another"] == {"1": {"id": 1}}
    assert db["movie"] == {}


def test_json_store_corrupt_file(jstore, movie):
    with open(jstore.storage_file, "w") as fh:
        fh.write('i am not json {"id":false}')
    with pytest.raises(StorageError):
        jstore.read_db(movie)


def test_json_store_crud_roundtrip(jstore, movie):
    created = jstore.create_one(movie, RECORD)
    assert created["name"] == "Heat"
    # key is the JSON-serialized pk (json/mod.rs:85)
    with open(jstore.storage_file) as fh:
        raw = json.load(fh)
    assert "1" in raw["movie"]
    with pytest.raises(DuplicateKeyError) as e:
        jstore.create_one(movie, RECORD)
    assert "try to update it instead (PUT)" in str(e.value)
    assert jstore.read_one(movie, "1")["name"] == "Heat"
    updated = jstore.update_one(movie, "1", {"year": 1995})
    assert updated["year"] == 1995 and updated["name"] == "Heat"
    assert jstore.delete_one(movie, "1")["year"] == 1995
    with pytest.raises(NotFoundError):
        jstore.read_one(movie, "1")


def test_json_store_string_pk_key_format(jstore):
    m = ModelDefinition.from_json(
        {
            "model_name": "book",
            "attributes": {"id": "String"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    jstore.create_one(m, {"id": "get"})
    with open(jstore.storage_file) as fh:
        raw = json.load(fh)
    assert '"get"' in raw["book"]  # '"get"' key like the reference seed file


def test_json_store_reads_reference_format(jstore, spark):
    """A reference-produced storage file loads as-is (server.data.test.json
    shape) and bridges to a DataFrame."""
    m = ModelDefinition.from_json(
        {
            "model_name": "movie",
            "attributes": {"id": "String", "name": "String"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    with open(jstore.storage_file, "w") as fh:
        fh.write(
            '{"movie": {"\\"get\\"": {"id": "get"}, "\\"put\\"": {"id": "put"}}}'
        )
    assert jstore.read_one(m, "get") == {"id": "get", "name": None}
    df = jstore.read_df(m)
    assert {r.id for r in df.collect()} == {"get", "put"}


def test_json_store_read_df_matches_row_path(spark, jstore):
    """read_df builds its frame from one Arrow table; schema and rows
    must equal the list-of-tuples ``createDataFrame`` it replaced, for
    every primitive and array type and every null mix."""
    from gus_spark.model.record import add_null_values

    model = ModelDefinition.from_json(
        {
            "model_name": "sample",
            "attributes": {
                "id": "Integer",
                "ratio": "Float",
                "label": "String",
                "flag": "Boolean",
                "ints": ["Integer"],
                "ratios": ["Float"],
                "labels": ["String"],
                "flags": ["Boolean"],
            },
            "primary_key": "id",
            "required": ["id", "label"],
        }
    )

    def old_path():
        data = jstore.read_db(model)[model.model_name]
        rows = [
            tuple(add_null_values(rec, model).get(f) for f in model.field_order)
            for rec in data.values()
        ]
        return spark.createDataFrame(rows, model.to_struct_type())

    assert jstore.read_df(model).schema == old_path().schema
    assert jstore.read_df(model).collect() == []
    bodies = [
        {"id": 1, "label": "a", "ratio": 0.5, "flag": True, "ints": [1, -2],
         "ratios": [1.5, -0.25], "labels": ["x", "é"], "flags": [True]},
        {"id": 2, "label": "", "ints": [], "labels": [], "ratios": []},
        {"id": -(2**63), "label": "日本", "flag": False, "flags": []},
        {"id": 2**63 - 1, "label": "z", "ratio": -1e300, "ratios": None},
        {"id": 5, "label": "n", "ratio": 3, "ints": [2**63 - 1]},
    ]
    for body in bodies:
        jstore.create_one(model, body)
    new, old = jstore.read_df(model), old_path()
    assert new.schema == old.schema
    assert sorted(new.collect()) == sorted(old.collect())

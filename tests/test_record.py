"""Record-validation matrix — ports the reference's strict no-coercion
tests (src/cli/server/model.rs:309-478) 1:1."""

import pytest

from gus_spark.errors import RecordValidationError
from gus_spark.model.record import add_null_values, parse_record, parse_uri_id
from gus_spark.model.types import ModelDefinition

VALID = {
    "id": 1,
    "name": "Natural Born Killers",
    "year": 1994,
    "actors": ["Woody Harrelson", "Juliette Lewis"],
    "recommended": True,
}


def test_valid_record(movie_model):
    rec = parse_record(VALID, movie_model)
    assert rec == {
        "id": 1,
        "actors": ["Woody Harrelson", "Juliette Lewis"],
        "name": "Natural Born Killers",
        "recommended": True,
        "year": 1994,
    }


def test_null_for_non_required_ok(movie_model):  # model.rs:355-367
    rec = parse_record(
        {"id": 1, "name": "x", "recommended": False, "year": None,
         "actors": None},
        movie_model,
    )
    assert rec["year"] is None and rec["actors"] is None


def test_missing_non_required_padded(movie_model):  # model.rs:291-298
    rec = parse_record({"id": 1, "name": "x", "recommended": False}, movie_model)
    assert set(rec) == {"id", "name", "year", "actors", "recommended"}
    assert rec["year"] is None


@pytest.mark.parametrize(
    "patch",
    [
        {"id": "1"},                # string-for-Integer (model.rs:369-...)
        {"recommended": "true"},    # string-for-Boolean
        {"name": 1994},             # integer-for-String
        {"actors": [1, 2]},         # Array(Integer)-for-Array(String)
        {"actors": ["a", None]},    # null inside array (model.rs:459-472)
        {"actors": "abc"},          # non-array for Array
        {"id": 1.5},                # float-for-Integer
        {"id": True},               # bool-for-Integer
        {"unknown_attr": 1},        # unknown attribute (model.rs:281-283)
        {"year": "1994"},           # string-for-Integer (optional attr)
        {"id": 2**63},              # above i64 (types.rs:46-47)
        {"year": -(2**63) - 1},     # below i64
    ],
)
def test_invalid_values_rejected(movie_model, patch):
    body = dict(VALID)
    body.update(patch)
    with pytest.raises(RecordValidationError):
        parse_record(body, movie_model)


@pytest.mark.parametrize("missing", ["id", "name", "recommended"])
def test_missing_required_rejected(movie_model, missing):
    body = dict(VALID)
    del body[missing]
    with pytest.raises(RecordValidationError):
        parse_record(body, movie_model)


@pytest.mark.parametrize("required_attr", ["id", "name", "recommended"])
def test_null_required_rejected(movie_model, required_attr):
    body = dict(VALID)
    body[required_attr] = None
    with pytest.raises(RecordValidationError):
        parse_record(body, movie_model)


def test_non_json_rejected(movie_model):  # model.rs:235-237
    with pytest.raises(RecordValidationError):
        parse_record("not json {", movie_model)
    with pytest.raises(RecordValidationError):
        parse_record("[1, 2]", movie_model)


def test_parse_uri_id_integer(movie_model):  # model.rs:110-129
    assert parse_uri_id("7", movie_model) == 7
    with pytest.raises(RecordValidationError):
        parse_uri_id("abc", movie_model)
    with pytest.raises(RecordValidationError):
        parse_uri_id("1.5", movie_model)


def test_integer_i64_bounds():  # types.rs:46-47 — Integer is i64
    m = ModelDefinition.from_json(
        {
            "model_name": "sample",
            "attributes": {"id": "Integer", "counts": ["Integer"]},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    lo, hi = -(2**63), 2**63 - 1
    assert parse_record({"id": hi, "counts": [lo, hi]}, m)["counts"] == [lo, hi]
    for counts in ([hi + 1], [0, lo - 1]):
        with pytest.raises(RecordValidationError, match="i64"):
            parse_record({"id": 1, "counts": counts}, m)
    assert parse_uri_id(str(lo), m) == lo
    with pytest.raises(RecordValidationError):
        parse_uri_id(str(hi + 1), m)


def test_add_null_values_order(movie_model):
    rec = add_null_values({"id": 1}, movie_model)
    assert list(rec) == ["id", "actors", "name", "recommended", "year"]

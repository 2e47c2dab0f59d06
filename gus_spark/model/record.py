"""Strict record validation — the engine's ingest predicate.

Ports the reference's most-tested behavior (reference:
src/cli/server/model.rs:231-289 ``parse_record``,
src/cli/server/model/types.rs:264-298 ``to_true_prim_type``): strict,
no-coercion typing. Spark casts permissively by default, so this check
runs as a pre-flight Python layer before any DataFrame write — it is a
per-record constant cost on the mutation path, never a per-row UDF on the
analytics path.

Rules:
- body must be a JSON object (model.rs:235-237)
- every required attribute must be present (model.rs:240-244)
- null only for non-required attributes (types.rs:265-271)
- strict type match, no coercion: "1" is not Integer, 1 is not Boolean,
  bool is not Integer (tests model.rs:369-428)
- Integer accepts only integral values (i64); Float accepts int or float
- array elements must be non-null and of the declared element type
  (model.rs:259-278)
- unknown attributes rejected (model.rs:281-283)
- missing non-required attributes materialize as explicit nulls
  (``add_null_values``, model.rs:291-298)
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Any, Iterable

from gus_spark.errors import RecordValidationError
from gus_spark.model.types import AttrType, ModelDefinition

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# types.rs:46-47 — Integer is i64 (LongType)
I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _check_primitive(value: Any, primitive: str, attr: str) -> Any:
    if primitive == "Integer":
        # bool is a subclass of int in Python — exclude explicitly
        if isinstance(value, bool) or not isinstance(value, int):
            raise RecordValidationError(
                f"attribute {attr!r} must be an Integer"
            )
        if not I64_MIN <= value <= I64_MAX:
            raise RecordValidationError(
                f"attribute {attr!r} is outside the Integer (i64) range"
            )
        return value
    if primitive == "Float":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise RecordValidationError(f"attribute {attr!r} must be a Float")
        return float(value)
    if primitive == "String":
        if not isinstance(value, str):
            raise RecordValidationError(f"attribute {attr!r} must be a String")
        return value
    if primitive == "Boolean":
        if not isinstance(value, bool):
            raise RecordValidationError(f"attribute {attr!r} must be a Boolean")
        return value
    raise RecordValidationError(f"unknown primitive type {primitive!r}")


def _check_value(value: Any, attr_type: AttrType, attr: str) -> Any:
    if attr_type.is_array:
        if not isinstance(value, list):
            raise RecordValidationError(f"attribute {attr!r} must be an Array")
        out = []
        for elem in value:
            if elem is None:
                # model.rs:259-278 — null array elements are invalid
                raise RecordValidationError(
                    f"attribute {attr!r} must not contain null elements"
                )
            out.append(_check_primitive(elem, attr_type.primitive, attr))
        return out
    return _check_primitive(value, attr_type.primitive, attr)


def parse_record(
    body: str | dict,
    model: ModelDefinition,
    required: list[str] | None = None,
) -> dict[str, Any]:
    """Validate a JSON record against the model; returns the full-schema
    dict (missing non-required attrs as explicit None).

    ``required`` overrides the model's required list — the reference's
    two-pass patch-parse trick (model.rs:73-84) passes ``[]`` first to
    discover which attributes were supplied, then the intersection.
    """
    if isinstance(body, str):
        try:
            obj = json.loads(body)
        except (ValueError, TypeError) as e:
            raise RecordValidationError(f"invalid JSON: {e}") from e
    else:
        obj = body
    if not isinstance(obj, dict):
        raise RecordValidationError("record must be a JSON object")

    req = model.required if required is None else required
    record: dict[str, Any] = {}
    for attr, value in obj.items():
        attr_type = model.attributes.get(attr)
        if attr_type is None:
            # model.rs:281-283
            raise RecordValidationError(f"unknown attribute {attr!r}")
        if value is None:
            if attr in req:
                raise RecordValidationError(
                    f"required attribute {attr!r} must not be null"
                )
            record[attr] = None
        else:
            record[attr] = _check_value(value, attr_type, attr)
    for attr in req:
        if attr not in record:
            raise RecordValidationError(f"missing required attribute {attr!r}")
    from gus_spark.model.constraints import check_constraints

    check_constraints(record, model)
    return add_null_values(record, model)


def add_null_values(record: dict, model: ModelDefinition) -> dict:
    """model.rs:291-298 — output rows always carry the full schema, in the
    model's canonical field order."""
    return {name: record.get(name) for name in model.field_order}


def records_to_table(records: Iterable[dict], model: ModelDefinition):
    """Records (attr -> value dicts) as one ``pyarrow.Table`` of the
    model's schema. ``Table.from_pylist`` accepts a None in a
    non-nullable field silently, so the nullability check that
    ``createDataFrame``'s row path made is done here: a null in a
    non-nullable column or array element raises ValueError."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(model.to_struct_type())
    table = pa.Table.from_pylist(list(records), schema=schema)
    for field, column in zip(table.schema, table.columns):
        nulls = 0 if field.nullable else column.null_count
        if pa.types.is_list(field.type) and not field.type.value_field.nullable:
            nulls += pc.list_flatten(column).null_count
        if nulls:
            raise ValueError(
                f"{model.model_name}.{field.name}: null in a non-nullable field"
            )
    return table


def records_to_df(
    spark: "SparkSession", records: Iterable[dict], model: ModelDefinition
) -> "DataFrame":
    """Records as a DataFrame of the model's schema, built from one
    Arrow table (``records_to_table``): a ``LocalTableScan`` that needs
    no Python worker."""
    return spark.createDataFrame(
        records_to_table(records, model), model.to_struct_type()
    )


def parse_uri_id(id_str: str, model: ModelDefinition) -> Any:
    """model.rs:110-129 — coerce a URI path segment to the pk's declared
    type: String passes through; other types JSON-parse then strict-check."""
    pk_type = model.attributes[model.primary_key]
    if pk_type.primitive == "String" and not pk_type.is_array:
        return id_str
    try:
        value = json.loads(id_str)
    except (ValueError, TypeError) as e:
        raise RecordValidationError(
            f"invalid id {id_str!r} for primary key type {pk_type.primitive}"
        ) from e
    return _check_value(value, pk_type, model.primary_key)

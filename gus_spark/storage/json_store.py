"""JSON-file storage backend — byte-compatible with the reference's only
implemented storage (reference: src/cli/server/model/storage_handler/
json/mod.rs).

File format: one JSON document ``{model_name: {json_serialized_pk:
record}}`` (json/mod.rs:45-47); keys are the JSON serialization of the
pk value — ``"\\"get\\""``, ``"1"``, ``"true"`` (json/mod.rs:85-127).
``read_db`` tolerance matrix ports json/mod.rs:45-72 + its tests
(166-216): missing file -> empty; empty file (EOF) -> empty; data for
other models preserved; non-JSON -> error. The duplicate-create message
matches json/mod.rs:88-90.

This backend exists for compatibility (a gus user's ``data.json.gus``
works unmodified) and for tiny reference-sized models; ``read_df``
bridges it into Spark for the analytics surface. The ParquetStore is
the scale path.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gus_spark.errors import DuplicateKeyError, NotFoundError, StorageError
from gus_spark.model.record import (
    add_null_values,
    parse_record,
    parse_uri_id,
    records_to_df,
)
from gus_spark.model.types import ModelDefinition

DEFAULT_STORAGE_FILE = "./data.json.gus"  # json/mod.rs:31


class JsonFileStore:
    """CRUD over a single reference-format JSON storage file."""

    def __init__(self, spark: SparkSession, storage_file: str | None = None):
        self.spark = spark
        self.storage_file = storage_file or DEFAULT_STORAGE_FILE

    # ------------------------------------------------------------------ io
    def read_db(self, model: ModelDefinition) -> dict[str, dict[str, Any]]:
        """Whole-file read with the reference's tolerance matrix."""
        db: dict[str, dict[str, Any]] = {}
        try:
            with open(self.storage_file, encoding="utf-8") as fh:
                data = fh.read()
            if data.strip():
                try:
                    db = json.loads(data)
                except ValueError as e:
                    raise StorageError("Invalid storage file") from e
                if not isinstance(db, dict):
                    raise StorageError("Invalid storage file")
        except FileNotFoundError:
            pass  # missing file -> empty db (json/mod.rs:59-61)
        db.setdefault(model.model_name, {})
        return db

    def _save(self, db: dict) -> None:
        try:
            with open(self.storage_file, "w", encoding="utf-8") as fh:
                json.dump(db, fh)
        except OSError as e:  # json/mod.rs:75-78
            raise StorageError(
                f"Unable to write data to storage file {self.storage_file}"
            ) from e

    # ------------------------------------------------------------------ CRUD
    def create_one(self, model: ModelDefinition, body: str | dict) -> dict:
        record = parse_record(body, model)
        key = json.dumps(record[model.primary_key])
        db = self.read_db(model)
        data = db[model.model_name]
        if key in data:
            # json/mod.rs:88-90 (message parity)
            raise DuplicateKeyError(
                "A record for the given key already exists, try to update "
                "it instead (PUT)"
            )
        data[key] = record
        self._save(db)
        return record

    def read_one(self, model: ModelDefinition, id_str: str) -> dict:
        key = json.dumps(parse_uri_id(id_str, model))
        data = self.read_db(model)[model.model_name]
        if key not in data:
            raise NotFoundError(
                f"no {model.model_name} with {model.primary_key}={id_str}"
            )
        return add_null_values(data[key], model)

    def update_one(
        self, model: ModelDefinition, id_str: str, body: str | dict
    ) -> dict:
        pk_value = parse_uri_id(id_str, model)
        key = json.dumps(pk_value)
        db = self.read_db(model)
        data = db[model.model_name]
        if key not in data:
            raise NotFoundError(
                f"no {model.model_name} with {model.primary_key}={id_str}"
            )
        raw = body if isinstance(body, dict) else json.loads(body)
        supplied = parse_record(
            raw, model, required=[a for a in model.required if a in raw]
        )
        merged = dict(data[key])
        for attr in raw:
            if attr in model.attributes:
                merged[attr] = supplied[attr]
        merged[model.primary_key] = pk_value  # URI wins (model.rs:85-86)
        data[key] = merged
        self._save(db)
        return add_null_values(merged, model)

    def delete_one(self, model: ModelDefinition, id_str: str) -> dict:
        key = json.dumps(parse_uri_id(id_str, model))
        db = self.read_db(model)
        data = db[model.model_name]
        if key not in data:
            raise NotFoundError(
                f"no {model.model_name} with {model.primary_key}={id_str}"
            )
        removed = data.pop(key)
        self._save(db)
        return add_null_values(removed, model)

    # ------------------------------------------------------------------ spark
    def read_df(self, model: ModelDefinition) -> DataFrame:
        """Bridge the JSON store into the analytics surface."""
        data = self.read_db(model)[model.model_name]
        return records_to_df(self.spark, data.values(), model)

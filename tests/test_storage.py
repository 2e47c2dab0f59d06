"""CRUD round-trips on the parquet store — ports the storage-handler tests
(src/cli/server/model/storage_handler/json/mod.rs:144-325) plus the HTTP
integration semantics (src/cli/server.rs:272-464)."""

import math
import os

import pytest
from conftest import spark_jobs

from gus_spark.errors import DuplicateKeyError, NotFoundError
from gus_spark.model.types import ModelDefinition
from gus_spark.storage.parquet_store import ParquetStore

RECORD = {
    "id": 1,
    "name": "Natural Born Killers",
    "year": 1994,
    "actors": ["Woody Harrelson", "Juliette Lewis"],
    "recommended": True,
}


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetStore(spark, str(tmp_path / "warehouse"))


def test_create_and_read(store, movie_model):  # json/mod.rs:218-243, 245-269
    created = store.create_one(movie_model, RECORD)
    assert created["name"] == RECORD["name"]
    got = store.read_one(movie_model, "1")
    assert got == {
        "id": 1,
        "actors": ["Woody Harrelson", "Juliette Lewis"],
        "name": "Natural Born Killers",
        "recommended": True,
        "year": 1994,
    }


def test_duplicate_create_rejected(store, movie_model):  # json/mod.rs:88-90
    store.create_one(movie_model, RECORD)
    with pytest.raises(DuplicateKeyError):
        store.create_one(movie_model, RECORD)


def test_read_missing(store, movie_model):  # json/mod.rs:103
    with pytest.raises(NotFoundError):
        store.read_one(movie_model, "99")
    store.create_one(movie_model, RECORD)
    with pytest.raises(NotFoundError):
        store.read_one(movie_model, "99")


def test_update_patch_semantics(store, movie_model):  # model.rs:68-89
    store.create_one(movie_model, RECORD)
    updated = store.update_one(movie_model, "1", {"year": 2000})
    assert updated["year"] == 2000
    assert updated["name"] == RECORD["name"]          # untouched attr kept
    got = store.read_one(movie_model, "1")
    assert got["year"] == 2000 and got["actors"] == RECORD["actors"]


def test_update_pk_in_body_ignored(store, movie_model):  # model.rs:85-86
    store.create_one(movie_model, RECORD)
    updated = store.update_one(movie_model, "1", {"id": 42, "year": 2001})
    assert updated["id"] == 1  # "id doesn't matter" (server.rs:393-398)
    assert store.read_one(movie_model, "1")["year"] == 2001
    with pytest.raises(NotFoundError):
        store.read_one(movie_model, "42")


def test_update_missing(store, movie_model):  # json/mod.rs:117
    with pytest.raises(NotFoundError):
        store.update_one(movie_model, "1", {"year": 2000})


def test_update_null_clears_optional(store, movie_model):
    store.create_one(movie_model, RECORD)
    updated = store.update_one(movie_model, "1", {"year": None})
    assert updated["year"] is None


def test_delete_returns_record(store, movie_model):  # json/mod.rs:126-138
    store.create_one(movie_model, RECORD)
    removed = store.delete_one(movie_model, "1")
    assert removed["name"] == RECORD["name"]
    with pytest.raises(NotFoundError):
        store.read_one(movie_model, "1")
    with pytest.raises(NotFoundError):
        store.delete_one(movie_model, "1")  # json/mod.rs:131-133


def test_string_pk_roundtrip(store):  # json/mod.rs:257; server movie.json
    model = ModelDefinition.from_json(
        {
            "model_name": "book",
            "attributes": {"id": "String", "title": "String"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    store.create_one(model, {"id": "get", "title": "t"})
    assert store.read_one(model, "get")["id"] == "get"
    store.delete_one(model, "get")


def test_boolean_pk_roundtrip(store):  # json/mod.rs:283-312
    model = ModelDefinition.from_json(
        {
            "model_name": "flag",
            "attributes": {"id": "Boolean", "note": "String"},
            "primary_key": "id",
            "required": ["id"],
        }
    )
    store.create_one(model, {"id": True, "note": "yes"})
    assert store.read_one(model, "true")["note"] == "yes"


def test_batch_insert_and_compact(store, movie_model):
    store.create_many(
        movie_model,
        [dict(RECORD, id=i, name=f"m{i}") for i in range(2, 12)],
    )
    store.create_one(movie_model, RECORD)
    assert store.count(movie_model) == 11
    store.compact(movie_model)
    assert store.count(movie_model) == 11
    assert store.read_one(movie_model, "5")["name"] == "m5"


def test_multiple_snapshots_isolated(store, movie_model):
    store.create_one(movie_model, RECORD)
    df_before = store.read_df(movie_model)
    store.create_one(movie_model, dict(RECORD, id=2))
    # the previously-resolved snapshot still reads consistently
    assert df_before.count() == 1
    assert store.count(movie_model) == 2


def test_time_travel_and_expiry(store, movie_model):
    store.create_one(movie_model, RECORD)                     # snapshot 1
    store.create_one(movie_model, dict(RECORD, id=2))         # snapshot 2
    store.delete_one(movie_model, "1")                        # snapshot 3
    history = store.history(movie_model)
    assert [s for s, _ in history] == [1, 2, 3]
    assert store.read_df(movie_model, at=1).count() == 1
    assert store.read_df(movie_model, at=2).count() == 2
    assert store.read_df(movie_model).count() == 1            # current
    store.expire_snapshots(movie_model, keep=1)
    assert len(store.history(movie_model)) == 1
    assert store.read_df(movie_model).count() == 1            # still reads
    import pytest as _pytest

    from gus_spark.errors import StorageError

    with _pytest.raises(StorageError):
        store.read_df(movie_model, at=1)


def test_unknown_storage_type_rejected_at_model_load():
    # fixture invalid_storage.json, storage_handler.rs:40-42
    from gus_spark.errors import ModelValidationError

    with pytest.raises(ModelValidationError):
        ModelDefinition.from_json(
            {
                "model_name": "card",
                "storage_type": "mongodb",
                "attributes": {"id": "Integer"},
                "primary_key": "id",
                "required": ["id"],
            }
        )


def test_upsert_many_insert_and_replace(store, movie_model):
    store.create_many(
        movie_model, [dict(RECORD, id=i, name=f"m{i}") for i in (1, 2, 3)]
    )
    store.upsert_many(
        movie_model,
        [dict(RECORD, id=2, name="replaced"), dict(RECORD, id=9, name="new")],
    )
    assert store.count(movie_model) == 4
    assert store.read_one(movie_model, "2")["name"] == "replaced"
    assert store.read_one(movie_model, "9")["name"] == "new"
    assert store.read_one(movie_model, "1")["name"] == "m1"


def test_apply_changes_single_commit(store, movie_model):
    store.create_many(
        movie_model, [dict(RECORD, id=i, name=f"m{i}") for i in (1, 2, 3)]
    )
    before = store.history(movie_model)[-1][0]
    store.apply_changes(
        movie_model,
        upserts=[
            {k: v for k, v in dict(RECORD, id=4, name="ins").items()}
        ],
        deletes=[1],
    )
    history = store.history(movie_model)
    assert history[-1][0] == before + 1  # exactly one new snapshot
    assert store.count(movie_model) == 3
    with pytest.raises(NotFoundError):
        store.read_one(movie_model, "1")
    assert store.read_one(movie_model, "4")["name"] == "ins"
    # time travel still shows the pre-merge state
    assert store.read_df(movie_model, at=before).count() == 3


def test_apply_changes_conflicting_keys(store, movie_model):
    store.create_one(movie_model, RECORD)
    with pytest.raises(DuplicateKeyError):
        store.apply_changes(
            movie_model, upserts=[dict(RECORD, id=5)], deletes=[5]
        )


def test_empty_create_many_is_noop(store, movie_model):
    """An empty batch must not commit a stat-less empty delta file that
    every later lookup would scan forever."""
    assert store.create_many(movie_model, []) == []
    assert store.history(movie_model) == []  # no manifest committed
    store.create_one(movie_model, RECORD)
    manifest = store._current_manifest(movie_model)
    assert all(f["lo"] is not None for f in manifest["files"])


def test_concurrent_writers_no_lost_update(store, movie_model):
    """Two threads inserting disjoint batches must both survive: the
    per-table writer lock serializes read-manifest -> write -> swap
    (without it, last-writer-wins drops one commit's files)."""
    import threading

    errors = []

    def insert(lo: int):
        try:
            store.create_many(
                movie_model,
                [dict(RECORD, id=i, name=f"m{i}") for i in range(lo, lo + 5)],
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=insert, args=(lo,)) for lo in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert store.count(movie_model) == 10


def test_compact_produces_disjoint_pk_ranges(store, movie_model):
    """Compaction must leave pk-range-partitioned files: every file's
    manifest [lo, hi] interval is disjoint, so a point lookup prunes to
    EXACTLY one candidate file — the whole point of compacting after
    CRUD churn leaves overlapping deltas behind."""
    store.create_many(
        movie_model,
        [dict(RECORD, id=i, name=f"m{i}") for i in range(1, 41)],
    )
    # churn: updates + deletes leave overlapping delta files behind
    store.update_one(movie_model, "7", {"name": "patched"})
    store.delete_one(movie_model, "13")
    store.compact(movie_model, target_files=4)

    files = store._current_manifest(movie_model)["files"]
    assert len(files) == 4
    spans = sorted((f["lo"], f["hi"]) for f in files)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next, f"overlapping compacted files: {spans}"
    # point lookup now has exactly one candidate file
    for key in (1, 7, 25, 40):
        assert sum(1 for f in files if f["lo"] <= key <= f["hi"]) == 1
    assert store.count(movie_model) == 39
    assert store.read_one(movie_model, "7")["name"] == "patched"


def test_maintain_compacts_only_when_degraded(store, movie_model):
    """The auto-OPTIMIZE loop: churn degrades the manifest (overlapping
    delta ranges), maintain() detects it from metadata alone and
    compacts + trims history; a second maintain() on the now-healthy
    table is a no-op (manifest seq unchanged by compaction)."""
    # interleaved batches: one file each, with overlapping pk spans
    for first in (1, 2, 3):
        store.create_many(
            movie_model,
            [dict(RECORD, id=i, name=f"m{i}") for i in range(first, 31, 3)],
        )
    # churn: each update rewrites a wide-range file
    for key in ("5", "15", "25"):
        store.update_one(movie_model, key, {"name": "patched"})
    before = store.table_health(movie_model)
    assert before["overlap_fraction"] > 0.25, before

    report = store.maintain(movie_model, keep_snapshots=2)
    assert report["compacted"] is True
    after = store.table_health(movie_model)
    assert after["overlap_fraction"] == 0.0, after
    assert after["n_snapshots"] <= 3  # 2 kept + the compaction commit

    seq_before = store._current_manifest(movie_model)["seq"]
    report2 = store.maintain(movie_model, keep_snapshots=2)
    assert report2["compacted"] is False
    assert store._current_manifest(movie_model)["seq"] == seq_before
    assert store.count(movie_model) == 30


# --- the one-job write path -------------------------------------------------
def _pk_model(pk_type: str) -> ModelDefinition:
    return ModelDefinition.from_json(
        {
            "model_name": "sample",
            "attributes": {"id": pk_type, "note": "String"},
            "primary_key": "id",
            "required": ["id"],
        }
    )


@pytest.mark.parametrize(
    "pk_type, keys",
    [
        ("Integer", [5, -(2**63), 2**63 - 1, 0, 42]),
        # non-ASCII: UTF-8 byte order (parquet's and Spark's) is code
        # point order, which is Python's; "～" < "😀" here but not
        # in UTF-16 order
        ("String", ["b", "é", "日本", "～", "😀", "a", ""]),
        ("Boolean", [True, False]),
        ("Boolean", [True]),
    ],
)
def test_footer_stats_match_spark_aggregate(spark, tmp_path, pk_type, keys):
    from pyspark.sql import functions as F

    from gus_spark.model.record import records_to_df
    from gus_spark.storage.parquet_store import _footer_stats

    model = _pk_model(pk_type)
    out = str(tmp_path / "data")
    frame = records_to_df(spark, [{"id": k} for k in keys], model)
    frame.coalesce(1).write.parquet(out)
    [path] = [str(p) for p in (tmp_path / "data").glob("*.parquet")]
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.min("id"), F.max("id")
    ).first()
    assert _footer_stats(path, "id") == tuple(row)


def test_footer_stats_span_row_groups(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from gus_spark.storage.parquet_store import _footer_stats

    out = str(tmp_path / "data")
    (
        spark.range(20000)
        .select((F.col("id") * 7919 % 20011).alias("id"),
                F.lit("x").alias("note"))
        .coalesce(1)
        .write.option("parquet.block.size", 8192)
        .parquet(out)
    )
    [path] = [str(p) for p in (tmp_path / "data").glob("*.parquet")]
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.min("id"), F.max("id")
    ).first()
    assert _footer_stats(path, "id") == tuple(row)


def test_float_pk_bounds_skip_nan(spark, store):
    """A Float pk's bounds come from the written table with no Spark
    job, and a file holding NaN (which Spark ranks above every number)
    gets no bounds, so it is always scanned."""
    model = _pk_model("Float")
    _, n = spark_jobs(spark, lambda: store.create_many(model, [{"id": 1.5}]))
    assert n == 0
    [entry] = store._current_manifest(model)["files"]
    assert (entry["lo"], entry["hi"], entry["rows"]) == (1.5, 1.5, 1)
    _, n = spark_jobs(spark, lambda: store.create_many(
        model, [{"id": 1.0}, {"id": 5.0}, {"id": float("nan")}]
    ))
    assert n == 0
    assert store._current_manifest(model)["files"][-1]["lo"] is None
    assert store.read_one(model, "5.0")["id"] == 5.0
    assert math.isnan(store.read_one(model, "NaN")["id"])
    with pytest.raises(DuplicateKeyError):
        store.create_one(model, {"id": float("nan")})


def test_nan_keys_repeat_within_a_batch(store):
    """NaN equals NaN as a pk, so two NaN keys in one batch conflict
    (two distinct float objects would pass a Python set)."""
    model = _pk_model("Float")
    with pytest.raises(DuplicateKeyError):
        store.create_many(model, [{"id": float("nan")}, {"id": float("nan")}])
    with pytest.raises(DuplicateKeyError):
        store.apply_changes(
            model, upserts=[{"id": float("nan"), "note": None}],
            deletes=[float("nan")],
        )
    assert store._current_manifest(model)["files"] == []


def test_zero_row_file_never_manifested(spark, store, movie_model):
    empty = spark.createDataFrame([], movie_model.to_struct_type())
    assert store._write_data_file(empty, movie_model) == []
    table = store._table_dir(movie_model)
    assert any(
        f.endswith(".parquet")
        for d in os.listdir(table)
        for f in os.listdir(os.path.join(table, d))
    )  # the file exists; it is only left out of the manifest


def test_dup_check_prunes_by_file_ranges(spark, store, movie_model,
                                        monkeypatch):
    store.create_many(movie_model, [dict(RECORD, id=i) for i in (10, 20, 30)])
    store.compact(movie_model)  # one file, [lo, hi] = [10, 30]
    scanned = []
    scan = ParquetStore._scan

    def spy(self, model, files, *args, **kwargs):
        scanned.append(len(files))
        return scan(self, model, files, *args, **kwargs)

    monkeypatch.setattr(ParquetStore, "_scan", spy)
    # a key inside the file's [lo, hi] but absent: scanned on the Arrow
    # reader, then created, all with no Spark job
    _, n = spark_jobs(
        spark, lambda: store.create_one(movie_model, dict(RECORD, id=15))
    )
    assert (n, scanned) == (0, [1])
    with pytest.raises(DuplicateKeyError):
        store.create_one(movie_model, dict(RECORD, id=20))
    with pytest.raises(DuplicateKeyError):
        store.create_many(movie_model, [dict(RECORD, id=k) for k in (99, 30)])
    # a fresh key above every range: no file scanned at all
    scanned.clear()
    _, n = spark_jobs(
        spark, lambda: store.create_one(movie_model, dict(RECORD, id=31))
    )
    assert (n, scanned) == (0, [])
    assert sorted(r.id for r in store.read_df(movie_model).collect()) == [
        10, 15, 20, 30, 31,
    ]


def test_point_mutations_launch_no_spark_job(spark, store, movie_model):
    store.create_many(
        movie_model, [dict(RECORD, id=i, name=f"m{i}") for i in range(1, 41)]
    )
    store.compact(movie_model, target_files=4)
    _, n = spark_jobs(
        spark, lambda: store.create_one(movie_model, dict(RECORD, id=41))
    )
    assert n == 0
    _, n = spark_jobs(
        spark, lambda: store.update_one(movie_model, "7", {"name": "patched"})
    )
    assert n == 0
    _, n = spark_jobs(spark, lambda: store.delete_one(movie_model, "13"))
    assert n == 0
    # a delete that empties its file writes nothing
    files = len(store._current_manifest(movie_model)["files"])
    _, n = spark_jobs(spark, lambda: store.delete_one(movie_model, "41"))
    assert n == 0
    assert len(store._current_manifest(movie_model)["files"]) == files - 1
    _, n = spark_jobs(spark, lambda: store.upsert_many(
        movie_model, [dict(RECORD, id=8, name="up"), dict(RECORD, id=50)]
    ))
    assert n == 0
    _, n = spark_jobs(spark, lambda: store.apply_changes(
        movie_model, upserts=[dict(RECORD, id=9, name="cdc")], deletes=[1, 50]
    ))
    assert n == 0
    assert store.read_one(movie_model, "7")["name"] == "patched"
    assert store.read_one(movie_model, "8")["name"] == "up"
    assert store.read_one(movie_model, "9")["name"] == "cdc"
    health = store.table_health(movie_model)
    assert health["n_rows"] == store.count(movie_model) == 38


def test_rewrite_touches_only_the_file_holding_the_key(store, movie_model):
    """Range candidates that do not hold the key stay by reference; a
    replaced record stays in the file that held it, and fresh upserts
    land together in one new file."""
    for first in (1, 2):  # two files with overlapping spans
        store.create_many(
            movie_model, [dict(RECORD, id=i) for i in range(first, 21, 2)]
        )
    odd, even = store._current_manifest(movie_model)["files"]
    store.update_one(movie_model, "7", {"name": "patched"})
    files = store._current_manifest(movie_model)["files"]
    assert even in files and odd not in files
    [rewritten] = [f for f in files if f != even]
    assert (rewritten["lo"], rewritten["hi"], rewritten["rows"]) == (1, 19, 10)
    store.upsert_many(
        movie_model, [dict(RECORD, id=k) for k in (30, 4, 31, 33)]
    )
    files = store._current_manifest(movie_model)["files"]
    assert len(files) == 3 and rewritten in files and even not in files
    assert [(f["lo"], f["hi"], f["rows"]) for f in files[1:]] == [
        (2, 20, 10), (30, 33, 3),
    ]
    assert store.read_one(movie_model, "7")["name"] == "patched"
    assert store.count(movie_model) == 23


def test_records_to_df_rejects_nulls_in_non_nullable_fields(spark, movie_model):
    from gus_spark.model.record import records_to_df

    ok = dict(RECORD, year=None, actors=None)
    assert records_to_df(spark, [ok], movie_model).collect()[0].asDict() == ok
    with pytest.raises(ValueError, match="movie.name"):
        records_to_df(spark, [ok, dict(RECORD, name=None)], movie_model)
    with pytest.raises(ValueError, match="movie.actors"):
        records_to_df(spark, [dict(RECORD, actors=["a", None])], movie_model)

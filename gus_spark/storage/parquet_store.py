"""Parquet-backed table store with atomic snapshot CRUD.

The reference's only storage backend deserializes the ENTIRE database
file and rewrites it on every operation, with no locking (reference:
src/cli/server/model/storage_handler/json/mod.rs:45-80) — concurrent
actix workers can race on read-modify-write. This store keeps the same
user-visible CRUD semantics (reference: json/mod.rs:84-138) but is built
like a miniature table format:

- a table is a directory of immutable parquet data files plus manifest
  JSON files; ``CURRENT`` names the active manifest;
- readers resolve ``CURRENT`` once and only ever see one consistent
  snapshot (the reference's reader race is structurally impossible);
- writers serialize through an exclusive per-table file lock
  (``fcntl.flock``) held across read-manifest → write-data → swap, so
  two concurrent mutations cannot lose an update (on non-POSIX
  platforms the store degrades to documented single-writer);
- ``create_one``/``create_many`` are O(new rows): they write ONE new
  parquet delta file and a new manifest referencing old files + the new
  one — not a table rewrite (the reference is O(database) per insert);
- ``update_one``/``delete_one`` read the files whose manifest pk
  [lo, hi] may hold the key one at a time and rewrite only the one
  that does, so point mutations touch O(one file);
- the serving path reads through one Arrow reader on the driver
  (``_scan``: a ``pyarrow.dataset`` over the listed manifest files with
  the model's declared schema). A point read (``read_one``), a keyset
  page (``scan_page``) and a create's duplicate check scan only the
  files whose [lo, hi] may hold the keys, with the predicate pushed
  into the scan, and cost no Spark job;
- record-level writes (create, update, delete, ``upsert_many``/
  ``apply_changes``) go through one Arrow writer on the driver
  (``_write_table``): no Spark job, one file per batch, manifest stats
  (row count, pk min/max) from the in-memory table. DataFrame-level
  writes (``append_df``, compaction, migration) stay on Spark
  (``_write_data_file``), with stats from the parquet footers;
- ``compact()`` folds accumulated delta files back into evenly-sized
  files — the maintenance job a real deployment schedules.

At cluster scale the same layout maps onto Delta Lake / Iceberg; the
manifest-pointer commit here is the same idea as their atomic metadata
swap, kept dependency-free for this environment.
"""

from __future__ import annotations

import bisect
import json
import operator
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

try:  # POSIX-only; on other platforms the store is single-writer by doc
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]

from pyspark.sql import DataFrame, SparkSession

from gus_spark.errors import (
    DuplicateKeyError,
    NotFoundError,
    RecordValidationError,
    StorageError,
)
from gus_spark.model.record import (
    add_null_values,
    parse_record,
    parse_uri_id,
    records_to_df,
    records_to_table,
)
from gus_spark.model.types import ModelDefinition


class ParquetStore:
    """One instance manages all model tables under ``warehouse_dir``."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    # ------------------------------------------------------------------ paths
    def _table_dir(self, model: ModelDefinition) -> str:
        return os.path.join(self.warehouse, model.model_name)

    @contextmanager
    def _write_lock(self, model: ModelDefinition):
        """Exclusive per-table writer lock held across the whole
        read-manifest → write-files → swap-CURRENT sequence. Without it
        two concurrent mutations both read manifest seq N and the second
        CURRENT swap silently drops the first commit's files (lost
        update). Readers never take it — snapshot isolation comes from
        the immutable manifests. Not re-entrant: only public mutation
        entry points acquire it."""
        table = self._table_dir(model)
        os.makedirs(table, exist_ok=True)
        if fcntl is None:  # pragma: no cover - non-POSIX: single-writer
            yield
            return
        fd = os.open(os.path.join(table, ".write.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _current_manifest(self, model: ModelDefinition) -> dict:
        table = self._table_dir(model)
        pointer = os.path.join(table, "CURRENT")
        if not os.path.exists(pointer):
            return {"files": [], "stats": {}}
        with open(pointer, encoding="utf-8") as fh:
            name = fh.read().strip()
        with open(os.path.join(table, name), encoding="utf-8") as fh:
            return json.load(fh)

    def _commit(
        self, model: ModelDefinition, manifest: dict, op: str = "rewrite"
    ) -> None:
        """Atomic snapshot swap: write manifest, then os.replace the
        CURRENT pointer (atomic on POSIX). Manifests are numbered, kept,
        and readable via ``read_df(model, at=seq)`` (time travel) until
        ``expire_snapshots`` drops them.

        ``op`` records the commit's provenance for change-feed pruning:
        'insert'  — new files contain ONLY records absent from the
                    previous snapshot (create_many / append_df);
        'layout'  — new files contain ONLY records present in the
                    previous snapshot, rearranged (compact / z-order);
        'rewrite' — anything else (update/delete/merge/migrate); a
                    consumer must diff against the previous snapshot.
        """
        manifest["op"] = op
        table = self._table_dir(model)
        os.makedirs(table, exist_ok=True)
        seq = manifest["seq"] = self._current_manifest(model).get("seq", 0) + 1
        name = f"manifest-{seq:08d}-{uuid.uuid4().hex}.json"
        with open(os.path.join(table, name), "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        tmp = os.path.join(table, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(name)
        os.replace(tmp, os.path.join(table, "CURRENT"))

    # ------------------------------------------------------------------ io
    def _write_table(self, table: pa.Table, model: ModelDefinition) -> list[dict]:
        """Write ``table`` as one parquet file with no Spark job; return
        its manifest entry ([] for zero rows: nothing is written). Only
        scalar non-float columns get min/max: parquet's float stats skip
        NaN, and Spark's pushdown would trust them and drop the NaN rows
        it ranks above every number. Readers pass the model's schema, so
        no ARROW:schema."""
        if not len(table):
            return []
        out = os.path.join(self._table_dir(model), f"data-{uuid.uuid4().hex}")
        os.makedirs(out)
        path = os.path.join(out, "part-00000.parquet")
        with_stats = [
            f.name for f in table.schema
            if not (pa.types.is_floating(f.type) or pa.types.is_list(f.type))
        ]
        pq.write_table(
            table, path, store_schema=False, write_statistics=with_stats
        )
        n, lo, hi = _pk_stats(table[model.primary_key])
        return [{"path": path, "lo": lo, "hi": hi, "rows": n}]

    def _write_data_file(self, df: DataFrame, model: ModelDefinition) -> list[dict]:
        """Write df as parquet under the table dir (one Spark job); return
        file entries with per-file row count and pk min/max for
        manifest-level pruning, read from each file's parquet footer
        (a ``Float`` pk reads its column instead)."""
        table = self._table_dir(model)
        os.makedirs(table, exist_ok=True)
        out = os.path.join(table, f"data-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out)
        pk = model.primary_key
        float_pk = model.attributes[pk].primitive == "Float"
        entries = []
        for fname in sorted(os.listdir(out)):
            if not fname.endswith(".parquet"):
                continue
            path = os.path.join(out, fname)
            # parquet stats skip NaN, so a Float pk reads its column
            stats = None if float_pk else _footer_stats(path, pk)
            n, lo, hi = stats or _pk_stats(pq.read_table(path, columns=[pk])[pk])
            if n:
                # a zero-row file has no stats, so pruning would treat
                # it as must-scan forever; never manifest it
                entries.append({"path": path, "lo": lo, "hi": hi, "rows": n})
        return entries

    def read_df(
        self, model: ModelDefinition, at: int | None = None
    ) -> DataFrame:
        """A snapshot as a DataFrame (empty if never written).

        ``at`` time-travels to a historical snapshot by its sequence
        number (see ``history``); default is the current snapshot.
        """
        if at is None:
            manifest = self._current_manifest(model)
        else:
            matches = [n for s, n in self.history(model) if s == at]
            if not matches:
                raise StorageError(
                    f"no snapshot {at} for {model.model_name}; "
                    f"have {[s for s, _ in self.history(model)]}"
                )
            with open(
                os.path.join(self._table_dir(model), matches[0]),
                encoding="utf-8",
            ) as fh:
                manifest = json.load(fh)
        files = [f["path"] for f in manifest["files"]]
        if not files:
            return records_to_df(self.spark, [], model)
        return self.spark.read.schema(model.to_struct_type()).parquet(*files)

    def history(self, model: ModelDefinition) -> list[tuple[int, str]]:
        """Committed snapshots as (seq, manifest_name), oldest first."""
        table = self._table_dir(model)
        if not os.path.isdir(table):
            return []
        out = []
        for entry in os.listdir(table):
            if entry.startswith("manifest-") and entry.endswith(".json"):
                try:
                    out.append((int(entry.split("-")[1]), entry))
                except (IndexError, ValueError):
                    continue
        return sorted(out)

    def expire_snapshots(self, model: ModelDefinition, keep: int = 1) -> None:
        """Drop all but the newest ``keep`` snapshots, then GC data files
        no remaining manifest references (the Iceberg-style maintenance
        pair to ``compact``)."""
        with self._write_lock(model):
            history = self.history(model)
            for _seq, name in history[:-keep] if keep else history:
                current = self._current_pointer(model)
                if name != current:
                    os.remove(os.path.join(self._table_dir(model), name))
            self._gc(model)

    # ------------------------------------------------------------------ CRUD
    def create_one(self, model: ModelDefinition, body: str | dict) -> dict:
        """Validate + insert; duplicate pk is an error (json/mod.rs:84-96)."""
        return self.create_many(model, [body])[0]

    def create_many(
        self, model: ModelDefinition, bodies: Iterable[str | dict]
    ) -> list[dict]:
        """Batch insert: one delta file + one manifest commit for N rows."""
        records = [parse_record(b, model) for b in bodies]
        if not records:  # avoid committing a stat-less empty delta file
            return []
        pk = model.primary_key
        keys = [r[pk] for r in records]
        if _repeats(keys):
            raise DuplicateKeyError("duplicate primary keys within batch")
        with self._write_lock(model):
            manifest = self._current_manifest(model)
            # dup check = semi-join against the new keys, over only the
            # files whose [lo, hi] may hold one of them, on the Arrow
            # reader (is_in matches NaN to NaN, as Spark's IN does)
            candidates = _files_holding_any(manifest["files"], keys)
            if candidates:
                pk_type = _arrow_schema(model).field(pk).type
                clash = self._scan(
                    model,
                    candidates,
                    ds.field(pk).isin(pa.array(keys, type=pk_type)),
                    columns=[pk],
                )[pk]
                if len(clash):
                    raise DuplicateKeyError(
                        f"record with primary key already exists, use PUT"
                        f" to update (key={clash[0].as_py()!r})"
                    )
            new_files = self._write_table(
                records_to_table(records, model), model
            )
            manifest["files"] = manifest["files"] + new_files
            self._commit(model, manifest, op="insert")
        return records

    def read_one(self, model: ModelDefinition, id_str: str) -> dict:
        """Point lookup by pk (json/mod.rs:97-105): manifest min/max
        pruning, then one Arrow scan of the candidate files with the pk
        predicate pushed into it — no Spark job."""
        key = parse_uri_id(id_str, model)
        pk = model.primary_key
        manifest = self._current_manifest(model)
        files = _files_holding_any(manifest["files"], [key])
        predicate = _arrow_predicate(model, [(pk, "eq", key)])
        rows = self._scan(model, files, predicate).to_pylist()
        if not rows:
            raise NotFoundError(f"no {model.model_name} with {pk}={id_str}")
        return rows[0]

    def scan_page(
        self,
        model: ModelDefinition,
        after: Any,
        limit: int,
        terms: Iterable[tuple[str, str, Any]] = (),
    ) -> list[dict]:
        """One keyset page with no Spark job: the rows with pk >
        ``after`` that pass every ``(attr, op, value)`` term, in pk
        order, at most ``limit`` of them. ``op`` is one of eq, gt, gte,
        lt, lte, like, with Spark SQL's semantics (``_arrow_predicate``).

        Only files whose ``hi`` may exceed ``after`` are read. Files
        with no bounds are read first, the rest one at a time in
        ascending ``lo`` with the predicate pushed into the scan.
        Reading stops once the page is full and the next file's ``lo``
        is above its last pk, so the driver holds one file plus one
        page, and a first page over a compacted table opens one file."""
        if limit <= 0:
            return []
        pk = model.primary_key
        predicate = _arrow_predicate(model, [(pk, "gt", after), *terms])
        unbounded, bounded = [], []
        for f in self._current_manifest(model)["files"]:
            if f.get("lo") is None or f.get("hi") is None:
                unbounded.append(f)
            else:
                bounded.append(f)
        bounded = sorted(
            (f for f in bounded if f["hi"] > after), key=lambda f: f["lo"]
        )
        page = self._scan(model, unbounded, predicate)
        page = page.sort_by(pk).slice(0, limit)
        for f in bounded:
            if len(page) == limit and f["lo"] > page[pk][-1].as_py():
                break
            rows = self._scan(model, [f], predicate)
            page = pa.concat_tables([page, rows]).sort_by(pk).slice(0, limit)
        return page.to_pylist()

    def _scan(
        self,
        model: ModelDefinition,
        files: list[dict],
        predicate: Any,
        columns: list[str] | None = None,
    ):
        """The rows of the manifest entries ``files`` that pass the
        Arrow ``predicate``, as one ``pyarrow.Table`` read on the driver
        (no Spark job). The dataset carries the model's declared schema,
        as ``read_df`` does: a column a file lacks reads as null and a
        column the model dropped is not read, which the metadata-only
        migrations rely on. The predicate prunes row groups by their
        statistics before it filters rows."""
        dataset = ds.dataset(
            [f["path"] for f in files],
            schema=_arrow_schema(model),
            format="parquet",
        )
        return dataset.to_table(columns=columns, filter=predicate)

    def update_one(
        self, model: ModelDefinition, id_str: str, body: str | dict
    ) -> dict:
        """Patch semantics (model.rs:68-89): only supplied attrs change;
        pk comes from the URI — a pk in the body is ignored/overwritten
        (model.rs:85-86). Re-parses with the reference's two-pass trick so
        required-ness is enforced only for supplied attrs (model.rs:73-84).
        """
        key = parse_uri_id(id_str, model)
        supplied = parse_record(body, model, required=[])
        raw = body if isinstance(body, dict) else json.loads(body)
        patch_attrs = [a for a in raw if a in model.attributes]
        # required check over supplied attrs only
        parse_record(
            raw,
            model,
            required=[a for a in model.required if a in raw],
        )
        with self._write_lock(model):
            stored = self.read_one(model, id_str)  # NotFoundError if absent
            merged = dict(stored)
            for attr in patch_attrs:
                merged[attr] = supplied[attr]
            merged[model.primary_key] = key  # URI wins (model.rs:85-86)
            self._apply_locked(model, [merged], [])
        return add_null_values(merged, model)

    def delete_one(self, model: ModelDefinition, id_str: str) -> dict:
        """Remove by pk and return the removed record (json/mod.rs:126-138)."""
        key = parse_uri_id(id_str, model)
        with self._write_lock(model):
            stored = self.read_one(model, id_str)
            self._apply_locked(model, [], [key])
        return stored

    def upsert_many(
        self, model: ModelDefinition, bodies: Iterable[str | dict]
    ) -> list[dict]:
        """Batch MERGE (full-record upsert): new keys insert, existing
        keys are replaced — one atomic snapshot commit."""
        records = [parse_record(b, model) for b in bodies]
        return self.apply_changes(model, upserts=records)

    def apply_changes(
        self,
        model: ModelDefinition,
        upserts: list[dict] | None = None,
        deletes: list[Any] | None = None,
    ) -> list[dict]:
        """CDC apply: upserts + deletes in ONE commit (the Delta
        ``MERGE WHEN MATCHED/NOT MATCHED`` shape).

        Only data files that hold an affected key are rewritten; all
        others carry into the new manifest by reference — at scale a
        batch touching one key range rewrites one file out of millions.
        ``upserts`` must be pre-validated records (``parse_record``
        output).
        """
        upserts = list(upserts or [])
        deletes = list(deletes or [])
        if not upserts and not deletes:
            return []
        pk = model.primary_key
        keys = [r[pk] for r in upserts] + deletes
        if _repeats(keys):
            raise DuplicateKeyError("conflicting keys within change batch")
        with self._write_lock(model):
            self._apply_locked(model, upserts, deletes)
        return upserts

    def _apply_locked(
        self, model: ModelDefinition, upserts: list[dict], deletes: list
    ) -> None:
        """Commit ``upserts`` and ``deletes`` as one snapshot with no
        Spark job; the caller holds the write lock. Each range candidate
        is read alone and kept by reference unless it holds an affected
        key; then it is rewritten without those rows plus the upserts
        of its keys. The other upserts go to one new file."""
        pk = model.primary_key
        keys = [r[pk] for r in upserts] + deletes
        unplaced = records_to_table(upserts, model)
        key_set = pa.array(keys, type=unplaced.schema.field(pk).type)
        manifest = self._current_manifest(model)
        candidates = {id(f) for f in _files_holding_any(manifest["files"], keys)}
        files = []
        for f in manifest["files"]:
            if id(f) in candidates:
                table = self._scan(model, [f], None)
                # is_in matches NaN to NaN, as Spark's IN does
                hit = pc.is_in(table[pk], value_set=key_set)
                if pc.any(hit).as_py():
                    mine = pc.is_in(unplaced[pk], value_set=table[pk])
                    files += self._write_table(
                        pa.concat_tables(
                            [table.filter(pc.invert(hit)), unplaced.filter(mine)]
                        ),
                        model,
                    )
                    unplaced = unplaced.filter(pc.invert(mine))
                    continue
            files.append(f)
        manifest["files"] = files + self._write_table(unplaced, model)
        self._commit(model, manifest)

    def append_df(
        self,
        model: ModelDefinition,
        df: DataFrame,
        _locked: bool = False,
        keys_are_new: bool = False,
    ) -> int:
        """Append a pre-validated DataFrame as delta files in one
        commit — the bulk-ingest fast path: no per-row Python, rows
        flow executor→parquet directly. Callers are responsible for
        validation and dup-checks (see sources.ingest.bulk_ingest);
        ``_locked=True`` means the caller already holds the table's
        write lock. Returns the number of rows appended.

        ``keys_are_new=True`` is a CONTRACT, not a hint: it commits
        with op='insert', which ChangeFeed.poll trusts to skip its
        anti-join against the previous snapshot — a caller that passes
        it without having proven pk-newness (as bulk_ingest's
        anti-join does) makes subscribers re-deliver existing keys as
        inserts. The default commits op='append' (key-newness
        unproven), which keeps the feed on its conservative anti-join
        path at the cost of one snapshot pk scan per delivered delta."""
        if _locked:
            return self._append_df_locked(model, df, keys_are_new)
        with self._write_lock(model):
            return self._append_df_locked(model, df, keys_are_new)

    def _append_df_locked(
        self, model: ModelDefinition, df: DataFrame, keys_are_new: bool = False
    ) -> int:
        manifest = self._current_manifest(model)
        new_files = self._write_data_file(
            df.select(*model.field_order), model
        )
        if not new_files:
            return 0
        manifest["files"] = manifest["files"] + new_files
        self._commit(model, manifest,
                     op="insert" if keys_are_new else "append")
        return sum(f["rows"] for f in new_files)

    # ------------------------------------------------------------ maintenance
    def compact(self, model: ModelDefinition, target_files: int = 1) -> None:
        """Fold delta files into ``target_files`` pk-range-partitioned,
        pk-sorted files.

        Range partitioning (not round-robin) is the point: every
        compacted file covers a DISJOINT pk interval, so the manifest's
        per-file [lo, hi] stats prune a point lookup to exactly one
        file — after arbitrary CRUD churn, reads are back to O(one
        file). Sorting within each file additionally tightens parquet
        row-group stats so the scan skips pages inside that file too.
        """
        with self._write_lock(model):
            pk = model.primary_key
            df = (
                self.read_df(model)
                .repartitionByRange(target_files, pk)
                .sortWithinPartitions(pk)
            )
            new_files = self._write_data_file(df, model)
            manifest = self._current_manifest(model)
            manifest["files"] = new_files
            self._commit(model, manifest, op="layout")
            self._gc(model)

    def table_health(self, model: ModelDefinition) -> dict:
        """Manifest-derived layout health, computed WITHOUT touching
        data files (metadata only — safe to poll):

        - ``n_files`` / ``n_rows``: current snapshot size;
        - ``overlap_fraction``: share of files whose pk range overlaps
          the previous file's in lo-sorted order — 0.0 right after
          ``compact`` (disjoint ranges), approaching 1.0 as CRUD churn
          accumulates deltas that all straddle each other, which is
          exactly when point lookups stop pruning;
        - ``n_snapshots``: retained manifests (time-travel state that
          ``expire_snapshots`` trims).
        """
        manifest = self._current_manifest(model)
        files = manifest["files"]
        spans = sorted(
            ((f["lo"], f["hi"]) for f in files if f["lo"] is not None),
        )
        overlapping = sum(
            1
            for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:])
            if lo_next <= hi_prev
        )
        return {
            "n_files": len(files),
            "n_rows": sum(f.get("rows", 0) for f in files),
            "overlap_fraction": (
                overlapping / (len(spans) - 1) if len(spans) > 1 else 0.0
            ),
            "n_snapshots": len(self.history(model)),
        }

    def maintain(
        self,
        model: ModelDefinition,
        max_files: int = 16,
        max_overlap: float = 0.25,
        keep_snapshots: int = 3,
        target_files: int = 4,
    ) -> dict:
        """The auto-OPTIMIZE loop a deployment schedules: read health
        (metadata only), compact when the layout has degraded past the
        thresholds (too many files OR overlapping pk ranges), then trim
        snapshot history. A healthy table is a cheap no-op — one
        manifest read — so this can run after every N commits or on a
        timer without thinking. Returns the health plus the actions
        taken."""
        health = self.table_health(model)
        compacted = health["n_files"] > max_files or (
            health["overlap_fraction"] > max_overlap and health["n_files"] > 1
        )
        if compacted:
            self.compact(model, target_files=target_files)
        expired = health["n_snapshots"] > keep_snapshots
        if expired:
            self.expire_snapshots(model, keep=keep_snapshots)
        return {**health, "compacted": compacted, "expired": expired}

    def _current_pointer(self, model: ModelDefinition) -> str | None:
        pointer = os.path.join(self._table_dir(model), "CURRENT")
        if not os.path.exists(pointer):
            return None
        with open(pointer, encoding="utf-8") as fh:
            return fh.read().strip()

    def _gc(self, model: ModelDefinition) -> None:
        """Remove data dirs referenced by NO retained manifest (history
        is retained for time travel until expire_snapshots drops it)."""
        table = self._table_dir(model)
        live: set[str] = set()
        for _seq, name in self.history(model):
            with open(os.path.join(table, name), encoding="utf-8") as fh:
                for f in json.load(fh)["files"]:
                    live.add(os.path.dirname(f["path"]))
        for entry in os.listdir(table):
            path = os.path.join(table, entry)
            if entry.startswith("data-") and path not in live:
                shutil.rmtree(path, ignore_errors=True)

    def count(self, model: ModelDefinition) -> int:
        return self.read_df(model).count()


def _pk_stats(keys) -> tuple[int, Any, Any]:
    """(rows, min, max) of a pk column. A column holding NaN gets no
    bounds (Arrow's min/max skip NaN, which Spark ranks highest), so
    its file is always scanned."""
    if pa.types.is_floating(keys.type) and pc.any(pc.is_nan(keys)).as_py():
        return len(keys), None, None
    bounds = pc.min_max(keys)
    return len(keys), bounds["min"].as_py(), bounds["max"].as_py()


def _footer_stats(path: str, pk: str) -> tuple[int, Any, Any] | None:
    """(rows, min pk, max pk) of one parquet file from its footer, with
    no Spark job; None when a non-empty row group lacks pk min/max."""
    meta = pq.ParquetFile(path).metadata
    names = [meta.schema.column(i).path for i in range(meta.num_columns)]
    col = names.index(pk)
    lo = hi = None
    for i in range(meta.num_row_groups):
        group = meta.row_group(i)
        if group.num_rows == 0:
            continue
        stats = group.column(col).statistics
        if stats is None or not stats.has_min_max:
            return None
        lo = stats.min if lo is None else min(lo, stats.min)
        hi = stats.max if hi is None else max(hi, stats.max)
    return meta.num_rows, lo, hi


def _arrow_schema(model: ModelDefinition):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(model.to_struct_type())


_COMPARE = {
    "eq": operator.eq,
    "gt": operator.gt,
    "gte": operator.ge,
    "lt": operator.lt,
    "lte": operator.le,
}


def _arrow_predicate(
    model: ModelDefinition, terms: Iterable[tuple[str, str, Any]]
):
    """The conjunction of ``(attr, op, value)`` terms as one Arrow
    expression that keeps exactly the rows Spark SQL's filter would:

    - a comparison with null keeps nothing;
    - NaN equals NaN and ranks above every double, so on a ``Float``
      attribute ``gt``/``gte`` also keep NaN rows and a NaN value
      turns each op into its NaN test;
    - ``like`` follows Spark's LIKE: ``_`` and ``%`` also match a
      newline, and ``\\`` escapes only ``_``, ``%`` or itself."""
    schema = _arrow_schema(model)
    out = None
    for attr, op, value in terms:
        col = ds.field(attr)
        arrow_type = schema.field(attr).type
        if value is None:
            term = pc.scalar(False)
        elif op == "like":
            term = pc.match_like(col, _like_pattern(value))
        elif pa.types.is_floating(arrow_type) and value != value:
            nan = pc.is_nan(col)
            term = {
                "eq": nan,
                "gt": pc.scalar(False),
                "gte": nan,
                "lt": ~nan,
                "lte": col.is_valid(),
            }[op]
        else:
            term = _COMPARE[op](col, pa.scalar(value, type=arrow_type))
            if pa.types.is_floating(arrow_type) and op in ("gt", "gte"):
                term = term | pc.is_nan(col)
        out = term if out is None else out & term
    return out


def _like_pattern(pattern: str) -> str:
    """``pattern`` once it passes Spark's LIKE checks: the escape
    character ``\\`` may precede only ``_``, ``%`` or itself and may not
    end the pattern (Arrow's ``match_like`` would accept either)."""
    chars = iter(pattern)
    for c in chars:
        if c != "\\":
            continue
        nxt = next(chars, None)
        if nxt is None or nxt not in "_%\\":
            where = "end" if nxt is None else f"precede {nxt!r}"
            raise RecordValidationError(
                f"invalid LIKE pattern {pattern!r}: the escape character"
                f" may not {where}"
            )
    return pattern


def _repeats(keys: list) -> bool:
    """Whether a key repeats. Every NaN is one key (NaN equals NaN as a
    pk, as in Spark's IN), which a Python set alone would not see."""
    return len({k if k == k else None for k in keys}) != len(keys)


def _files_holding_any(files: list[dict], keys: list) -> list[dict]:
    """The file entries whose [lo, hi] may hold one of ``keys``: a
    bisect over the sorted keys per file. Files without stats are
    always kept. NaN keys are left out of the sort (they do not order);
    they can only match a NaN row, and files holding one carry no
    stats."""
    ordered = sorted(k for k in keys if k == k)
    out = []
    for f in files:
        lo, hi = f.get("lo"), f.get("hi")
        if lo is None or hi is None:
            out.append(f)
            continue
        try:
            i = bisect.bisect_left(ordered, lo)
            if i < len(ordered) and ordered[i] <= hi:
                out.append(f)
        except TypeError:
            raise StorageError(
                f"pk not comparable with file stats [{lo!r}, {hi!r}]"
            ) from None
    return out


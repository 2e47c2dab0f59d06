"""Deterministic splits and reproducible training order
(operators/splits.py — round 10).

Contracts pinned here:
- bit-parity with the DuckDB twins for both operators on the sf0.01
  documents (the catalog probe's composition plus each alone);
- determinism and GROWTH STABILITY: re-running assigns identically,
  and adding documents never moves an existing assignment (the
  property rng-based splits lose when rows move);
- split proportions track the weights; seeds decorrelate;
- (shard, pos) is a valid permutation: positions are dense 1..n per
  shard, every id appears exactly once, shards are near-uniform;
- physical shape: hash_split adds NO exchange; shuffled_shards adds
  exactly the one shard-keyed exchange its contract states;
- degenerate inputs fail loudly.
"""

import contextlib
import io
import os
import re
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE
from oracle_harness import frame_key

from gus_spark.operators.splits import (
    DEFAULT_WEIGHTS,
    hash_split,
    shuffled_shards,
    split_thresholds,
    sql_hash_split,
    sql_shuffled_shards,
)
from gus_spark.queries import table


@pytest.fixture(scope="module")
def ids(spark):
    return table(spark, SF_DIR_ORACLE, "documents").select("doc_id")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR_ORACLE}/documents.parquet'"
    )
    c.execute("CREATE VIEW ids AS SELECT doc_id FROM documents")
    return c


def test_split_matches_duckdb_twin(ids, con):
    got = hash_split(ids).toPandas()
    odf = con.execute(sql_hash_split(table="ids")).df()
    assert frame_key(got) == frame_key(odf)


def test_shards_match_duckdb_twin(ids, con):
    got = shuffled_shards(ids, shards=16).toPandas()
    odf = con.execute(
        sql_shuffled_shards(table="ids", shards=16)
    ).df()
    assert frame_key(got) == frame_key(odf)


def test_determinism_and_growth_stability(spark, ids):
    base = {
        r.doc_id: r.split for r in hash_split(ids).collect()
    }
    again = {
        r.doc_id: r.split for r in hash_split(ids).collect()
    }
    assert base == again
    # grow the corpus: every pre-existing assignment is untouched
    grown = ids.unionByName(
        spark.createDataFrame(
            [(10_000 + i,) for i in range(200)], "doc_id bigint"
        )
    )
    after = {
        r.doc_id: r.split for r in hash_split(grown).collect()
    }
    assert all(after[k] == v for k, v in base.items())


def test_split_proportions_and_seed_decorrelation(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(20_000)], "doc_id bigint"
    )
    counts = {
        r.split: r.n
        for r in hash_split(
            df, {"train": 0.8, "validation": 0.1, "test": 0.1}
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(counts) == {"train", "validation", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["validation"] / 20_000 - 0.1) < 0.01
    # a different seed reassigns: the two labelings must disagree on
    # roughly (1 - sum w_i^2) of rows, certainly on SOME
    a = hash_split(df, seed="s-a").withColumnRenamed("split", "sa")
    b = hash_split(df, seed="s-b").select(
        "doc_id", F.col("split").alias("sb")
    )
    moved = a.join(b, "doc_id").filter(F.col("sa") != F.col("sb"))
    assert moved.count() > 100


def test_shards_form_a_permutation(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(5_000)], "doc_id bigint"
    )
    out = shuffled_shards(df, shards=8).collect()
    assert len({r.doc_id for r in out}) == 5_000
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 2 * min(sizes)  # uniform hash range
    # the order is a real shuffle, not id order
    s0 = sorted(
        ((r.pos, r.doc_id) for r in out if r.shard == 0)
    )
    assert [d for _p, d in s0] != sorted(d for _p, d in s0)


def test_plan_shape(ids):
    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    p = plan_of(hash_split(ids))
    assert "Exchange" not in p, p  # pure map
    p2 = plan_of(shuffled_shards(ids, shards=16))
    assert len(re.findall(r"\(\d+\) Exchange\b", p2)) == 1, p2


class TestLoaderBoundary:
    """write_training_shards / iter_training_order — the materialized (shard, pos) loader
    contract with a resume cursor."""

    WEIGHTS = {"train": 0.8, "validation": 0.1, "test": 0.1}
    SHARDS = 8

    @pytest.fixture(scope="class")
    def dest(self, spark, ids, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        dest = str(tmp_path_factory.mktemp("shards"))
        manifest = write_training_shards(
            ids, dest, shards=self.SHARDS, weights=self.WEIGHTS
        )
        return dest, manifest

    def test_manifest_is_a_write_receipt(self, ids, dest):
        dest, manifest = dest
        assert manifest["total_rows"] == ids.count()
        assert set(manifest["shard_rows"]) == set(self.WEIGHTS)
        for counts in manifest["shard_rows"].values():
            assert all(n > 0 for n in counts.values())

    def test_one_pos_ordered_file_per_shard(self, dest):
        import pyarrow.parquet as pq

        dest, manifest = dest
        data = os.path.join(dest, "data")
        for split, counts in manifest["shard_rows"].items():
            for shard, n in counts.items():
                d = os.path.join(
                    data, f"split={split}", f"shard={shard}"
                )
                files = [
                    f for f in os.listdir(d) if f.endswith(".parquet")
                ]
                assert len(files) == 1, (d, files)
                poss = pq.read_table(
                    os.path.join(d, files[0]), columns=["pos"]
                )["pos"].to_pylist()
                # rows are the dense permutation, ALREADY in order
                assert poss == list(range(1, n + 1)), d

    def test_full_order_matches_duckdb_twin(self, dest, con):
        from gus_spark.operators.splits import (
            iter_training_order,
            sql_hash_split,
            sql_shuffled_shards,
        )

        dest, _manifest = dest
        got = [
            i
            for batch, _cur in iter_training_order(
                dest, "train", batch_rows=512
            )
            for i in batch.column("doc_id").to_pylist()
        ]
        # the twin: same split labeling, same shard/pos ranking scoped
        # to the train split, ordered (shard, pos)
        labeled = sql_hash_split(self.WEIGHTS, table="ids")
        ranked = sql_shuffled_shards(
            self.SHARDS, table=f"(SELECT doc_id FROM ({labeled}) WHERE split = 'train')"
        )
        want = [
            r[0]
            for r in con.execute(
                f"SELECT doc_id FROM ({ranked}) ORDER BY shard, pos"
            ).fetchall()
        ]
        assert got == want

    def test_resume_cursor_is_exactly_once(self, dest):
        from gus_spark.operators.splits import iter_training_order

        dest, _manifest = dest
        full = []
        cursors = []
        for batch, cur in iter_training_order(
            dest, "train", batch_rows=97
        ):
            full.extend(batch.column("doc_id").to_pylist())
            cursors.append((cur, len(full)))
        # resume from every 5th checkpoint: suffix equality, no
        # duplicates, no gaps
        for cur, consumed in cursors[::5]:
            resumed = [
                i
                for b, _c in iter_training_order(
                    dest, "train", cursor=cur, batch_rows=97
                )
                for i in b.column("doc_id").to_pylist()
            ]
            assert resumed == full[consumed:], cur

    def test_verify_modes_emit_identical_manifests(
        self, ids, dest, tmp_path_factory
    ):
        """verify=False (footer counts, no data re-read) must emit the
        exact manifest verify=True (full decode recount) does on a
        clean write — the documented contract of the knob."""
        from gus_spark.operators.splits import write_training_shards

        dest, manifest = dest  # the class fixture wrote verify=True
        d2 = str(tmp_path_factory.mktemp("shards_noverify"))
        m2 = write_training_shards(
            ids, d2, shards=self.SHARDS, weights=self.WEIGHTS,
            verify=False,
        )
        assert m2 == manifest

    def test_fragmented_shard_dir_is_loud(
        self, spark, ids, tmp_path_factory
    ):
        """A session config that splits one (split, shard) directory
        into multiple files (here spark.sql.files.maxRecordsPerFile)
        voids iter_training_order's cross-file order — the writer must
        detect it from the directory tree and raise, in BOTH verify
        modes (the recount alone cannot see fragmentation)."""
        from gus_spark.operators.splits import write_training_shards

        spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
        try:
            for verify in (True, False):
                d = str(tmp_path_factory.mktemp(f"frag_{verify}"))
                with pytest.raises(ValueError, match="exactly ONE"):
                    write_training_shards(
                        ids, d, shards=2, weights=self.WEIGHTS,
                        verify=verify,
                    )
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")

    def test_escaped_split_names_verify_clean(
        self, spark, ids, tmp_path_factory
    ):
        """Split names Spark escapes in partition paths (':' ->
        '%3A') must verify clean and land UNESCAPED in the manifest —
        the footer walk decodes directory names before keying
        (r11 review: verify=True spuriously failed on 'train:v2')."""
        from gus_spark.operators.splits import write_training_shards

        from gus_spark.operators.splits import iter_training_order

        weights = {"train:v2": 0.5, "held out": 0.5}
        for verify in (True, False):
            d = str(tmp_path_factory.mktemp(f"esc_{verify}"))
            m = write_training_shards(
                ids, d, shards=2, weights=weights, verify=verify
            )
            assert set(m["shard_rows"]) == set(weights), m["shard_rows"]
        # the reader resolves the VALUE against escaped dirs too
        n = sum(
            b.num_rows for b, _c in iter_training_order(d, "train:v2")
        )
        assert n == sum(m["shard_rows"]["train:v2"].values())

    def test_numeric_split_names_verify_clean(
        self, spark, ids, tmp_path_factory
    ):
        """Split names that all parse numerically ('0', '1') must
        verify clean: the recount read disables partition-column type
        inference so decoded keys stay the directory VALUE STRINGS the
        footer walk uses (ADVICE r11 #1 — inference would return int
        keys and spuriously fail a clean write)."""
        from gus_spark.operators.splits import write_training_shards

        d = str(tmp_path_factory.mktemp("numeric_splits"))
        m = write_training_shards(
            ids, d, shards=2, weights={"0": 0.5, "1": 0.5},
            verify=True,
        )
        assert set(m["shard_rows"]) == {"0", "1"}
        # the session conf is restored after the recount
        assert spark.conf.get(
            "spark.sql.sources.partitionColumnTypeInference.enabled",
            "true",
        ) == "true"

    def test_uri_dest_fails_fast(self, ids):
        """The loader boundary is host-side: a raw object-store URI
        fails BEFORE the Spark write, not in the receipt walk
        (ADVICE r11 #3)."""
        from gus_spark.operators.splits import write_training_shards

        with pytest.raises(ValueError, match="host-side"):
            write_training_shards(ids, "s3://bucket/shards")

    def test_epoch_reseed_reorders(self, spark, ids, tmp_path_factory):
        from gus_spark.operators.splits import (
            iter_training_order,
            write_training_shards,
        )

        d2 = str(tmp_path_factory.mktemp("shards_e2"))
        write_training_shards(
            ids, d2, shards=self.SHARDS, weights=self.WEIGHTS,
            seed="shuffle-v1-epoch2",
        )
        order2 = [
            i
            for b, _c in iter_training_order(d2, "train")
            for i in b.column("doc_id").to_pylist()
        ]
        # same membership (split seed unchanged), different permutation
        d1 = str(tmp_path_factory.mktemp("shards_e1"))
        write_training_shards(
            ids, d1, shards=self.SHARDS, weights=self.WEIGHTS
        )
        order1 = [
            i
            for b, _c in iter_training_order(d1, "train")
            for i in b.column("doc_id").to_pylist()
        ]
        assert sorted(order1) == sorted(order2)
        assert order1 != order2


class TestEpochRankLoader:
    """iter_training_order ``epoch=`` / ``rank=`` / ``world_size=``
    (r12): a new epoch costs one read, never a corpus rewrite, and a
    distributed trainer gets disjoint per-rank streams. Claims pinned:

    - epoch 0 IS the materialized base order (ascending shard, pos);
    - every epoch is a permutation of exactly the split's (shard, pos)
      set; distinct epochs decorrelate at every level (shard visit
      order AND within-shard row order);
    - epoch order is deterministic across re-iteration and
      independent of batch_rows;
    - the (shard, pos) cursor resumes ANY epoch exactly-once,
      including mid-row-group;
    - rank streams are pairwise disjoint, their union is exactly the
      split, per-rank resume works, and a cursor presented to the
      wrong rank raises.

    The fixture forces MULTIPLE parquet row groups per shard file
    (small parquet.block.size) so the permuted row-group visit and the
    in-row-group shuffle paths are genuinely exercised."""

    @pytest.fixture(scope="class")
    def dest(self, spark, tmp_path_factory):
        import glob

        import pyarrow.parquet as pq

        from gus_spark.operators.splits import write_training_shards

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        )
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        before = hconf.get("parquet.block.size")
        hconf.set("parquet.block.size", "8192")
        try:
            dest = str(tmp_path_factory.mktemp("epoch_shards"))
            write_training_shards(
                dest=dest, df=docs, shards=4, weights={"train": 1.0}
            )
        finally:
            if before is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", before)
        rgs = [
            pq.ParquetFile(f).num_row_groups
            for f in glob.glob(
                os.path.join(dest, "data", "*", "*", "*.parquet")
            )
        ]
        assert rgs and max(rgs) > 1, (
            f"fixture must produce multi-row-group shards, got {rgs}"
        )
        return dest

    @staticmethod
    def _order(dest, **kw):
        from gus_spark.operators.splits import iter_training_order

        out = []
        for b, cur in iter_training_order(dest, "train", **kw):
            out.extend((cur[0], p) for p in b.column("pos").to_pylist())
        return out

    def test_epoch_coverage_and_decorrelation(self, dest):
        e0 = self._order(dest)
        orders = {e: self._order(dest, epoch=e) for e in (1, 2, 3)}
        assert e0 == sorted(e0)  # epoch 0 == the materialized order
        for e, order in orders.items():
            # a permutation of exactly the split's (shard, pos) set
            assert sorted(order) == e0, e
            assert order != e0, e
            # the within-shard row order is genuinely shuffled, not
            # just the shard visit order
            by_shard: dict[int, list[int]] = {}
            for s, p in order:
                by_shard.setdefault(s, []).append(p)
            assert any(
                ps != sorted(ps) for ps in by_shard.values()
            ), e
        assert orders[1] != orders[2] != orders[3]

    def test_epoch_deterministic_and_batchsize_free(self, dest):
        a = self._order(dest, epoch=2, batch_rows=37)
        b = self._order(dest, epoch=2, batch_rows=37)
        c = self._order(dest, epoch=2, batch_rows=503)
        assert a == b == c

    def test_epoch_resume_exactly_once(self, dest):
        from gus_spark.operators.splits import iter_training_order

        full = []
        cursors = []
        for b, cur in iter_training_order(
            dest, "train", epoch=1, batch_rows=37
        ):
            full.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
            cursors.append((cur, len(full)))
        assert len(cursors) > 8  # several mid-row-group checkpoints
        for cur, consumed in cursors[::3]:
            resumed = []
            for b, c in iter_training_order(
                dest, "train", cursor=cur, epoch=1, batch_rows=37
            ):
                resumed.extend(
                    (c[0], p) for p in b.column("pos").to_pylist()
                )
            assert resumed == full[consumed:], cur

    @pytest.mark.parametrize("world_size", [1, 2, 3, 5])
    @pytest.mark.parametrize("epoch", [0, 1])
    def test_rank_streams_partition_the_split(
        self, dest, world_size, epoch
    ):
        parts = [
            self._order(
                dest, epoch=epoch, rank=r, world_size=world_size
            )
            for r in range(world_size)
        ]
        seen: set = set()
        for part in parts:
            as_set = set(part)
            assert len(as_set) == len(part)  # no dup within a rank
            assert not (seen & as_set)       # disjoint across ranks
            seen |= as_set
        assert sorted(seen) == self._order(dest)  # union == the split

    def test_rank_resume_and_wrong_rank_cursor(self, dest):
        from gus_spark.operators.splits import iter_training_order

        full = []
        cursors = []
        for b, cur in iter_training_order(
            dest, "train", epoch=1, rank=1, world_size=2,
            batch_rows=41,
        ):
            full.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
            cursors.append((cur, len(full)))
        cur, consumed = cursors[len(cursors) // 2]
        resumed = []
        for b, c in iter_training_order(
            dest, "train", cursor=cur, epoch=1, rank=1, world_size=2,
            batch_rows=41,
        ):
            resumed.extend(
                (c[0], p) for p in b.column("pos").to_pylist()
            )
        assert resumed == full[consumed:]
        # the same cursor under the OTHER rank names a shard outside
        # that rank's assignment — loud, not silently re-shuffled
        with pytest.raises(ValueError, match="not assigned to rank"):
            next(
                iter(
                    iter_training_order(
                        dest, "train", cursor=cur, epoch=1, rank=0,
                        world_size=2,
                    )
                )
            )

    def test_reader_goes_through_the_filesystem_abstraction(self, dest):
        """filesystem= (r12): every path the host-side reader touches
        goes through the pyarrow FileSystem — proven with a
        SubTreeFileSystem whose paths are NOT valid POSIX paths from
        the process cwd (any stray os.listdir/open would fail), at
        epoch 0 (identity row-group order) and epoch 2 (permuted)
        through the one per-shard reader, with a cursor resume
        through the abstraction too."""
        import pyarrow.fs as pa_fs

        from gus_spark.operators.splits import iter_training_order

        parent, name = os.path.split(dest)
        subfs = pa_fs.SubTreeFileSystem(parent, pa_fs.LocalFileSystem())
        assert not os.path.isdir(name)  # relative name ≠ cwd path
        for epoch in (0, 2):
            assert self._order(
                name, epoch=epoch, filesystem=subfs
            ) == self._order(dest, epoch=epoch), epoch
        # resume mid-stream through the abstraction
        it = iter_training_order(
            name, "train", epoch=2, batch_rows=64, filesystem=subfs
        )
        consumed = []
        for b, cur in it:
            consumed.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
            if len(consumed) > 150:
                break
        resumed = [
            (c[0], p)
            for b, c in iter_training_order(
                name, "train", cursor=cur, epoch=2, batch_rows=64,
                filesystem=subfs,
            )
            for p in b.column("pos").to_pylist()
        ]
        assert consumed + resumed == self._order(dest, epoch=2)

    @pytest.mark.parametrize("epoch", [0, 1])
    def test_fragmented_shard_dir_raises_in_every_epoch(
        self, spark, tmp_path, epoch
    ):
        """A shard directory that gained a second parquet file after
        the write is not a training order: every epoch refuses it
        rather than delivering the copied rows twice."""
        import glob
        import shutil

        from gus_spark.operators.splits import (
            iter_training_order,
            write_training_shards,
        )

        d = str(tmp_path / "frag")
        write_training_shards(
            spark.range(100).select(F.col("id").alias("doc_id")),
            d, shards=2, weights={"train": 1.0}, verify=False,
        )
        (src,) = glob.glob(f"{d}/data/split=train/shard=0/*.parquet")
        shutil.copy(src, src.replace("part-", "part-copy-"))
        with pytest.raises(ValueError, match="holds 2 parquet files"):
            list(iter_training_order(d, "train", epoch=epoch))

    def test_empty_rank_slice_raises_instead_of_spinning(self, dest):
        """world_size larger than the shard-dir count leaves a rank
        with no shards: the unbounded multi-epoch loop (epochs=None,
        the deployment default) raises on the first fresh epoch that
        yields nothing. The alarm turns a spin into a failure instead
        of a hung suite."""
        import signal

        from gus_spark.operators.splits import iter_epochs

        def _spin(_signum, _frame):
            raise TimeoutError("iter_epochs spun on an empty slice")

        was = signal.signal(signal.SIGALRM, _spin)
        signal.alarm(20)
        try:
            with pytest.raises(ValueError, match="yields no rows"):
                next(iter_epochs(dest, "train", rank=4, world_size=5))
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, was)

    def test_iter_epochs_composite_cursor(self, dest):
        """iter_epochs (r12): one checkpointable (epoch, shard, pos)
        cursor across epoch boundaries. The bounded stream is exactly
        epoch-0 order ++ epoch-1 order, and resuming from ANY yielded
        cursor — including the last row of an epoch, where the resume
        must land cleanly at the next epoch's first row — replays
        exactly the suffix."""
        from gus_spark.operators.splits import (
            iter_epochs,
            iter_training_order,
        )

        full = []
        cursors = []
        for b, cur in iter_epochs(dest, epochs=2, batch_rows=101):
            full.extend(
                (cur[0], cur[1], p)
                for p in b.column("pos").to_pylist()
            )
            cursors.append((cur, len(full)))
        want = [
            (e, s, p)
            for e in (0, 1)
            for b, (s, _last, _gen) in [
                (bb, cc)
                for bb, cc in iter_training_order(
                    dest, epoch=e, batch_rows=101
                )
            ]
            for p in b.column("pos").to_pylist()
        ]
        assert full == want
        # resume points: every 4th checkpoint + the exact epoch seam
        n_e0 = sum(1 for e, _s, _p in full if e == 0)
        seam = next(
            (cur, consumed)
            for cur, consumed in cursors
            if consumed >= n_e0
        )
        for cur, consumed in [*cursors[::4], seam, cursors[-1]]:
            resumed = []
            for b, c in iter_epochs(
                dest, cursor=cur, epochs=2, batch_rows=101
            ):
                resumed.extend(
                    (c[0], c[1], p)
                    for p in b.column("pos").to_pylist()
                )
            assert resumed == full[consumed:], cur
        import pytest as _pytest

        with _pytest.raises(ValueError, match="epochs"):
            next(iter(iter_epochs(dest, epochs=0)))

    def test_prefetch_is_stream_identical(self, dest):
        """prefetch_batches (r12): background read-ahead must yield
        the IDENTICAL (rows, cursors) stream on every path — epoch 0,
        epoch > 0, rank-sliced, and mid-stream resume — and a bad
        depth is loud."""
        from gus_spark.operators.splits import iter_training_order

        def stream(**kw):
            return [
                (c, b.column("pos").to_pylist())
                for b, c in iter_training_order(
                    dest, "train", batch_rows=64, **kw
                )
            ]

        for kw in (
            {},
            {"epoch": 2},
            {"epoch": 1, "rank": 1, "world_size": 2},
        ):
            assert stream(**kw) == stream(prefetch_batches=4, **kw), kw
        base = stream(epoch=2)
        cur = base[len(base) // 2][0]
        assert stream(epoch=2, cursor=cur) == stream(
            epoch=2, cursor=cur, prefetch_batches=3
        )
        with pytest.raises(ValueError, match="prefetch"):
            next(
                iter(
                    iter_training_order(
                        dest, "train", prefetch_batches=-1
                    )
                )
            )

    def test_epoch_rank_validation(self, dest):
        from gus_spark.operators.splits import iter_training_order

        for kw in (
            {"epoch": -1},
            {"world_size": 0},
            {"rank": 2, "world_size": 2},
            {"rank": -1},
        ):
            with pytest.raises(ValueError):
                next(iter(iter_training_order(dest, "train", **kw)))


class TestGenerationAppend:
    """append_training_shards (r12): corpus growth without touching a
    byte of the existing shard set. Claims pinned:

    - existing shard FILES are byte-identical after an append;
    - the grown set is a valid training order: every (shard, pos)
      exactly once, epoch 0 = old order ++ new generation's order,
      and the loader/cursor/epoch/rank machinery works on it as-is;
    - split MEMBERSHIP equals a fresh full write of the union (the
      hash_split growth-stability property, now end-to-end);
    - epoch > 0 interleaves generations (new shards are not a suffix
      of the visit order);
    - a second append (generation 2) composes."""

    @pytest.fixture(scope="class")
    def grown(self, spark, tmp_path_factory):
        import glob
        import hashlib

        from gus_spark.operators.splits import (
            append_training_shards,
            write_training_shards,
        )

        docs = table(spark, SF_DIR_ORACLE, "documents").select("doc_id")
        old = docs.filter(F.col("doc_id") % 3 != 0)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        dest = str(tmp_path_factory.mktemp("gen_shards"))
        m0 = write_training_shards(old, dest, shards=4)

        def file_hashes():
            return {
                f: hashlib.md5(open(f, "rb").read()).hexdigest()
                for f in glob.glob(
                    os.path.join(dest, "data", "*", "*", "*.parquet")
                )
            }

        before = file_hashes()
        m1 = append_training_shards(new, dest)
        after = file_hashes()
        # every pre-existing file untouched, byte for byte
        assert all(after[f] == h for f, h in before.items())
        assert set(after) > set(before)  # new generation landed
        return dest, m0, m1, old, new

    def test_manifest_and_coverage(self, spark, grown):
        from gus_spark.operators.splits import iter_training_order

        dest, m0, m1, old, new = grown
        assert m1["generations"] == 2
        assert m1["total_rows"] == old.count() + new.count()
        # epoch 0 == old order ++ new generation order, exactly once
        rows = []
        for b, cur in iter_training_order(dest, "train"):
            rows.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
        assert len(rows) == len(set(rows))
        assert rows == sorted(rows)
        n_train = sum(m1["shard_rows"]["train"].values())
        assert len(rows) == n_train
        old_train = sum(m0["shard_rows"]["train"].values())
        # the first old_train rows live in generation-0 shards (< 4)
        assert all(s < 4 for s, _p in rows[:old_train])
        assert all(s >= 4 for s, _p in rows[old_train:])

    def test_split_membership_equals_fresh_write(
        self, spark, grown, tmp_path_factory
    ):
        from gus_spark.operators.splits import (
            iter_training_order,
            write_training_shards,
        )

        dest, _m0, _m1, old, new = grown
        fresh = str(tmp_path_factory.mktemp("fresh_full"))
        write_training_shards(old.unionByName(new), fresh, shards=4)

        def members(d, split):
            return {
                i
                for b, _c in iter_training_order(d, split)
                for i in b.column("doc_id").to_pylist()
            }

        for split in ("train", "validation", "test"):
            assert members(dest, split) == members(fresh, split), split

    def test_epochs_and_ranks_inherit(self, grown):
        from gus_spark.operators.splits import iter_training_order

        dest, _m0, m1, _old, _new = grown
        base = []
        for b, cur in iter_training_order(dest, "train"):
            base.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
        # epoch 1: same multiset, generations interleaved in the
        # shard visit order (a new-gen shard before an old-gen one)
        e1 = []
        visit = []
        for b, cur in iter_training_order(dest, "train", epoch=1):
            e1.extend((cur[0], p) for p in b.column("pos").to_pylist())
            if not visit or visit[-1] != cur[0]:
                visit.append(cur[0])
        assert sorted(e1) == sorted(base) and e1 != base
        first_new = min(i for i, s in enumerate(visit) if s >= 4)
        assert any(s < 4 for s in visit[first_new:]), visit
        # ranks partition the grown set
        parts = [
            {
                (c[0], p)
                for b, c in iter_training_order(
                    dest, "train", epoch=1, rank=r, world_size=2
                )
                for p in b.column("pos").to_pylist()
            }
            for r in (0, 1)
        ]
        assert not (parts[0] & parts[1])
        assert parts[0] | parts[1] == set(base)

    def test_second_append_composes(
        self, spark, grown, tmp_path_factory
    ):
        import shutil

        from gus_spark.operators.splits import (
            append_training_shards,
            iter_training_order,
        )

        dest, _m0, m1, old, new = grown
        d2 = str(tmp_path_factory.mktemp("gen3"))
        shutil.copytree(dest, d2, dirs_exist_ok=True)
        extra = spark.range(900000, 900050).select(
            F.col("id").alias("doc_id")
        )
        m2 = append_training_shards(extra, d2, verify=False)
        assert m2["generations"] == 3
        assert m2["total_rows"] == m1["total_rows"] + 50
        total = sum(
            b.num_rows
            for split in ("train", "validation", "test")
            for b, _c in iter_training_order(d2, split)
        )
        assert total == m2["total_rows"]

    def test_derived_columns_rejected(self, spark, grown):
        from gus_spark.operators.splits import append_training_shards

        dest, *_ = grown
        bad = spark.range(5).select(
            F.col("id").alias("doc_id"), F.lit(1).alias("pos")
        )
        with pytest.raises(ValueError, match="derives"):
            append_training_shards(bad, dest)


class TestTombstones:
    """tombstone_training_shards (r12): retroactive compliance deletes
    from a materialized shard set — a read-side gate, no rewrite.
    Claims: tombstoned ids vanish from every epoch/rank stream while
    everything else is delivered exactly once; cursors (which track
    the position CONSUMED) resume exactly-once even when the cursor
    row itself is tombstoned; repeat calls union; shard files stay
    byte-untouched (nothing is rewritten)."""

    @pytest.fixture(scope="class")
    def dest(self, spark, ids, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        dest = str(tmp_path_factory.mktemp("tomb_shards"))
        write_training_shards(
            ids, dest, shards=4, weights={"train": 1.0}
        )
        return dest

    @staticmethod
    def _docs(dest, **kw):
        from gus_spark.operators.splits import iter_training_order

        out = []
        for b, _c in iter_training_order(dest, "train", **kw):
            out.extend(b.column("doc_id").to_pylist())
        return out

    def test_gate_filters_every_path_exactly_once(self, dest):
        import glob
        import hashlib

        from gus_spark.operators.splits import (
            tombstone_training_shards,
        )

        base = self._docs(dest)
        dead = set(base[::37])  # spread across shards and batches
        files_before = {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(os.path.join(dest, "data", "*", "*", "*"))
        }
        receipt = tombstone_training_shards(dest, dead)
        assert receipt["tombstones"] == receipt["added"] == len(dead)
        for kw in (
            {},
            {"epoch": 2},
            {"epoch": 1, "rank": 1, "world_size": 2},
        ):
            got = self._docs(dest, **kw)
            assert not (set(got) & dead), kw
            assert len(got) == len(set(got)), kw
        assert sorted(self._docs(dest)) == sorted(set(base) - dead)
        # union across ranks still exactly the (gated) split
        r0 = set(self._docs(dest, epoch=1, rank=0, world_size=2))
        r1 = set(self._docs(dest, epoch=1, rank=1, world_size=2))
        assert not (r0 & r1)
        assert r0 | r1 == set(base) - dead
        # the gate is read-side: no file was rewritten
        files_after = {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(os.path.join(dest, "data", "*", "*", "*"))
        }
        assert files_after == files_before

    def test_cursor_resume_with_tombstoned_cursor_row(self, dest):
        from gus_spark.operators.splits import (
            iter_training_order,
            tombstone_training_shards,
        )

        # consume one batch; tombstone ITS LAST ROW (the cursor row)
        # plus a row from deeper in the stream, then resume: the
        # suffix must be exact — the cursor names a consumed POSITION,
        # which exists on disk whether or not its row is now gated
        b0, cur0 = next(
            iter(iter_training_order(dest, "train", batch_rows=41))
        )
        cursor_row = b0.column("doc_id")[b0.num_rows - 1].as_py()
        receipt = tombstone_training_shards(dest, {cursor_row})
        assert receipt["added"] >= 1  # unions with the earlier set
        assert cursor_row not in self._docs(dest, batch_rows=41)
        full = [
            (c[0], p)
            for b, c in iter_training_order(
                dest, "train", batch_rows=41
            )
            for p in b.column("pos").to_pylist()
        ]
        resumed = [
            (c[0], p)
            for b, c in iter_training_order(
                dest, "train", cursor=cur0, batch_rows=41
            )
            for p in b.column("pos").to_pylist()
        ]
        # epoch-0 order is ascending (shard, pos): the resume must be
        # exactly the gated stream strictly past the consumed position
        assert resumed == [
            x
            for x in full
            if x[0] > cur0[0] or (x[0] == cur0[0] and x[1] > cur0[1])
        ]

    def test_empty_ids_raise(self, dest):
        from gus_spark.operators.splits import (
            tombstone_training_shards,
        )

        with pytest.raises(ValueError, match="empty"):
            tombstone_training_shards(dest, [])


class TestRetroactiveDecontamination:
    """TrainingShardSet (r12): the shard set under the serving
    indexes' delete contract, so decontaminate_index tombstones the
    TRAINER boundary the way it tombstones a retrieval index — a
    late-arriving benchmark's overlaps vanish from the training order
    with no rewrite, idempotently per benchmark key; and
    sequences_containing maps document findings onto a seq_uid-keyed
    set."""

    def test_decontaminate_index_over_shard_set(self, spark, tmp_path):
        from gus_spark.operators.decontaminate import (
            decontaminate_index,
            ngram_contamination,
        )
        from gus_spark.operators.splits import (
            TrainingShardSet,
            write_training_shards,
        )
        from gus_spark.queries import table

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        )
        dest = str(tmp_path / "shards")
        write_training_shards(
            docs, dest, shards=4, weights={"train": 1.0}
        )
        # the benchmark lands AFTER the shards were materialized
        bench = docs.filter(F.col("doc_id") % 41 == 7).select(
            F.col("doc_id").alias("bid"), "text"
        )
        flagged = {
            r["doc_id"]
            for r in ngram_contamination(
                docs, bench, bench_id_col="bid", n=13
            )
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert flagged  # self-overlap guarantees hits
        target = TrainingShardSet(spark, dest)
        n = decontaminate_index(
            target, docs, bench, bench_id_col="bid", n=13
        )
        assert n == len(flagged)
        from gus_spark.operators.splits import iter_training_order

        served = {
            i
            for b, _c in iter_training_order(dest, "train")
            for i in b.column("doc_id").to_pylist()
        }
        assert not (served & flagged)
        assert served == {
            r["doc_id"] for r in docs.collect()
        } - flagged
        # same benchmark again: the key short-circuits to 0
        assert decontaminate_index(
            target, docs, bench, bench_id_col="bid", n=13
        ) == 0

    def test_sequences_containing_maps_docs_to_seq_uids(
        self, spark, tmp_path
    ):
        from gus_spark.operators.bpe import (
            bpe_base_symbols,
            bpe_fit,
            bpe_vocab,
        )
        from gus_spark.operators.chunk import (
            assemble_token_sequences,
            chunk_documents,
            pack_sequences,
        )
        from gus_spark.operators.splits import (
            TrainingShardSet,
            iter_training_order,
            sequences_containing,
            write_training_shards,
        )
        from gus_spark.queries import table

        docs = (
            table(spark, SF_DIR_ORACLE, "documents")
            .select("doc_id", "text")
            .limit(60)
        )
        merges = bpe_fit(docs, num_merges=8)
        vocab = bpe_vocab(merges, bpe_base_symbols(docs))
        packed = pack_sequences(
            chunk_documents(docs, max_tokens=16, overlap=0),
            budget=48,
            shards=4,
        )
        seqs = assemble_token_sequences(packed, merges, vocab)
        dest = str(tmp_path / "seq_shards")
        write_training_shards(
            seqs, dest, shards=2, id_col="seq_uid",
            weights={"train": 1.0},
        )
        dead_docs = docs.select("doc_id").limit(5)
        dead_set = {r["doc_id"] for r in dead_docs.collect()}
        hit = sequences_containing(spark, dest, dead_docs)
        hit_uids = {r["seq_uid"] for r in hit.collect()}
        assert hit_uids
        TrainingShardSet(spark, dest).delete(
            hit, batch_key="optout-1"
        )
        for b, _c in iter_training_order(dest, "train"):
            for row in b.to_pylist():
                assert row["seq_uid"] not in hit_uids
                # no surviving sequence contains a dead doc
                assert not (
                    {s["doc_id"] for s in row["doc_spans"]} & dead_set
                )


def test_validation_errors(ids):
    from gus_spark.operators.splits import write_training_shards

    with pytest.raises(ValueError, match="shards"):
        shuffled_shards(ids, shards=0)
    with pytest.raises(ValueError, match="shards"):
        write_training_shards(ids, "/tmp/never-written", shards=0)
    # the writer derives split/shard/pos itself: a frame already
    # carrying one (e.g. curate_stream's own split labels) must fail
    # loudly, never be silently re-labeled
    with pytest.raises(ValueError, match="split"):
        write_training_shards(
            ids.withColumn("split", F.lit("train")), "/tmp/never-written"
        )
    with pytest.raises(ValueError, match="weights"):
        split_thresholds({})
    with pytest.raises(ValueError, match="sum"):
        split_thresholds({"a": 0.0})
    # thresholds partition the space exactly
    bounds = split_thresholds(DEFAULT_WEIGHTS)
    assert bounds[-1][1] == 16**15
    assert [b for _n, b in bounds] == sorted(b for _n, b in bounds)


class TestCursorGenerationBinding:
    """r13 (VERDICT r12 #4): cursors carry the manifest's generation
    count, and a resume after `append_training_shards` raises instead
    of silently skipping appended shards — the append changes the
    epoch's shard-visit permutation and the rank slices (both
    enumerate shard dirs), so a pre-append cursor no longer names a
    valid position in the new order. Legacy (shard, pos) / (epoch,
    shard, pos) cursors still resume, unchecked (documented)."""

    @pytest.fixture()
    def dest(self, spark, tmp_path):
        from gus_spark.operators.splits import write_training_shards

        ids = spark.range(400).select(F.col("id").alias("doc_id"))
        d = str(tmp_path / "genbind")
        write_training_shards(
            ids, d, shards=3, weights={"train": 1.0}
        )
        return d

    def _append(self, spark, dest):
        from gus_spark.operators.splits import append_training_shards

        extra = spark.range(1000, 1080).select(
            F.col("id").alias("doc_id")
        )
        return append_training_shards(extra, dest, verify=False)

    def test_resume_after_append_raises(self, spark, dest):
        from gus_spark.operators.splits import iter_training_order

        _b, cur = next(
            iter(
                iter_training_order(
                    dest, "train", epoch=1, batch_rows=29
                )
            )
        )
        assert len(cur) == 3 and cur[2] == 1  # (shard, pos, gens)
        self._append(spark, dest)
        with pytest.raises(ValueError, match="layout"):
            next(
                iter(
                    iter_training_order(
                        dest, "train", cursor=cur, epoch=1,
                        batch_rows=29,
                    )
                )
            )
        # a FRESH iteration over the grown set works and yields
        # cursors bound to the new count
        _b2, cur2 = next(
            iter(
                iter_training_order(
                    dest, "train", epoch=1, batch_rows=29
                )
            )
        )
        assert cur2[2] == 2

    def test_legacy_two_tuple_resumes_unchecked(self, spark, dest):
        from gus_spark.operators.splits import iter_training_order

        full = []
        cursors = []
        for b, cur in iter_training_order(
            dest, "train", batch_rows=29
        ):
            full.extend(b.column("doc_id").to_pylist())
            cursors.append((cur, len(full)))
        cur, consumed = cursors[len(cursors) // 2]
        resumed = [
            i
            for b, _c in iter_training_order(
                dest, "train", cursor=(cur[0], cur[1]), batch_rows=29
            )
            for i in b.column("doc_id").to_pylist()
        ]
        assert resumed == full[consumed:]

    def test_iter_epochs_cursor_binds_generations(self, spark, dest):
        from gus_spark.operators.splits import iter_epochs

        _b, cur = next(iter(iter_epochs(dest, epochs=2, batch_rows=29)))
        assert len(cur) == 4 and cur[3] == 1
        self._append(spark, dest)
        with pytest.raises(ValueError, match="layout"):
            next(
                iter(
                    iter_epochs(
                        dest, cursor=cur, epochs=2, batch_rows=29
                    )
                )
            )


class TestLoaderHandleClose:
    """r13 (ADVICE r12 #4): the read path closes BOTH the ParquetFile
    and the filesystem input stream it wraps, per shard —
    deterministically (not by GC), including when the consumer
    abandons the stream mid-shard. Over S3/GCS a multi-epoch run
    (iter_epochs epochs=None) would otherwise accumulate one open
    object-store stream per shard per epoch. Epoch 0 goes through
    the same reader, so it takes a wrapped (non-pyarrow) filesystem
    object and closes its handles too."""

    class _RecordingFS:
        def __init__(self, inner):
            self._inner = inner
            self.handles = []

        def open_input_file(self, path):
            h = self._inner.open_input_file(path)
            self.handles.append((path, h))
            return h

        def __getattr__(self, name):
            return getattr(self._inner, name)

    @pytest.fixture()
    def dest(self, spark, tmp_path):
        from gus_spark.operators.splits import write_training_shards

        ids = spark.range(500).select(F.col("id").alias("doc_id"))
        d = str(tmp_path / "handles")
        write_training_shards(
            ids, d, shards=4, weights={"train": 1.0}
        )
        return d

    def test_full_epoch_closes_every_handle(self, dest):
        import pyarrow.fs as pa_fs

        from gus_spark.operators.splits import iter_training_order

        for epoch in (1, 0):
            fs = self._RecordingFS(pa_fs.LocalFileSystem())
            n = sum(
                b.num_rows
                for b, _c in iter_training_order(
                    dest, "train", epoch=epoch, filesystem=fs,
                    batch_rows=64,
                )
            )
            assert n == 500
            shard_handles = [
                h for p, h in fs.handles if "shard=" in p
            ]
            assert len(shard_handles) == 4  # one per shard, not more
            assert all(h.closed for _p, h in fs.handles)

    def test_abandoned_stream_closes_handle(self, dest):
        import pyarrow.fs as pa_fs

        from gus_spark.operators.splits import iter_training_order

        for epoch in (1, 0):
            fs = self._RecordingFS(pa_fs.LocalFileSystem())
            it = iter_training_order(
                dest, "train", epoch=epoch, filesystem=fs,
                batch_rows=16,
            )
            next(it)  # mid-shard
            it.close()  # GeneratorExit → finally must run
            assert all(h.closed for _p, h in fs.handles)


class TestCompactGenerations:
    """compact_generations (r13 — VERDICT r12 'missing' #1): fold
    accumulated publish generations back down so loader file counts
    stop growing with publish cadence. Claims pinned:

    - fold to 1: same doc set per split, valid training order (one
      file per dir, dense pos), epoch/rank machinery intact, dir
      count back to `shards` per split;
    - partial fold (max_generations=2): the suffix-fold policy keeps
      the OLDEST (bulk) generation's files BYTE-IDENTICAL at
      unchanged ids and folds only the newer tail (the LSM rule — a
      prefix fold would rewrite the accumulated corpus every cycle);
    - tombstoned rows are PHYSICALLY dropped from the folded region
      (storage-level erasure) while kept-region tombstones remain a
      read-side gate;
    - crash mid-phase-2 completes idempotently on the next call,
      receipt-checked;
    - appends compose after a compact; pre-compact cursors raise;
    - no-op below the threshold."""

    def _build(self, spark, tmp_path, name, appends=2):
        from gus_spark.operators.splits import (
            append_training_shards,
            write_training_shards,
        )

        d = str(tmp_path / name)
        # the bulk generation carries a fat payload so its BYTES
        # genuinely outweigh the appended tail (the suffix-fold
        # policy decides by size; tiny fixtures are otherwise
        # dominated by per-file parquet overhead)
        base = spark.range(300).select(
            F.col("id").alias("doc_id"),
            F.repeat(F.lit("x"), 2000).alias("payload"),
        )
        write_training_shards(base, d, shards=4)
        for a in range(appends):
            extra = spark.range(
                1000 * (a + 1), 1000 * (a + 1) + 120
            ).select(
                F.col("id").alias("doc_id"),
                F.lit("tail").alias("payload"),
            )
            append_training_shards(extra, d, verify=False)
        return d

    @staticmethod
    def _docs(dest, split="train", **kw):
        from gus_spark.operators.splits import iter_training_order

        out = []
        for b, _c in iter_training_order(dest, split, **kw):
            out.extend(b.column("doc_id").to_pylist())
        return out

    def test_fold_to_one_generation(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            compact_generations,
            read_manifest,
        )

        d = self._build(spark, tmp_path, "fold1")
        assert read_manifest(d)["generations"] == 3
        before = {
            s: sorted(self._docs(d, s))
            for s in ("train", "validation", "test")
        }
        m = compact_generations(spark, d, max_generations=1)
        assert m["generations"] == 1
        assert not os.path.exists(os.path.join(d, "compact_intent.json"))
        assert not os.path.isdir(os.path.join(d, "_compact_tmp"))
        for s in ("train", "validation", "test"):
            assert sorted(self._docs(d, s)) == before[s], s
        # dir count collapsed back to `shards`
        train_dir = os.path.join(d, "data", "split=train")
        assert (
            len([x for x in os.listdir(train_dir) if x.startswith("shard=")])
            == 4
        )
        # epoch/rank machinery intact on the folded set
        r0 = set(self._docs(d, epoch=1, rank=0, world_size=2))
        r1 = set(self._docs(d, epoch=1, rank=1, world_size=2))
        assert not (r0 & r1) and r0 | r1 == set(before["train"])

    def test_partial_fold_keeps_bulk_bytes(self, spark, tmp_path):
        import glob
        import hashlib

        from gus_spark.operators.splits import (
            compact_generations,
            read_manifest,
        )

        d = self._build(spark, tmp_path, "fold2")  # gens 0,1,2
        # gen 0 (300 rows) outweighs the tail (2x120), so the LSM
        # rule folds only [1, 3) and the bulk is untouched

        def hashes(lo, hi):
            out = {}
            for f in glob.glob(
                os.path.join(d, "data", "*", "shard=*", "*.parquet")
            ):
                k = int(f.split("shard=")[1].split(os.sep)[0])
                if lo <= k < hi:
                    out[os.path.relpath(f, d)] = hashlib.md5(
                        open(f, "rb").read()
                    ).hexdigest()
            return out

        bulk_before = hashes(0, 4)  # generation 0's dirs
        before = sorted(self._docs(d))
        m = compact_generations(spark, d, max_generations=2)
        assert m["generations"] == 2
        assert read_manifest(d)["generations"] == 2
        # the bulk: byte-identical, SAME paths (no renames at all)
        assert hashes(0, 4) == bulk_before
        # the folded tail landed at the suffix slot
        assert hashes(8, 999) == {}
        assert len(hashes(4, 8)) > 0
        assert sorted(self._docs(d)) == before

    def test_tombstones_physically_dropped_in_fold(
        self, spark, tmp_path
    ):
        from gus_spark.operators.splits import (
            compact_generations,
            tombstone_training_shards,
        )

        d = self._build(spark, tmp_path, "foldtomb")  # gens 0,1,2
        base = [
            i
            for s in ("train", "validation", "test")
            for i in self._docs(d, s)
        ]
        # suffix fold: gens 1-2 (ids >= 1000) fold; gen 0 (< 300)
        # is the kept bulk — its tombstones stay a read-side gate
        dead_folded = [i for i in base if i >= 1000][::17]
        dead_kept = [i for i in base if i < 300][:3]
        tombstone_training_shards(d, dead_folded + dead_kept)
        compact_generations(spark, d, max_generations=2)
        on_disk = set(
            r.doc_id
            for r in spark.read.parquet(os.path.join(d, "data"))
            .select("doc_id")
            .collect()
        )
        assert not (on_disk & set(dead_folded))  # physically erased
        assert set(dead_kept) <= on_disk  # kept region: read-side gate
        got = set(self._docs(d)) | set(
            self._docs(d, "validation")
        ) | set(self._docs(d, "test"))
        assert got == set(base) - set(dead_folded) - set(dead_kept)

    def test_crash_mid_phase2_completes_idempotently(
        self, spark, tmp_path, monkeypatch
    ):
        from gus_spark.operators.splits import (
            compact_generations,
            read_manifest,
        )

        d = self._build(spark, tmp_path, "foldcrash")
        before = sorted(self._docs(d))
        real_rename = os.rename
        calls = {"n": 0}

        def flaky(src, dst):
            if "shard=" in str(src):
                calls["n"] += 1
                if calls["n"] == 3:
                    raise OSError("injected crash mid-rename")
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", flaky)
        with pytest.raises(OSError, match="injected"):
            compact_generations(spark, d, max_generations=2)
        monkeypatch.setattr(os, "rename", real_rename)
        assert os.path.exists(os.path.join(d, "compact_intent.json"))
        m = compact_generations(spark, d, max_generations=2)
        assert m["generations"] == 2
        assert read_manifest(d)["generations"] == 2
        assert sorted(self._docs(d)) == before
        assert not os.path.exists(os.path.join(d, "compact_intent.json"))

    def test_append_composes_and_cursors_invalidate(
        self, spark, tmp_path
    ):
        from gus_spark.operators.splits import (
            append_training_shards,
            compact_generations,
            iter_training_order,
        )

        d = self._build(spark, tmp_path, "foldgrow")
        _b, cur = next(
            iter(iter_training_order(d, "train", batch_rows=31))
        )
        assert cur[2] == 3
        before = {
            i
            for s in ("train", "validation", "test")
            for i in self._docs(d, s)
        }
        compact_generations(spark, d, max_generations=1)
        with pytest.raises(ValueError, match="layout"):
            next(
                iter(
                    iter_training_order(
                        d, "train", cursor=cur, batch_rows=31
                    )
                )
            )
        extra = spark.range(5000, 5060).select(
            F.col("id").alias("doc_id")
        )
        m = append_training_shards(extra, d, verify=False)
        assert m["generations"] == 2
        total = set()
        for s in ("train", "validation", "test"):
            total |= set(self._docs(d, s))
        assert before <= total and len(total) == len(before) + 60

    def test_noop_below_threshold(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            compact_generations,
            read_manifest,
        )

        d = self._build(spark, tmp_path, "foldnoop", appends=0)
        m0 = read_manifest(d)
        assert compact_generations(spark, d, max_generations=2) == m0
        with pytest.raises(ValueError, match="max_generations"):
            compact_generations(spark, d, max_generations=0)


class TestDocSpanMasking:
    """mask_training_sequences (r13 — VERDICT r12 #5): the retention
    measurement (SCALING.md §masking) showed whole-sequence removal
    costs ~36x the contaminated tokens at 2048-token budgets, so the
    doc-span mask is warranted. Claims pinned:

    - the sidecar's spans are EXACTLY the contaminated documents'
      doc_spans boundaries (the trainer's existing mask source);
    - the loader attaches masked_spans to EVERY batch (stable
      schema), null for clean rows; all rows still flow (positions,
      cursors, counts untouched);
    - repeat calls merge per sequence (span-set union) and are
      idempotent;
    - composition with tombstones: a tombstoned sequence is gone,
      the rest stay masked;
    - a doc_spans-less shard set raises."""

    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        from gus_spark.operators.bpe import (
            bpe_base_symbols,
            bpe_fit,
            bpe_vocab,
        )
        from gus_spark.operators.chunk import (
            assemble_token_sequences,
            chunk_documents,
            pack_sequences,
        )
        from gus_spark.operators.splits import write_training_shards

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        )
        merges = bpe_fit(docs.limit(80), num_merges=12)
        vocab = bpe_vocab(merges, bpe_base_symbols(docs.limit(80)))
        chunks = chunk_documents(docs, max_tokens=16, overlap=4)
        packed = pack_sequences(chunks, budget=48, shards=4)
        seqs = assemble_token_sequences(packed, merges, vocab)
        dest = str(tmp_path_factory.mktemp("mask_shards"))
        write_training_shards(
            seqs, dest, shards=4, id_col="seq_uid",
            weights={"train": 1.0}, verify=False,
        )
        rows = {
            r.seq_uid: [
                (s.doc_id, s.start, s.len) for s in r.doc_spans
            ]
            for r in seqs.collect()
        }
        return dest, rows

    @staticmethod
    def _loader_view(dest, **kw):
        from gus_spark.operators.splits import iter_training_order

        out = {}
        for b, _c in iter_training_order(dest, "train", **kw):
            assert "masked_spans" in b.schema.names
            for row in b.to_pylist():
                out[row["seq_uid"]] = row["masked_spans"]
        return out

    def test_masks_are_exact_doc_spans_and_rows_flow(
        self, spark, built
    ):
        from gus_spark.operators.splits import (
            mask_training_sequences,
        )

        dest, rows = built
        all_docs = {d for spans in rows.values() for d, _s, _l in spans}
        dirty = sorted(all_docs)[::17]
        receipt = mask_training_sequences(
            spark, dest,
            spark.createDataFrame([(d,) for d in dirty], "doc_id long"),
        )
        want = {
            uid: sorted(
                {(s, ln) for d, s, ln in spans if d in set(dirty)}
            )
            for uid, spans in rows.items()
            if any(d in set(dirty) for d, _s, _l in spans)
        }
        assert receipt["masked_sequences"] == len(want) > 0
        got = self._loader_view(dest)
        assert set(got) == set(rows)  # every sequence still delivered
        for uid, spans in got.items():
            if uid in want:
                assert [
                    (s["start"], s["len"]) for s in spans
                ] == want[uid], uid
            else:
                assert spans is None, uid
        # epoch>0 path carries the column too
        got_e1 = self._loader_view(dest, epoch=1)
        assert {
            u: (
                tuple((s["start"], s["len"]) for s in v)
                if v is not None
                else None
            )
            for u, v in got_e1.items()
        } == {
            u: (
                tuple((s["start"], s["len"]) for s in v)
                if v is not None
                else None
            )
            for u, v in got.items()
        }
        # retention: masking keeps every neighbor token that
        # whole-sequence removal would destroy
        masked_tok = sum(
            ln for spans in want.values() for _s, ln in spans
        )
        whole_tok = sum(
            ln
            for uid in want
            for _d, _s, ln in rows[uid]
        )
        assert masked_tok < whole_tok

    def test_merge_and_idempotence(self, spark, built):
        import pyarrow.parquet as pq

        from gus_spark.operators.splits import (
            mask_training_sequences,
        )

        dest, rows = built
        before = pq.read_table(
            os.path.join(dest, "masks.parquet")
        ).to_pylist()
        all_docs = {d for spans in rows.values() for d, _s, _l in spans}
        dirty = sorted(all_docs)[::17]
        # same benchmark again: byte-stable sidecar
        mask_training_sequences(
            spark, dest,
            spark.createDataFrame([(d,) for d in dirty], "doc_id long"),
        )
        assert (
            pq.read_table(
                os.path.join(dest, "masks.parquet")
            ).to_pylist()
            == before
        )
        # a second benchmark unions per sequence
        more = sorted(all_docs)[3::29]
        mask_training_sequences(
            spark, dest,
            spark.createDataFrame([(d,) for d in more], "doc_id long"),
        )
        got = self._loader_view(dest)
        dirty2 = set(dirty) | set(more)
        for uid, spans in rows.items():
            want = sorted({(s, ln) for d, s, ln in spans if d in dirty2})
            if want:
                assert [
                    (s["start"], s["len"]) for s in got[uid]
                ] == want, uid

    def test_composes_with_tombstones(self, spark, built):
        from gus_spark.operators.splits import (
            tombstone_training_shards,
        )

        dest, rows = built
        got = self._loader_view(dest)
        victim = next(u for u, v in got.items() if v is not None)
        tombstone_training_shards(dest, {victim})
        after = self._loader_view(dest)
        assert victim not in after
        assert {u: v for u, v in got.items() if u != victim} == after

    def test_plain_document_set_raises(self, spark, built, tmp_path):
        from gus_spark.operators.splits import (
            mask_training_sequences,
            write_training_shards,
        )

        d = str(tmp_path / "plain")
        write_training_shards(
            spark.range(50).select(F.col("id").alias("doc_id")),
            d, shards=2, weights={"train": 1.0},
        )
        with pytest.raises(ValueError, match="doc_spans"):
            mask_training_sequences(
                spark, d,
                spark.createDataFrame([(1,)], "doc_id long"),
            )


class TestShardSetMaskVerb:
    """TrainingShardSet.mask (r13): the retention-preserving twin of
    delete — document ids in, doc-span masks recorded, batch-key
    idempotent via its OWN ledger (mask then a later delete
    escalation compose)."""

    def test_mask_is_batch_key_idempotent(self, spark, tmp_path):
        from gus_spark.operators.bpe import (
            bpe_base_symbols,
            bpe_fit,
            bpe_vocab,
        )
        from gus_spark.operators.chunk import (
            assemble_token_sequences,
            chunk_documents,
            pack_sequences,
        )
        from gus_spark.operators.splits import (
            TrainingShardSet,
            write_training_shards,
        )

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        ).limit(120)
        merges = bpe_fit(docs, num_merges=8)
        vocab = bpe_vocab(merges, bpe_base_symbols(docs))
        seqs = assemble_token_sequences(
            pack_sequences(
                chunk_documents(docs, max_tokens=16, overlap=4),
                budget=48, shards=4,
            ),
            merges, vocab,
        )
        dest = str(tmp_path / "shards")
        write_training_shards(
            seqs, dest, shards=4, id_col="seq_uid",
            weights={"train": 1.0}, verify=False,
        )
        sset = TrainingShardSet(spark, dest)
        dirty = docs.filter(F.col("doc_id") % 11 == 3).select("doc_id")
        n = sset.mask(dirty, batch_key="bench-v1")
        assert n > 0
        assert sset.mask(dirty, batch_key="bench-v1") == 0  # replay
        # a later escalation to delete uses its own ledger
        from gus_spark.operators.splits import sequences_containing

        uids = sequences_containing(spark, dest, dirty)
        assert sset.delete(uids, batch_key="bench-v1") > 0


class TestLifecycleInterleave:
    """r13: the grow→fold lifecycle under repetition — five
    append/compact cycles at max_generations=2 (the run_live publish
    steady state, serially, as the single-writer contract requires):
    after EVERY cycle the union across splits is exactly the ids
    written so far, the generation count stays bounded, cursors from
    before the cycle raise, and the loader's per-split dir count
    never exceeds bound*shards."""

    def test_five_cycles_hold_parity(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            append_training_shards,
            compact_generations,
            iter_training_order,
            read_manifest,
            write_training_shards,
        )

        d = str(tmp_path / "cycle")
        write_training_shards(
            spark.range(200).select(F.col("id").alias("doc_id")),
            d, shards=3,
        )
        want = set(range(200))
        for k in range(1, 6):
            lo, hi = 1000 * k, 1000 * k + 80
            _b, cur = next(
                iter(iter_training_order(d, "train", batch_rows=37))
            )
            append_training_shards(
                spark.range(lo, hi).select(F.col("id").alias("doc_id")),
                d, verify=False,
            )
            m = compact_generations(spark, d, max_generations=2)
            want |= set(range(lo, hi))
            assert m["generations"] <= 2
            got = set()
            for split in ("train", "validation", "test"):
                for b, _c in iter_training_order(d, split):
                    got.update(b.column("doc_id").to_pylist())
            assert got == want, k
            with pytest.raises(ValueError, match="layout"):
                next(
                    iter(
                        iter_training_order(
                            d, "train", cursor=cur, batch_rows=37
                        )
                    )
                )
            train_dir = os.path.join(d, "data", "split=train")
            assert (
                len(
                    [
                        x
                        for x in os.listdir(train_dir)
                        if x.startswith("shard=")
                    ]
                )
                <= 6
            ), k
        assert read_manifest(d)["total_rows"] == len(want)


def test_mask_weights_reference():
    """mask_weights (r13): the 1-based span arithmetic pinned — the
    weight vector zeroes exactly the masked token positions, clean
    rows (None) are all-ones, and out-of-range spans raise."""
    from gus_spark.operators.splits import mask_weights

    assert mask_weights(5, None) == [1, 1, 1, 1, 1]
    assert mask_weights(5, [{"start": 2, "len": 2}]) == [1, 0, 0, 1, 1]
    assert mask_weights(
        4, [{"start": 1, "len": 1}, {"start": 4, "len": 1}]
    ) == [0, 1, 1, 0]
    assert mask_weights(3, [{"start": 1, "len": 3}]) == [0, 0, 0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside"):
        mask_weights(3, [{"start": 3, "len": 2}])
    with _pytest.raises(ValueError, match="outside"):
        mask_weights(3, [{"start": 0, "len": 1}])


class TestRetokenizeShardSet:
    """retokenize_shard_set (r13): the tokenizer-refit migration the
    publish guard prescribes. Claims: the new set's token_ids are the
    NEW tokenizer's (decode receipts), seq_uid set and per-sequence
    split match the old set, tombstones carry verbatim (still gated),
    doc-span masks are re-derived at the NEW vocab's offsets for
    exactly the originally masked documents, ledgers carry, and a
    non-final old set (tier/set id mismatch) refuses loudly."""

    def _build(self, spark, tmp_path):
        from gus_spark.operators.bpe import (
            bpe_base_symbols,
            bpe_fit,
            bpe_vocab,
            save_tokenizer,
        )
        from gus_spark.operators.chunk import (
            assemble_token_sequences,
            chunk_documents,
            pack_sequences,
        )
        from gus_spark.operators.splits import write_training_shards

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        ).limit(150)
        merges_a = bpe_fit(docs, num_merges=8)
        vocab_a = bpe_vocab(merges_a, bpe_base_symbols(docs))
        packed_dir = str(tmp_path / "packed")
        pack_sequences(
            chunk_documents(docs, max_tokens=16, overlap=4),
            budget=48, shards=4,
        ).write.parquet(packed_dir)
        seqs_a = assemble_token_sequences(
            spark.read.parquet(packed_dir), merges_a, vocab_a
        )
        old = str(tmp_path / "old")
        write_training_shards(
            seqs_a, old, shards=4, id_col="seq_uid", verify=False
        )
        save_tokenizer(old, merges_a, vocab_a)
        tok_b = str(tmp_path / "tok_b")
        os.makedirs(tok_b)
        merges_b = bpe_fit(docs, num_merges=20)
        vocab_b = bpe_vocab(merges_b, bpe_base_symbols(docs))
        save_tokenizer(tok_b, merges_b, vocab_b)
        return docs, packed_dir, old, tok_b, (merges_b, vocab_b)

    def test_migration_carries_state(self, spark, tmp_path):
        from gus_spark.operators.bpe import (
            bpe_decode_ids,
            load_tokenizer,
        )
        from gus_spark.operators.splits import (
            iter_training_order,
            mask_training_sequences,
            retokenize_shard_set,
            tombstone_training_shards,
        )

        docs, packed_dir, old, tok_b, (m_b, v_b) = self._build(
            spark, tmp_path
        )

        def view(dest):
            out = {}
            for split in ("train", "validation", "test"):
                try:
                    for b, _c in iter_training_order(dest, split):
                        for row in b.to_pylist():
                            out[row["seq_uid"]] = (split, row)
                except ValueError:
                    continue  # split may be empty at this size
            return out

        old_view = view(old)
        dead_uid = sorted(old_view)[0]
        tombstone_training_shards(old, {dead_uid})
        all_docs = sorted(
            {
                d["doc_id"]
                for _s, row in old_view.values()
                for d in row["doc_spans"]
            }
        )
        dirty = all_docs[::19]
        mask_training_sequences(
            spark, old,
            spark.createDataFrame([(d,) for d in dirty], "doc_id long"),
        )

        new = str(tmp_path / "new")
        manifest = retokenize_shard_set(
            spark, packed_dir, old, new, tok_b
        )
        assert load_tokenizer(new) == (m_b, v_b)
        new_view = view(new)
        # identity + split parity (tombstoned uid gated in BOTH)
        assert set(new_view) == set(old_view) - {dead_uid}
        for uid, (split, _r) in new_view.items():
            assert split == old_view[uid][0], uid
        # token ids are the NEW tokenizer's and decode
        some_uid, (_s, some_row) = next(iter(new_view.items()))
        assert isinstance(
            bpe_decode_ids(list(some_row["token_ids"]), v_b), str
        )
        # masks re-derived: masked sequences = those containing a
        # dirty doc, spans == the NEW doc_spans of the dirty docs
        for uid, (_s, row) in new_view.items():
            want = sorted(
                (d["start"], d["len"])
                for d in row["doc_spans"]
                if d["doc_id"] in set(dirty)
            )
            got = (
                sorted(
                    (s["start"], s["len"])
                    for s in row["masked_spans"]
                )
                if row["masked_spans"] is not None
                else []
            )
            assert got == want, uid
        # ledgers carried: the same batch keys short-circuit
        from gus_spark.operators.splits import TrainingShardSet

        assert manifest["total_rows"] == len(old_view)

    def test_non_final_old_set_refuses(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            retokenize_shard_set,
            tombstone_training_shards,
        )

        docs, packed_dir, old, tok_b, _ = self._build(spark, tmp_path)
        # grow the packed tier past what the old set covers
        extra = spark.read.parquet(packed_dir).limit(10).withColumn(
            "shard", F.col("shard") + 100
        )
        extra.write.mode("append").parquet(packed_dir)
        new = str(tmp_path / "new2")
        with pytest.raises(ValueError, match="final"):
            retokenize_shard_set(spark, packed_dir, old, new, tok_b)
        assert not os.path.exists(new)  # nothing half-migrated


class TestCurriculumOrder:
    """order_col (r13): the curriculum knob on the training-order
    writers — pos ranks by (order value, seeded hash, id) per
    (split, shard). Claims: epoch 0 reads each shard in quality
    order (desc_nulls_last honored); epoch > 0 still reshuffles;
    appends and compaction folds rank their generations by the
    manifest's recorded rule; a missing column raises; the default
    stays the pure seeded shuffle (covered by every other test)."""

    def _quality(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 19 == 0, F.lit(None)).otherwise(
                (F.col("id") * 37 % 101).cast("double")
            ).alias("quality"),
        )

    @staticmethod
    def _per_shard_quality(dest, **kw):
        from gus_spark.operators.splits import iter_training_order

        out: dict[int, list] = {}
        for b, cur in iter_training_order(dest, "train", **kw):
            out.setdefault(cur[0], []).extend(
                b.column("quality").to_pylist()
            )
        return out

    @staticmethod
    def _desc_nulls_last(vals):
        seen_null = False
        prev = None
        for v in vals:
            if v is None:
                seen_null = True
                continue
            if seen_null:
                return False  # a value after a null
            if prev is not None and v > prev:
                return False
            prev = v
        return True

    def test_epoch0_is_curriculum_epoch1_reshuffles(
        self, spark, tmp_path
    ):
        from gus_spark.operators.splits import write_training_shards

        d = str(tmp_path / "cur")
        m = write_training_shards(
            self._quality(spark, 0, 400), d, shards=3,
            weights={"train": 1.0}, order_col="quality",
            order_desc=True,
        )
        assert m["order_col"] == "quality" and m["order_desc"]
        per = self._per_shard_quality(d)
        assert len(per) == 3
        for shard, vals in per.items():
            assert self._desc_nulls_last(vals), shard
        e1 = self._per_shard_quality(d, epoch=1)
        assert sorted(
            v for vs in e1.values() for v in vs if v is not None
        ) == sorted(
            v for vs in per.values() for v in vs if v is not None
        )
        assert any(
            not self._desc_nulls_last(vs) for vs in e1.values()
        )  # the reshuffle genuinely breaks the curriculum

    def test_append_and_fold_keep_the_rule(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            append_training_shards,
            compact_generations,
            write_training_shards,
        )

        d = str(tmp_path / "curgrow")
        write_training_shards(
            self._quality(spark, 0, 300), d, shards=3,
            weights={"train": 1.0}, order_col="quality",
            order_desc=True,
        )
        append_training_shards(
            self._quality(spark, 1000, 1200), d, verify=False
        )
        per = self._per_shard_quality(d)
        assert set(per) == set(range(6))  # both generations
        for shard, vals in per.items():
            assert self._desc_nulls_last(vals), shard
        compact_generations(spark, d, max_generations=1)
        per2 = self._per_shard_quality(d)
        assert set(per2) == set(range(3))
        for shard, vals in per2.items():
            assert self._desc_nulls_last(vals), shard

    def test_missing_order_column_raises(self, spark, tmp_path):
        from gus_spark.operators.splits import write_training_shards

        with pytest.raises(ValueError, match="order_col"):
            write_training_shards(
                spark.range(10).select(F.col("id").alias("doc_id")),
                str(tmp_path / "bad"),
                order_col="nope",
            )


class TestMixtureLoader:
    """iter_mixture (r13): weighted multi-corpus sampling at READ
    time — domains stay separate shard sets, re-weighting is a loader
    config change, never a rewrite. Claims pinned:

    - the schedule is a pure function of (seed, step): two runs yield
      identical (name, rows) sequences, and realized proportions
      track the normalized weights;
    - components CYCLE epochs: over any prefix of the stream, each id
      of a component appears either m or m+1 times (m = that
      component's completed epochs), i.e. every cycle is a full
      permutation before any repeat;
    - ONE composite cursor resumes the whole mixture exactly-once at
      any checkpoint, including across component epoch boundaries,
      and toward an unchanged max_steps budget;
    - a cursor under a different mixture (weights, seed, rank) raises
      (the wrong-rank precedent, composed);
    - an empty component — no rows in the split, or an empty rank
      slice — raises loudly instead of spinning;
    - ranks share the schedule (same component at every step) while
      each component's per-epoch consumption stays disjoint across
      ranks.
    """

    @pytest.fixture(scope="class")
    def mix(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        )
        base = tmp_path_factory.mktemp("mixture")
        a = str(base / "set_a")
        b = str(base / "set_b")
        write_training_shards(
            docs.filter(F.col("doc_id") % 2 == 0),
            a, shards=2, weights={"train": 1.0},
        )
        write_training_shards(
            docs.filter(F.col("doc_id") % 2 == 1),
            b, shards=2, weights={"train": 1.0},
        )
        return {"a": (a, 3.0), "b": (b, 1.0)}

    @staticmethod
    def _run(mix, steps, cursor=None, **kw):
        from gus_spark.operators.splits import iter_mixture

        out, last = [], None
        for name, batch, cur in iter_mixture(
            mix, "train", cursor=cursor, batch_rows=64,
            max_steps=steps, **kw,
        ):
            out.append(
                (
                    name,
                    cur["states"][name]["epoch"],
                    tuple(batch.column("doc_id").to_pylist()),
                )
            )
            last = cur
        return out, last

    def test_deterministic_and_proportions(self, mix):
        run1, _ = self._run(mix, 200)
        run2, _ = self._run(mix, 200)
        assert run1 == run2
        frac_a = sum(1 for n, _, _ in run1 if n == "a") / len(run1)
        assert 0.75 - 0.09 <= frac_a <= 0.75 + 0.09, frac_a

    def test_epochs_cycle_as_full_permutations(self, mix):
        run, last = self._run(mix, 250)
        for name in ("a", "b"):
            by_epoch = {}
            for n, e, ids in run:
                if n == name:
                    by_epoch.setdefault(e, []).extend(ids)
            m = last["states"][name]["epoch"]
            assert m >= 1, f"{name} never cycled — weaken the test"
            # every COMPLETED epoch is one full permutation of the
            # component: no id repeats inside an epoch, and all
            # completed epochs cover the identical id set
            full_sets = []
            for e in range(m):
                ids = by_epoch[e]
                assert len(ids) == len(set(ids)), (name, e)
                full_sets.append(set(ids))
            assert all(s == full_sets[0] for s in full_sets), name
            # the in-flight epoch is a duplicate-free prefix of it
            tail = by_epoch.get(m, [])
            assert len(tail) == len(set(tail)), name
            assert set(tail) <= full_sets[0], name

    def test_composite_cursor_resumes_exactly_once(self, mix):
        full, _ = self._run(mix, 150)
        for k in (1, 40, 75, 149):
            head, cur = self._run(mix, k)
            tail, _ = self._run(mix, 150, cursor=cur)
            assert head + tail == full, k

    def test_resume_honors_max_steps_budget(self, mix):
        full, last_full = self._run(mix, 60)
        head, cur = self._run(mix, 25)
        tail, last = self._run(mix, 60, cursor=cur)
        assert head + tail == full
        assert last["step"] == last_full["step"] == 59

    def test_foreign_cursor_raises(self, mix):
        from gus_spark.operators.splits import iter_mixture

        _, cur = self._run(mix, 10)
        reweighted = {k: (d, 1.0) for k, (d, _) in mix.items()}
        for kw in (
            {"seed": "other"},
            {"rank": 1, "world_size": 2},
        ):
            with pytest.raises(ValueError, match="different"):
                next(iter_mixture(mix, "train", cursor=cur, **kw))
        with pytest.raises(ValueError, match="different"):
            next(iter_mixture(reweighted, "train", cursor=cur))

    def test_empty_component_raises(self, mix, spark, tmp_path):
        from gus_spark.operators.splits import iter_mixture

        # no rows in the requested split: pre-checked from the
        # manifest before any read
        with pytest.raises(ValueError, match="no rows in split"):
            next(iter_mixture(mix, "val"))
        # an empty rank slice (world_size > shard dirs): loud on the
        # first schedule hit, never an infinite spin
        with pytest.raises(ValueError, match="yields no rows"):
            self._run(mix, 50, rank=3, world_size=4)

    def test_bad_weights_raise(self, mix):
        from gus_spark.operators.splits import iter_mixture

        (a, _), (b, _) = mix["a"], mix["b"]
        for w in (0.0, -1.0, float("nan"), float("inf")):
            with pytest.raises(ValueError, match="weight"):
                next(iter_mixture({"a": (a, 3.0), "b": (b, w)}))
        with pytest.raises(ValueError, match="empty"):
            next(iter_mixture({}))

    def test_ranks_share_schedule_consume_disjointly(self, mix):
        runs = {}
        for rank in (0, 1):
            out, last = self._run(
                mix, 120, rank=rank, world_size=2
            )
            runs[rank] = (out, last)
        names0 = [n for n, _, _ in runs[0][0]]
        names1 = [n for n, _, _ in runs[1][0]]
        assert names0 == names1  # same schedule on every rank
        # within the same (component, epoch), ranks never overlap
        for name in ("a", "b"):
            per_rank = {}
            for rank in (0, 1):
                by_epoch = {}
                for n, e, ids in runs[rank][0]:
                    if n == name:
                        by_epoch.setdefault(e, set()).update(ids)
                per_rank[rank] = by_epoch
            overlapped = False
            for e in set(per_rank[0]) & set(per_rank[1]):
                assert not (per_rank[0][e] & per_rank[1][e]), (
                    name, e,
                )
                overlapped = True
            assert overlapped, f"{name}: no shared epoch exercised"


class TestMixtureTokenBudget:
    """iter_mixture(max_tokens=): the stream stops at a TOKEN budget
    — the unit training runs are planned in — slicing the final batch
    at the crossing row. Claims pinned: the budget is reached with at
    most one row of overshoot; the cumulative count rides the cursor
    so a resumed run continues toward the SAME budget and a raised
    budget continues exactly-once past the sliced row; cursors that
    never tracked tokens are refused under a budget; a missing or
    null tokens column raises."""

    @pytest.fixture(scope="class")
    def tok_mix(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        base = tmp_path_factory.mktemp("tokmix")
        out = {}
        for name, lo, hi in (("a", 0, 400), ("b", 1000, 1200)):
            df = spark.range(lo, hi).selectExpr(
                "id as doc_id", "5 + id % 7 as n_tokens"
            )
            d = str(base / name)
            write_training_shards(
                df, d, shards=2, weights={"train": 1.0}
            )
            out[name] = (d, 1.0)
        return out

    @staticmethod
    def _run(mix, cursor=None, **kw):
        from gus_spark.operators.splits import iter_mixture

        rows, toks, last = [], 0, None
        for name, batch, cur in iter_mixture(
            mix, "train", cursor=cursor, batch_rows=32, **kw
        ):
            ids = batch.column("doc_id").to_pylist()
            rows.extend((name, i) for i in ids)
            toks += sum(batch.column("n_tokens").to_pylist())
            last = cur
        return rows, toks, last

    def test_budget_reached_with_row_overshoot(self, tok_mix):
        rows, toks, last = self._run(tok_mix, max_tokens=777)
        assert 777 <= toks < 777 + 12  # max row tokens = 5 + 6
        assert last["tokens"] == toks
        assert len(rows) == len(set(rows))  # exactly-once

    def test_resume_continues_toward_same_budget(self, tok_mix):
        full, full_toks, _ = self._run(tok_mix, max_tokens=900)
        head, _, cur = self._run(tok_mix, max_tokens=900, max_steps=3)
        tail, _, last = self._run(tok_mix, cursor=cur, max_tokens=900)
        assert head + tail == full
        assert last["tokens"] == full_toks

    def test_raised_budget_resumes_past_the_slice(self, tok_mix):
        # stop at T1 (sliced final batch), then grant T2 > T1: the
        # union must equal a straight T2 run row-for-row per
        # component (the sliced tail re-delivers, nothing repeats)
        straight, straight_toks, _ = self._run(
            tok_mix, max_tokens=2000
        )
        head, t1, cur = self._run(tok_mix, max_tokens=800)
        tail, t2, _ = self._run(tok_mix, cursor=cur, max_tokens=2000)
        assert t1 + t2 == straight_toks
        # batch boundaries shift after a slice, so compare the
        # per-component row sequences, not step tuples
        def by_comp(rows):
            out = {}
            for n, i in rows:
                out.setdefault(n, []).append(i)
            return out
        got, want = by_comp(head + tail), by_comp(straight)
        assert got == want

    def test_tokenless_cursor_refused_under_budget(self, tok_mix):
        from gus_spark.operators.splits import iter_mixture

        _, _, cur = self._run(tok_mix, max_steps=3)
        assert "tokens" not in cur
        with pytest.raises(ValueError, match="never tracked tokens"):
            next(
                iter_mixture(
                    tok_mix, "train", cursor=cur, max_tokens=100
                )
            )
        # explicit fresh grant: the documented escape hatch
        cur["tokens"] = 0
        rows, toks, _ = self._run(tok_mix, cursor=cur, max_tokens=60)
        assert toks >= 60

    def test_spent_budget_yields_nothing(self, tok_mix):
        _, toks, cur = self._run(tok_mix, max_tokens=500)
        again, _, _ = self._run(tok_mix, cursor=cur, max_tokens=500)
        assert again == []

    def test_missing_tokens_column_raises(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import (
            iter_mixture,
            write_training_shards,
        )

        d = str(tmp_path_factory.mktemp("notok") / "set")
        write_training_shards(
            spark.range(50).selectExpr("id as doc_id"),
            d, shards=2, weights={"train": 1.0},
        )
        with pytest.raises(ValueError, match="n_tokens"):
            next(
                iter_mixture(
                    {"x": (d, 1.0)}, "train", max_tokens=10
                )
            )

    def test_null_tokens_raise(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import (
            iter_mixture,
            write_training_shards,
        )

        d = str(tmp_path_factory.mktemp("nulltok") / "set")
        write_training_shards(
            spark.range(50).selectExpr(
                "id as doc_id",
                "if(id % 9 = 0, NULL, 5L) as n_tokens",
            ),
            d, shards=2, weights={"train": 1.0},
        )
        with pytest.raises(ValueError, match="null"):
            list(
                iter_mixture(
                    {"x": (d, 1.0)}, "train", max_tokens=10**6
                )
            )


class TestMixtureExactSchedule:
    """iter_mixture(schedule="exact"): the greedy minimal-error
    interleave (the Megatron-LM blendable-dataset rule) — every
    prefix's realized draw counts sit within 1 of w_c*t, with no RNG
    anywhere. Claims pinned: the <1 deviation bound at every prefix;
    determinism; exactly-once resume via the cursor's served counts;
    schedule mode is part of the cursor sig (an exact cursor refuses
    a stochastic resume and vice versa); composes with max_tokens."""

    @pytest.fixture(scope="class")
    def tok_mix(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        base = tmp_path_factory.mktemp("exactmix")
        out = {}
        for name, lo, hi, w in (
            ("a", 0, 400, 0.6180339887),
            ("b", 1000, 1300, 0.25),
            ("c", 2000, 2100, 0.1319660113),
        ):
            df = spark.range(lo, hi).selectExpr(
                "id as doc_id", "5 + id % 7 as n_tokens"
            )
            d = str(base / name)
            write_training_shards(
                df, d, shards=2, weights={"train": 1.0}
            )
            out[name] = (d, w)
        return out

    @staticmethod
    def _run(mix, steps=None, cursor=None, **kw):
        from gus_spark.operators.splits import iter_mixture

        out, last = [], None
        for name, batch, cur in iter_mixture(
            mix, "train", cursor=cursor, batch_rows=32,
            max_steps=steps, schedule="exact", **kw,
        ):
            out.append(
                (name, tuple(batch.column("doc_id").to_pylist()))
            )
            last = cur
        return out, last

    def test_prefix_deviation_bound(self, tok_mix):
        run, last = self._run(tok_mix, steps=200)
        total = sum(w for _d, w in tok_mix.values())
        servedc = {n: 0 for n in tok_mix}
        for t, (n, _ids) in enumerate(run, start=1):
            servedc[n] += 1
            for c, (_d, w) in tok_mix.items():
                assert abs(servedc[c] - (w / total) * t) < 1.0, (t, c)
        assert last["served"] == servedc

    def test_deterministic_and_resumes(self, tok_mix):
        full, _ = self._run(tok_mix, steps=120)
        again, _ = self._run(tok_mix, steps=120)
        assert full == again
        for k in (1, 50, 119):
            head, cur = self._run(tok_mix, steps=k)
            tail, _ = self._run(tok_mix, steps=120, cursor=cur)
            assert head + tail == full, k

    def test_schedule_mode_rides_the_sig(self, tok_mix):
        from gus_spark.operators.splits import iter_mixture

        _, cur = self._run(tok_mix, steps=5)
        with pytest.raises(ValueError, match="different"):
            next(iter_mixture(tok_mix, "train", cursor=cur))

    def test_composes_with_token_budget(self, tok_mix):
        from gus_spark.operators.splits import iter_mixture

        toks, last = 0, None
        for _n, b, last in iter_mixture(
            tok_mix, "train", batch_rows=32,
            schedule="exact", max_tokens=700,
        ):
            toks += sum(b.column("n_tokens").to_pylist())
        assert 700 <= toks < 712
        assert last["tokens"] == toks and "served" in last
        more, _ = self._run(tok_mix, cursor=last, max_tokens=700)
        assert more == []

    def test_bad_schedule_raises(self, tok_mix):
        from gus_spark.operators.splits import iter_mixture

        with pytest.raises(ValueError, match="schedule"):
            next(
                iter_mixture(tok_mix, "train", schedule="roundrobin")
            )


class TestMixtureTokenCounts:
    """Per-component token totals → temperature_weights →
    iter_mixture: the weights-from-the-corpora bridge. The totals are
    read through the host loader, so they count exactly what
    iter_mixture serves."""

    def test_counts_and_temperature_bridge(
        self, spark, tmp_path_factory
    ):
        from gus_spark.operators.mixing import temperature_weights
        from gus_spark.operators.splits import (
            iter_mixture,
            iter_training_order,
            write_training_shards,
        )

        base = tmp_path_factory.mktemp("mixcounts")
        dirs = {}
        for name, lo, hi in (("big", 0, 300), ("small", 900, 1000)):
            d = str(base / name)
            write_training_shards(
                spark.range(lo, hi).selectExpr(
                    "id as doc_id", "3 + id % 5 as n_tokens"
                ),
                d, shards=2, weights={"train": 1.0},
            )
            dirs[name] = d
        counts = {
            n: sum(
                sum(b.column("n_tokens").to_pylist())
                for b, _c in iter_training_order(d, "train")
            )
            for n, d in dirs.items()
        }
        want = {
            "big": sum(3 + i % 5 for i in range(0, 300)),
            "small": sum(3 + i % 5 for i in range(900, 1000)),
        }
        assert counts == want
        # the documented composition drives the loader end-to-end
        w = temperature_weights(counts, alpha=0.5)
        assert abs(sum(w.values()) - 1.0) < 1e-9
        assert w["big"] > w["small"] > counts["small"] / sum(
            counts.values()
        )  # smoothing upweights the small set, order preserved
        mix = {n: (dirs[n], w[n]) for n in dirs}
        import collections

        c = collections.Counter(
            n
            for n, _b, _c in iter_mixture(
                mix, "train", batch_rows=16,
                max_steps=60, schedule="exact",
            )
        )
        assert abs(c["big"] / 60 - w["big"]) < 1 / 60 + 1e-9

class TestMixtureReviewFixes:
    """Regression pins for the r13 mixture review findings: token
    tracking survives a budget-less resumed leg; a rebuilt component
    invalidates cursors via the sig (content identity, not path); an
    abandoned prefetched stream shuts its producer down
    deterministically."""

    @pytest.fixture()
    def one_set(self, spark, tmp_path):
        from gus_spark.operators.splits import write_training_shards

        d = str(tmp_path / "set")
        write_training_shards(
            spark.range(200).selectExpr(
                "id as doc_id", "5L as n_tokens"
            ),
            d, shards=2, weights={"train": 1.0},
        )
        return d

    def test_token_tracking_survives_budgetless_leg(self, one_set):
        from gus_spark.operators.splits import iter_mixture

        mix = {"x": (one_set, 1.0)}
        it = iter_mixture(mix, "train", batch_rows=16, max_tokens=10**9)
        _n, b1, cur = next(it)
        it.close()
        spent = cur["tokens"]
        assert spent == 16 * 5
        # budget-less leg: the count must KEEP accumulating
        it2 = iter_mixture(mix, "train", cursor=cur, batch_rows=16)
        _n, b2, cur2 = next(it2)
        it2.close()
        assert cur2["tokens"] == spent + 16 * 5
        # and a later budgeted resume counts against the truth
        rows = sum(
            b.num_rows
            for _n, b, _c in iter_mixture(
                mix, "train", cursor=cur2, batch_rows=16,
                max_tokens=200 * 5,
            )
        )
        assert rows == 200 - 32  # exactly the unconsumed remainder

    def test_rebuilt_component_invalidates_cursor(
        self, spark, tmp_path
    ):
        from gus_spark.operators.splits import (
            iter_mixture,
            write_training_shards,
        )

        d = str(tmp_path / "reb")
        write_training_shards(
            spark.range(100).selectExpr("id as doc_id"),
            d, shards=2, weights={"train": 1.0},
        )
        it = iter_mixture({"x": (d, 1.0)}, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        # rebuild IN PLACE with different contents (fresh layout
        # stamp == the old one, so only the sig can catch this)
        write_training_shards(
            spark.range(500, 620).selectExpr("id as doc_id"),
            d, shards=2, weights={"train": 1.0},
        )
        with pytest.raises(ValueError, match="different"):
            next(
                iter_mixture(
                    {"x": (d, 1.0)}, "train", cursor=cur,
                    batch_rows=16,
                )
            )

    def test_abandoned_prefetch_shuts_down_producer(self, one_set):
        import threading
        import time

        from gus_spark.operators.splits import iter_training_order

        before = {t.ident for t in threading.enumerate()}
        it = iter_training_order(
            one_set, "train", batch_rows=16, prefetch_batches=2
        )
        next(it)
        it.close()  # abandon mid-stream
        deadline = time.time() + 5
        while time.time() < deadline:
            extra = [
                t
                for t in threading.enumerate()
                if t.ident not in before and t.is_alive()
            ]
            if not extra:
                break
            time.sleep(0.05)
        assert not extra, f"prefetch producer leaked: {extra}"

    def test_mixture_close_shuts_down_prefetch(self, one_set):
        import threading
        import time

        from gus_spark.operators.splits import iter_mixture

        before = {t.ident for t in threading.enumerate()}
        rows = sum(
            b.num_rows
            for _n, b, _c in iter_mixture(
                {"x": (one_set, 1.0)}, "train", batch_rows=16,
                max_steps=2, prefetch_batches=3,
            )
        )
        assert rows == 32
        deadline = time.time() + 5
        while time.time() < deadline:
            extra = [
                t
                for t in threading.enumerate()
                if t.ident not in before and t.is_alive()
            ]
            if not extra:
                break
            time.sleep(0.05)
        assert not extra, f"mixture left producers behind: {extra}"


class TestMixtureReport:
    """The composite iter_mixture cursor carries the operator-facing
    numbers: steps, spent tokens, per-component draws and positions."""

    def test_report_over_exact_budgeted_cursor(
        self, spark, tmp_path
    ):
        import json

        from gus_spark.operators.splits import (
            iter_mixture,
            write_training_shards,
        )

        base = tmp_path
        mix = {}
        for name, lo, hi, w in (("a", 0, 200, 3.0), ("b", 500, 600, 1.0)):
            d = str(base / name)
            write_training_shards(
                spark.range(lo, hi).selectExpr(
                    "id as doc_id", "4L as n_tokens"
                ),
                d, shards=2, weights={"train": 1.0},
            )
            mix[name] = (d, w)
        last = None
        for _n, _b, last in iter_mixture(
            mix, "train", batch_rows=16,
            schedule="exact", max_tokens=900,
        ):
            pass
        rep = json.loads(json.dumps(last))  # checkpoint-shaped
        assert rep["tokens"] == last["tokens"] >= 900
        served = rep["served"]
        assert served["a"] + served["b"] == rep["step"] + 1
        assert abs(served["a"] / (rep["step"] + 1) - 0.75) < 0.1
        assert rep["states"]["a"]["cursor"][2] == 1  # layout stamp
        # stochastic cursors carry no served counts and no token tally
        it = iter_mixture(mix, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        assert cur.get("served") is None
        assert cur.get("tokens") is None


class TestWorldSizeMigration:
    """migrate_cursors + iter_training_order(consumed=): rescaling a
    distributed trainer is a cursor transform, not an epoch restart.
    Claims pinned: for any old/new world-size pair and any per-rank
    progress mix (untouched / mid-shard / mid-row-group), the union
    of (rows the old fleet delivered) and (rows the new fleet's
    streams deliver under the migration map) is EXACTLY the epoch's
    row set with no overlap; a new rank's own cursor composes with
    the map across checkpoints; stale maps (wrong epoch/layout) and
    inconsistent cursor fleets raise."""

    @pytest.fixture(scope="class")
    def dest(self, spark, tmp_path_factory):
        import glob

        import pyarrow.parquet as pq

        from gus_spark.operators.splits import write_training_shards

        docs = table(spark, SF_DIR_ORACLE, "documents").select(
            "doc_id", "text"
        )
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        before = hconf.get("parquet.block.size")
        hconf.set("parquet.block.size", "8192")
        try:
            dest = str(tmp_path_factory.mktemp("migrate"))
            write_training_shards(
                docs, dest, shards=6, weights={"train": 1.0}
            )
        finally:
            if before is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", before)
        rgs = [
            pq.ParquetFile(f).num_row_groups
            for f in glob.glob(
                os.path.join(dest, "data", "*", "*", "*.parquet")
            )
        ]
        assert max(rgs) > 1
        return dest

    @staticmethod
    def _full_epoch(dest, epoch):
        from gus_spark.operators.splits import iter_training_order

        out = []
        for b, cur in iter_training_order(dest, "train", epoch=epoch):
            out.extend((cur[0], p) for p in b.column("pos").to_pylist())
        return out

    @staticmethod
    def _consume(dest, epoch, rank, world, n_batches, consumed=None):
        from gus_spark.operators.splits import iter_training_order

        rows, cur = [], None
        it = iter_training_order(
            dest, "train", epoch=epoch, rank=rank,
            world_size=world, batch_rows=16, consumed=consumed,
        )
        for _ in range(n_batches) if n_batches is not None else iter(
            int, 1
        ):
            try:
                b, cur = next(it)
            except StopIteration:
                break
            rows.extend(
                (cur[0], p) for p in b.column("pos").to_pylist()
            )
        it.close()
        return rows, cur

    @pytest.mark.parametrize("epoch", [0, 2])
    @pytest.mark.parametrize("old_w,new_w", [(3, 2), (2, 1), (1, 4)])
    def test_union_is_exactly_the_remainder(
        self, dest, epoch, old_w, new_w
    ):
        from gus_spark.operators.splits import migrate_cursors

        full = self._full_epoch(dest, epoch)
        old_rows, cursors = [], []
        # uneven progress: rank r consumes 3*r batches (rank 0 none)
        for r in range(old_w):
            rows, cur = self._consume(dest, epoch, r, old_w, 3 * r)
            old_rows.extend(rows)
            cursors.append(cur)
        m = migrate_cursors(
            dest, cursors, old_w, epoch=epoch
        )
        new_rows = []
        for r in range(new_w):
            rows, _cur = self._consume(
                dest, epoch, r, new_w, None, consumed=m
            )
            new_rows.extend(rows)
        assert not (set(old_rows) & set(new_rows))
        assert sorted(old_rows + new_rows) == sorted(full)
        assert len(old_rows) + len(new_rows) == len(full)

    def test_new_rank_cursor_composes_with_map(self, dest):
        from gus_spark.operators.splits import migrate_cursors

        epoch, old_w, new_w = 2, 2, 3
        cursors = []
        old_rows = []
        for r in range(old_w):
            rows, cur = self._consume(dest, epoch, r, old_w, 2 + r)
            old_rows.extend(rows)
            cursors.append(cur)
        m = migrate_cursors(dest, cursors, old_w, epoch=epoch)
        # new rank 1: full stream vs consume-checkpoint-resume
        want, _ = self._consume(dest, epoch, 1, new_w, None, consumed=m)
        head, cur = self._consume(dest, epoch, 1, new_w, 3, consumed=m)
        from gus_spark.operators.splits import iter_training_order

        tail = []
        for b, c in iter_training_order(
            dest, "train", epoch=epoch, rank=1, world_size=new_w,
            batch_rows=16, cursor=cur, consumed=m,
        ):
            tail.extend((c[0], p) for p in b.column("pos").to_pylist())
        assert head + tail == want

    def test_stale_or_inconsistent_inputs_raise(self, dest):
        from gus_spark.operators.splits import (
            iter_training_order,
            migrate_cursors,
        )

        _rows, cur = self._consume(dest, 1, 0, 2, 2)
        m = migrate_cursors(dest, [cur, None], 2, epoch=1)
        # wrong epoch at read time
        with pytest.raises(ValueError, match="epoch"):
            next(
                iter_training_order(
                    dest, "train", epoch=2, consumed=m
                )
            )
        # stale layout in the map
        stale = dict(m, layout=m["layout"] + 1)
        with pytest.raises(ValueError, match="layout"):
            next(
                iter_training_order(
                    dest, "train", epoch=1, consumed=stale
                )
            )
        # stale cursor layout into the migration itself
        bad = (cur[0], cur[1], cur[2] + 1)
        with pytest.raises(ValueError, match="layout"):
            migrate_cursors(dest, [bad, None], 2, epoch=1)
        # cursor under the wrong rank slot
        with pytest.raises(ValueError, match="not assigned"):
            migrate_cursors(dest, [None, cur], 2, epoch=1)
        # 3-tuples need an explicit epoch
        with pytest.raises(ValueError, match="epoch= is required"):
            migrate_cursors(dest, [cur, None], 2)
        # wrong fleet size
        with pytest.raises(ValueError, match="one cursor slot"):
            migrate_cursors(dest, [cur], 2, epoch=1)

    def test_epoch_boundary_fleet_refused(self, dest):
        from gus_spark.operators.splits import (
            iter_epochs,
            migrate_cursors,
        )

        curs = []
        for r, take in ((0, 2), (1, 2)):
            it = iter_epochs(
                dest, "train", rank=r, world_size=2, batch_rows=16
            )
            cur = None
            for _ in range(take):
                _b, cur = next(it)
            it.close()
            curs.append(cur)
        # 4-tuples carry their epoch: same epoch migrates fine
        m = migrate_cursors(dest, curs, 2)
        assert m["epoch"] == 0
        # a fleet straddling a boundary is refused
        mixed = [curs[0], (1, curs[1][1], curs[1][2], curs[1][3])]
        with pytest.raises(ValueError, match="straddles"):
            migrate_cursors(dest, mixed, 2)


class TestRebaseMixtureCursor:
    """rebase_mixture_cursor: mid-train weight retune as a
    checkpoint transform. Claims pinned: positions carry (no row
    re-delivered or skipped across the retune), the new schedule
    starts fresh at the new weights, spent tokens carry, sigs never
    cross (old cursor refused by new stream and vice versa), and
    anything other than a weights change is refused."""

    @pytest.fixture(scope="class")
    def sets(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        base = tmp_path_factory.mktemp("rebase")
        dirs = {}
        for name, lo, hi in (("a", 0, 300), ("b", 900, 1100)):
            d = str(base / name)
            write_training_shards(
                spark.range(lo, hi).selectExpr(
                    "id as doc_id", "4L as n_tokens"
                ),
                d, shards=2, weights={"train": 1.0},
            )
            dirs[name] = d
        return dirs

    def test_retune_carries_positions_and_tokens(self, sets):
        from gus_spark.operators.splits import (
            iter_mixture,
            rebase_mixture_cursor,
        )

        old = {"a": (sets["a"], 4.0), "b": (sets["b"], 1.0)}
        new = {"a": (sets["a"], 1.0), "b": (sets["b"], 4.0)}
        seen = {"a": [], "b": []}
        cur = None
        it = iter_mixture(
            old, "train", batch_rows=16,
            schedule="exact", max_tokens=10**9,
        )
        for _ in range(10):
            n, b, cur = next(it)
            seen[n].extend(b.column("doc_id").to_pylist())
        it.close()
        spent = cur["tokens"]
        rebase_epochs = {
            n: s["epoch"] for n, s in cur["states"].items()
        }
        reb = rebase_mixture_cursor(
            cur, old, new, schedule="exact"
        )
        assert reb["tokens"] == spent and reb["step"] == -1
        draws = {"a": 0, "b": 0}
        delivered = 0
        for n, b, cur2 in iter_mixture(
            new, "train", cursor=reb, batch_rows=16,
            schedule="exact", max_steps=20, max_tokens=10**9,
        ):
            draws[n] += 1
            delivered += b.num_rows
            ids = b.column("doc_id").to_pylist()
            # exactly-once is PER EPOCH: while a component is still
            # finishing the epoch it was rebased in, nothing the old
            # stream delivered may reappear; once it rolls, a fresh
            # epoch legitimately re-delivers everything
            if cur2["states"][n]["epoch"] == rebase_epochs[n]:
                assert not set(ids) & set(seen[n]), n
            seen[n].extend(ids)
        # fresh schedule at the NEW weights: 4:1 flipped to 1:4
        assert draws == {"a": 4, "b": 16}, draws
        # budget continuity: every delivered row's tokens (4 each)
        # accumulate ON TOP of the carried pre-rebase total (batches
        # at shard/epoch boundaries run short, so count rows)
        assert cur2["tokens"] == spent + delivered * 4

    def test_sigs_never_cross(self, sets):
        from gus_spark.operators.splits import (
            iter_mixture,
            rebase_mixture_cursor,
        )

        old = {"a": (sets["a"], 4.0), "b": (sets["b"], 1.0)}
        new = {"a": (sets["a"], 1.0), "b": (sets["b"], 4.0)}
        it = iter_mixture(old, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        reb = rebase_mixture_cursor(cur, old, new)
        with pytest.raises(ValueError, match="different"):
            next(iter_mixture(old, "train", cursor=reb))
        with pytest.raises(ValueError, match="different"):
            next(iter_mixture(new, "train", cursor=cur))
        # and the rebased cursor resumes the NEW mixture cleanly
        it = iter_mixture(new, "train", cursor=reb, batch_rows=16)
        next(it)
        it.close()

    def test_only_weight_changes_allowed(self, spark, sets, tmp_path):
        from gus_spark.operators.splits import (
            iter_mixture,
            rebase_mixture_cursor,
            write_training_shards,
        )

        old = {"a": (sets["a"], 1.0), "b": (sets["b"], 1.0)}
        it = iter_mixture(old, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        # wrong old spec
        with pytest.raises(ValueError, match="does not belong"):
            rebase_mixture_cursor(
                cur, {"a": (sets["a"], 9.0), "b": (sets["b"], 1.0)},
                old,
            )
        # renamed component
        with pytest.raises(ValueError, match="only WEIGHTS"):
            rebase_mixture_cursor(
                cur, old,
                {"a": (sets["a"], 1.0), "c": (sets["b"], 2.0)},
            )
        # repointed dest
        d2 = str(tmp_path / "other")
        write_training_shards(
            spark.range(50).selectExpr("id as doc_id"),
            d2, shards=2, weights={"train": 1.0},
        )
        with pytest.raises(ValueError, match="only WEIGHTS"):
            rebase_mixture_cursor(
                cur, old,
                {"a": (sets["a"], 1.0), "b": (d2, 2.0)},
            )


class TestMixtureFleetRescale:
    """migrate_mixture_cursors + iter_mixture(consumed=): rescaling
    a multi-rank MIXTURE fleet composes the per-component world-size
    migration with a schedule restart. Claims pinned: per component,
    (rows the old fleet delivered in its current epoch) ∪ (rows the
    new fleet delivers while still in that epoch) is EXACTLY the
    component's epoch row set, disjoint; a new rank's own cursor
    composes with the bundle across checkpoints; epoch-straddling
    fleets and out-of-rank-order cursors are refused; token counters
    do not survive (documented policy)."""

    @pytest.fixture(scope="class")
    def mix(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        base = tmp_path_factory.mktemp("fleet")
        out = {}
        for name, lo, hi in (("a", 0, 300), ("b", 1000, 1100)):
            d = str(base / name)
            write_training_shards(
                spark.range(lo, hi).selectExpr(
                    "id as doc_id", "4L as n_tokens"
                ),
                d, shards=3, weights={"train": 1.0},
            )
            out[name] = (d, 1.0)
        return out

    @staticmethod
    def _drive(mix, rank, world, steps, cursor=None, consumed=None):
        """Run `steps` mixture steps, returning rows tagged with the
        (component, epoch) they were delivered under + last cursor."""
        from gus_spark.operators.splits import iter_mixture

        rows, last = [], None
        it = iter_mixture(
            mix, "train", cursor=cursor, batch_rows=16,
            rank=rank, world_size=world, schedule="exact",
            consumed=consumed, max_steps=steps,
        )
        for n, b, last in it:
            e = last["states"][n]["epoch"]
            rows.extend(
                (n, e, i) for i in b.column("doc_id").to_pylist()
            )
        return rows, last

    def test_union_is_exactly_the_component_epochs(self, mix, spark):
        from gus_spark.operators.splits import (
            migrate_mixture_cursors,
        )

        full = {
            n: set(
                r["doc_id"]
                for r in spark.read.parquet(
                    os.path.join(d, "data")
                ).collect()
            )
            for n, (d, _w) in mix.items()
        }
        old_rows, cursors = [], []
        for r in range(2):  # synchronous fleet: equal steps
            rows, cur = self._drive(mix, r, 2, steps=4)
            old_rows.extend(rows)
            cursors.append(cur)
        new_cursors, consumed = migrate_mixture_cursors(
            cursors, mix, 3, schedule="exact"
        )
        new_rows = []
        for r in range(3):  # far past both components' epoch 0
            rows, _ = self._drive(
                mix, r, 3, steps=60,
                cursor=new_cursors[r], consumed=consumed,
            )
            new_rows.extend(rows)
        for n in mix:
            e = consumed[n]["epoch"]
            old_e = [i for c, ep, i in old_rows if c == n and ep == e]
            new_e = [i for c, ep, i in new_rows if c == n and ep == e]
            assert not (set(old_e) & set(new_e)), n
            assert len(old_e) + len(new_e) == len(full[n]), n
            assert set(old_e) | set(new_e) == full[n], n
            # and the epoch AFTER the rescale epoch reads whole
            nxt = [
                i for c, ep, i in new_rows if c == n and ep == e + 1
            ]
            assert set(nxt) == full[n] and len(nxt) == len(full[n]), n

    def test_new_rank_checkpoint_composes_with_bundle(self, mix):
        from gus_spark.operators.splits import (
            migrate_mixture_cursors,
        )

        cursors = []
        for r in range(2):
            _rows, cur = self._drive(mix, r, 2, steps=3)
            cursors.append(cur)
        new_cursors, consumed = migrate_mixture_cursors(
            cursors, mix, 2, schedule="exact"
        )
        want, _ = self._drive(
            mix, 0, 2, steps=30,
            cursor=new_cursors[0], consumed=consumed,
        )
        head, mid = self._drive(
            mix, 0, 2, steps=7,
            cursor=new_cursors[0], consumed=consumed,
        )
        tail, _ = self._drive(
            mix, 0, 2, steps=30, cursor=mid, consumed=consumed
        )
        assert head + tail == want
        assert "tokens" not in new_cursors[0]  # documented policy

    def test_straddling_and_misordered_fleets_refused(self, mix):
        from gus_spark.operators.splits import (
            migrate_mixture_cursors,
        )

        # rank 0 runs long enough to roll tiny component b; rank 1
        # stays in epoch 0 → straddle
        _r0, c0 = self._drive(mix, 0, 2, steps=30)
        _r1, c1 = self._drive(mix, 1, 2, steps=2)
        assert (
            c0["states"]["b"]["epoch"] != c1["states"]["b"]["epoch"]
        )
        with pytest.raises(ValueError, match="straddles"):
            migrate_mixture_cursors([c0, c1], mix, 3, schedule="exact")
        # equal-epoch fleet, but cursors slotted under wrong ranks
        _r1b, c1b = self._drive(mix, 1, 2, steps=2)
        _r0b, c0b = self._drive(mix, 0, 2, steps=2)
        with pytest.raises(ValueError, match="rank"):
            migrate_mixture_cursors(
                [c1b, c0b], mix, 3, schedule="exact"
            )
        with pytest.raises(ValueError, match="nothing to migrate"):
            migrate_mixture_cursors([None, None], mix, 3)


class TestRescaleChainingAndBundleBinding:
    """Second-review regression pins: chained rescales merge the
    prior frontier (no silent re-delivery); cursors that depend on a
    rescale bundle are stamped and refuse a bare resume; iter_epochs
    re-enters the multi-epoch loop through a migration map including
    the empty-remainder edge; degenerate new fleets refused."""

    @pytest.fixture(scope="class")
    def dest(self, spark, tmp_path_factory):
        from gus_spark.operators.splits import write_training_shards

        d = str(tmp_path_factory.mktemp("chain") / "set")
        write_training_shards(
            spark.range(400).selectExpr("id as doc_id"),
            d, shards=6, weights={"train": 1.0},
        )
        return d

    @staticmethod
    def _pull(dest, epoch, rank, world, n, cursor=None, consumed=None):
        from gus_spark.operators.splits import iter_training_order

        rows, cur = [], None
        it = iter_training_order(
            dest, "train", epoch=epoch, rank=rank, world_size=world,
            batch_rows=16, cursor=cursor, consumed=consumed,
        )
        for _ in range(n) if n is not None else iter(int, 1):
            try:
                b, cur = next(it)
            except StopIteration:
                break
            rows.extend(b.column("doc_id").to_pylist())
        it.close()
        return rows, cur

    def test_chained_rescale_merges_prior_frontier(self, dest):
        from gus_spark.operators.splits import migrate_cursors

        epoch = 1
        full, _ = self._pull(dest, epoch, 0, 1, None)
        # fleet A (w=2): uneven progress — rank 1 runs deep enough
        # that part of its frontier lies BEYOND where fleet B will
        # reach, so an unmerged second migration genuinely loses it
        rows_a, curs_a = [], []
        for r in range(2):
            rows, cur = self._pull(dest, epoch, r, 2, 2 + 5 * r)
            rows_a.extend(rows)
            curs_a.append(cur)
        m1 = migrate_cursors(dest, curs_a, 2, epoch=epoch)
        # fleet B (w=1) runs ON TOP of m1, stops early, migrates
        # again WITH the prior map
        rows_b, cur_b = self._pull(
            dest, epoch, 0, 1, 3, consumed=m1
        )
        m2 = migrate_cursors(
            dest, [cur_b], 1, epoch=epoch, consumed=m1
        )
        # fleet C (w=3) delivers exactly the remainder
        rows_c = []
        for r in range(3):
            rows, _ = self._pull(
                dest, epoch, r, 3, None, consumed=m2
            )
            rows_c.extend(rows)
        everything = rows_a + rows_b + rows_c
        assert len(everything) == len(set(everything))  # no re-read
        assert sorted(everything) == sorted(full)
        # the UNMERGED map would have re-delivered fleet A's rows
        m2_bad = migrate_cursors(dest, [cur_b], 1, epoch=epoch)
        rows_bad = []
        for r in range(3):
            rows, _ = self._pull(
                dest, epoch, r, 3, None, consumed=m2_bad
            )
            rows_bad.extend(rows)
        assert set(rows_bad) & set(rows_a)  # the hazard is real

    def test_mixture_bundle_binding(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            iter_mixture,
            migrate_mixture_cursors,
            rebase_mixture_cursor,
            write_training_shards,
        )

        mix = {}
        for n, lo in (("a", 0), ("b", 1000)):
            d = str(tmp_path / n)
            write_training_shards(
                spark.range(lo, lo + 80).selectExpr("id as doc_id"),
                d, shards=2, weights={"train": 1.0},
            )
            mix[n] = (d, 1.0)
        curs = []
        for r in range(2):
            it = iter_mixture(
                mix, "train", rank=r, world_size=2, batch_rows=16
            )
            _n, _b, cur = next(it)
            it.close()
            curs.append(cur)
        new_curs, bundle = migrate_mixture_cursors(curs, mix, 1)
        assert "consumed_sig" in new_curs[0]
        # bare resume of a bundle-dependent cursor is LOUD
        with pytest.raises(ValueError, match="consumed_sig"):
            next(iter_mixture(mix, "train", cursor=new_curs[0]))
        # wrong bundle is loud too
        with pytest.raises(ValueError, match="consumed_sig"):
            next(
                iter_mixture(
                    mix, "train", cursor=new_curs[0],
                    consumed={"a": dict(bundle["a"], partial={})},
                )
            )
        # with the bundle: runs; mid-rescale checkpoints stay
        # stamped; once every component rolls past its mapped epoch
        # the stamp drops and cursors stand alone
        last_stamped = None
        stand_alone = None
        for _n, _b, c in iter_mixture(
            mix, "train", cursor=new_curs[0], consumed=bundle,
            max_steps=30,
        ):
            if "consumed_sig" in c:
                last_stamped = c
            elif stand_alone is None:
                stand_alone = c
        assert last_stamped is not None and stand_alone is not None
        next(iter(iter_mixture(mix, "train", cursor=stand_alone)))
        # a rebase of a stamped cursor carries the stamp
        reweighted = {k: (d, 2.0 if k == "a" else 1.0) for k, (d, _w) in mix.items()}
        reb = rebase_mixture_cursor(last_stamped, mix, reweighted)
        assert reb["consumed_sig"] == last_stamped["consumed_sig"]
        # chained FLEET rescale: stamped old cursors demand the
        # prior bundle
        mid = []
        for r in range(1):
            it = iter_mixture(
                mix, "train", cursor=new_curs[r], consumed=bundle,
                rank=r, world_size=1,
            )
            _n, _b, c = next(it)
            it.close()
            mid.append(c)
        if "consumed_sig" in mid[0]:
            with pytest.raises(ValueError, match="rescale bundle"):
                migrate_mixture_cursors(mid, mix, 2)
            nc2, _b2 = migrate_mixture_cursors(
                mid, mix, 2, consumed=bundle
            )
            assert "consumed_sig" in nc2[0]

    def test_iter_epochs_reenters_through_map(self, dest):
        from gus_spark.operators.splits import (
            iter_epochs,
            migrate_cursors,
        )

        # old fleet of 2 via iter_epochs, both mid-epoch 0
        curs, seen = [], []
        for r in range(2):
            it = iter_epochs(
                dest, "train", rank=r, world_size=2, batch_rows=16
            )
            cur = None
            for _ in range(2):
                b, cur = next(it)
                seen.extend(b.column("doc_id").to_pylist())
            it.close()
            curs.append(cur)
        m = migrate_cursors(dest, curs, 2)
        assert m["epoch"] == 0
        # single new rank re-enters the MULTI-EPOCH loop through the
        # map: epoch 0 completes (no overlap), epoch 1 reads whole
        e0, e1 = [], []
        it = iter_epochs(
            dest, "train", world_size=1, batch_rows=16, consumed=m,
            epochs=2,
        )
        for b, (e, *_rest) in it:
            (e0 if e == 0 else e1).extend(
                b.column("doc_id").to_pylist()
            )
        assert not (set(e0) & set(seen))
        assert len(seen) + len(e0) == 400
        assert sorted(e1) == list(range(400))

    def test_iter_epochs_empty_mapped_remainder_rolls(self, dest):
        from gus_spark.operators.splits import iter_epochs

        # a map that marks EVERY shard done: the mapped epoch yields
        # nothing and the loop rolls on — the dead-end a hand-driven
        # iter_training_order cannot escape
        from gus_spark.operators.splits import read_manifest

        man = read_manifest(dest)
        all_shards = sorted(
            int(s)
            for s in man["shard_rows"]["train"]
        )
        m = {
            "epoch": 0,
            "layout": man.get("layout", 1),
            "done": all_shards,
            "partial": {},
        }
        rows = []
        for b, (e, *_r) in iter_epochs(
            dest, "train", batch_rows=64, consumed=m, epochs=2
        ):
            rows.append((e, b.num_rows))
        assert all(e == 1 for e, _n in rows)
        assert sum(n for _e, n in rows) == 400

    def test_degenerate_new_fleet_refused(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            iter_mixture,
            migrate_mixture_cursors,
            write_training_shards,
        )

        d = str(tmp_path / "one")
        write_training_shards(
            spark.range(40).selectExpr("id as doc_id"),
            d, shards=2, weights={"train": 1.0},
        )
        mix = {"x": (d, 1.0)}
        it = iter_mixture(mix, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        with pytest.raises(ValueError, match="world_size_new"):
            migrate_mixture_cursors([cur], mix, 0)


class TestMixtureCursorVersioning:
    """Mixture cursors carry a schema version: v stamps every
    producer, absent-v reads as v1 (backward compatible with every
    cursor this code ever wrote), and a future version refuses
    loudly at every consumer instead of silently dropping state."""

    def test_stamp_compat_and_future_refusal(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            iter_mixture,
            migrate_mixture_cursors,
            rebase_mixture_cursor,
            write_training_shards,
        )

        d = str(tmp_path / "set")
        write_training_shards(
            spark.range(120).selectExpr("id as doc_id"),
            d, shards=2, weights={"train": 1.0},
        )
        mix = {"x": (d, 1.0)}
        it = iter_mixture(mix, "train", batch_rows=16)
        _n, _b, cur = next(it)
        it.close()
        assert cur["v"] == 1
        # absent v == v1 (pre-versioning checkpoints keep resuming)
        legacy = {k: v for k, v in cur.items() if k != "v"}
        it = iter_mixture(mix, "train", cursor=legacy, batch_rows=16)
        next(it)
        it.close()
        # a future version refuses at every consumer
        future = dict(cur, v=2)
        with pytest.raises(ValueError, match="newer"):
            next(iter_mixture(mix, "train", cursor=future))
        with pytest.raises(ValueError, match="newer"):
            rebase_mixture_cursor(future, mix, mix)
        with pytest.raises(ValueError, match="newer"):
            migrate_mixture_cursors([future], mix, 2)
        # transforms stamp their outputs too
        reb = rebase_mixture_cursor(cur, mix, {"x": (d, 2.0)})
        assert reb["v"] == 1
        ncs, _bundle = migrate_mixture_cursors([cur], mix, 2)
        assert all(c["v"] == 1 for c in ncs)


class TestLoaderTelemetry:
    """LoaderTelemetry: rate/stall attribution over loader streams.
    Items, order, and cursors pass through untouched; a slow
    CONSUMER reads as low io_wait_frac, a slow SOURCE as high; both
    stream shapes (loader 2-tuples, mixture 3-tuples) key right."""

    @staticmethod
    def _fake_batches(n, rows=8, delay=0.0):
        import time

        import pyarrow as pa

        for i in range(n):
            if delay:
                time.sleep(delay)
            yield (
                pa.RecordBatch.from_arrays(
                    [pa.array(range(rows))], names=["doc_id"]
                ),
                (0, i, 1),
            )

    def test_passthrough_and_attribution(self):
        import time

        from gus_spark.operators.splits import LoaderTelemetry

        # slow source, fast consumer → io-bound
        tel = LoaderTelemetry()
        items = list(tel.wrap(self._fake_batches(5, delay=0.03)))
        assert [c for _b, c in items] == [(0, i, 1) for i in range(5)]
        s = tel.snapshot()
        assert s["components"]["_"]["batches"] == 5
        assert s["rows"] == 40
        assert s["io_wait_frac"] > 0.8, s
        # fast source, slow consumer → compute-bound
        tel2 = LoaderTelemetry()
        for _b, _c in tel2.wrap(self._fake_batches(5)):
            time.sleep(0.03)
        s2 = tel2.snapshot()
        assert s2["io_wait_frac"] < 0.2, s2

    def test_mixture_shape_keys_by_component(self, spark, tmp_path):
        from gus_spark.operators.splits import (
            LoaderTelemetry,
            iter_mixture,
            write_training_shards,
        )

        mix = {}
        for n, lo in (("a", 0), ("b", 500)):
            d = str(tmp_path / n)
            write_training_shards(
                spark.range(lo, lo + 60).selectExpr("id as doc_id"),
                d, shards=2, weights={"train": 1.0},
            )
            mix[n] = (d, 1.0)
        tel = LoaderTelemetry()
        names = [
            n
            for n, _b, _c in tel.wrap(
                iter_mixture(mix, "train", batch_rows=16, max_steps=8)
            )
        ]
        s = tel.snapshot()
        assert set(s["components"]) == set(names) == {"a", "b"}
        assert s["batches"] == 8
        for key in ("a", "b"):
            c = s["components"][key]
            assert c["batches"] == names.count(key)
            assert c["rows"] > 0 and c["io_wait_frac"] is not None

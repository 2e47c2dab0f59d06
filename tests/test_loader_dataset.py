"""ShardIterableDataset (operators/loader_dataset.py): the loader
boundary under PyTorch's IterableDataset protocol — fully exercised
WITHOUT torch (the adapter's arithmetic and checkpoint surface are
framework-independent; get_worker_info is faked where the worker
dimension matters).

Claims pinned:
- (ddp_rank, worker_id) folds into the loader's flat rank space:
  the union over ddp_world x num_workers effective streams is
  exactly the split, disjoint (inherits the loader's rank contract);
- state_dict/load_state_dict round-trips resume exactly-once for
  both single-set (iter_epochs) and mixture (iter_mixture) modes;
- declared-vs-actual worker-count mismatch, multi-worker
  main-process state_dict, and bad shard counts raise loudly.
"""

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR_ORACLE  # noqa: F401  (spark fixture wiring)

from gus_spark.operators import loader_dataset
from gus_spark.operators.loader_dataset import ShardIterableDataset


@pytest.fixture(scope="module")
def dest(spark, tmp_path_factory):
    from gus_spark.operators.splits import write_training_shards

    d = str(tmp_path_factory.mktemp("torchset") / "set")
    write_training_shards(
        spark.range(240).selectExpr("id as doc_id"),
        d, shards=8, weights={"train": 1.0},
    )
    return d


def _rows(ds, n=None):
    out = []
    for i, (b, _c) in enumerate(iter(ds)):
        out.extend(b.column("doc_id").to_pylist())
        if n is not None and i + 1 >= n:
            break
    return out


def test_worker_dimension_folds_into_rank_space(dest, monkeypatch):
    got = []
    for ddp_rank in range(2):
        for worker in range(3):
            monkeypatch.setattr(
                loader_dataset, "get_worker_info",
                lambda w=worker: SimpleNamespace(id=w, num_workers=3),
            )
            ds = ShardIterableDataset(
                dest, batch_rows=32, ddp_rank=ddp_rank,
                ddp_world_size=2, num_workers=3, epochs=1,
            )
            rows = _rows(ds)
            assert not set(rows) & set(got)  # disjoint streams
            got.extend(rows)
    assert sorted(got) == list(range(240))  # union == the split


def test_state_dict_roundtrip_single_set(dest):
    full = _rows(
        ShardIterableDataset(dest, batch_rows=32, epochs=2)
    )
    ds = ShardIterableDataset(dest, batch_rows=32, epochs=2)
    head = _rows(ds, n=3)
    state = ds.state_dict()
    ds2 = ShardIterableDataset(dest, batch_rows=32, epochs=2)
    ds2.load_state_dict(state)
    tail = _rows(ds2)
    assert head + tail == full


def test_state_dict_roundtrip_mixture(dest, spark, tmp_path):
    from gus_spark.operators.splits import write_training_shards

    d2 = str(tmp_path / "other")
    write_training_shards(
        spark.range(900, 1000).selectExpr("id as doc_id"),
        d2, shards=2, weights={"train": 1.0},
    )
    mix = {"a": (dest, 3.0), "b": (d2, 1.0)}

    def run(ds, n=None):
        out = []
        for i, (name, b, _c) in enumerate(iter(ds)):
            out.append((name, tuple(b.column("doc_id").to_pylist())))
            if n is not None and i + 1 >= n:
                break
        return out

    full = run(
        ShardIterableDataset(mix, batch_rows=32, max_steps=12)
    )
    ds = ShardIterableDataset(mix, batch_rows=32, max_steps=12)
    head = run(ds, n=5)
    ds2 = ShardIterableDataset(mix, batch_rows=32, max_steps=12)
    ds2.load_state_dict(ds.state_dict())
    tail = run(ds2)
    assert head + tail == full


def test_loud_misconfigurations(dest, monkeypatch):
    with pytest.raises(ValueError, match="ddp_rank"):
        ShardIterableDataset(dest, ddp_rank=2, ddp_world_size=2)
    with pytest.raises(ValueError, match="num_workers"):
        ShardIterableDataset(dest, num_workers=-1)
    # declared num_workers must match the DataLoader's actual count
    monkeypatch.setattr(
        loader_dataset, "get_worker_info",
        lambda: SimpleNamespace(id=0, num_workers=4),
    )
    ds = ShardIterableDataset(dest, num_workers=2, epochs=1)
    with pytest.raises(ValueError, match="declared num_workers"):
        next(iter(ds))
    monkeypatch.setattr(
        loader_dataset, "get_worker_info", lambda: None
    )
    # multi-worker main-process checkpoint has no stream to describe
    ds = ShardIterableDataset(dest, num_workers=4, epochs=1)
    with pytest.raises(ValueError, match="stateful"):
        ds.state_dict()
    # epochs= is meaningless for a mixture
    with pytest.raises(ValueError, match="max_steps"):
        next(iter(ShardIterableDataset({"x": (dest, 1.0)}, epochs=1)))


def test_empty_rank_slice_raises_instead_of_spinning(dest):
    """A fleet wider than the shard-dir count (8 here) leaves one
    stream with no shards; with the default epochs=None it must
    raise, not loop over empty epochs forever (the alarm turns a
    spin into a failure instead of a hung suite)."""
    import signal

    def _spin(_signum, _frame):
        raise TimeoutError("ShardIterableDataset spun on an empty slice")

    was = signal.signal(signal.SIGALRM, _spin)
    signal.alarm(20)
    try:
        ds = ShardIterableDataset(
            dest, batch_rows=32, ddp_rank=8, ddp_world_size=9
        )
        with pytest.raises(ValueError, match="yields no rows"):
            next(iter(ds))
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, was)

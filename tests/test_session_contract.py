"""Session/bench contract regressions: every table entry point shares
the timestamp-normalization contract, and the bench rep count can never
poison the one-line-JSON output."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR


def test_bench_reps_clamped(monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "0")
    assert bench.bench_reps() == 1
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "-3")
    assert bench.bench_reps() == 1
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "5")
    assert bench.bench_reps() == 5
    monkeypatch.delenv("SPARK_GRAFT_BENCH_REPS")
    assert bench.bench_reps() == 3  # min-of-3 default (round-5 noise fix)


def test_load_tables_shares_timestamp_contract(spark):
    """The test-side load_tables routes through queries.table(), so a
    driver-owned session gets the same events.ts normalization as the
    query path: a TIMESTAMP column (not bigint nanos, not
    TIMESTAMP_NTZ)."""
    from conftest import load_tables

    dfs = load_tables(spark, SF_DIR)
    assert dict(dfs["events"].dtypes)["ts"] == "timestamp"
    # and the registered temp view agrees
    assert (
        dict(spark.table("events").dtypes)["ts"] == "timestamp"
    )
    row = spark.sql("SELECT MIN(ts) AS lo FROM events").first()
    assert row.lo.year > 1990  # not the nanos-misread 1970 corruption

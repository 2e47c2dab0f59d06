"""Bucketed co-located join (no exchange) and salted skew aggregation."""

import contextlib
import io
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR

from gus_spark.operators.partitioning import (
    bucketed_join,
    salted_sum,
    write_bucketed,
)
from gus_spark.queries import table


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = table(spark, SF_DIR, "orders")
    lineitem = table(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(lineitem, "lineitem_b", "o_orderkey", n_buckets=8)
    joined = bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(mode="formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    # and the join is still correct
    expected = (
        table(spark, SF_DIR, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert joined.count() == expected


def test_bucketed_partsupp_bridge_join_no_exchange(spark):
    """The repeated-join story for the synthesized bridge table
    (ROADMAP r7): a warehouse that joins partsupp with part on every
    sourcing query materializes BOTH bucketed by the part key once,
    and every subsequent join is a SortMergeJoin with ZERO exchanges —
    the synthesis cost is paid once, the shuffle never again."""
    from gus_spark.queries.bridge import PARTSUPP_SQL

    ps = spark.sql(
        PARTSUPP_SQL + "SELECT * FROM partsupp",
        part=table(spark, SF_DIR, "part"),
        supplier=table(spark, SF_DIR, "supplier"),
    )
    part = table(spark, SF_DIR, "part").withColumnRenamed(
        "p_partkey", "ps_partkey"
    )
    write_bucketed(ps, "partsupp_b", "ps_partkey", n_buckets=8,
                   sort_by="ps_partkey")
    write_bucketed(part, "part_b", "ps_partkey", n_buckets=8,
                   sort_by="ps_partkey")
    joined = bucketed_join(spark, "partsupp_b", "part_b", "ps_partkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(mode="formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    # 4 suppliers per part -> exactly 4 rows per part survive
    n_parts = table(spark, SF_DIR, "part").count()
    assert joined.count() == 4 * n_parts


def test_salted_sum_equals_plain(spark):
    li = table(spark, SF_DIR, "lineitem")
    salted = {
        r.l_returnflag: (round(r.total, 4), r.n_rows)
        for r in salted_sum(li, "l_returnflag", "l_quantity").collect()
    }
    plain = {
        r.l_returnflag: (round(r.total, 4), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count("*").alias("n"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert abs(salted[k][0] - plain[k][0]) < 1e-4


def test_zorder_bounds_every_columns_file_span(spark, tmp_path):
    """The measurable property z-ordering exists for: after clustering
    orders by (o_custkey, o_totalprice), EVERY file's min/max span is
    narrow on BOTH columns, where a single-column sort leaves the
    second column's per-file span at ~the full range (no skipping)."""
    from gus_spark.operators.partitioning import write_zordered

    orders = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")

    def mean_spans(path):
        import glob

        spans = {"o_custkey": [], "o_totalprice": []}
        lo = orders.agg(F.min("o_custkey"), F.min("o_totalprice")).first()
        hi = orders.agg(F.max("o_custkey"), F.max("o_totalprice")).first()
        full = {
            "o_custkey": float(hi[0] - lo[0]),
            "o_totalprice": float(hi[1] - lo[1]),
        }
        for f in glob.glob(f"{path}/*.parquet"):
            row = (
                spark.read.parquet(f)
                .agg(
                    F.min("o_custkey"), F.max("o_custkey"),
                    F.min("o_totalprice"), F.max("o_totalprice"),
                )
                .first()
            )
            spans["o_custkey"].append(float(row[1] - row[0]) / full["o_custkey"])
            spans["o_totalprice"].append(
                float(row[3] - row[2]) / full["o_totalprice"]
            )
        return {c: sum(v) / len(v) for c, v in spans.items()}

    linear = str(tmp_path / "linear")
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(linear)
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=16)

    lin, zo = mean_spans(linear), mean_spans(zpath)
    # linear: near-perfect on the sort column, useless on the other
    assert lin["o_custkey"] < 0.15, lin
    assert lin["o_totalprice"] > 0.8, lin
    # z-order: BOTH columns' mean spans bounded well under full range
    assert zo["o_custkey"] < 0.5, zo
    assert zo["o_totalprice"] < 0.5, zo
    # row preservation
    assert spark.read.parquet(zpath).count() == orders.count()

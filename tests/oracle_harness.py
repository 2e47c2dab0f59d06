"""Local reproduction of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at sf0.01,
compare row count + column names + order-insensitive values.

Each row is tagged with what its match checks: ``same-text`` (Spark and
DuckDB run one SQL text, so a match checks the two engines agree on
it), ``independent`` (the Spark definition differs from the oracle
text) or ``rows`` (no oracle: the query only has to run).

Usage: python tests/oracle_harness.py [query_name ...]
Exit code 0 iff every compared query matches exactly.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("GUS_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def normalize(value):
    """Canonical form for hashing across engines/pandas dtypes."""
    import datetime

    import numpy as np
    import pandas as pd

    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    if isinstance(value, (np.integer,)):
        return int(value)
    if isinstance(value, (np.floating,)):
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return None
        return repr(value)  # exact bits
    if isinstance(value, pd.Timestamp):
        return value.isoformat()
    if isinstance(value, datetime.datetime):
        return value.isoformat()
    if isinstance(value, (list, np.ndarray)):
        return tuple(normalize(v) for v in value)
    if isinstance(value, (int, str, bool)):
        return value
    import decimal

    if isinstance(value, decimal.Decimal):
        return repr(float(value))
    return str(value)


def frame_key(df) -> tuple:
    cols = sorted(df.columns)
    rows = sorted(
        (
            tuple(normalize(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)
        ),
        key=repr,  # None-safe canonical order
    )
    return tuple(cols), rows


def main(argv: list[str]) -> int:
    import duckdb

    import __spark_entry__ as e
    from gus_spark.queries import catalog
    from gus_spark.session import get_spark

    spark = get_spark(app_name="oracle-harness", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs, oracles, specs = e.queries(), e.oracle_sql(), catalog()
    selected = argv or sorted(qs)
    failures, rows_only = [], []
    tags = {
        name: "rows" if name not in oracles
        else "same-text" if specs[name].text == oracles[name]
        else "independent"
        for name in selected
    }
    for name in selected:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}  [{tags[name]}]")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle)  [rows]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(ex).__name__}: {ex}  [{tags[name]}]")
            continue
        scols, srows = frame_key(sdf)
        ocols, orows = frame_key(odf)
        dt = time.time() - t0
        if scols != ocols:
            failures.append(name)
            print(f"FAIL  {name}: columns {scols} != {ocols}  [{tags[name]}]")
        elif len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: row count {len(srows)} != {len(orows)}  [{tags[name]}]")
        elif srows != orows:
            failures.append(name)
            diffs = [
                (a, b) for a, b in zip(srows, orows) if a != b
            ][:3]
            print(f"FAIL  {name}: values differ; first diffs (spark vs duck):  [{tags[name]}]")
            for a, b in diffs:
                print(f"      {a}\n   != {b}")
        else:
            print(f"ok    {name}: {len(srows)} rows  [{dt:.1f}s]  [{tags[name]}]")
    print(
        f"\n{len(selected) - len(failures)}/{len(selected)} matched"
        f" ({len(rows_only)} rows-only)"
    )
    counts = [list(tags.values()).count(t)
              for t in ("same-text", "independent", "rows")]
    print("checks: {} same-text, {} independent, {} rows".format(*counts))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

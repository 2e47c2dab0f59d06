"""Query registry — the engine's `readMany` completion surface.

The reference declares but never implements the scan path (readMany is
`todo!()`, reference: src/cli/server/model/graphql.rs:382). This package
is that completion: every analytical operator the engine supports is a
named query with

- a Spark implementation ``(spark, sf_dir) -> DataFrame``. A relational
  query is one SQL text (``register_sql``): Spark parses it with its
  inputs bound as ``spark.sql`` DataFrame arguments, and DuckDB runs the
  same text over the bare table names as the oracle. Join order and
  ``/*+ BROADCAST */`` hints live in that text (DuckDB reads the hints
  as comments). A text tuned for Spark's plan keeps its textbook
  oracle beside it. A query the text cannot carry (an operator call, a
  ``.pivot()`` probe, a dialect-only function) stays a DataFrame
  builder (``register``).
- where SQL-expressible, an ANSI-SQL oracle string for DuckDB, used by
  the driver's correctness harness.

Determinism contract (the oracle comparison hashes values):
- floating aggregates are summed as DECIMAL (exact, order-independent)
  then cast to double — identical bits on Spark and DuckDB regardless of
  partition order. See gus_spark/functions/deterministic.py.
- top-k queries always carry a unique tiebreak column in the sort.
"""

from __future__ import annotations

import string
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    #: the Spark SQL text over the bare table names; None for a builder
    text: Optional[str] = None


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def register_sql(name: str, text: str, oracle: str | None = None, **inputs):
    """Register ``text`` as the Spark definition of query ``name``.

    Each ``{t}`` in the text binds ``table(spark, sf_dir, t)``, or
    ``inputs[t](spark, sf_dir)`` where given, as a ``spark.sql``
    DataFrame argument; pyspark drops its temp view once the text is
    analyzed, so a build leaves no view in the session. The oracle is
    the same text over the bare table names, unless a textbook
    ``oracle`` stands beside a text tuned for Spark's plan."""
    names = sorted({f for _, f, _, _ in string.Formatter().parse(text) if f})

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text, **{
            t: inputs[t](spark, sf_dir) if t in inputs
            else table(spark, sf_dir, t)
            for t in names
        })

    build.__name__ = build.__qualname__ = name
    bare = text.format_map({t: t for t in names})
    _REGISTRY[name] = QuerySpec(name, build, oracle or bare, bare)


def catalog() -> dict[str, QuerySpec]:
    # import side-effect population
    from gus_spark.queries import (  # noqa: F401
        advanced,
        bridge,
        curation,
        dedup,
        events,
        relational,
        similarity,
        text,
    )

    return dict(_REGISTRY)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = _read(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long nanos (nanosAsLong);
        # integer-DIV to micros (exact — double division would lose
        # precision at 1e18 ns) matches DuckDB's ns->us truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


#: parquet schema memo keyed on (path, mtime, nanosAsLong conf) — the
#: schema-inference footer read costs ~0.15-0.2 s per spark.read call
#: (r13, tools/bench_profile.py) and every query build re-reads the
#: same immutable testdata footers; an explicit .schema() skips it.
#: mtime guards rewritten temp tables in tests; the nanos conf changes
#: what schema inference PRODUCES (TIMESTAMP(NANOS) -> bigint), so it
#: is part of the key. Only the schema is memoized — never data.
#: FIFO-capped (VERDICT r13 hygiene): a long-lived driver reading
#: ever-fresh paths must not grow this without bound.
_SCHEMA_MEMO: dict[tuple, object] = {}
_SCHEMA_MEMO_CAP = 4096


def _read(spark: SparkSession, path: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    # engine contract: timestamps are UTC (the oracle is UTC-naive);
    # enforce even on driver-owned sessions that skipped get_spark()
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise arrive as
    # TIMESTAMP_NTZ, which time-arithmetic builtins (unix_micros, ...)
    # reject and which would break pushdown if fixed by a post-scan cast.
    # Engine contract: instant semantics in a UTC session — identical
    # wall-clock values to DuckDB's naive timestamps, so reading them as
    # TIMESTAMP is lossless and keeps range filters at the scan.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass  # conf absent on this Spark build — the cast below covers it
    try:
        mtime = os.path.getmtime(path.removeprefix("file:"))
    except OSError:
        mtime = None
    key = (
        path,
        mtime,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
    )
    memo = _SCHEMA_MEMO.get(key) if mtime is not None else None
    if memo is not None:
        # the memoized schema was PRODUCED by inference under these
        # exact confs, so supplying it reads identical values while
        # skipping the footer read
        return spark.read.schema(memo).parquet(path)
    try:
        df = spark.read.parquet(path)
    except Exception:  # driver-owned session without the nanos flag
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    # Fallback for sessions where the NTZ-inference conf didn't take:
    # cast any remaining NTZ columns (lossless in a UTC session).
    # Known limit: only top-level columns are walked — an NTZ field
    # nested inside a struct/array would slip through; acceptable while
    # every testdata schema keeps timestamps flat.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    if mtime is not None and not ntz:
        # memoize only the plain-scan shape: the NTZ-cast fallback
        # wraps the scan in projections whose schema is not the scan's
        while len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_CAP:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
        _SCHEMA_MEMO[key] = df.schema
    return df

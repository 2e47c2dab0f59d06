"""SparkSession factory with scale-oriented defaults.

The reference re-reads every model file and the whole storage file per
request (reference: src/cli/server/model.rs:146-156,
src/cli/server/model/storage_handler/json/mod.rs:45-80). The Spark-native
design instead holds one long-lived session; per-query costs are parquet
footer/row-group pruning, not whole-database deserialization.

Defaults are chosen for correctness-vs-oracle and for scale-out behavior:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) so the
  same plans survive a 100x scale-up without retuning.
- ``spark.sql.session.timeZone=UTC`` — DuckDB (the correctness oracle) uses
  UTC-naive timestamps; Spark timestamps are session-TZ.
- Arrow enabled — every Pandas UDF / ``applyInPandas`` batch crosses the
  JVM/Python boundary as Arrow, not pickled rows.
- ``shuffle.partitions`` defaults to the local core count; on a real cluster
  AQE coalesces from a deliberately high initial number instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it
        # as long nanos under this flag (converted in queries.table()).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP, not
        # TIMESTAMP_NTZ: the engine contract is instant semantics in a UTC
        # session (matches DuckDB's naive timestamps), and the typed scan
        # keeps timestamp range filters pushed down.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps every DataFrame/Column op with call-site
        # capture for error context; each wrapped op pays a conf read,
        # a PySparkCurrentOrigin.set and a .clear — ~3 py4j round
        # trips of pure debug bookkeeping per op (pyspark
        # errors/utils.py:_with_origin). Off, a hybrid_rrf_topk build
        # drops 3832 -> 1715 py4j calls (r13, guide §1.2 driver-side
        # per-op overhead). Driver-side only — no effect on plans or
        # results; error messages lose the Python call-site line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local"):
        # local profile: testdata parquet files are single small files;
        # 8 MB splits parallelize their scans (~15% on join queries).
        # Cluster deployments keep Spark's 128 MB default — at real file
        # counts small splits would explode the task count.
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("GUS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("GUS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def spark_jobs(spark, fn):
    """(fn's result, the Spark jobs it launched), counted via a job group
    once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from gus_spark.session import get_spark

    import tempfile

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="gus_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # static conf: needed by the bucketed-table tests
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="gus-wh-"),
        },
    )
    yield spark


def load_tables(spark, sf_dir: str) -> dict:
    """Load every testdata table from ``sf_dir`` and register temp views.

    Returns ``{name: DataFrame}``. Routed through ``queries.table()`` so
    the views share the query path's timestamp normalization (UTC
    session, TIMESTAMP not NTZ, the events.ts nanos fallback)."""
    from gus_spark.queries import table
    from oracle_harness import TABLES

    dfs = {}
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            dfs[name] = table(spark, sf_dir, name)
            dfs[name].createOrReplaceTempView(name)
    return dfs


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture()
def movie_model():
    """The reference's canonical fixture model (testing/model/movie.json)."""
    from gus_spark.model.types import ModelDefinition

    return ModelDefinition.from_json(
        {
            "model_name": "movie",
            "storage_type": "parquet",
            "attributes": {
                "id": "Integer",
                "name": "String",
                "year": "Integer",
                "actors": ["String"],
                "recommended": "Boolean",
            },
            "primary_key": "id",
            "required": ["id", "name", "recommended"],
        }
    )

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    s = (
        SparkSession.builder.appName("giranking-tests")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI-on matches the driver's Spark 4 session (round-3 gate ran
        # ANSI-enabled); override with SPARK_GRAFT_ANSI=false to test legacy.
        .config("spark.sql.ansi.enabled", os.environ.get("SPARK_GRAFT_ANSI", "true"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@contextlib.contextmanager
def lazy_checkpoints():
    """Neuter DataFrame.localCheckpoint for the duration of a plan pin.

    Query outputs are eagerly checkpointed, which collapses explain() to a
    bare `Scan ExistingRDD` — positive plan assertions would go vacuous.
    Building the query under this context keeps the honest lazy pipeline
    visible (the same dump-only trick as tools/dump_plans.py
    SPARK_GRAFT_PLANS_NO_CHECKPOINT)."""
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    orig = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        yield
    finally:
        _DF.localCheckpoint = orig

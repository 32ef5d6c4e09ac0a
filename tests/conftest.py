"""Shared fixtures: one local SparkSession per test run + transcript fixtures."""

from __future__ import annotations

import os
import sys
import uuid

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sagan_spark.datagen.transcripts import write_transcripts  # noqa: E402
from sagan_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sagan_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_path(tmp_path_factory) -> str:
    p = str(tmp_path_factory.mktemp("tx") / "tiny")
    write_transcripts(p, n_convs=200, seed=42)
    return p


@pytest.fixture(scope="session")
def tiny_pdf(tiny_path) -> pd.DataFrame:
    import glob

    files = sorted(glob.glob(os.path.join(tiny_path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def jobs_of(spark, fn):
    """``(fn(), number of Spark jobs it launched)``, read from the status
    tracker under a job group set around ``fn`` (jobs of threads that
    ``fn`` starts are not in it)."""
    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "jobs_of")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))

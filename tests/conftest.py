"""Shared fixtures: one session-scoped SparkSession, seeded change logs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log
from mimic_iv_etl_spark.session import get_spark_session

TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session(
        app_name="mimic_iv_etl_spark-tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=int(TEST_CPUS),
        # get_spark_session's 32g driver heap is for full-size local runs;
        # under ParallelGC a whole suite grows this JVM past 13 GB of RSS,
        # which leaves no room for the spark-submit test's executor JVMs
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def small_log(tmp_path_factory):
    """Seeded 8k-event change log, no schema evolution."""
    d = str(tmp_path_factory.mktemp("log_small"))
    spec = ChangeLogSpec(n_events=8_000, n_convs=300, n_partitions=4, seed=42)
    manifest = generate_change_log(d, spec)
    return d, spec, manifest


@pytest.fixture(scope="session")
def evolved_log(tmp_path_factory):
    """Seeded 6k-event change log with a schema-evolution point at 60%."""
    d = str(tmp_path_factory.mktemp("log_evolved"))
    spec = ChangeLogSpec(n_events=6_000, n_convs=200, n_partitions=4, seed=7, evolve_at=0.6)
    manifest = generate_change_log(d, spec)
    return d, spec, manifest

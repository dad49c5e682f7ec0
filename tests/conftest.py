"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from workbook_exporter_fe_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # one task slot per host core; shuffle_partitions stays 8 so plans
    # and written file counts do not depend on the host
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cores = int(cpus) if cpus.isdigit() else os.cpu_count()
    s = get_spark(app_name="tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sequences(spark):
    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    return gen_sequences(spark, 5000, seed=42).cache()


@pytest.fixture(scope="session")
def events(sequences):
    from workbook_exporter_fe_spark.operators.eventize import eventize

    return eventize(sequences).cache()

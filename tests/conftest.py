from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite's inputs are megabytes. Without a cap the session JVM takes
# get_spark's production default (-Xmx48g), and G1 grows the committed
# heap to ~13 GB within minutes of a run; 4 GB keeps the suite's speed
# with a third of the memory. The CLI tests' child JVMs inherit it.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from cube_builder_spark.session import get_spark
    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from cube_builder_spark.oracle import duckdb_connection
    return duckdb_connection(sf_dir)

"""Shared fixtures: one SparkSession per test run (JVM startup dominates)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from service_level_reporting_spark.session import get_spark

SF_DIR = os.environ.get("SLR_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

# One core per local-mode slot and one shuffle partition per core, sized
# from the host like bench.py and perfbench.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="slr-tests", master=f"local[{CPUS}]",
                  shuffle_partitions=CPUS)
    yield s
    s.stop()

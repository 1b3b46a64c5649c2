"""Shared SparkSession for the test suite.

Small local session (the driver benches separately at local[32]); UTC +
non-ANSI to match engine assumptions (plans/session.py RUNTIME_CONF).
"""

from __future__ import annotations

import os

import pytest

from kafka_streams_plumber_spark.plans.session import get_spark

# get_spark's default 48g driver heap can exceed a test machine's RAM, and
# a local-mode session holds every task in that one JVM. Size the heap
# from physical memory (2/5 of it, at most 48g); an explicit
# SPARK_GRAFT_DRIVER_MEM still wins.
_PHYS_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(48 * 1024, _PHYS_MB * 2 // 5)}m")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ksps-tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vbpl_web_crawl_spark.session import get_spark  # noqa: E402

# get_spark's 48g driver default is sized for a large host; with it the
# one test JVM lets garbage grow its heap to ~14 GB over the suite and a
# 15 GB host OOM-kills it mid-run. The sf0.001 fixtures need far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

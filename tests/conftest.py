from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datacooker_dist_spark.session import build_session  # noqa: E402

SF_SMALL = __import__("os").environ.get("DDS_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="dds-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def planted_bucket_docs(spark):
    """100 identical boilerplate docs (one 100-member LSH bucket per band)
    next to one exact pair of a unique text."""
    boiler = [(i, "the exact same boilerplate footer text repeated")
              for i in range(100)]
    pair = [(1000, "a genuinely unique alpha beta gamma document body"),
            (1001, "a genuinely unique alpha beta gamma document body")]
    return spark.createDataFrame(boiler + pair, "doc_id long, text string")

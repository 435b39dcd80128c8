from __future__ import annotations

import pytest

from web_analytics_visits_re_processing_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

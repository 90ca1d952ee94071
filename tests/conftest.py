from __future__ import annotations

import pytest

from data_ingestion_resolution_platform_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[N] and shuffle partitions follow $SPARK_GRAFT_CPUS (else all
    # cores); the driver heap defaults to half the host's memory
    s = get_spark("dirp_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

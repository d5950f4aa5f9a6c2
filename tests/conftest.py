from __future__ import annotations

import sys
from pathlib import Path

import pytest

# The checkout this conftest lives in, so a copied tree tests its own package.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from prometheus_remote_kinesis_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark

import sys
from pathlib import Path

import pytest

# import this checkout's package, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from myduckdb_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

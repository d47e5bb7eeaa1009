import sys
from pathlib import Path

import pytest

# import this checkout's package, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from myduckdb_spark.session import get_spark

    # saveAsTable writes under the warehouse dir, which defaults to the cwd
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark("tests", cpus=8,
                  extra_conf={"spark.sql.warehouse.dir": str(warehouse)})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

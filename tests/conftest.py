import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pisa_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[$SPARK_GRAFT_CPUS] (e.g. nproc) when set, local[8] otherwise
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 8)
    s = get_spark(app_name="pisa_spark_tests", cores=cores)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE

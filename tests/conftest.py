import os
import sys

import pytest

# the checkout this conftest lives in, so a copy of the repo tests itself
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def repo_root():
    return ROOT


@pytest.fixture(scope="session")
def spark():
    from prohap_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4, extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()

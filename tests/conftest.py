import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session pre-touches its whole driver heap at start (-Xms = -Xmx):
# a 4 GB test heap lets two suites run side by side on a 15 GB host.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from giraffe_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("giraffe-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gravitydb_spark.session import get_spark

# every count-gated broadcast hint in the suite checks its claimed row
# bound (session._maybe_broadcast counts the frame and raises if the
# bound is violated)
os.environ["GRAVITYSPARK_DEBUG_BCAST"] = "1"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gravitydb_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def cocktail_graph(spark):
    from tests.fixtures.cocktails import build_cocktail_graph

    return build_cocktail_graph(spark).cache()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

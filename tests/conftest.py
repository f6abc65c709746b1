import os
import sys

import pytest

# import the package of THIS checkout, whichever directory it lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elastic_asset_etl_poc_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]")
    yield s
    s.stop()

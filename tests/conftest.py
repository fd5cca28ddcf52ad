import os
import shutil
import tempfile

import pytest

from ocr_application_spark.session import get_spark
from ocr_application_spark.sources.webpages import default_scratch


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_scratch():
    d = tempfile.mkdtemp(prefix="sparkgraft_", dir=default_scratch())
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pytest_configure(config):
    os.makedirs(default_scratch(), exist_ok=True)

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_big_data_blog_dmscdc_walkthrough_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dmscdc-tests")
    yield s
    s.stop()


@pytest.fixture
def open_cost(spark):
    """``with open_cost(n):`` runs its block with
    ``spark.sql.files.openCostInBytes`` set to ``n`` bytes. A keyed lake
    merge rewrites a table whole while its live files fit in one open
    cost (``lake_writer._merge_cow``), so ``open_cost(1)`` forces the
    discovery side, which rewrites only impacted files, on any table."""
    key = "spark.sql.files.openCostInBytes"

    @contextlib.contextmanager
    def setting(n_bytes):
        prev = spark.conf.get(key)
        spark.conf.set(key, str(n_bytes))
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return setting


@pytest.fixture
def distributed(monkeypatch):
    """``with distributed():`` runs its block with
    ``SPARK_GRAFT_FORCE_DISTRIBUTED=1``: every size gate takes its
    distributed plan, as the forced bench run does."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as mp:
            mp.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
            yield

    return forced

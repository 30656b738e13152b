from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from flink_table_store_spark.session import get_spark

    spark = get_spark("ftss-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def warehouse(tmp_path):
    from flink_table_store_spark.catalog import Catalog

    return Catalog(str(tmp_path / "wh"))


@pytest.fixture()
def spark_branch(monkeypatch):
    """A context manager under which ``to_df`` takes its Spark branch:
    the driver branch's byte bound is 0 inside it."""
    from flink_table_store_spark import localread

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(localread, "LOCAL_READ_MAX_BYTES", 0)
            yield

    return forced

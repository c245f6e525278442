from __future__ import annotations

import pytest

from tap_postgres_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tps-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture()
def threshold(spark):
    """Sets ``spark.sql.autoBroadcastJoinThreshold`` for one test: the
    size gate between driver-side and Spark lake reads (-1 forces the
    Spark read)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    yield lambda v: spark.conf.set(key, v)
    spark.conf.set(key, prev)


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "table")

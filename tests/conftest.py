import os

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("moonlink_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def warehouse(tmp_path):
    w = tmp_path / "warehouse"
    os.makedirs(w, exist_ok=True)
    return str(w)


@pytest.fixture()
def spark_rewrite(monkeypatch):
    """Lower the driver-rewrite switch: every optimize job rewrites its
    bins as Spark jobs, whatever its size."""
    from moonlink_spark.operators import rewrite
    monkeypatch.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)

from __future__ import annotations

import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    # managed tables go to this session's own warehouse: the default
    # ./spark-warehouse is shared by every test process in the checkout
    warehouse = tempfile.mkdtemp(prefix="qs_test_warehouse_")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("quality-spark-tests")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")

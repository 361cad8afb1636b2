import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"

# tier split (see pytest.ini): tests named in slow_tests.txt get the
# 'slow' marker here, so the default run (-m "not slow") stays inside a
# bounded verify budget while the deep tier remains one -m flag away. A
# test named by node id on the command line is not marked, so
# ``pytest tests/test_x.py::test_y`` runs it instead of deselecting it.
_SLOW_FILE = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _named_node_ids(config) -> set[str]:
    """The ``path::name`` arguments of this run, as rootdir-relative node
    ids."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), config.rootpath)
            named.add(f"{rel}::{rest}")
    return named


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_FILE) as f:
            slow = {ln.strip() for ln in f
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return
    named = _named_node_ids(config)
    for item in items:
        if item.nodeid in slow and item.nodeid not in named \
                and item.nodeid.split("[")[0] not in named:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("hoodie_spark_tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def tmp_table_path():
    d = tempfile.mkdtemp(prefix="hoodie_spark_test_")
    shutil.rmtree(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").cache()


@pytest.fixture(scope="session")
def customer(spark):
    return spark.read.parquet(f"{SF_DIR}/customer.parquet").cache()


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()


@pytest.fixture(scope="session")
def events(spark):
    from hoodie_spark.sources import load_table

    return load_table(spark, SF_DIR, "events").cache()

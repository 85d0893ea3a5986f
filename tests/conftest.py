import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tiledb_py_spark.session import get_spark

    s = get_spark(cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def uri(tmp_path):
    return str(tmp_path / "arr")


@pytest.fixture()
def format_keys(spark):
    """Sorted values of one column of a ``spark.read.format("tiledb")``
    read — the second documented read surface, for tests that check it
    agrees with the engine's."""
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)
    return lambda uri, col="k": sorted(
        r[col] for r in
        spark.read.format("tiledb").load(uri).select(col).collect())

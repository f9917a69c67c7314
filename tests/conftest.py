"""Shared Spark fixture. Test strategy mirrors the reference's golden
end-to-end tests through the public API (SURVEY §5): tiny handcrafted
partition trees on local FS, assertions on sorted ``.toPandas()`` output."""

from __future__ import annotations

import pandas as pd
import pytest

from fsql_spark import get_spark
from fsql_spark.readers import SparkReader

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fsql-spark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def join_calls(monkeypatch):
    """How often the read took the path join (``SparkReader._load_format``)."""
    calls = []
    load_format = SparkReader._load_format

    def spy(self, *args, **kwargs):
        calls.append(1)
        return load_format(self, *args, **kwargs)

    monkeypatch.setattr(SparkReader, "_load_format", spy)
    return calls


# the reference's recurring example frames (`tests/test_example_usage.py:10-12`)
@pytest.fixture()
def df1():
    return pd.DataFrame({"c1": [0, 1], "c2": ["hello", "world"]})


@pytest.fixture()
def df2():
    return pd.DataFrame({"c1": [2, 3], "c2": ["salve", "mundi"]})


@pytest.fixture()
def df3():
    return pd.DataFrame({"c1": [4, 5], "c2": ["cthulhu", "rlyeh"]})


def sorted_pdf(df, by=None):
    """Spark/pandas DataFrame -> row-order-insensitive pandas frame."""
    pdf = df.toPandas() if hasattr(df, "toPandas") else df.copy()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    by = by or list(pdf.columns)
    return pdf.sort_values(by=by, ignore_index=True)


def assert_same(actual, expected, by=None):
    left, right = sorted_pdf(actual, by), sorted_pdf(expected, by)
    pd.testing.assert_frame_equal(left, right, check_dtype=False)

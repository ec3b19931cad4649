"""Shared fixtures: one SparkSession per test session; the reference's
canonical fixture tables re-created per FIXTURES.md (reference
tests/utils.py:241-300 create_test_tbl)."""

from __future__ import annotations

import datetime
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pixeltable_spark as pxt  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = pxt.get_session(app_name="pxt_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def parquet_reads(monkeypatch):
    """Counts DataFrameReader.parquet calls: one per read frame built."""
    from pyspark.sql.readwriter import DataFrameReader
    calls = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)
    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return calls


@pytest.fixture(scope="session")
def test_tbl(spark):
    """100-row workhorse table mirroring the reference fixture
    (FIXTURES.md §1): c1 str, c1n nullable str, c2 int pk, c3 float,
    c4 bool, c5 timestamp, c6/c7 json."""
    rows = []
    base = datetime.datetime(2024, 7, 1)
    for i in range(100):
        rows.append({
            "c1": f"test string {i}",
            "c1n": None if i % 10 == 0 else f"test string {i}",
            "c2": i,
            "c3": float(i),
            "c4": bool(i % 2),
            "c5": base + datetime.timedelta(hours=i),
            "c6": json.dumps({
                "f1": f"test string {i}", "f2": i, "f3": float(i),
                "f4": bool(i % 2), "f5": list(range(5 + i // 10)),
                "f6": {"f7": "test string 2", "f8": [1.0, 2.0, 3.0, 4.0]},
            }),
            "c7": json.dumps([{"f1": "a", "f2": 1}, {"f1": "b", "f2": 2}]),
        })
    schema = {
        "c1": pxt.String(False), "c1n": pxt.String(True), "c2": pxt.Int(False),
        "c3": pxt.Float(False), "c4": pxt.Bool(False),
        "c5": pxt.Timestamp(False), "c6": pxt.Json(False), "c7": pxt.Json(False),
    }
    return pxt.table_from_rows(spark, rows, "test_tbl", schema=schema,
                               rowid_cols=["c2"])


@pytest.fixture(scope="session")
def lineitem(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def customer(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/customer.parquet")


@pytest.fixture(scope="session")
def documents_df(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/documents.parquet").df()


@pytest.fixture(scope="session")
def embeddings_df(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/embeddings.parquet").df()

"""Shared test fixtures: one SparkSession per test run."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from openmaptiles_zh_modifier_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Small parallelism: tiny fixtures + 32 threads = pure task overhead.
    spark = get_spark(
        app_name="omt-zh-spark-tests",
        master="local[8]",
        extra={
            "spark.sql.shuffle.partitions": "8",
            "spark.default.parallelism": "8",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def load(spark, sf_dir: str, table: str):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


@pytest.fixture()
def count_calls(monkeypatch):
    """``count_calls(module, *names)`` wraps each named function of
    ``module`` with a counter and returns the shared ``Counter`` of calls
    by name. The wrappers are undone after the test."""
    calls = Counter()

    def wrap(module, *names):
        for name in names:
            fn = getattr(module, name)

            def counted(*args, _fn=fn, _name=name, **kwargs):
                calls[_name] += 1
                return _fn(*args, **kwargs)

            monkeypatch.setattr(module, name, counted)
        return calls

    return wrap

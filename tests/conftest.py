"""Shared fixtures: one session-scoped SparkSession (JVM start dominates
test wall-time), built WITHOUT the package's conf helpers so tests exercise
the same caller-supplied-session path the driver uses."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a generated method past the JVM's 64KB limit fails the test that
        # runs it, instead of silently running interpreted
        .config("spark.sql.codegen.fallback", "false")
        .getOrCreate()
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def docs(spark):
    """Small deterministic text corpus with planted near-duplicates:
    ids 0-19 distinct documents, ids 100-104 near-copies of ids 0-4
    (one token changed), id 200 an exact copy of id 0."""
    base = [
        (
            i,
            " ".join(f"tok{i}_{j} common{j % 3}" for j in range(12)),
        )
        for i in range(20)
    ]
    near = [
        (100 + i, base[i][1].replace(f"tok{i}_5", "CHANGED")) for i in range(5)
    ]
    exact = [(200, base[0][1])]
    return spark.createDataFrame(base + near + exact, "doc_id long, text string")

"""Shared test fixtures: one SparkSession per test run."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    session = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ibis-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def con(spark):
    import ibis_spark as isp

    return isp.connect(spark)


@pytest.fixture(scope="session")
def lineitem(con, sf_dir):
    return con.read_parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(con, sf_dir):
    return con.read_parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def customer(con, sf_dir):
    return con.read_parquet(f"{sf_dir}/customer.parquet")


@contextmanager
def _count_py4j():
    """Count the py4j commands sent inside the block.  py4j's
    object-release commands (``m\\nd\\n...``) are left out, as in
    perfbench/tracing.py: the garbage collector sends them at
    unpredictable moments, so identical builds would count differently."""
    from py4j.clientserver import ClientServerConnection

    original = ClientServerConnection.send_command
    counted = {"calls": 0}

    def send_command(conn, command):
        if not command.startswith("m\nd\n"):
            counted["calls"] += 1
        return original(conn, command)

    ClientServerConnection.send_command = send_command
    try:
        yield counted
    finally:
        ClientServerConnection.send_command = original


@pytest.fixture
def count_py4j():
    """``with count_py4j() as n: ...`` then ``n["calls"]``."""
    return _count_py4j

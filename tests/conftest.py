"""Shared fixtures: one SparkSession per test run, DuckDB oracle connections."""

from __future__ import annotations

import os

import pytest

from debezium_cdc_kafka_spark.oracle_check import duckdb_connect
from debezium_cdc_kafka_spark.session import get_spark

# Before the JVM starts: local-mode Python workers inherit this environment
# and unpickle package functions (mapInPandas bodies, pandas_udfs) by
# reference, so the repo root must be importable whatever the cwd.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def drop_last_commit(checkpoint: str) -> None:
    """Simulate a crash between a micro-batch's apply and its checkpoint
    commit: delete the newest ``commits/<n>`` so a restart replays epoch n."""
    commits = os.path.join(checkpoint, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def duck_smoke():
    con = duckdb_connect(SF_SMOKE)
    yield con
    con.close()

"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from amazon_books_review_spark.session import (  # noqa: E402
    delta_session_confs,
    get_session,
)

import os  # noqa: E402

#: override to run the whole suite at another scale, e.g. the
#: driver's sf0.01 correctness gate:
#:   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/
SF_SMOKE = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session(
        app_name="abr-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": "/tmp/abr-warehouse",
            # no-op unless delta-spark is importable; with it, the
            # whole suite's session can read/write delta tables
            **delta_session_confs(),
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def distributed_arm(monkeypatch):
    """Turn the graph loops' small-input local arm off (see
    ``session.materialize``) so a test written for the distributed
    loop keeps checking that loop: the arm's gate reads a broadcast
    threshold of -1, while Spark's join planning keeps the session's
    own threshold and so plans the joins the test was written for."""
    from amazon_books_review_spark import session

    monkeypatch.setattr(session, "broadcast_threshold", lambda spark: -1)

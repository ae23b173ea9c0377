from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    """Session for the whole suite. SPARK_GRAFT_TEST_ADVERSARIAL=1
    re-runs everything under the least-friendly session a driver could
    hand us — ANSI on, AQE on, an odd shuffle-partition count, and a
    NON-UTC session timezone (r11: the r10 verdict reproduced a
    6-query silent epoch shift under America/New_York that the
    UTC-only sweep could never catch; every result must now be
    session-tz-invariant). SPARK_GRAFT_TEST_TZ overrides the zone.
    Use the sweep before rotating queries into the driver window."""
    from yaetl_spark.session import get_spark

    adversarial = os.environ.get("SPARK_GRAFT_TEST_ADVERSARIAL") == "1"
    spark = get_spark(
        app_name="yaetl-spark-tests",
        shuffle_partitions=5 if adversarial else 8,
    )
    if adversarial:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.session.timeZone",
            os.environ.get("SPARK_GRAFT_TEST_TZ", "America/New_York"),
        )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def table_path(name: str) -> str:
    return f"{SF_DIR}/{name}.parquet"


@pytest.fixture
def ansi(spark, request):
    """Run the test with ``spark.sql.ansi.enabled`` set to the param,
    restoring the session's value afterwards."""
    prior = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    try:
        yield request.param
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)

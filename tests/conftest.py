from __future__ import annotations

import os

import pytest

# The session's default driver heap (48g) lets the one JVM the suite shares
# grow past a small host's memory and be killed mid-run; an explicit
# SPARK_DRIVER_MEMORY still wins. Subprocess sessions inherit the setting.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"

# The nightly lane (see pytest.ini) is chosen per module: the datapipe and
# property modules carry ``pytestmark = pytest.mark.nightly``.


def pytest_terminal_summary(terminalreporter, config):
    # Make the default lane's deferral visible in every run.
    deferred = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("nightly")
    ]
    if deferred:
        terminalreporter.write_line(
            f'{len(deferred)} nightly tests deselected by -m "not nightly"; '
            "run them with: pytest tests/ -m nightly"
        )


@pytest.fixture(scope="session")
def spark():
    from cqdg_etl_spark.session import get_spark

    s = get_spark(app_name="cqdg-etl-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL

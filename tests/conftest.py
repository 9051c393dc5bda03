"""Shared pytest fixtures: one SparkSession per test session.

Mirrors the reference's autotest layout (one pytest corpus,
/root/reference/autotest/conftest.py) — golden-value unit tests over
deterministic fixtures, plus Spark-vs-numpy-oracle cross checks.

Fail fast: the session is shared, so once its JVM dies (e.g. a driver
OOM) every later Spark test would fail with its own py4j
`ConnectionRefused` trace. After the first failure that leaves the
gateway dead, the remaining Spark tests error at setup with one short
message naming that failure; tests that do not use Spark still run.
"""
from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # small for test latency

_SESSION = []  # the session's SparkSession, once started
_DEAD = []  # why the Spark tests that follow cannot run, once the JVM is gone


def _jvm_alive(s) -> bool:
    try:
        s._jvm.java.lang.System.currentTimeMillis()
        return True
    except Exception:
        return False


def pytest_runtest_setup(item):
    if _DEAD and "spark" in item.fixturenames:
        pytest.fail(_DEAD[0], pytrace=False)


def pytest_runtest_makereport(item, call):
    if (call.excinfo is not None and _SESSION and not _DEAD
            and "spark" in item.fixturenames and not _jvm_alive(_SESSION[0])):
        _DEAD.append(f"Spark JVM gateway is dead since {item.nodeid} failed "
                     f"(see that failure; often a driver OOM)")


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app="gdal_spark-tests")
    _SESSION.append(s)
    yield s
    if _jvm_alive(s):
        s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

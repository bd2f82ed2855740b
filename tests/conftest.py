from __future__ import annotations

import shutil
import signal
import subprocess
import sys

import pytest
from pyspark import SparkContext

from mapreduceproject_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Each phase of a test (setup, call, teardown) gets this long.  The slowest
# takes about 30 s, so a phase that runs past it is stuck, not slow: it
# fails with the driver JVM's thread dump, its Spark jobs are cancelled and
# the run goes on, instead of one stall using up the whole run's time.
PHASE_LIMIT_S = 600


class PhaseTimeLimit(Exception):
    pass


def _dump_jvm_threads() -> None:
    proc = getattr(SparkContext._gateway, "proc", None)
    jstack = shutil.which("jstack")
    if proc is not None and jstack:
        try:
            dump = subprocess.run([jstack, "-l", str(proc.pid)], capture_output=True, text=True, timeout=60)
            sys.stderr.write(dump.stdout)
        except (OSError, subprocess.SubprocessError):
            pass


def _limited(item, when: str):
    expired = []

    def expire(signum, frame):
        expired.append(f"{item.nodeid} {when} ran past {PHASE_LIMIT_S} s")
        sys.stderr.write(expired[0] + "\n")
        _dump_jvm_threads()
        # py4j reports a call cut this way as its own error, unchained
        raise PhaseTimeLimit(expired[0])

    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(PHASE_LIMIT_S)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    sc = SparkContext._active_spark_context
    if expired and sc is not None:
        sc.cancelAllJobs()


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_setup(item):
    yield from _limited(item, "setup")


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    yield from _limited(item, "call")


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_teardown(item):
    yield from _limited(item, "teardown")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

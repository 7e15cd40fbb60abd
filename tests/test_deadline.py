"""The ``timeout(seconds)`` marker is a real deadline: a marked test
that stalls fails by node id within its budget, with the stalled step
in the traceback, and the rest of the run goes on."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import _release_stalled_spark_call

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STALLS = '''
import time

import pytest


def stalled_step():
    time.sleep(60)


@pytest.mark.timeout(1)
def test_stalls():
    stalled_step()


def test_after():
    pass
'''


def test_stalled_test_fails_by_name_within_budget(tmp_path):
    (tmp_path / "test_stalls.py").write_text(STALLS)
    t0 = time.monotonic()
    run = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "-p", "tests.conftest", "--rootdir", str(tmp_path),
            str(tmp_path / "test_stalls.py"),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert time.monotonic() - t0 < 50, run.stdout
    assert run.returncode == 1, run.stdout + run.stderr
    assert "test_stalls.py::test_stalls ran past its 1 s deadline" in run.stdout
    assert "stalled_step()" in run.stdout
    assert "1 failed, 1 passed" in run.stdout


def test_session_survives_a_deadline_inside_a_py4j_call(spark):
    """The deadline interrupts a blocking py4j call mid-answer; after
    the release the next call on the same thread gets its own answer,
    not the stalled call's."""

    def expired(signum, frame):
        pytest.fail("deadline")  # as the conftest handler does

    slow = F.udf(lambda x: time.sleep(6) or x, "long")
    previous = signal.signal(signal.SIGALRM, expired)
    signal.alarm(2)
    try:
        with pytest.raises(pytest.fail.Exception):
            spark.range(1).select(slow("id")).collect()
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)
    _release_stalled_spark_call()
    assert spark.range(3).count() == 3

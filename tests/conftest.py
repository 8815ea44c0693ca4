from __future__ import annotations

import contextlib
import faulthandler
import os
import sys

import pytest

# the checkout this file lives in, so pytest run from a second checkout
# tests that checkout's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# Hang watchdog: a test still running after this many seconds dumps every
# thread's stack and ends the run. The slowest test takes about a minute
# on 4 cores; pytest-timeout is not available.
_HANG_S = 600

# Make google.protobuf available (driver + forked Python workers) when the
# env has no protobuf wheel, so the transformWithStateInPandas e2e test can
# run instead of skipping.  Workers pick the shim up through the standard
# `sitecustomize` hook, hence the PYTHONPATH prepend — it must happen before
# the SparkSession (and its worker daemon) starts.
_PBSHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pbshim")
try:
    sys.path.insert(0, _PBSHIM_DIR)
    import sitecustomize as _pbshim  # tests/_pbshim/sitecustomize.py

    if _pbshim.install():
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p
            for p in (_PBSHIM_DIR, os.environ.get("PYTHONPATH", ""))
            if p and p not in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        ) or os.environ.get("PYTHONPATH", "")
except Exception:
    pass
finally:
    if _PBSHIM_DIR in sys.path:
        sys.path.remove(_PBSHIM_DIR)


def pytest_configure(config):
    # print the slowest tests of every run, so the one that eats the suite's
    # time budget is named; an explicit --durations still wins
    if config.option.durations is None:
        config.option.durations = 25


@pytest.fixture(scope="session")
def spark():
    from jobanalytics_bigdataproject_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from jobanalytics_bigdataproject_spark.sources.readers import load_star

    return load_star(spark, SF_DIR)


@pytest.fixture(scope="session")
def _stderr_fd(pytestconfig):
    """A copy of the real stderr, taken with output capture suspended, so
    the watchdog's dump reaches the terminal instead of a capture file."""
    capman = pytestconfig.pluginmanager.getplugin("capturemanager")
    with capman.global_and_fixture_disabled() if capman else contextlib.nullcontext():
        fd = os.dup(2)
    yield fd
    os.close(fd)


@pytest.fixture(autouse=True)
def _hang_watchdog(_stderr_fd):
    faulthandler.dump_traceback_later(_HANG_S, exit=True, file=_stderr_fd)
    yield
    faulthandler.cancel_dump_traceback_later()

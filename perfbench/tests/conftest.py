import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="session")
def run_dir():
    path = os.path.join(ROOT, ".perfbench", f"test-{os.getpid()}")
    harness.prepare_environment(ROOT, path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(run_dir):
    session = harness.start_spark(run_dir)
    yield session
    harness.stop_spark(session)


@pytest.fixture
def quick(monkeypatch):
    """One set-up and one warm op per loop: the smoke tests check what is
    emitted, not how steady it is."""
    monkeypatch.setattr(harness, "SETUP_REPS", 1)
    for cls in workloads.WORKLOADS.values():
        monkeypatch.setattr(cls, "warm_ops", 1)
        monkeypatch.setattr(cls, "probe_warm_ops", 1)

"""Test setup for the benchmark's own tests (run from the repository
root with ``python3 -m pytest perfbench``)."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    """A work directory the JVM and Python workers are pointed at before
    the first Spark session of the test process starts."""
    import host

    w = str(tmp_path_factory.mktemp("perfbench"))
    host.prepare_process_env(ROOT, os.path.join(w, "tmp"))
    return w

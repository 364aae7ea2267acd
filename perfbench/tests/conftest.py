"""Shared Spark session for the benchmark's own tests (tiny inputs)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.harness import start_session, stop_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    work = tmp_path_factory.mktemp("session")
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir()
    s = start_session(2, work, trace=True)
    yield s
    stop_session(s)

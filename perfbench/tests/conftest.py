"""Shared fixtures for the benchmark's own tests.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.harness import start_spark, stop_spark

    session = start_spark(str(tmp_path_factory.mktemp("spark")), 1)
    yield session
    stop_spark(session)

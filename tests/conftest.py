from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from census_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Run the REAL-streaming modules first (r14 — VERDICT r13 #6, the
    suite-duration budget): their cost is wall-clock (processing-time
    triggers, idle-timeout sleeps, micro-batch drains), and measured
    per-test durations run ~3× slower late in the session (the same
    module: ~110 s fresh vs ~320 s after ~900 tests' accumulated JVM/
    session state). Every test owns its inputs (tmp_path / inline
    frames) and shares only the session fixture, so order is free —
    scheduling the wall-clock modules onto the fresh session is pure
    suite-duration win, no coverage change."""
    early = ("tests/test_stateful_streaming.py", "tests/test_streaming.py")

    def key(item):
        p = str(getattr(item, "fspath", ""))
        return 0 if p.endswith(early) else 1

    items.sort(key=key)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def distributed(monkeypatch):
    """``with distributed():`` runs its block with
    ``catalog.LOCAL_TAIL_ROWS`` at 0, so every gated operator built
    inside it takes its distributed rounds instead of the local tail."""
    from census_data_pipeline_spark.sources import catalog

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(catalog, "LOCAL_TAIL_ROWS", 0)
            yield

    return forced

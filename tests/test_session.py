"""Session set-up: engine paths say when they fail."""

from __future__ import annotations

import shutil

import pytest

from census_data_pipeline_spark import session


def test_ship_package_failure_warns_and_stays_unshipped(spark, monkeypatch):
    sc = spark.sparkContext

    def boom(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(shutil, "make_archive", boom)
    # monkeypatch puts the flag back after the test
    monkeypatch.delattr(sc, "_cdps_pkg_shipped", raising=False)
    with pytest.warns(RuntimeWarning, match="disk full"):
        session._ship_package(spark)
    assert not hasattr(sc, "_cdps_pkg_shipped")  # the next call tries again

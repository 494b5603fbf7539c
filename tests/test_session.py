"""build_session: the warm-up is an optimization, never a failure source."""

from __future__ import annotations

import pytest

from project_cascade_spark import session


def test_warm_up_failure_degrades_to_cold_start(spark, monkeypatch):
    def boom(_spark):
        raise RuntimeError("warm-up exploded")

    monkeypatch.delenv("CASCADE_WARM_WORKERS", raising=False)
    monkeypatch.setattr(session, "_warm_python_workers", boom)
    with pytest.warns(RuntimeWarning, match="warm-up exploded"):
        s = session.build_session("cascade-tests", master="local[4]", shuffle_partitions=8)
    assert s is spark

"""build_session: the warm-up is an optimization, never a failure source,
and it runs once per application."""

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


def test_second_build_session_launches_no_job(spark, monkeypatch):
    sc = spark.sparkContext
    monkeypatch.delenv("CASCADE_WARM_WORKERS", raising=False)
    # forget that this application is warm: the first call below must
    # run the warm-up, so the job group is shown to catch its jobs
    monkeypatch.setattr(session, "_WARMED", set())

    def jobs_of(group):
        sc.setJobGroup(group, group)
        try:
            s = session.build_session(
                "cascade-tests", master="local[4]", shuffle_partitions=8
            )
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        assert s is spark
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of("warm-up-first-build")
    assert jobs_of("warm-up-second-build") == []

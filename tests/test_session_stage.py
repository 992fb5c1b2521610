"""The session-stage mechanism (sources.tables.session_stage and
warm_concurrently): one build per cold stage under concurrency, a lock per
stage rather than one global lock, publish-only-on-success, and job-group
propagation into warm-up threads."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from gmall_flink_spark.sources import tables

#: a stand-in session: the key rule reads only sparkContext.applicationId
FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-test"))


@pytest.fixture
def registry(monkeypatch):
    """Stages defined in a test register here, not in the package registry
    (whose stage count test_layout pins)."""
    monkeypatch.setattr(tables, "_STAGES", [])
    return tables._STAGES


def test_concurrent_cold_calls_build_once(tmp_path, registry):
    calls = []

    @tables.session_stage("documents")
    def stage(spark, sf_dir):
        calls.append(1)
        time.sleep(0.2)
        return object()

    got = []
    threads = [
        threading.Thread(target=lambda: got.append(stage(FAKE_SPARK, str(tmp_path))))
        for _ in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == 8 and all(g is got[0] for g in got)
    assert registry == [stage]
    stage.clear()
    assert not stage.memo


def test_lock_is_per_stage(tmp_path, registry):
    """Two different stages build at the same time: each builder waits on a
    barrier the other must reach, which a single global lock would break."""
    barrier = threading.Barrier(2, timeout=10)

    @tables.session_stage("documents")
    def first(spark, sf_dir):
        barrier.wait()
        return "first"

    @tables.session_stage("documents")
    def second(spark, sf_dir):
        barrier.wait()
        return "second"

    assert tables.warm_concurrently(
        lambda: first(FAKE_SPARK, str(tmp_path)),
        lambda: second(FAKE_SPARK, str(tmp_path)),
    ) == ["first", "second"]


def test_failed_build_publishes_nothing(tmp_path, registry):
    calls = []

    @tables.session_stage("documents")
    def stage(spark, sf_dir):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("executor lost")
        return "built"

    with pytest.raises(RuntimeError, match="executor lost"):
        stage(FAKE_SPARK, str(tmp_path))
    assert not stage.memo
    assert stage(FAKE_SPARK, str(tmp_path)) == "built"
    assert stage(FAKE_SPARK, str(tmp_path)) == "built"
    assert len(calls) == 2


def test_warm_concurrently_carries_job_group_and_reraises(spark):
    sc = spark.sparkContext
    sc.setJobGroup("warm-group", "session stage warm-up")
    try:
        seen = tables.warm_concurrently(
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == ["warm-group", "warm-group"]

    finished = []

    def fail():
        raise ValueError("build failed")

    def slow_ok():
        time.sleep(0.1)
        finished.append(1)

    with pytest.raises(ValueError, match="build failed"):
        tables.warm_concurrently(slow_ok, fail)
    assert finished == [1]  # the failure waited for the sibling build

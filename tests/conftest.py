"""Shared fixtures: one session-scoped SparkSession for the whole run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from zdb_spark.session import get_spark

    s = get_spark("zdb-spark-tests", master="local[4]",
                  extra_conf={
                      "spark.sql.shuffle.partitions": "4",
                      # saveAsTable (bucketed tables) must not litter the
                      # repo with ./spark-warehouse
                      "spark.sql.warehouse.dir":
                          tempfile.mkdtemp(prefix="zdb_warehouse_"),
                  })
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def tmp_home(tmp_path):
    """Isolated ZDB_SPARK_HOME per test."""
    return str(tmp_path / "zdb_home")


@pytest.fixture()
def run_counted(spark, monkeypatch):
    """``run_counted(fn)`` -> ``(fn(), jobs, plans)``: the Spark jobs
    ``fn`` launched (one job group, read once the listener bus drained)
    and the executed plan of every frame it collected."""
    import uuid

    sc = spark.sparkContext
    frame = type(spark.range(1))  # the concrete classic DataFrame
    plans: list[str] = []
    collect = frame.collect

    def recording(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(frame, "collect", recording)

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        plans.clear()
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group)), \
            list(plans)
    return run

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nebuia_vector_db_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nebuia-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture
def tiny_arrow_batches(spark):
    """Arrow batches of 3 rows for the duration of one test, so the
    Arrow kernels see batches smaller than k."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def on_route(request, monkeypatch):
    """Pin the route of the batch kNN paths (``knn_join(method="arrow")``,
    ``IVFIndex.search_batch``, ``assign_to_cells``) and of the IVF cell
    writes (``save_ivf_index``, ``append_to_ivf_index``, the IVF-PQ
    codes) for one test and
    return ``check(df)``, which asserts that ``df`` took it and returns
    ``df``. The route is ``"driver"`` (a corpus within the driver bound
    is cut on the driver into a local relation) unless the test's class
    sets ``route = "spark"``: then the shared driver bound,
    ``topk._DRIVER_MAX_BYTES``, is 0, every corpus goes through
    ``mapInArrow`` on Python workers and every cell is written by
    Spark."""
    from nebuia_vector_db_spark.operators import topk

    route = getattr(request.cls, "route", "driver")
    if route == "spark":
        monkeypatch.setattr(topk, "_DRIVER_MAX_BYTES", 0)

    def check(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("MapInArrow" in plan) == (route == "spark"), plan
        return df

    return check


@pytest.fixture
def spark_jobs(spark, request):
    """``spark_jobs(fn)`` runs ``fn()`` in a Spark job group of its own
    and returns ``(fn's result, jobs, stages)``, the Spark jobs ``fn``
    started and their stages. A sentinel job runs after it: listener
    events arrive in order, so once the sentinel is seen so are ``fn``'s
    jobs."""
    import itertools
    import time

    sc, calls = spark.sparkContext, itertools.count()

    def in_group(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run(fn):
        tag = f"{request.node.name}-{next(calls)}"
        out = in_group(tag, fn)
        in_group(f"{tag}-sentinel", spark.range(1).count)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(f"{tag}-sentinel"):
            assert time.monotonic() < deadline, "the sentinel job was not seen"
            time.sleep(0.05)
        jobs = tracker.getJobIdsForGroup(tag)
        return out, len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)

    return run

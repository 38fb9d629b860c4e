from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs. Tests compare SETS of new ids,
    never counts: the async ContextCleaner GC-unpersists dead RDDs at
    arbitrary times, so a count delta races it while a new-id set
    difference cannot be perturbed by concurrent removals."""
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def spark_jobs_and_tasks(spark, fn) -> tuple[int, int]:
    """Spark jobs ``fn()`` runs and the tasks they complete, counted
    through a job group (AQE stage jobs inherit it from the submitting
    thread)."""
    sc = spark.sparkContext
    # a fresh name per probe: ``id(fn)`` of a collected lambda is
    # reused, and the group would then also count an earlier probe's jobs
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store trails the jobs
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    # Past spark.ui.retainedStages the status store evicts SKIPPED
    # stages first (their completion time is -1), so a stage of these
    # jobs with no info left is one that was skipped: it ran no tasks.
    infos = [tracker.getStageInfo(s) for s in stages]
    return len(jobs), sum(i.numCompletedTasks for i in infos if i is not None)


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs (see :func:`spark_jobs_and_tasks`)."""
    return spark_jobs_and_tasks(spark, fn)[0]


@pytest.fixture(scope="session")
def spark():
    from etl_processing_scd1_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def no_cache_leaks(request):
    """Structural enforcement of the cache-release contract
    (operators.dedup.attach_cache/consuming): any test that leaves new
    persisted RDDs behind on the shared session fails HERE, instead of
    flaking an unrelated later test's hygiene assertion."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = persistent_rdd_ids(spark)
    yield
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"test left persisted RDDs {sorted(leaked)} on the shared session — "
        "materialize cache-attached results under dedup.consuming(...) or "
        "call dedup.release_cached after the consuming action"
    )

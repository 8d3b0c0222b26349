"""The Spark jobs a piece of driver code runs, read off the status tracker."""

from __future__ import annotations

import itertools

_groups = itertools.count()


def jobs_run(spark, fn) -> tuple[object, list[tuple[int, list[str]]]]:
    """Run ``fn()`` under a job group of its own; return its result and
    the jobs it ran, in submission order, each as ``(job id, stage
    names)``.  A mergeSchema footer read is the one-stage job ``parquet
    at ...``.  Jobs that ``fn`` starts from threads count too when those
    threads inherit the caller's local properties
    (``pyspark.inheritable_thread_target``)."""
    sc = spark.sparkContext
    group = f"tests.spark_jobs.{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker is fed by the listener bus, which runs behind the jobs
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job_id)
        stages = [tracker.getStageInfo(s) for s in info.stageIds]
        jobs.append((job_id, [s.name for s in stages if s is not None]))
    return out, jobs


def executed_plans(spark, job_ids) -> list[str]:
    """The physical plan text of every SQL execution that ran one of
    ``job_ids`` (the SQL status store keeps it for finished queries)."""
    wanted = set(job_ids)
    store = spark._jsparkSession.sharedState().statusStore()
    plans = []
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        it = ex.jobs().keys().iterator()
        ran = set()
        while it.hasNext():
            ran.add(it.next())
        if ran & wanted:
            plans.append(ex.physicalPlanDescription())
    return plans

"""telemetry.phase reads jobs and stage metrics from the status store,
so it reports with the UI off (the session default)."""

from __future__ import annotations

from poc_parquet_publisher_spark.queries import all_queries
from poc_parquet_publisher_spark.telemetry import phase

from tests.conftest import SF_SMOKE


def _build_and_run(spark, name):
    with phase(spark) as build:
        df = all_queries()[name](spark, SF_SMOKE)
    with phase(spark) as execute:
        df.count()
    return build, execute


def test_declared_entry_runs_its_jobs_at_execution(spark):
    assert spark.sparkContext.uiWebUrl is None
    build, execute = _build_and_run(spark, "q01_count")
    assert (build.jobs, build.stages, build.tasks) == (0, 0, 0)
    assert execute.jobs >= 1
    assert execute.tasks >= 1
    assert execute.tasks == sum(r["tasks"] for r in execute.per_stage)
    assert execute.seconds > 0
    assert execute.cpu_s > 0


def test_checkpointing_builder_runs_jobs_at_build_time(spark):
    # x243's rounds localCheckpoint their frontier, which runs jobs
    # while the builder is called.
    build, _ = _build_and_run(spark, "x243_kcore")
    assert build.jobs >= 1
    assert build.tasks >= 1


def test_caller_job_group_is_restored(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        with phase(spark) as p:
            spark.range(10).count()
        assert p.jobs >= 1
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert (
            sc.getLocalProperty("spark.job.description")
            == "caller description"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)

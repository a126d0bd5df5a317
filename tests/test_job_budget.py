"""Driver-job budget for the construction-bound slugs.

Each slug's frame is built and noop-written under one job group, and
the number of Spark jobs in that group must stay within the pinned
budget. Most of these jobs run on the driver while the DataFrame is
built (eager fits, bounded collects, per-round convergence counts), so
a snapshot that turns eager or a fit that splits in two shows up here
as a failed test rather than as a slower bench. The counts were
measured at sf0.001 and do not move with the local core count.

The bdc and heal CLI jobs write their sinks concurrently
(``sources.files.write_all``); their job counts are pinned exactly,
and every job that runs while they do must carry their job group — a
sink thread that lost the caller's properties would show up as a job
outside it.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from dug_data_ingest_spark.plans import fixtures as FX
from dug_data_ingest_spark.queries import all_queries
from tests.conftest import TEST_SF_DIR

JOB_BUDGET = {
    "dedup-cluster": 18,
    "ccnet-curate": 16,
    "curate-dsir-resample": 4,
    "text-bm25-topk": 4,
    "dedup-semantic": 42,
    "sim-kmeans-cells": 7,
    "sim-ivf-pq-topk": 15,
}


@pytest.mark.parametrize("slug", sorted(JOB_BUDGET))
def test_job_count_within_budget(spark, slug):
    sc = spark.sparkContext
    group = f"job-budget:{slug}"
    sc.setJobGroup(group, f"{slug}: job budget")
    try:
        df = all_queries()[slug](spark, TEST_SF_DIR)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= JOB_BUDGET[slug], (
        f"{slug}: {n_jobs} Spark jobs, budget {JOB_BUDGET[slug]}"
    )


# measured on the plans.fixtures inputs at local[4] and local[8], the
# same before and after the sinks ran concurrently
CLI_JOBS = {"run_bdc": 13, "run_heal": 15}


def _cli_args(spark, tmp_path, job: str) -> SimpleNamespace:
    inputs = {
        "run_bdc": {"gen3": FX.gen3_studies, "picsure": FX.picsure_variables},
        "run_heal": {
            "studies": FX.heal_studies,
            "fields": FX.heal_fields,
            "mapping": FX.hdp_mapping,
        },
    }[job]
    paths = {}
    for name, make in inputs.items():
        paths[name] = str(tmp_path / name)
        make(spark).write.parquet(paths[name])
    return SimpleNamespace(**paths, out=str(tmp_path / "out"), csv=False)


def _all_job_ids(sc) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    return {jobs.apply(i).jobId() for i in range(jobs.length())}


@pytest.mark.parametrize("job", sorted(CLI_JOBS))
def test_cli_job_count_and_group(spark, tmp_path, job):
    from dug_data_ingest_spark import cli

    sc = spark.sparkContext
    args = _cli_args(spark, tmp_path, job)
    group = f"job-budget:{job}"
    before = _all_job_ids(sc)
    sc.setJobGroup(group, f"{job}: job budget")
    try:
        getattr(cli, job)(spark, args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = _all_job_ids(sc) - before
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert started == in_group, f"{job}: jobs outside the group: {started - in_group}"
    assert len(in_group) == CLI_JOBS[job], (
        f"{job}: {len(in_group)} Spark jobs, expected {CLI_JOBS[job]}"
    )

"""Driver-job budget for the construction-bound slugs.

Each slug's frame is built and noop-written under one job group, and
the number of Spark jobs in that group must stay within the pinned
budget. Most of these jobs run on the driver while the DataFrame is
built (eager fits, bounded collects, per-round convergence counts), so
a snapshot that turns eager or a fit that splits in two shows up here
as a failed test rather than as a slower bench. The counts were
measured at sf0.001 and do not move with the local core count.
"""

from __future__ import annotations

import pytest

from dug_data_ingest_spark.queries import all_queries
from tests.conftest import TEST_SF_DIR

JOB_BUDGET = {
    "dedup-cluster": 18,
    "ccnet-curate": 16,
    "curate-dsir-resample": 4,
    "text-bm25-topk": 4,
    "dedup-semantic": 56,
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

"""tools/profile_slugs.py: the row it writes per slug, its job accounting
against the status tracker, and the Kx inflated directory it profiles
against (tools/scale_smoke.py::inflated_dir). Runs at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from tests.test_job_budget import JOB_BUDGET
from tools.profile_slugs import profile
from tools.scale_smoke import _STEP, inflated_dir

REP_KEYS = {"build_s", "action_s", "build_jobs", "action_jobs", "cpu_s"}
STAGE_KEYS = {
    "stage", "name", "tasks", "wall_s", "run_s", "cpu_s", "gc_s", "input_mb",
    "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
}


@pytest.mark.parametrize(
    "slug,sink", [("text-token-entropy", "count"), ("dedup-cluster", "noop")]
)
def test_profile_row_and_job_accounting(spark, slug, sink):
    from dug_data_ingest_spark.queries import all_queries

    (row,) = profile(spark, [slug], TEST_SF_DIR, reps=1, sink=sink)
    assert "error" not in row, row.get("error")
    assert row["slug"] == slug
    assert (row["sf"], row["K"], row["sink"]) == (0.001, 1, sink)
    assert row["cpus"] == spark.sparkContext.defaultParallelism
    assert row["git_sha"] is None or len(row["git_sha"]) == 40
    for key in ("calib_before", "calib_after"):
        assert set(row[key]) == {"calib_spark_sec", "calib_numpy_sec"}
    assert row["rows"] == all_queries()[slug](spark, TEST_SF_DIR).count()

    (rep,) = row["reps"]
    assert set(rep) == REP_KEYS
    assert set(rep["cpu_s"]) == {"driver", "jvm", "pyworker"}
    assert rep["build_s"] >= 0 and rep["action_s"] > 0
    assert set(row["stages"]) == {"build", "action"}
    assert row["stages"]["action"], "the sink ran no stage"
    for stage in row["stages"]["build"] + row["stages"]["action"]:
        assert set(stage) == STAGE_KEYS

    tracker = spark.sparkContext.statusTracker()
    direct = sum(
        len(tracker.getJobIdsForGroup(f"{slug}:0:{phase}"))
        for phase in ("build", "action")
    )
    assert rep["build_jobs"] + rep["action_jobs"] == direct
    if slug in JOB_BUDGET and sink == "noop":
        assert direct <= JOB_BUDGET[slug]


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_inflated_dir_doubles_facts_and_keeps_dims(spark):
    k = 2
    out = inflated_dir(spark, TEST_SF_DIR, k, fresh=True)

    def base(t):
        return spark.read.parquet(f"{TEST_SF_DIR}/{t}.parquet")

    def big(t):
        return spark.read.parquet(f"{out}/{t}.parquet")

    keys = {
        "documents": ["doc_id"],
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id", "user_id"],
    }
    for t, cols in keys.items():
        assert big(t).count() == k * base(t).count(), t
        for c in cols:
            src = [r[0] for r in base(t).select(c).collect()]
            assert max(src) < _STEP
            # copy i holds exactly the source keys shifted by i steps,
            # so the copies' key ranges are disjoint
            want = sorted(x + i * _STEP for i in range(k) for x in src)
            assert sorted(r[0] for r in big(t).select(c).collect()) == want, (t, c)

    # orders and lineitem shift by the same step: each copy's lineitems
    # join to that copy's orders only
    def joined(read):
        return read("lineitem").join(
            read("orders"), F.col("l_orderkey") == F.col("o_orderkey")
        ).count()

    assert joined(big) == k * joined(base)

    for t in ("region", "nation", "customer", "supplier", "part", "embeddings"):
        assert _rows(big(t)) == _rows(base(t)), t

    # the documents are the disjoint copies the sf1.0 checkpoint used:
    # every word tagged c<i>, doc ids shifted by i steps
    docs = base("documents")
    ref = None
    for i in range(k):
        copy = docs.select(
            (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"c{i}$1").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        ref = copy if ref is None else ref.unionByName(copy)
    assert _rows(big("documents").select(*ref.columns)) == _rows(ref)

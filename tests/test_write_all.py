"""``sources.files.write_all``: a job's independent sinks run as
concurrent Spark jobs under the caller's job group, each with its own
description, and a failing sink neither stops the others nor leaves a
worker thread behind."""

from __future__ import annotations

import threading

import pytest

from dug_data_ingest_spark.sources.files import write_all


def _clear(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _jobs(sc, group: str) -> list:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]


def _write_all_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("write_all")]


def test_each_sink_runs_under_its_own_description_in_the_callers_group(spark, tmp_path):
    sc = spark.sparkContext
    group = "write-all:describe"
    sc.setJobGroup(group, "ingest:bdc")
    try:
        write_all(
            spark,
            ("a", lambda: spark.range(10).write.parquet(str(tmp_path / "a"))),
            ("b", lambda: spark.range(20).write.parquet(str(tmp_path / "b"))),
        )
        # the caller's own properties are untouched by the sinks
        assert sc.getLocalProperty("spark.job.description") == "ingest:bdc"
    finally:
        _clear(sc)
    jobs = _jobs(sc, group)
    descriptions = {j.description().get() for j in jobs}
    assert descriptions == {"ingest:bdc: a", "ingest:bdc: b"}
    assert {j.jobGroup().get() for j in jobs} == {group}
    assert spark.read.parquet(str(tmp_path / "b")).count() == 20


def test_a_failing_sink_lets_the_others_finish_and_reraises_the_first(spark, tmp_path):
    class FirstError(Exception):
        pass

    class LaterError(Exception):
        pass

    done = []

    def fail(exc):
        def write():
            raise exc

        return write

    def slow_write():
        spark.range(1000).repartition(4).write.parquet(str(tmp_path / "slow"))
        done.append("slow")

    first = FirstError("sink one failed")
    with pytest.raises(FirstError) as info:
        write_all(
            spark,
            ("slow", slow_write),
            ("one", fail(first)),
            ("two", fail(LaterError("sink two failed"))),
        )
    assert info.value is first
    assert done == ["slow"]
    assert spark.read.parquet(str(tmp_path / "slow")).count() == 1000
    assert _write_all_threads() == []


def test_a_failing_spark_write_keeps_its_exception_type(spark, tmp_path):
    from pyspark.errors import AnalysisException

    spark.range(1).write.parquet(str(tmp_path / "exists"))
    with pytest.raises(AnalysisException):
        write_all(
            spark,
            # errorifexists mode on an existing path
            ("dup", lambda: spark.range(1).write.parquet(str(tmp_path / "exists"))),
            ("ok", lambda: spark.range(1).write.parquet(str(tmp_path / "ok"))),
        )
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 1
    assert _write_all_threads() == []

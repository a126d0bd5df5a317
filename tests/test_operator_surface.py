"""Direct pins for the kept-for-composition operator surface — the
public functions the registered queries happen to inline rather than
call (group_collect, rollup_counts, semi_join). They
are API, so they get their own value pins: "unused by the graded
queries" must never decay into "untested".
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_group_collect_orders_items_and_label_deterministically(spark):
    from dug_data_ingest_spark.operators.aggregates import group_collect

    df = spark.createDataFrame(
        [
            ("dt1", 2, "var_b", "Label B"),
            ("dt1", 1, "var_a", "Label A"),
            ("dt1", 3, "var_c", "Label C"),
            ("dt2", 9, "var_z", "Label Z"),
        ],
        "dt_id string, ord int, var string, label string",
    )
    got = {
        r["dt_id"]: (r["n_rows"], r["items"], r["label"])
        for r in group_collect(
            df, "dt_id", "ord", F.col("var"), label_expr=F.col("label")
        ).collect()
    }
    # items are array_sort'ed (value order, not input order); the
    # label is min_by the explicit ordering column — both independent
    # of partitioning
    assert got == {
        "dt1": (3, ["var_a", "var_b", "var_c"], "Label A"),
        "dt2": (1, ["var_z"], "Label Z"),
    }
    shuffled = {
        r["dt_id"]: (r["n_rows"], r["items"], r["label"])
        for r in group_collect(
            df.repartition(7).sortWithinPartitions(F.desc("var")),
            "dt_id",
            "ord",
            F.col("var"),
            label_expr=F.col("label"),
        ).collect()
    }
    assert shuffled == got


def test_rollup_counts_covers_every_level(spark):
    from dug_data_ingest_spark.operators.aggregates import rollup_counts

    df = spark.createDataFrame(
        [("s1", "d1"), ("s1", "d1"), ("s1", "d2"), ("s2", "d3")],
        "study string, dd string",
    )
    got = {
        (r["study"], r["dd"]): r["n"]
        for r in rollup_counts(df, "study", "dd").collect()
    }
    assert got == {
        ("s1", "d1"): 2,
        ("s1", "d2"): 1,
        ("s2", "d3"): 1,
        ("s1", None): 3,
        ("s2", None): 1,
        (None, None): 4,
    }


def test_semi_join_equals_native_left_semi(spark):
    from dug_data_ingest_spark.operators.joins import semi_join

    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    right = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    got = sorted(map(tuple, semi_join(left, right, "k").collect()))
    want = sorted(map(tuple, left.join(right, "k", "left_semi").collect()))
    assert got == want == [(2, "b"), (3, "c")]


"""functions/constants.py: the one SQL-literal encoder and the one
literal-or-broadcast gate.

The encoder must hand back, through Spark, the exact bits it was
given — including the doubles with no plain decimal form and the
integer extremes. The gate must be invisible: every gated site
returns identical rows and columns whether its constant folded into
the plan or rode a 1-row broadcast (forced here by setting the cap
to 0), so no staging column leaks and no value drifts.
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.functions import constants
from dug_data_ingest_spark.functions.constants import fold_or_broadcast, sql_literal


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_sql_literal_round_trips_bit_exactly(spark):
    doubles = [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
        -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, 0.1,
        -1 / 3, 1e-05, 1e16,
    ]
    longs = [-(1 << 63), (1 << 63) - 1, 0, -1]
    ints = [-(1 << 31), (1 << 31) - 1]
    nested_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.ArrayType(T.DoubleType())),
                T.StructField("c", T.IntegerType()),
            ]
        )
    )
    nested = [(-(1 << 63), [-0.0, float("nan")], 7), (3, [], -(1 << 31))]
    row = spark.range(1).select(
        F.expr(sql_literal(doubles, T.ArrayType(T.DoubleType()))).alias("d"),
        F.expr(sql_literal(longs, T.ArrayType(T.LongType()))).alias("l"),
        F.expr(sql_literal(ints, T.ArrayType(T.IntegerType()))).alias("i"),
        F.expr(sql_literal([], T.ArrayType(T.DoubleType()))).alias("e"),
        F.expr(sql_literal(nested, nested_t)).alias("s"),
    ).first()

    assert [_bits(x) for x in row["d"]] == [_bits(x) for x in doubles]
    assert row["l"] == longs and row["i"] == ints and row["e"] == []
    assert [(r["id"], r["c"]) for r in row["s"]] == [
        (-(1 << 63), 7), (3, -(1 << 31))
    ]
    assert _bits(row["s"][0]["v"][0]) == _bits(-0.0)
    assert math.isnan(row["s"][0]["v"][1]) and row["s"][1]["v"] == []
    schema = spark.range(1).select(
        F.expr(sql_literal([], T.ArrayType(T.DoubleType()))).alias("e"),
        F.expr(sql_literal(nested, nested_t)).alias("s"),
    ).schema
    assert schema["e"].dataType.simpleString() == "array<double>"
    assert schema["s"].dataType.simpleString() == nested_t.simpleString()


def test_broadcast_staging_column_never_collides(spark, monkeypatch):
    monkeypatch.setattr(constants, "_LITERAL_MAX_ELEMS", 0)
    df = spark.createDataFrame([(1, 2)], "__folded int, __FOLDED_ int")
    out = fold_or_broadcast(
        df, [0.5, -0.0], T.ArrayType(T.DoubleType()),
        lambda f, c: f.withColumn("x", c),
    )
    assert out.columns == ["__folded", "__FOLDED_", "x"]
    (r,) = out.collect()
    assert (r[0], r[1]) == (1, 2)
    assert [_bits(v) for v in r["x"]] == [_bits(0.5), _bits(-0.0)]
    assert "BroadcastExchange" in out._jdf.queryExecution().executedPlan().toString()


def test_staging_names_skip_caller_columns_in_any_case(spark):
    # Spark resolves column names case-insensitively, so a staging
    # column must not reuse a caller's name in another case
    from dug_data_ingest_spark.ext.curation import perplexity_buckets
    from dug_data_ingest_spark.ext.dedup import bloom_prefilter_exact

    assert constants.free_name(["id", "__BLOOM", "__bloom_"], "__bloom") == "__bloom__"
    docs = spark.createDataFrame(
        [(i, "en", float(i), f"mine{i}") for i in range(6)],
        "doc_id int, lang string, ppl double, __PPL_CUTS string",
    )
    out = perplexity_buckets(docs, "ppl")
    assert out.columns == docs.columns + ["ppl_bucket"]
    assert {(r["doc_id"], r["__PPL_CUTS"]) for r in out.collect()} == {
        (i, f"mine{i}") for i in range(6)
    }

    hist = spark.createDataFrame([(0, "seen alpha")], "doc_id int, text string")
    batch = spark.createDataFrame(
        [(1, "seen alpha", 11), (2, "new beta", 12)],
        "doc_id int, text string, __BLOOM int",
    )
    out = bloom_prefilter_exact(batch, hist, m_bits=64, k_hashes=3)
    assert out.columns == batch.columns + ["seen_exact"]
    assert {(r["doc_id"], r["__BLOOM"], r["seen_exact"]) for r in out.collect()} == {
        (1, 11, True), (2, 12, False)
    }


# --- every gated site, literal path vs forced broadcast path ---------


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "a dog ran in the park"),
            (3, "the cat ran"),
            (4, "stock prices fell sharply today"),
            (5, None),
        ],
        "doc_id int, text string",
    )


def _vectors(spark):
    rows = [(i, [float((3 * i + p) % 7 - 3) for p in range(8)]) for i in range(12)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def _bloom(spark):
    from dug_data_ingest_spark.ext.dedup import bloom_build, bloom_probe

    hist = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [(i, f"doc {i}" if i % 2 else f"new {i}") for i in range(30)]
        + [(99, None)],
        "doc_id int, text string",
    )
    words = bloom_build(hist, m_bits=1 << 10)
    return lambda: bloom_probe(batch, words)


def _dsir(spark):
    from dug_data_ingest_spark.ext.curation import dsir_log_weights

    docs = _docs(spark)
    target = docs.filter("doc_id <= 2")
    return lambda: dsir_log_weights(docs, target, n_buckets=64)


def _nb(spark):
    from dug_data_ingest_spark.ext.curation import nb_quality_log_odds

    docs = _docs(spark)
    pos, neg = docs.filter("doc_id <= 2"), docs.filter("doc_id > 2")
    return lambda: nb_quality_log_odds(docs, pos, neg, n_buckets=64)


def _pq_train(spark):
    from dug_data_ingest_spark.ext.similarity import pq_train

    emb = _vectors(spark)
    return lambda: pq_train(emb, m=4, k=3, n_iters=3, dim=8)


def _pq_encode(spark):
    from dug_data_ingest_spark.ext.similarity import pq_encode, pq_train

    emb = _vectors(spark)
    books = pq_train(emb, m=4, k=3, n_iters=2, dim=8)
    return lambda: pq_encode(emb, books, m=4, dim=8)


def _pq_adc(spark):
    from dug_data_ingest_spark.ext.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = _vectors(spark)
    books = pq_train(emb, m=4, k=3, n_iters=2, dim=8)
    codes = pq_encode(emb, books, m=4, dim=8).localCheckpoint()
    rows = books.collect()
    return lambda: pq_adc_topk(codes, rows, [0.5] * 8, k=12, m=4)


def _ivf_pq(spark):
    from dug_data_ingest_spark.ext.similarity import ivf_pq_index, ivf_pq_topk

    emb = _vectors(spark)
    cells, books, coded = ivf_pq_index(emb, n_cells=3, m=4, k=3, n_iters=2, dim=8)
    coded = coded.localCheckpoint()
    rows = books.collect()
    return lambda: ivf_pq_topk(coded, cells, rows, [0.5] * 8, k=12, nprobe=2, m=4)


@pytest.mark.parametrize(
    "site",
    [_bloom, _dsir, _nb, _pq_train, _pq_encode, _pq_adc, _ivf_pq],
    ids=[
        "bloom_probe", "dsir_log_weights", "nb_quality_log_odds",
        "pq_train", "pq_encode", "pq_adc_topk", "ivf_pq_topk",
    ],
)
def test_gated_site_matches_literal_path(spark, monkeypatch, site):
    build = site(spark)
    lit = build()
    monkeypatch.setattr(constants, "_LITERAL_MAX_ELEMS", 0)
    bcast = build()
    if site is not _pq_train:  # pq_train returns the collected codebook
        plan = bcast._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan
    assert bcast.columns == lit.columns
    assert sorted(map(repr, bcast.collect())) == sorted(map(repr, lit.collect()))

"""Model-based tests for product quantization (ext/similarity.py):
pq_train / pq_encode / pq_adc_topk pinned to a pure-Python reference
model that replays the exact deterministic spec (init cluster = id%k,
Lloyd means, argmin with lowest-cluster tie-break, ADC table lookups).

Vectors are INTEGER-valued by construction: integer sums are exact in
IEEE doubles regardless of aggregation order, so Spark's partial
aggregation and the model's left-to-right walk produce bit-identical
centroids and the comparison can be exact equality — the float
caveat that keeps kmeans/PQ off the hash-gated oracle surface
(documented on kmeans_centroids) does not bite here.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dug_data_ingest_spark.ext.similarity import pq_adc_topk, pq_encode, pq_train

DIM, M, K, ITERS = 8, 4, 3, 2
D = DIM // M

_vec = st.lists(
    st.integers(min_value=-8, max_value=8), min_size=DIM, max_size=DIM
)
_corpus = st.lists(_vec, min_size=3, max_size=8)


def _model_train(vecs: list[list[int]]):
    """codebooks: {(subspace, cluster): centroid list} after ITERS
    rounds of the exact spec."""
    sub = {
        (i, s): [float(x) for x in v[s * D : (s + 1) * D]]
        for i, v in enumerate(vecs)
        for s in range(M)
    }
    assign = {(i, s): i % K for (i, s) in sub}
    cents: dict[tuple[int, int], list[float]] = {}
    for _ in range(ITERS):
        # means over current members (empty clusters vanish)
        sums: dict[tuple[int, int], list[float]] = {}
        counts: dict[tuple[int, int], int] = {}
        for (i, s), c in assign.items():
            key = (s, c)
            acc = sums.setdefault(key, [0.0] * D)
            for p in range(D):
                acc[p] += sub[(i, s)][p]
            counts[key] = counts.get(key, 0) + 1
        cents = {
            key: [acc[p] / counts[key] for p in range(D)]
            for key, acc in sums.items()
        }
        # re-assign: argmin d2, tie-break lowest cluster id
        for (i, s) in sub:
            best = None
            for c in sorted(c for (s2, c) in cents if s2 == s):
                d2 = 0.0
                for p in range(D):
                    diff = sub[(i, s)][p] - cents[(s, c)][p]
                    d2 += diff * diff
                if best is None or d2 < best[0]:
                    best = (d2, c)
            assign[(i, s)] = best[1]
    return cents, assign


@given(vecs=_corpus)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pq_train_encode_match_reference_model(spark, vecs):
    cents, assign = _model_train(vecs)

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    books = pq_train(df, m=M, k=K, n_iters=ITERS, dim=DIM)
    got_books = {
        (r.subspace, r.cluster): list(r.centroid) for r in books.collect()
    }
    assert got_books == cents

    got_codes = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, books, m=M, dim=DIM).collect()
    }
    want_codes = {
        i: [assign[(i, s)] for s in range(M)] for i in range(len(vecs))
    }
    assert got_codes == want_codes


@given(vecs=_corpus, query=_vec)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pq_adc_scores_match_table_walk(spark, vecs, query):
    cents, assign = _model_train(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    books = pq_train(df, m=M, k=K, n_iters=ITERS, dim=DIM)
    codes = pq_encode(df, books, m=M, dim=DIM)
    top = pq_adc_topk(
        codes, books.collect(), [float(x) for x in query], k=len(vecs), m=M
    ).collect()

    def model_score(i: int) -> float:
        total = 0.0
        for s in range(M):
            c = assign[(i, s)]
            d2 = 0.0
            for p in range(D):
                diff = float(query[s * D + p]) - cents[(s, c)][p]
                d2 += diff * diff
            total += d2
        return total

    got = {r.vec_id: r.adc_dist2 for r in top}
    assert got == {i: model_score(i) for i in range(len(vecs))}
    # ranking is (score, id) ascending — deterministic under ties
    ranked = [(r.adc_dist2, r.vec_id) for r in top]
    assert ranked == sorted(ranked)


def test_pq_compression_finds_the_planted_neighbor(spark):
    # end-to-end sanity on separated clusters: a query next to one
    # cluster's member must rank that cluster's members first, from
    # codes alone (no raw vectors at query time)
    base = [0.0] * DIM
    far = [100.0] * DIM
    rows = [(i, [b + i * 0.01 for b in base]) for i in range(4)] + [
        (10 + i, [f + i * 0.01 for f in far]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train(df, m=M, k=2, n_iters=2, dim=DIM)
    codes = pq_encode(df, books, m=M, dim=DIM)
    top = pq_adc_topk(codes, books.collect(), [0.02] * DIM, k=4, m=M).collect()
    assert {r.vec_id for r in top} == {0, 1, 2, 3}


def test_pq_encode_textbook_size_broadcasts_the_codebook(spark):
    # m=8, k=256 on 768-dim vectors (Jegou et al. 2011's settings): the
    # codebook is 8 * 256 * (1 + 96) values, above the literal cap, so
    # it rides a 1-row broadcast instead of megabytes of SQL text.
    # Integer values keep every squared distance exact, so numpy's
    # argmin (first minimum = lowest cluster id) is the exact reference
    # model, ties included.
    import numpy as np

    dim, m, k = 768, 8, 256
    d = dim // m
    rng = np.random.default_rng(7)
    books = rng.integers(-4, 5, size=(m, k, d))
    vecs = rng.integers(-4, 5, size=(12, dim))
    books_df = spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m)
            for c in range(k)
        ],
        "subspace int, cluster int, centroid array<double>",
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    coded = pq_encode(df, books_df, m=m, dim=dim)
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan
    want = {
        i: [
            int(np.argmin(((vecs[i, s * d : (s + 1) * d] - books[s]) ** 2).sum(axis=1)))
            for s in range(m)
        ]
        for i in range(len(vecs))
    }
    assert {r.vec_id: list(r.codes) for r in coded.collect()} == want


def test_pq_rejects_ragged_subspaces(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, [0.0] * 10)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divide"):
        pq_train(df, m=4, k=2, n_iters=1, dim=10)


def test_pq_rerank_recovers_exact_topk_when_shortlist_covers(spark):
    # with shortlist = corpus size the ADC stage cannot exclude the
    # true neighbors, so the re-ranked result IS the exact top-k —
    # quantization error never decides the final ranking
    from dug_data_ingest_spark.ext.similarity import pq_topk_reranked
    import pyspark.sql.functions as F
    from dug_data_ingest_spark.functions.vectors import as_double

    rows = [(i, [float((7 * i + p) % 11 - 5) for p in range(DIM)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train(df, m=M, k=K, n_iters=ITERS, dim=DIM)
    codes = pq_encode(df, books, m=M, dim=DIM)
    query = [0.5] * DIM

    got = [
        (r.vec_id, r.dist2)
        for r in pq_topk_reranked(
            df, codes, books.collect(), query, k=4, shortlist=len(rows), m=M
        ).collect()
    ]
    q = F.lit(query).cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(as_double(F.col("embedding")), q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    want = [
        (r.vec_id, r.d)
        for r in df.select("vec_id", d2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(4)
        .collect()
    ]
    assert got == want


def test_pq_rerank_rejects_shortlist_below_k(spark):
    import pytest

    from dug_data_ingest_spark.ext.similarity import pq_topk_reranked

    df = spark.createDataFrame(
        [(1, [0.0] * DIM)], "vec_id int, embedding array<double>"
    )
    books = pq_train(df, m=M, k=1, n_iters=1, dim=DIM)
    codes = pq_encode(df, books, m=M, dim=DIM)
    with pytest.raises(ValueError, match="shortlist"):
        pq_topk_reranked(df, codes, books.collect(), [0.0] * DIM, k=5, shortlist=3, m=M)


def test_pq_adc_rejects_short_codes_instead_of_ranking_them_first(spark):
    # ascending sort is nulls-first in Spark: a codes array shorter
    # than m would NULL its ADC score and silently WIN the top-k —
    # the guard must raise instead
    import pytest
    from pyspark.sql.utils import PythonException

    df = spark.createDataFrame(
        [(i, [float(i)] * DIM) for i in range(3)],
        "vec_id int, embedding array<double>",
    )
    books = pq_train(df, m=M, k=2, n_iters=1, dim=DIM)
    good = pq_encode(df, books, m=M, dim=DIM)
    bad = spark.createDataFrame([(99, [0] * (M - 1))], "vec_id int, codes array<int>")
    with pytest.raises(Exception, match="codes array has"):
        pq_adc_topk(good.unionByName(bad), books.collect(), [0.0] * DIM, k=3, m=M).collect()


def test_pq_rerank_rejects_undersized_vector(spark):
    import pytest

    from dug_data_ingest_spark.ext.similarity import pq_topk_reranked

    rows = [(1, [0.0] * DIM), (2, [1.0] * (DIM - 2))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    ok = df.filter("vec_id = 1")
    books = pq_train(ok, m=M, k=1, n_iters=1, dim=DIM)
    codes = pq_encode(df.selectExpr("vec_id", f"slice(embedding, 1, {DIM}) as embedding")
                      .filter("vec_id = 1"), books, m=M, dim=DIM)
    codes = codes.unionByName(
        spark.createDataFrame([(2, [0] * M)], "vec_id int, codes array<int>")
    )
    with pytest.raises(Exception, match="dims"):
        pq_topk_reranked(
            df, codes, books.collect(), [0.0] * DIM, k=2, shortlist=2, m=M
        ).collect()


# --- IVF-PQ composition ------------------------------------------------------


def _clustered_corpus():
    # two well-separated clusters of 6, mild within-cluster jitter
    rows = []
    for i in range(6):
        rows.append((i, [0.0 + 0.05 * i + 0.01 * p for p in range(DIM)]))
    for i in range(6):
        rows.append((10 + i, [50.0 + 0.05 * i - 0.01 * p for p in range(DIM)]))
    return rows


def test_ivf_pq_scores_only_probed_cells(spark):
    from dug_data_ingest_spark.ext.similarity import ivf_pq_index, ivf_pq_topk

    df = spark.createDataFrame(
        _clustered_corpus(), "vec_id int, embedding array<double>"
    )
    cells, books, coded = ivf_pq_index(df, n_cells=2, m=M, k=2, n_iters=2, dim=DIM)
    top = ivf_pq_topk(
        coded, cells, books.collect(), [0.1] * DIM, k=12, nprobe=1, m=M
    ).collect()
    # nprobe=1 near the low cluster: only that cell's members appear,
    # and all of them do (k covers the cell)
    assert len(top) > 0
    cells_hit = {r.cell for r in top}
    assert len(cells_hit) == 1
    ids = {r.vec_id for r in top}
    assert ids == {0, 1, 2, 3, 4, 5} or ids == {10, 11, 12, 13, 14, 15}
    assert ids == {0, 1, 2, 3, 4, 5}, "query at 0.1 must probe the low cluster"


def test_ivf_pq_single_cell_equals_residual_pq(spark):
    # with n_cells=1 every vector shares one coarse centroid, so
    # IVF-PQ must rank exactly like plain PQ over the residuals
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.ext.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rows = [(i, [float((3 * i + p) % 7) for p in range(DIM)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cells, books, coded = ivf_pq_index(df, n_cells=1, m=M, k=K, n_iters=ITERS, dim=DIM)
    query = [1.0] * DIM
    got = [
        (r.vec_id, r.adc_dist2)
        for r in ivf_pq_topk(
            coded, cells, books.collect(), query, k=8, nprobe=1, m=M
        ).collect()
    ]

    (cell,) = cells
    centroid = [float(c) for c in cell.centroid]
    resid_df = df.select(
        "vec_id",
        F.zip_with(
            F.col("embedding"), F.lit(centroid).cast("array<double>"),
            lambda x, c: x - c,
        ).alias("embedding"),
    )
    books2 = pq_train(resid_df, m=M, k=K, n_iters=ITERS, dim=DIM)
    codes2 = pq_encode(resid_df, books2, m=M, dim=DIM)
    q_resid = [q - c for q, c in zip(query, centroid)]
    want = [
        (r.vec_id, r.adc_dist2)
        for r in pq_adc_topk(codes2, books2.collect(), q_resid, k=8, m=M).collect()
    ]
    assert got == want


def test_ivf_pq_recall_on_planted_clusters(spark):
    from dug_data_ingest_spark.ext.similarity import ivf_pq_index, ivf_pq_topk

    df = spark.createDataFrame(
        _clustered_corpus(), "vec_id int, embedding array<double>"
    )
    cells, books, coded = ivf_pq_index(df, n_cells=2, m=M, k=4, n_iters=2, dim=DIM)
    # query beside member 10 of the high cluster: its cellmates must
    # fill the top-k, nearest-first head includes the true neighbor
    top = ivf_pq_topk(
        coded, cells, books.collect(), [50.0 - 0.01 * p for p in range(DIM)],
        k=3, nprobe=1, m=M,
    ).collect()
    assert all(r.vec_id >= 10 for r in top)
    assert top[0].vec_id == 10


def test_ivf_pq_rerank_is_exact_within_probed_cells(spark):
    # the reranked composition (the graded sim-ivf-pq-topk shape):
    # with the shortlist covering the probed cells entirely, the
    # result must be the EXACT L2 top-k over those cells' members —
    # quantization error never decides the final ranking
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.ext.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_reranked,
    )

    df = spark.createDataFrame(
        _clustered_corpus(), "vec_id int, embedding array<double>"
    )
    cells, books, coded = ivf_pq_index(
        df, n_cells=2, m=M, k=2, n_iters=2, dim=DIM
    )
    query = [0.1] * DIM
    got = [
        (r.vec_id, round(r.dist2, 6))
        for r in ivf_pq_topk_reranked(
            df, coded, cells, books.collect(), query,
            k=3, shortlist=12, nprobe=1, m=M,
        ).collect()
    ]
    # ground truth: exact L2 over the probed cell's members
    probed_ids = {
        r.vec_id
        for r in ivf_pq_topk(
            coded, cells, books.collect(), query, k=12, nprobe=1, m=M
        ).collect()
    }
    q = F.lit(query).cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(F.col("embedding"), q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    want = [
        (r.vec_id, round(r.dist2, 6))
        for r in df.where(F.col("vec_id").isin(list(probed_ids)))
        .select("vec_id", d2.alias("dist2"))
        .orderBy("dist2", "vec_id")
        .limit(3)
        .collect()
    ]
    assert got == want


def test_ivf_pq_rerank_rejects_shortlist_below_k(spark):
    import pytest as _pytest

    from dug_data_ingest_spark.ext.similarity import (
        ivf_pq_index,
        ivf_pq_topk_reranked,
    )

    df = spark.createDataFrame(
        _clustered_corpus(), "vec_id int, embedding array<double>"
    )
    cells, books, coded = ivf_pq_index(
        df, n_cells=2, m=M, k=2, n_iters=2, dim=DIM
    )
    with _pytest.raises(ValueError, match="shortlist"):
        ivf_pq_topk_reranked(
            df, coded, cells, books.collect(), [0.0] * DIM,
            k=5, shortlist=3, m=M,
        )

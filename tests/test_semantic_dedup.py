"""Model pin for ``semantic_dedup`` (ext/similarity.py) — SemDeDup
composition: cell assignment (argmin L2 against EXPLICIT centroids, so
the model is engine-independent), within-cell cosine pairing, min-id
component survivors, and the technique's inherent cross-cell recall
caveat.
"""

from __future__ import annotations

import math


def _assign_model(vecs: dict[int, list[float]], cents: list[list[float]]) -> dict[int, int]:
    out = {}
    for i, v in vecs.items():
        best = min(
            (sum((x - y) ** 2 for x, y in zip(v, c)), ci)
            for ci, c in enumerate(cents)
        )
        out[i] = best[1]
    return out


def _cos(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
    return round(dot / (na * nb), 4)


def _model_drop(vecs, cents, threshold):
    cell = _assign_model(vecs, cents)
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(vecs)
    for i in ids:
        for j in ids:
            if i < j and cell[i] == cell[j] and _cos(vecs[i], vecs[j]) >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp: dict[int, list[int]] = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    return {i for members in comp.values() for i in members if i != min(members) and len(members) > 1}


def test_semantic_dedup_matches_model_with_explicit_centroids(spark):
    from dug_data_ingest_spark.ext.similarity import semantic_dedup

    # two well-separated cells; near-dup groups planted inside each,
    # plus a singleton per cell
    vecs = {
        0: [1.0, 0.0, 0.0, 0.02],
        1: [1.0, 0.0, 0.0, 0.03],    # ~dup of 0
        2: [0.9, 0.1, 0.0, 0.0],     # same cell, not a dup at 0.999
        3: [0.0, 1.0, 0.0, 0.01],
        4: [0.0, 1.0, 0.0, 0.02],    # ~dup of 3
        5: [0.0, 1.0, 0.0, 0.025],   # ~dup of 3/4 -> one component of 3
        6: [0.1, 0.9, 0.1, 0.0],
    }
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    threshold = 0.999

    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    survivors, drop = semantic_dedup(
        emb, threshold=threshold, centroids=list(enumerate(cents))
    )
    got_drop = {r["vec_id"] for r in drop.collect()}
    got_surv = {r["vec_id"] for r in survivors.collect()}
    want_drop = _model_drop(vecs, cents, threshold)
    assert got_drop == want_drop
    assert got_surv == set(vecs) - want_drop
    assert got_surv | got_drop == set(vecs) and not (got_surv & got_drop)


def test_semantic_dedup_cross_cell_pair_is_not_compared(spark):
    # the published technique's recall trade, pinned: two
    # near-identical vectors whose nearest centroids DIFFER are never
    # paired, so both survive
    from dug_data_ingest_spark.ext.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.9999]), (1, [0.9999, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    survivors, drop = semantic_dedup(emb, threshold=0.9, centroids=cents)
    assert drop.count() == 0
    assert survivors.count() == 2


def test_semantic_dedup_learned_cells_partition_the_corpus(spark):
    # end-to-end with LEARNED centroids on the real embeddings table:
    # survivors and drop partition the id set exactly
    from tests.conftest import TEST_SF_DIR

    from dug_data_ingest_spark.ext.similarity import semantic_dedup

    emb = spark.read.parquet(f"{TEST_SF_DIR}/embeddings.parquet")
    survivors, drop = semantic_dedup(emb, threshold=0.98, n_cells=4, n_iters=2)
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    got_surv = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    got_drop = {r["vec_id"] for r in drop.collect()}
    assert got_surv | got_drop == ids
    assert not (got_surv & got_drop)

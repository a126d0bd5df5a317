"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline (one pass over
  the corpus per query, no index)
- IVF-style search: coarse quantize to centroids, probe only the
  nearest cell(s) — the scale path (touches 1/n_cells of the corpus)

Both are pure DataFrame plans; the vector math is Column expressions
(functions/vectors.py), not UDFs, so it stays inside codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.functions.constants import fold_or_broadcast, sql_literal
from dug_data_ingest_spark.functions.vectors import as_double, cosine, dot

_DOUBLES = T.ArrayType(T.DoubleType())
# a collected codebook row; one subspace's (cluster, centroid) entries
# sorted by cluster (a k-means centroid table is one such list); and
# the whole codebook as one constant, entry s for subspace s
_PQ_ROW = (
    T.StructType()
    .add("subspace", T.IntegerType())
    .add("cluster", T.IntegerType())
    .add("centroid", _DOUBLES)
)
_CELLS = T.ArrayType(T.StructType(_PQ_ROW.fields[1:]))
_PQ_BOOKS = T.ArrayType(_CELLS)


def _scored(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _raw, cos_sim): raw and 4dp cosine of every vector against
    the literal query — the single scoring projection behind
    topk_bruteforce and range_search (one place to change precision or
    vector handling). Top-k ordering MUST use ``_raw``: the DuckDB
    oracles order by the raw cosine, so ordering by the rounded value
    could pick a different row set when a rounded tie straddles the
    LIMIT boundary."""
    q = F.expr(sql_literal(query_vec, _DOUBLES))
    raw = cosine(as_double(F.col(vec_col)), q)
    return embeddings.select(
        F.col(id_col),
        raw.alias("_raw"),
        F.round(raw, 4).alias("cos_sim"),
    )


def topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine similarity to a literal query vector.

    The query vector folds into the plan as a literal array (the
    moral broadcast); ordering ties broken by id for determinism.
    """
    scored = _scored(embeddings, query_vec, id_col, vec_col)
    return (
        scored.orderBy(F.desc("_raw"), F.col(id_col))
        .limit(k)
        .select(id_col, "cos_sim")
    )


def range_search(
    embeddings: DataFrame,
    query_vec: list[float],
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vectors with cosine ≥ threshold against a literal query —
    the range-query sibling of topk_bruteforce (radius instead of k:
    the caller bounds QUALITY, not count). Same scale shape: the
    query folds into the plan as a literal array, the corpus is
    scanned once with zero shuffles, and the filter is codegen-fused;
    at 100 TB compose with the IVF probe exactly like topk."""
    return (
        _scored(embeddings, query_vec, id_col, vec_col)
        .filter(F.col("cos_sim") >= threshold)
        .select(id_col, "cos_sim")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_vec: list[float],
    query_label,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: the top-``k`` most-similar
    vectors whose ``label_col`` DIFFERS from the query's — the pairs a
    contrastive/embedding training pipeline feeds as hard negatives
    (high-similarity, wrong class; the in-batch-negatives upgrade
    every public recipe since SimCLR/DPR documents).

    Same scale shape as topk_bruteforce: the query folds into the
    plan as a literal array, the label filter is codegen-fused into
    the one corpus scan (zero shuffles), top-k plans as
    TakeOrderedAndProject ordered by the RAW cosine (ties broken by
    id; the rounded value is for display/oracles — see _scored's
    boundary note). NULL labels count as a different class
    (null-safe inequality), never silently dropped."""
    q = F.expr(sql_literal(query_vec, _DOUBLES))
    raw = cosine(as_double(F.col(vec_col)), q)
    return (
        embeddings.filter(~F.col(label_col).eqNullSafe(F.lit(query_label)))
        .select(
            F.col(id_col),
            F.col(label_col),
            raw.alias("_raw"),
            F.round(raw, 4).alias("cos_sim"),
        )
        .orderBy(F.desc("_raw"), F.col(id_col))
        .limit(k)
        .select(id_col, label_col, "cos_sim")
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid via posexplode + positional mean — one
    shuffle on (label, pos), rebuilt into an ordered array.

    (With learned IVF cells you'd k-means first; here the stored
    label plays the coarse-quantizer cell id.)
    """
    pos = embeddings.select(
        F.col(label_col),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"),
    )
    means = pos.groupBy(label_col, "pos").agg(F.avg("x").alias("m"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m").alias("v")))),
        lambda s: s.getField("v"),
    )
    return means.groupBy(label_col).agg(ordered.alias("centroid"))


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query, search only
    the best ``n_probe`` cells. Returns (vec_id, cos_sim, label).

    At scale: centroids are tiny (n_cells rows) → the cell choice is
    a broadcast; the corpus scan prunes to the probed cells (partition
    pruning when the table is written partitionBy(label)).
    """
    q = F.expr(sql_literal(query_vec, _DOUBLES))
    cents = label_centroids(embeddings, label_col, vec_col)
    best_cells = (
        cents.select(
            F.col(label_col), cosine(F.col("centroid"), q).alias("cent_sim")
        )
        .orderBy(F.desc("cent_sim"), F.col(label_col))
        .limit(n_probe)
    )
    probed = embeddings.join(
        F.broadcast(best_cells.select(label_col)), label_col, "inner"
    )
    raw = cosine(as_double(F.col(vec_col)), q)
    scored = probed.select(
        F.col(id_col),
        F.col(label_col),
        raw.alias("_raw"),
        F.round(raw, 4).alias("cos_sim"),
    )
    # order by the RAW score (the oracle convention; see _scored)
    return (
        scored.orderBy(F.desc("_raw"), F.col(id_col))
        .limit(k)
        .select(id_col, label_col, "cos_sim")
    )


def cosine_to_query_arrow(query_vec: list[float]):
    """Vectorized (Arrow + numpy) cosine-to-query column — the wide-
    vector alternative to the zip_with/aggregate expression path.

    Higher-order functions evaluate interpreted per element; at 64
    dims the JVM expression wins on overhead, but for 768–4096-dim
    embeddings one numpy matmul per Arrow batch is the faster plan.
    Both paths produce identical scores (asserted in tests)."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def _cos(vs: pd.Series) -> pd.Series:
        m = np.vstack(vs.to_numpy())
        denom = np.linalg.norm(m, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (m @ q) / denom
        # zero-norm rows (and a zero query) must come back NULL, not
        # NaN: Spark sorts NaN ABOVE every number, so a corrupted
        # all-zero embedding would win rank 1 — the codegen path's
        # try_divide returns NULL there (ranks last under desc), and
        # the two scorers must stay interchangeable
        out = pd.array(s, dtype="Float64")
        out[denom == 0] = pd.NA
        return pd.Series(out, dtype="Float64")

    return _cos


def topk_arrow(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """topk_bruteforce with the Arrow-vectorized scorer."""
    score = cosine_to_query_arrow(query_vec)
    # two-step select so the pandas UDF is evaluated ONCE and the
    # rounding derives from the materialized column
    scored = embeddings.select(
        F.col(id_col), score(as_double(F.col(vec_col))).alias("_raw")
    ).select(id_col, "_raw", F.round("_raw", 4).alias("cos_sim"))
    # order by the RAW score (the oracle convention; see _scored)
    return (
        scored.orderBy(F.desc("_raw"), F.col(id_col))
        .limit(k)
        .select(id_col, "cos_sim")
    )


def random_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim, derived
    from md5 so any engine (or oracle) regenerates the same planes.
    These are model parameters: they fold into the plan as literals,
    i.e. the moral broadcast — nothing is shuffled to distribute them.
    """
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _dim_checked(vec: Column, dim: int, caller: str) -> Column:
    """Fail LOUDLY on an embedding/hyperplane dim mismatch: zip_with
    null-pads the shorter side, which nulls the dot product, which
    would otherwise quietly resolve every sign bit to 0 — every row in
    bucket 0 and the 'bucket-local' self-join degenerating to a full
    cross product. Wrong results at test scale, an OOM at corpus
    scale, and nothing to catch it; better one raise_error row than
    that."""
    return F.when(F.size(vec) == F.lit(dim), vec).otherwise(
        F.raise_error(
            F.printf(
                F.lit(
                    f"{caller}: embedding has %s dims, expected {dim}; "
                    "pass dim=<real width> to the entry point"
                ),
                F.size(vec),
            )
        )
    )


def rp_lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-projection LSH bucket id: one sign bit per hyperplane,
    packed to an int. Vectors with high cosine similarity agree on
    most signs, so near-duplicates collide with high probability.
    Dim mismatches raise (see _dim_checked)."""
    guarded = _dim_checked(
        vec, len(planes[0]) if planes else 0, "rp_lsh_bucket"
    )
    bit = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.expr(sql_literal(plane, _DOUBLES))
        bit = bit + F.when(dot(guarded, p) > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bit


def lsh_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH blocking —
    the scale path: candidate pairs come only from same-bucket
    collisions (corpus² / 2^n_planes expected comparisons), then exact
    cosine verifies. Deterministic planes (see random_hyperplanes) keep
    it oracle-replayable.

    At 100 TB: bucket the corpus once (a write partitionBy(bucket)),
    then the self-join is bucket-local; raise n_planes (and/or use
    banded multi-probe) to keep per-bucket sizes bounded.
    """
    planes = random_hyperplanes(n_planes, dim)
    bucketed = embeddings.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("v"),
        rp_lsh_bucket(as_double(F.col(vec_col)), planes).alias("bucket"),
    )
    a = bucketed.select(
        F.col("bucket"), F.col(id_col).alias("a"), F.col("v").alias("va")
    )
    b = bucketed.select(
        F.col("bucket"), F.col(id_col).alias("b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_banded_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 8,
    band_size: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via BANDED sign-LSH: the n_planes sign
    bits split into bands of band_size; a pair is a candidate if it
    collides in ANY band (OR across bands), then exact cosine
    verifies. Same amplification move as the minhash bands and the
    4×16-bit SimHash lanes: per-band collision probability for a
    cosine-s pair is (1 - arccos(s)/pi)^band_size, and OR-ing b bands
    lifts recall to 1-(1-p)^b — at s=0.3 with 4 bands of 2 that is
    ~0.83 where the single 8-plane band manages ~0.017 (measured by
    sim-lsh-recall / sim-lsh-recall-banded).

    Plan shape: the band keys are row-local Column arithmetic over
    the same plane literals (no shuffle to distribute them), the
    bands stack via posexplode (rows ×b, still row-local), and the
    candidate join is per-(band, key) equality — bucket-local at any
    scale. A pair colliding in several bands is deduplicated by the
    distinct on (a, b, cos_sim) after the verify, so the b-way
    multiplicity never survives the stage."""
    if n_planes % band_size:
        raise ValueError("lsh_banded_pairs: band_size must divide n_planes")
    planes = random_hyperplanes(n_planes, dim)
    n_bands = n_planes // band_size
    v = _dim_checked(as_double(F.col(vec_col)), dim, "lsh_banded_pairs")
    bits = [
        F.when(dot(v, F.expr(sql_literal(p, _DOUBLES))) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        for p in planes
    ]
    band_keys = [
        sum(
            (bits[b * band_size + j] * F.lit(2**j) for j in range(band_size)),
            F.lit(0),
        )
        for b in range(n_bands)
    ]
    kv = embeddings.select(
        F.col(id_col), v.alias("v"), F.posexplode(F.array(*band_keys)).alias("band", "key")
    )
    a = kv.select("band", "key", F.col(id_col).alias("a"), F.col("v").alias("va"))
    b = kv.select("band", "key", F.col(id_col).alias("b"), F.col("v").alias("vb"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def _cell_table(centroids: list) -> list[tuple[int, list[float]]]:
    """(cluster, centroid) pairs as a ``_CELLS`` value, sorted by
    cluster."""
    return sorted((int(c), [float(x) for x in v]) for c, v in centroids)


def _assign(
    embeddings: DataFrame, centroids: list, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cluster): each vector's nearest centroid by squared L2,
    over ``centroids`` given as (cluster, centroid) pairs (the rows
    kmeans_centroids returns). The centroid table folds into the plan
    (``fold_or_broadcast``) and the argmin is ``_pq_argmin``, so the
    assignment is a row-local projection: no join, no shuffle. Raw
    doubles, NOT rounded: the DuckDB oracle's argmin orders by the
    un-rounded distance, and both engines fold (x-y)^2 left to right
    over array positions with the lowest-cluster tie-break, so the
    assignments match bit for bit."""
    return fold_or_broadcast(
        embeddings,
        _cell_table(centroids),
        _CELLS,
        lambda df, cells: df.select(
            F.col(id_col),
            F.col(vec_col),
            _pq_argmin(cells, as_double(F.col(vec_col))).alias("cluster"),
        ),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[Row]:
    """Lloyd's k-means — the learned coarse quantizer for IVF
    (ivf_topk uses stored labels; this learns real cells). Returns
    the collected (cluster, centroid) rows, at most k; ``_assign``
    against them gives the cell of every vector.

    It is PQ with one subspace: the one Lloyd loop (``_lloyd``) over
    the whole vector. Deterministic: init cluster = id % k
    (seeded-sample init would work too but breaks oracle replay); each
    round is one map-side-combined (cluster, pos) mean update, collected
    (k x dim values), then a row-local re-assignment against the
    folded centroids. The corpus is scanned once per round and never
    shuffled. Learned centroid doubles are not guaranteed bit-identical
    across engines (avg() merges partial sums in partition order), so
    the oracle-replayed slug grades populations, which are exact."""
    rows = _lloyd(
        embeddings.select(
            F.col(id_col),
            F.lit(0).alias("subspace"),
            as_double(F.col(vec_col)).alias("subvec"),
        ),
        k,
        n_iters,
        id_col,
        "kmeans_centroids",
    )
    return [Row(cluster=r.cluster, centroid=r.centroid) for r in rows]


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs, blocked: only pairs in the same block
    are compared (label here; minhash band or LSH bucket in general —
    the blocking is what makes this feasible at corpus scale).
    """
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("a"),
        as_double(F.col(vec_col)).alias("va"),
    )
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("b"),
        as_double(F.col(vec_col)).alias("vb"),
    )
    pairs = a.join(b, "blk").filter(F.col("a") < F.col("b"))
    return (
        pairs.select(
            "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    n_iters: int = 2,
    centroids: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): drop all-but-one of every group of embeddings
    whose cosine similarity exceeds ``threshold``, comparing only
    WITHIN k-means cells. Returns ``(survivors, drop)`` — survivors is
    the input minus the drop set; drop is the (id)-frame of
    non-canonical (non-min-id) members of each within-cell near-dup
    component.

    Composition of existing verified parts: ``kmeans_centroids``
    (deterministic Lloyd; or pass precomputed ``centroids`` —
    (cluster, centroid) pairs — to skip training), ``_assign``
    (row-local argmin over the folded centroids, no shuffle),
    ``cosine_dup_pairs`` blocked on the learned cell,
    ``non_canonical_ids`` (min-label components, adaptive pointer
    jumping), and a broadcast-friendly LEFT ANTI for the survivors.

    Scale shape: centroids are k rows, folded into the plan; the one
    quadratic step is the within-cell pair join, ~ (n/k)^2 per cell —
    size ``n_cells`` so a cell fits a task budget (the published
    recipe uses k ~ 11k cells for a 100M-embedding corpus, the same
    n/k arithmetic). The corpus is scanned once per k-means round and
    shuffled only on the cell id for the pair join.

    Inherent recall caveat (the technique's, not this plan's): a
    near-dup pair straddling a cell boundary is never compared —
    SemDeDup trades that tail for tractability. Pinned in
    tests/test_semantic_dedup.py so the trade stays visible.

    Library surface, not a registered slug: learned-float centroids
    are engine-inexact (see kmeans_centroids), so the gate is a model
    pin with EXPLICIT centroids, not a DuckDB hash oracle.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            embeddings, k=n_cells, n_iters=n_iters, id_col=id_col, vec_col=vec_col
        )
    assigned = _assign(embeddings, centroids, id_col, vec_col)
    pairs = cosine_dup_pairs(
        assigned, threshold, block_col="cluster", id_col=id_col, vec_col=vec_col
    )
    from dug_data_ingest_spark.ext.dedup import non_canonical_ids

    drop = non_canonical_ids(pairs, id_col=id_col)
    survivors = embeddings.join(drop, id_col, "left_anti")
    return survivors, drop


# ---------------------------------------------------------------------------
# Product quantization (PQ): the 100-TB ANN memory answer. IVF prunes
# WHICH vectors a query scans; PQ shrinks WHAT is scanned — each
# d-dim float vector becomes m small codes (one per d/m-dim subspace,
# each quantized to its own k-centroid codebook), a 32x-64x
# compression, and query scoring becomes m table lookups per vector
# (asymmetric distance, ADC) instead of d multiplies. Spark shape:
# training is the one Lloyd loop over the (id x subspace) exploded
# frame — ONE mean-update shuffle per round for ALL subspaces
# together, corpus scanned never shuffled; codebooks are m*k rows;
# encoded scoring is a row-local expression over a distance table
# folded into the plan (fold_or_broadcast: a literal
# up to _LITERAL_MAX_ELEMS values, a 1-row broadcast above), so top-k
# plans as TakeOrderedAndProject.
# Exact arithmetic is pinned to a numpy reference model in
# tests/test_pq_properties.py (float sums differ across engines in
# low-order bits, so this stays library surface rather than a
# hash-gated oracle slug — same caveat kmeans_centroids documents).
# ---------------------------------------------------------------------------


def _pq_subvectors(
    embeddings: DataFrame, m: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, subvec): the vector split into m contiguous
    d/m-dim slices, exploded — the frame PQ trains and encodes on."""
    if dim % m:
        raise ValueError(
            f"pq: m={m} must divide the vector dimension {dim}; ragged "
            "subspaces would silently misalign codes against codebooks"
        )
    d = dim // m
    # _dim_checked first: slicing an undersized vector would yield
    # empty subvectors, missing codebook entries, and NULL-padded
    # zip_with distances downstream — silently, without it
    vec = _dim_checked(F.col(vec_col), dim, "pq")
    slices = F.array(*[as_double(F.slice(vec, s * d + 1, d)) for s in range(m)])
    return embeddings.select(
        F.col(id_col), F.posexplode(slices).alias("subspace", "subvec")
    )


def _lloyd(
    sub: DataFrame, k: int, n_iters: int, id_col: str, caller: str
) -> list[Row]:
    """Deterministic Lloyd over the (id, subspace, subvec) frame
    ``sub``, every subspace at once: the one fit behind pq_train and
    kmeans_centroids (one subspace). Returns the collected
    (subspace, cluster, centroid) rows; none for an empty frame.

    Init cluster = id % k (replayable, no RNG). Each round is ONE
    map-side-combined (subspace, cluster, pos) mean — posexploded, so
    no dimension argument — collected in one bounded job (k x dim
    values at any corpus size) and assembled on the driver;
    re-assignment folds the collected centroids into the row-local
    ``_pq_argmin`` (``fold_or_broadcast``). No join and no per-round
    corpus exchange: the corpus is scanned once per round, never
    shuffled. The rows are one learned snapshot by construction, so
    every consumer reads the same centroids (the avg
    partial-merge-order caveat cannot produce divergent copies)."""
    if n_iters < 1:
        raise ValueError(
            f"{caller}: n_iters must be >= 1 (got {n_iters}); no "
            "centroid exists before the first update step"
        )
    assigned = sub.withColumn("cluster", (F.col(id_col) % k).cast("int"))
    cents: dict[tuple[int, int], list[float]] = {}
    for it in range(n_iters):
        if it:
            # element_at on the folded all-subspace codebook (entry s:
            # subspace s's (cluster, centroid) list, sorted by cluster)
            # selects the row's candidate list
            books = [
                [(c, v) for (s2, c), v in cents.items() if s2 == s]
                for s in range(1 + max(s for s, _ in cents))
            ]
            assigned = fold_or_broadcast(
                sub,
                books,
                _PQ_BOOKS,
                lambda df, b: df.withColumn(
                    "cluster",
                    _pq_argmin(
                        F.element_at(b, F.col("subspace") + 1), F.col("subvec")
                    ),
                ),
            )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in (
            assigned.select(
                "subspace", "cluster", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("subspace", "cluster", "pos")
            .agg(F.avg("x").alias("x"))
            .collect()
        ):
            means.setdefault((r.subspace, r.cluster), {})[r.pos] = r.x
        if not means:  # an empty corpus has no centroids to refine
            break
        cents = {key: [v[p] for p in sorted(v)] for key, v in sorted(means.items())}
    return [Row(subspace=s, cluster=c, centroid=v) for (s, c), v in cents.items()]


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Learn PQ codebooks: (subspace, cluster, centroid[d/m]) — the one
    Lloyd fit (``_lloyd``) over the m contiguous d/m-dim slices. The
    returned codebook is a local-relation DataFrame, so a caller's
    collect()/broadcast of it is free."""
    rows = _lloyd(
        _pq_subvectors(embeddings, m, dim, id_col, vec_col),
        k,
        n_iters,
        id_col,
        "pq_train",
    )
    return _pq_books_df(embeddings.sparkSession, rows)


def _pq_books_df(spark: SparkSession, rows: list) -> DataFrame:
    """The collected codebook as a VALUES inline table — a true
    LocalRelation, unlike createDataFrame(rows) which parallelizes an
    RDD (collect() on it launches a real Spark job; measured ~0.5 s of
    the query's construction). Collecting, broadcasting, or folding a
    LocalRelation is driver-local and free. Doubles round-trip
    bit-exactly via sql_literal."""
    if not rows:
        return spark.createDataFrame([], _PQ_ROW)
    vals = ", ".join(
        "({}, {}, {})".format(
            *(sql_literal(v, f.dataType) for v, f in zip(r, _PQ_ROW.fields))
        )
        for r in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(subspace, cluster, centroid)"
    )


def _pq_books_by_subspace(
    codebook_rows: list, m: int, d: int, caller: str
) -> list[list[tuple[int, list[float]]]]:
    """The collected codebook as a ``_PQ_BOOKS`` value: entry s is
    subspace s's [(cluster, centroid)] sorted by cluster. Ragged
    sub-centroids and missing subspaces fail loudly instead of
    silently truncating distances or dropping codes."""
    by_s: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebook_rows:
        if len(r.centroid) != d:
            raise ValueError(
                f"{caller}: codebook sub-centroid has "
                f"{len(r.centroid)} dims, expected d={d} — codebook "
                "and m/dim disagree"
            )
        by_s.setdefault(r.subspace, []).append(
            (r.cluster, [float(c) for c in r.centroid])
        )
    if sorted(by_s) != list(range(m)):
        raise ValueError(
            f"{caller}: codebook covers subspaces {sorted(by_s)}, "
            f"expected 0..{m - 1} — codebook and m disagree"
        )
    return [sorted(by_s[s]) for s in range(m)]


def _pq_argmin(cands: Column, subvec: Column) -> Column:
    """Cluster id of the entry of ``cands`` (array<struct<cluster,
    centroid>>) nearest ``subvec``: array_min over (d2, cluster)
    structs — the lowest-cluster tie-break via lexicographic struct
    order, the same left-to-right (x-y)^2 fold the reference model
    replays. Higher-order functions keep the expression TREE tiny (an
    unrolled ~400-node arithmetic argmin blew janino's generated-method
    limits and fell back to interpreted projection) while the per-row
    work is d multiplies per candidate."""
    return F.array_min(
        F.transform(
            cands,
            lambda e: F.named_struct(
                F.lit("d2"),
                F.aggregate(
                    F.zip_with(
                        subvec, e["centroid"], lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.lit("cluster"),
                e["cluster"],
            ),
        )
    )["cluster"]


def _pq_encoded(
    df: DataFrame, codebook_rows: list, m: int, dim: int, vec_col: str, keep: list
) -> DataFrame:
    """``df.select(*keep, codes[m])``: per subspace, the argmin of the
    contiguous d-dim slice of ``vec_col`` against that subspace's
    codebook entries, all over ONE folded codebook constant. No
    explode, no join, no shuffle — encoding a 100-TB corpus is a pure
    projection over one scan. A codebook that covers no subspace at
    all (trained on an empty corpus) encodes to zero rows."""
    if not codebook_rows:
        return df.select(
            *keep, F.lit(None).cast("array<int>").alias("codes")
        ).filter(F.lit(False))
    if dim % m:
        raise ValueError(
            f"pq_encode: m={m} must divide the vector dimension {dim}; "
            "ragged subspaces would silently misalign codes against "
            "codebooks"
        )
    d = dim // m
    vec = _dim_checked(F.col(vec_col), dim, "pq_encode")
    subvecs = [as_double(F.slice(vec, s * d + 1, d)) for s in range(m)]
    return fold_or_broadcast(
        df,
        _pq_books_by_subspace(codebook_rows, m, d, "pq_encode"),
        _PQ_BOOKS,
        lambda f, books: f.select(
            *keep,
            F.array(
                *[
                    _pq_argmin(F.element_at(books, s + 1), subvecs[s])
                    for s in range(m)
                ]
            ).alias("codes"),
        ),
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes[m]): each vector reduced to its per-subspace nearest
    codebook ids, ordered by subspace. At rest this is the compressed
    index a 100-TB corpus stores instead of raw floats.

    Since r14 the collected codebook folds into a row-local argmin
    (``_pq_encoded``), so encoding is a single projection — the r13
    shape (explode to (id, subspace, subvec), broadcast join, TWO
    corpus-wide groupBys) shuffled the exploded corpus twice per
    encode. The collect is m*k rows, bounded by construction (and
    free when ``codebooks`` is pq_train's local-relation output). A
    codebook that covers no subspace at all (trained on an empty
    corpus) still encodes to zero rows, matching the old inner-join
    behavior; a PARTIALLY covering codebook fails loudly here instead
    of emitting short codes arrays that _adc_score would reject
    later."""
    return _pq_encoded(
        embeddings, codebooks.collect(), m, dim, vec_col, [F.col(id_col)]
    )


def _adc_table(
    books: list[list[tuple[int, list[float]]]], query: list
) -> list[list[float]]:
    """The (m x n_clusters) squared-L2 table from each d-dim slice of
    ``query`` to every sub-centroid of ``books`` (a
    ``_pq_books_by_subspace`` value) — the one table builder behind
    pq_adc_topk and ivf_pq_topk. Lloyd can leave a cluster id empty;
    it scores +inf so a stale code pointing at it can never win
    silently."""
    d = len(books[0][0][1])
    n_clusters = 1 + max(c for entries in books for c, _ in entries)
    table = []
    for s, entries in enumerate(books):
        q_sub = query[s * d : (s + 1) * d]
        row = [float("inf")] * n_clusters
        for c, cent in entries:
            row[c] = sum((float(q) - x) ** 2 for q, x in zip(q_sub, cent))
        table.append(row)
    return table


def _adc_score(table: Column, m: int, caller: str) -> Column:
    """Row-local ADC score of the ``codes`` column against a folded
    (m x n_clusters) squared-distance table — the one scoring
    expression behind pq_adc_topk and ivf_pq_topk so a guard fix can
    never drift between them. Codes shorter than m would NULL-pad the
    zip, NULL the score, and ascending sort is nulls-FIRST — corrupted
    rows would win the top-k silently. Validate the length loudly
    instead (the _dim_checked posture), and belt-and-braces guard the
    folded score against NULLs."""
    checked = F.when(
        F.size(F.col("codes")) == F.lit(m), F.col("codes")
    ).otherwise(
        F.raise_error(
            F.printf(
                F.lit(
                    f"{caller}: codes array has %s entries, expected "
                    f"m={m}; codes and codebook disagree"
                ),
                F.size(F.col("codes")),
            )
        )
    )
    score = F.aggregate(
        F.zip_with(
            checked,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, s: F.element_at(
                F.element_at(table, s + F.lit(1)), code + F.lit(1)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(score.isNotNull(), score).otherwise(
        F.raise_error(
            F.lit(
                f"{caller}: NULL ADC score (NULL code entry?) — "
                "refusing to rank it above real candidates"
            )
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook_rows: list,
    query_vec: list,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays a full
    float vector, each candidate contributes m table lookups.

    ``codebook_rows`` is the COLLECTED codebook (m*k rows — bounded by
    construction, the PQ analogue of broadcasting IVF centroids). The
    per-(subspace, cluster) squared distance to the query folds into
    the plan as one nested-array constant (``fold_or_broadcast``), so
    scoring is a row-local expression over the codes column — no
    join, no shuffle; ``orderBy.limit`` plans as
    TakeOrderedAndProject."""
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"pq_adc_topk: m={m} must divide query dim {dim}")
    books = _pq_books_by_subspace(codebook_rows, m, dim // m, "pq_adc_topk")
    return (
        fold_or_broadcast(
            codes,
            _adc_table(books, query_vec),
            T.ArrayType(_DOUBLES),
            lambda df, table: df.select(
                F.col(id_col), _adc_score(table, m, "pq_adc_topk").alias("adc_dist2")
            ),
        )
        .orderBy(F.col("adc_dist2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk_reranked(
    embeddings: DataFrame,
    codes: DataFrame,
    codebook_rows: list,
    query_vec: list,
    k: int = 10,
    shortlist: int = 100,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand: DataFrame | None = None,
) -> DataFrame:
    """PQ as deployed: ADC over the compressed codes produces a
    ``shortlist`` of candidates, then ONLY those ids are re-scored
    with exact L2 against their raw vectors — the standard
    two-stage trade (quantization error never decides the final
    ranking, and the expensive exact pass touches shortlist rows,
    not the corpus). The shortlist is id-cardinality bounded, so the
    join back to raw vectors broadcasts; at 100 TB the corpus side
    is scanned once and never shuffled.

    ``cand``: optionally the ALREADY-BUILT shortlist id frame (the
    ``pq_adc_topk(k=shortlist).select(id_col)`` output, ideally
    snapshot via localCheckpoint) for callers that also consume the
    shortlist themselves — without it the corpus-wide ADC pass runs
    once here and once in the caller (recompute elimination, guide
    §5; at 100 TB that is a second full scan of the coded corpus)."""
    if shortlist < k:
        raise ValueError(
            f"pq_topk_reranked: shortlist={shortlist} must be >= k={k} "
            "(a shortlist smaller than the answer set guarantees "
            "missing results)"
        )
    if cand is None:
        cand = pq_adc_topk(
            codes, codebook_rows, query_vec, k=shortlist, m=m, id_col=id_col
        ).select(id_col)
    q = F.expr(sql_literal(query_vec, _DOUBLES))
    # _dim_checked: a vector shorter than the query would NULL-pad the
    # zip, NULL dist2, and rank FIRST under ascending nulls-first
    d2 = F.aggregate(
        F.zip_with(
            as_double(_dim_checked(F.col(vec_col), len(query_vec), "pq_topk_reranked")),
            q,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        embeddings.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), d2.alias("dist2"))
        .orderBy(F.col("dist2").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composition production ANN indexes actually ship
# (FAISS's IVFPQ): a coarse k-means quantizer prunes WHICH cells a
# query scans (IVF), and PQ codes over the RESIDUAL (vector minus its
# cell centroid) shrink WHAT is scanned — residuals are centered near
# zero, so the same codebook budget quantizes them with far less
# error than raw vectors. Query cost: nprobe cells' worth of rows,
# each scored by m table lookups against that cell's own distance
# table (the query residual differs per cell).
# ---------------------------------------------------------------------------


def ivf_pq_index(
    embeddings: DataFrame,
    n_cells: int = 8,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, DataFrame, DataFrame]:
    """Build the index: returns ``(cells, codebooks, coded)`` where
    cells is the coarse quantizer's collected (cluster, centroid) rows
    (kmeans_centroids, at most n_cells — the IVF probe list), and
    coded is (id, cell, codes[m]) — the compressed inverted file. The
    cell is the row-local ``_pq_argmin`` (as in ``_assign``) and the
    residual subtracts that cell's centroid, both against ONE folded
    centroid table, so the residual frame is a projection of the scan
    that PQ trains and encodes on — cheap to recompute per Lloyd
    round, hence not snapshotted. The corpus is scanned once per round,
    never shuffled."""
    cells = kmeans_centroids(
        embeddings, k=n_cells, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    vec = as_double(_dim_checked(F.col(vec_col), dim, "ivf_pq_index"))

    def residual(df: DataFrame, cs: Column) -> DataFrame:
        nearest = F.filter(cs, lambda e: e["cluster"] == F.col("cell"))[0]
        return df.withColumn("cell", _pq_argmin(cs, vec)).select(
            F.col(id_col),
            F.col("cell"),
            F.zip_with(vec, nearest["centroid"], lambda x, c: x - c).alias(
                "residual"
            ),
        )

    residuals = fold_or_broadcast(
        embeddings,
        _cell_table(cells),
        _CELLS,
        residual,
    )
    books = pq_train(
        residuals, m=m, k=k, n_iters=n_iters, dim=dim,
        id_col=id_col, vec_col="residual",
    )
    # codes as a row-local argmin projection WITH the cell id riding
    # along — the r13 shape joined pq_encode's output back to the
    # residual frame by id just to re-attach ``cell`` (one whole
    # exchange + a second corpus pass, removed)
    rows = books.collect()  # free: pq_train returns a local relation
    coded = _pq_encoded(
        residuals, rows, m, dim, "residual", [F.col(id_col), F.col("cell")]
    )
    return cells, books, coded


def ivf_pq_topk(
    coded: DataFrame,
    cells: list,
    codebook_rows: list,
    query_vec: list,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe-bounded ADC top-k over the IVF-PQ index: score only the
    ``nprobe`` cells whose centroids are nearest the query, each with
    its OWN distance table built from the query's residual in that
    cell. The per-cell tables fold into the plan as one constant
    (``fold_or_broadcast``), picked by a when-chain keyed on the row's
    cell id, so scoring stays a row-local expression and
    the cell filter prunes (1 - nprobe/n_cells) of the corpus before
    any arithmetic; top-k plans as TakeOrderedAndProject."""
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"ivf_pq_topk: m={m} must divide query dim {dim}")
    d = dim // m
    # zip() truncates silently on a dimension mismatch (half-scored
    # distances, wrong ranking, no error) — fail loudly first, matching
    # the DataFrame side's _dim_checked/_adc_score posture
    for r in cells:
        if len(r.centroid) != dim:
            raise ValueError(
                f"ivf_pq_topk: cell centroid has {len(r.centroid)} dims, "
                f"expected the query's {dim} — index and query trained "
                "at different dims"
            )
    by_dist = sorted(
        cells,
        key=lambda r: (
            sum((float(q) - float(c)) ** 2 for q, c in zip(query_vec, r.centroid)),
            r.cluster,
        ),
    )
    probed = by_dist[: max(1, nprobe)]
    books = _pq_books_by_subspace(codebook_rows, m, d, "ivf_pq_topk")
    # the query's residual IN each probed cell gets its own table
    tables = [
        _adc_table(books, [float(q) - float(c) for q, c in zip(query_vec, r.centroid)])
        for r in probed
    ]

    def score(df: DataFrame, tbls: Column) -> DataFrame:
        # when-chain keyed on the row's cell id: built from the LAST
        # probed cell inward so each earlier cell's branch wraps the
        # rest (the final fallthrough is unreachable — rows outside the
        # probed cells are filtered before scoring)
        table = F.element_at(tbls, len(probed))
        for i in reversed(range(len(probed) - 1)):
            table = F.when(
                F.col("cell") == F.lit(probed[i].cluster), F.element_at(tbls, i + 1)
            ).otherwise(table)
        return df.select(
            F.col(id_col),
            F.col("cell"),
            _adc_score(table, m, "ivf_pq_topk").alias("adc_dist2"),
        )

    return (
        fold_or_broadcast(
            coded.filter(F.col("cell").isin([r.cluster for r in probed])),
            tables,
            T.ArrayType(T.ArrayType(_DOUBLES)),
            score,
        )
        .orderBy(F.col("adc_dist2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk_reranked(
    embeddings: DataFrame,
    coded: DataFrame,
    cells: list,
    codebook_rows: list,
    query_vec: list,
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 2,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ as deployed (FAISS IVFPQ + refine): the probe-bounded
    ADC pass produces a ``shortlist`` of candidate ids, then ONLY
    those rows are re-scored with exact L2 against their raw vectors
    — quantization error never decides the final ranking, and the
    recall ceiling becomes cell confinement alone (what nprobe
    bought), not ADC distortion. Same two-stage trade as
    ``pq_topk_reranked``, with the IVF cell filter pruning
    (1 - nprobe/n_cells) of the corpus before any scoring.

    Scale shape: the shortlist is id-cardinality bounded, so the join
    back to raw vectors broadcasts; the corpus side is scanned once
    (cell-filtered) and never shuffled.

    ``cand``: optionally the ALREADY-BUILT shortlist id frame (the
    ``ivf_pq_topk(k=shortlist).select(id_col)`` output) for callers
    that also consume the shortlist themselves — without it the
    probe-bounded ADC pass runs once here and once in the caller
    (recompute elimination, guide §5)."""
    if shortlist < k:
        raise ValueError(
            f"ivf_pq_topk_reranked: shortlist={shortlist} must be >= "
            f"k={k} (a shortlist smaller than the answer set "
            "guarantees missing results)"
        )
    if cand is None:
        cand = ivf_pq_topk(
            coded, cells, codebook_rows, query_vec,
            k=shortlist, nprobe=nprobe, m=m, id_col=id_col,
        ).select(id_col)
    q = F.expr(sql_literal(query_vec, _DOUBLES))
    d2 = F.aggregate(
        F.zip_with(
            as_double(
                _dim_checked(
                    F.col(vec_col), len(query_vec), "ivf_pq_topk_reranked"
                )
            ),
            q,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        embeddings.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), d2.alias("dist2"))
        .orderBy(F.col("dist2").asc(), F.col(id_col).asc())
        .limit(k)
    )

"""Model-based property tests for recall/coverage invariants the
DuckDB oracles structurally CANNOT check, because the oracle mirrors
the same blocking/fan-out arithmetic and would agree with an
off-by-one on both sides:

- simhash 4-lane pigeonhole blocking: the per-lane equality join must
  find EVERY pair within Hamming distance 3 with its exact distance —
  checked against a brute-force popcount model on hypothesis-built
  codes (random bases + forced <=3-bit flips, since random 64-bit
  pairs are essentially never near).
- overlapping chunking: every chunk placed back at chunk_idx*stride
  must stitch to exactly the original text (full coverage, correct
  overlap, no empty tail chunk) for arbitrary unicode strings and
  several (chunk, stride) geometries.
"""

from __future__ import annotations

from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from dug_data_ingest_spark.ext.dedup import simhash_near_pairs
from dug_data_ingest_spark.queries.curation import chunk_with_overlap

# --- simhash pigeonhole ----------------------------------------------------

# (base code, bits to flip for the partner code): each tuple plants one
# pair at a known Hamming distance <= 3; sets of <=1 flip also produce
# distance-0 duplicates, and independent bases give far-apart pairs
_planted = st.tuples(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.lists(st.integers(min_value=0, max_value=63), max_size=3, unique=True),
)


def _lanes(code: int) -> tuple[int, int, int, int]:
    return tuple((code >> (16 * l)) & 0xFFFF for l in range(4))


@given(planted=st.lists(_planted, min_size=1, max_size=4))
@example(planted=[(0, [0, 1, 2])])          # distance exactly 3
@example(planted=[(0, []), ((1 << 64) - 1, [])])  # identical + antipodal
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_simhash_lane_join_finds_every_pair_within_hamming_3(spark, planted):
    codes: list[int] = []
    for base, flips in planted:
        partner = base
        for bit in flips:
            partner ^= 1 << bit
        codes.extend([base, partner])

    rows = [(i, *_lanes(c)) for i, c in enumerate(codes)]
    df = spark.createDataFrame(
        rows, "doc_id int, band0 int, band1 int, band2 int, band3 int"
    )
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_near_pairs(df, max_hamming=3, id_col="doc_id").collect()
    }
    want = {
        (i, j, (codes[i] ^ codes[j]).bit_count())
        for i in range(len(codes))
        for j in range(i + 1, len(codes))
        if (codes[i] ^ codes[j]).bit_count() <= 3
    }
    assert got == want


# --- chunk coverage / reconstruction ---------------------------------------

_text = st.text(
    alphabet=st.sampled_from("ab |.€漢\n'\"<&"),  # multibyte + XML-hostile
    max_size=60,
)


@given(
    texts=st.lists(_text, min_size=1, max_size=5),
    geometry=st.sampled_from([(5, 3), (5, 5), (7, 2), (200, 150)]),
)
@example(texts=[""], geometry=(5, 3))
@example(texts=["abcde"], geometry=(5, 3))   # exactly one full window
@example(texts=["abcdef"], geometry=(5, 3))  # one char past the window
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunks_stitch_back_to_the_original_text(spark, texts, geometry):
    chunk_len, stride = geometry
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    out = chunk_with_overlap(
        docs, chunk_len=chunk_len, stride=stride
    ).collect()

    by_doc: dict[int, dict[int, str]] = {}
    for r in out:
        assert r.chunk_len == len(r.chunk)
        assert len(r.chunk) <= chunk_len
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk

    import math

    for doc_id, text in enumerate(texts):
        chunks = by_doc[doc_id]
        n_expect = 1 + math.ceil(max(0, len(text) - chunk_len) / stride)
        assert sorted(chunks) == list(range(n_expect))
        # stitch: each chunk pasted at its stride offset reproduces
        # the text exactly — full coverage AND correct overlap
        rec: list[str] = []
        for idx in range(n_expect):
            start = idx * stride
            piece = chunks[idx]
            assert text[start : start + chunk_len] == piece
            rec[start:] = piece
        assert "".join(rec) == text


def test_chunk_geometry_guard_rejects_gapping_stride(spark):
    import pytest

    docs = spark.createDataFrame([(1, "abc")], "doc_id int, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_with_overlap(docs, chunk_len=3, stride=4)


# --- triangle exactly-once counting ------------------------------------------

# undirected edges over <=7 nodes; orientation (u < v) applied below,
# mirroring the graded query's construction
_edges = st.sets(
    st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=12,
)


@given(raw=_edges)
@example(raw={(0, 1), (1, 2), (0, 2)})                      # one triangle
@example(raw={(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)})      # two sharing an edge
@example(raw={(0, 1), (1, 0), (1, 2), (0, 2)})              # both directions given
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_wedge_close_counts_each_triangle_exactly_once(spark, raw):
    from itertools import combinations

    from dug_data_ingest_spark.queries.pipelines import count_triangles

    oriented = {(min(u, v), max(u, v)) for u, v in raw}
    nodes = sorted({n for e in oriented for n in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {(a, b), (b, c), (a, c)} <= oriented
    )
    df = spark.createDataFrame(sorted(oriented), "u int, v int")
    row = count_triangles(df).collect()[0]
    assert row.n_edges == len(oriented)
    assert row.n_triangles == want
    # the at-scale degree orientation must agree: exactly-once holds
    # for ANY acyclic orientation, and re-orienting must not create
    # or lose edges
    row_deg = count_triangles(df, orient_by_degree=True).collect()[0]
    assert row_deg.n_edges == len(oriented)
    assert row_deg.n_triangles == want


# --- path transitions under timestamp ties -----------------------------------

# events as (user_id, ts_offset_seconds, event_id, event_type): tiny
# ts pool forces same-second ties, so the event_id tiebreak is load-
# bearing in almost every example
_events = st.lists(
    st.tuples(
        st.integers(0, 2),                 # user
        st.integers(0, 3),                 # ts offset (ties likely)
        st.sampled_from("pqrs"),           # event type
    ),
    min_size=2,
    max_size=12,
)


@given(rows=_events)
@example(rows=[(0, 1, "p"), (0, 1, "q"), (0, 1, "r")])  # all ties
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_path_transitions_match_sorted_walk_under_ties(spark, rows):
    import datetime

    from dug_data_ingest_spark.queries.analytics import path_transitions

    base = datetime.datetime(2025, 1, 1)
    data = [
        (u, base + datetime.timedelta(seconds=off), i, etype)
        for i, (u, off, etype) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id int, event_type string"
    ).repartition(5)  # adversarial placement: order must come from the sort

    model: dict[tuple[str, str], int] = {}
    for u in {r[0] for r in data}:
        walk = sorted((r for r in data if r[0] == u), key=lambda r: (r[1], r[2]))
        for prev, nxt in zip(walk, walk[1:]):
            key = (prev[3], nxt[3])
            model[key] = model.get(key, 0) + 1

    got = {
        (r.prev_type, r.next_type): r.n_steps
        for r in path_transitions(df).collect()
    }
    assert got == model


# --- exact jaccard vs a brute-force model -----------------------------------

import re as _re


def _model_shingles(text: str, k: int = 3) -> set:
    words = _re.sub(r"[^a-z0-9 ]", "", text.lower()).strip()
    toks = [w for w in _re.split(r" +", words) if w] if words else []
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


_doc = st.text(
    alphabet=st.sampled_from("ab c1.!É"),  # punctuation + accents fold away
    max_size=40,
)


@given(texts=st.lists(_doc, min_size=2, max_size=6))
@example(texts=["a b c d", "a b c d"])          # identical docs
@example(texts=["a b c", "x y z"])              # disjoint
@example(texts=["", "a b", "a b c"])            # below-k docs drop out
@example(texts=["a b c a b c", "a b c"])        # duplicate shingles dedupe
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_uncapped_jaccard_matches_set_model(spark, texts):
    """ngram_jaccard_pairs must equal the
    literal set definition — every pair sharing >= 1 shingle, Jaccard
    = |∩|/|∪| rounded to 4dp, threshold 0 so nothing hides — on
    adversarial tiny documents (empty, below-k, punctuation-only,
    repeated shingles). The oracle replays the same pipeline shape,
    so a normalization or dedup slip could agree on both sides; this
    pins the spec itself."""
    from dug_data_ingest_spark.ext.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    sets = {i: _model_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = sets[i] & sets[j]
            if inter:
                want[(i, j)] = round(len(inter) / len(sets[i] | sets[j]), 4)
    assert got == want


# --- prefix-filtered exact jaccard -------------------------------------------


@given(
    texts=st.lists(_doc, min_size=2, max_size=6),
    threshold=st.sampled_from([0.0, 0.3, 0.5, 0.8, 1.0]),
)
@example(texts=["a b c d", "a b c d"], threshold=1.0)     # identical docs
@example(texts=["a b c d e", "a b c d"], threshold=0.5)   # length-prune boundary
@example(texts=["", "a b", "a b c"], threshold=0.0)       # below-k docs drop out
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_jaccard_equals_uncapped_exact(spark, texts, threshold):
    """ngram_jaccard_pairs_prefix must return EXACTLY the uncapped
    shared-shingle join's pairs and values at every threshold — the
    prefix filter is a lossless candidate generator (min-element-of-
    intersection argument), so any divergence is a completeness bug
    (prefix too short, ordering not total, slack dropped)."""
    from dug_data_ingest_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    want = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    got = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs_prefix(df, threshold=threshold).collect()
    }
    assert got == want


def test_prefix_jaccard_round_boundary_survives_the_prune(spark):
    # True jaccard exactly on a .xxxx5 rounding boundary relative to
    # the threshold: 4/5 = 0.8 with threshold 0.8 must be emitted, and
    # the slack-sized prefix/length prune must not have dropped the
    # pair before the verify could round it.
    from dug_data_ingest_spark.ext.dedup import ngram_jaccard_pairs_prefix

    # 6-token docs sharing 4 of their 4-or-5 trigram shingles:
    # "w1 w2 w3 w4 w5 w6" vs "w1 w2 w3 w4 w5 x" -> shingles 4+4,
    # intersection 3, union 5 -> 0.6; build a J=0.8 pair instead:
    # A = t1..t6 (4 shingles), B = t1..t7 (5 shingles), inter=4,
    # union=5 -> 0.8 exactly.
    a = "t1 t2 t3 t4 t5 t6"
    b = "t1 t2 t3 t4 t5 t6 t7"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id int, text string")
    got = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs_prefix(df, threshold=0.8).collect()
    }
    assert got == {(0, 1): 0.8}


def test_prefix_jaccard_plan_shape(spark):
    # The scale contract in the plan: a row_number prefix prune exists
    # (doc-keyed window, never unpartitioned), candidates go through a
    # distinct before the array verify, and the verify reads
    # array_intersect — no second explode-join of the corpus.
    from dug_data_ingest_spark.ext.dedup import ngram_jaccard_pairs_prefix
    from tests.conftest import TEST_SF_DIR

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    out = ngram_jaccard_pairs_prefix(docs, threshold=0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan, plan
    assert "array_intersect" in plan, plan
    # the prefix window partitions by the doc key (an unpartitioned
    # window here would funnel the exploded corpus into one task)
    assert "windowspecdefinition(doc_id" in plan, plan


# --- minhash sketch: bit-exact vs the formula ---------------------------------

import hashlib as _hashlib


def _model_md5_hash64(s: str) -> int:
    return int(_hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(texts=st.lists(_doc, min_size=1, max_size=5))
@example(texts=["a b c d e"])
@example(texts=["a b c", "a b c"])  # identical docs -> identical signatures
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_signatures_match_formula_exactly(spark, texts):
    """The 16-permutation sketch is integer arithmetic end to end
    (md5-prefix base, affine maps mod 2^31-1, min), so a Python walk
    of the same formula must reproduce every signature BIT-exactly —
    pinning the spec the oracle merely replays. Docs below k words
    have no shingles and must drop out of the sketch entirely."""
    from dug_data_ingest_spark.ext.dedup import (
        doc_shingles,
        minhash_signatures_wide,
    )

    P = 2147483647
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {
        r.doc_id: [r[f"h{s}"] for s in range(16)]
        for r in minhash_signatures_wide(doc_shingles(df)).collect()
    }

    want = {}
    for i, t in enumerate(texts):
        sh = _model_shingles(t)
        if not sh:
            continue
        bases = [_model_md5_hash64(s) % P for s in sh]
        want[i] = [min(((2 * s + 1) * b + s) % P for b in bases) for s in range(16)]
    assert got == want


# --- random-projection LSH bucket: bit-exact sign packing --------------------


@given(
    vecs=st.lists(
        st.lists(st.integers(-5, 5), min_size=6, max_size=6),
        min_size=1,
        max_size=5,
    )
)
@example(vecs=[[0, 0, 0, 0, 0, 0]])  # exact-zero dot: sign must be 0-bit
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rp_lsh_bucket_matches_sign_model(spark, vecs):
    """The LSH bucket id is a deterministic function of the md5-seeded
    hyperplanes: a left-to-right float fold of the dot product, strict
    > 0 sign (a zero projection is a 0-bit), bit j for plane j.
    Integer-valued vectors keep the fold order-exact, so the Python
    walk must agree bit-for-bit — including the all-zero vector whose
    every projection ties at exactly 0."""
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.ext.similarity import (
        random_hyperplanes,
        rp_lsh_bucket,
    )

    planes = random_hyperplanes(4, 6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    got = {
        r.vec_id: r.bucket
        for r in df.select(
            "vec_id", rp_lsh_bucket(F.col("embedding"), planes).alias("bucket")
        ).collect()
    }

    want = {}
    for i, v in enumerate(vecs):
        b = 0
        for j, plane in enumerate(planes):
            acc = 0.0
            for x, p in zip(v, plane):
                acc = acc + float(x) * p
            if acc > 0:
                b += 2**j
        want[i] = b
    assert got == want


@given(texts=st.lists(_doc, min_size=2, max_size=6))
@example(texts=["a b c", "a b c d e f"])   # subset doc: containment 1.0
@example(texts=["a b c d", "a b c d"])     # identical both directions
@example(texts=["a b c", "x y z"])         # disjoint: no pair at all
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_uncapped_containment_matches_set_model(spark, texts):
    """Directional twin of the Jaccard model test: C(a->b) =
    |Sa ∩ Sb| / |Sa| for ORDERED pairs a != b sharing a shingle —
    the measure that catches a short document embedded verbatim in a
    long one, pinned to the literal set definition."""
    from dug_data_ingest_spark.ext.dedup import ngram_containment_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        (r.a, r.b): r.containment
        for r in ngram_containment_pairs(
            df, threshold=0.0, max_doc_freq=None
        ).collect()
    }
    sets = {i: _model_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for i in range(len(texts)):
        for j in range(len(texts)):
            if i == j:
                continue
            inter = sets[i] & sets[j]
            if inter:
                want[(i, j)] = round(len(inter) / len(sets[i]), 4)
    assert got == want


# --- simhash sketch: bit-exact vs the vote model ------------------------------


@given(texts=st.lists(_doc, min_size=1, max_size=4))
@example(texts=[""])                 # normalizes to [''] — one empty token votes
@example(texts=["a a a b"])          # repeated words: occurrences vote, not types
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_simhash64_matches_vote_model(spark, texts):
    """simhash64's lanes are integer arithmetic end to end: one md5
    per word OCCURRENCE (duplicates vote again — multiplicity is
    signal), four 16-bit hex slices, bit j of lane l set iff the
    strict-majority vote 2*ones > n_words. A Python walk of that spec
    must reproduce every lane bit-exactly — including the empty
    document, whose normalized split is [''] and whose single token
    still votes."""
    from dug_data_ingest_spark.ext.dedup import simhash64

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in simhash64(df).collect()
    }

    want = {}
    for i, t in enumerate(texts):
        norm = _re.sub(r"[^a-z0-9 ]", "", t.lower()).strip()
        words = _re.split(r" +", norm)  # '' -> [''] like F.split
        n = len(words)
        lanes = []
        for lane in range(4):
            val = 0
            for j in range(16):
                ones = 0
                for w in words:
                    h = int(_hashlib.md5(w.encode()).hexdigest()[4 * lane : 4 * lane + 4], 16)
                    ones += (h >> j) & 1
                if 2 * ones > n:
                    val += 2**j
            lanes.append(val)
        want[i] = tuple(lanes)
    assert got == want


# --- cumulative distinct: the REWRITE pinned to the naive definition ---------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),        # user
            st.integers(0, 4),        # day offset
            st.sampled_from("pqrs"),  # event type
        ),
        min_size=1,
        max_size=15,
    )
)
@example(rows=[(0, 0, "p"), (0, 0, "p"), (0, 1, "p"), (0, 1, "q")])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cume_distinct_rewrite_matches_naive_walk(spark, rows):
    """win-cume-distinct's firsts->daily->running-sum rewrite avoids
    COUNT(DISTINCT) OVER, and its DuckDB oracle replays the SAME
    rewrite — so if the rewrite itself mis-stated the cumulative
    distinct, both engines would agree and the gate would pass. Pin
    it to the naive definition: for each user-day with a first-seen
    type, n_types_cum = |{types seen on any day <= d}|."""
    import datetime

    from dug_data_ingest_spark.queries import all_queries  # noqa: F401
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    base = datetime.date(2025, 1, 1)
    data = [
        (u, datetime.datetime(2025, 1, 1 + off, 12, 0), i, t)
        for i, (u, off, t) in enumerate(rows)
    ]
    events = spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id int, event_type string"
    )
    # the registered query's exact transformation, applied to this frame
    firsts = events.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = firsts.groupBy("user_id", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_types")
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    got = {
        (r.user_id, r.day.isoformat()): (r.n_new_types, r.n_types_cum)
        for r in daily.select(
            "user_id", "day", "n_new_types",
            F.sum("n_new_types").over(w).alias("n_types_cum"),
        ).collect()
    }

    # naive definition, no rewrite
    want = {}
    for u in {r[0] for r in data}:
        days = sorted({r[1].date() for r in data if r[0] == u})
        seen: set = set()
        for d in days:
            before = len(seen)
            seen |= {r[3] for r in data if r[0] == u and r[1].date() <= d}
            if len(seen) > before:
                want[(u, d.isoformat())] = (len(seen) - before, len(seen))
    assert got == want


# --- OHLC resample: composite order key pinned to the naive walk --------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from("xy"),                  # event type
            st.integers(0, 1800),                   # seconds offset (2 buckets)
            st.integers(0, 999_999),                # microseconds (sub-second)
            st.integers(-50, 50),                   # value
        ),
        min_size=1,
        max_size=15,
    )
)
@example(rows=[("x", 5, 1, 10), ("x", 5, 999, 20)])  # same second, sub-second apart
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ohlc_bars_match_naive_walk(spark, rows):
    """ts-resample-ohlc's open/close come from min_by/max_by on the
    composite key floor(epoch)*1e7 + event_id, and the oracle uses the
    SAME composite — so a key that mis-encoded the order would agree
    on both sides. Pin the bars to the naive definition: within each
    (type, 15-min bucket), open/close are the values of the first/last
    event by (whole-second ts, event_id) — sub-second differences
    deliberately do NOT order (both engines truncate), the event_id
    does."""
    import datetime

    import pyspark.sql.functions as F

    base = datetime.datetime(2025, 3, 1)
    data = [
        (t, base + datetime.timedelta(seconds=s, microseconds=us), i, float(v))
        for i, (t, s, us, v) in enumerate(rows)
    ]
    events = spark.createDataFrame(
        data, "event_type string, ts timestamp, event_id int, value double"
    )
    epoch = F.unix_timestamp("ts")
    ordkey = epoch * 10_000_000 + F.col("event_id")
    got = {
        (r.event_type, r.bucket_start): (r.open, r.high, r.low, r.close, r.n_events)
        for r in events.groupBy(
            "event_type",
            (F.floor(epoch / 900) * 900).cast("bigint").alias("bucket_start"),
        )
        .agg(
            F.round(F.min_by("value", ordkey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", ordkey), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }

    want = {}
    buckets: dict = {}
    for t, ts, i, v in data:
        whole = int(ts.timestamp())  # naive-UTC test data, whole seconds
        buckets.setdefault((t, whole // 900 * 900), []).append((whole, i, v))
    for key, evs in buckets.items():
        evs.sort(key=lambda e: (e[0], e[1]))  # whole-second ts, then event_id
        vals = [v for _, _, v in evs]
        want[key] = (
            round(evs[0][2], 2),
            round(max(vals), 2),
            round(min(vals), 2),
            round(evs[-1][2], 2),
            len(evs),
        )
    assert got == want


# --- funnel: strict-order conditional mins vs the naive walk -----------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                          # user
            st.integers(0, 9),                          # ts offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=15,
    )
)
@example(rows=[(0, 1, "view"), (0, 1, "click")])   # simultaneous: NOT ordered
@example(rows=[(0, 2, "click"), (0, 3, "view")])   # wrong order: no conversion
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_stage_counts_match_naive_walk(spark, rows):
    """events-funnel counts a conversion only when the FIRST click is
    strictly after the FIRST view (and first purchase strictly after
    that click) — first-touch semantics with strict inequalities, so
    simultaneous stages do not convert. The oracle replays the same
    conditional-min formulation; this pins it to a per-user walk of
    the definition."""
    import datetime

    import pyspark.sql.functions as F

    base = datetime.datetime(2025, 2, 1)
    data = [
        (u, base + datetime.timedelta(minutes=off), i, t)
        for i, (u, off, t) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id int, event_type string"
    )
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    row = stages.agg(
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_view_click_purchase"),
    ).collect()[0]

    n_view = n_vc = n_vcp = 0
    for u in {r[0] for r in data}:
        mine = [r for r in data if r[0] == u]
        first = {
            t: min((r[1] for r in mine if r[3] == t), default=None)
            for t in ("view", "click", "purchase")
        }
        if first["view"] is not None:
            n_view += 1
        if (
            first["view"] is not None
            and first["click"] is not None
            and first["click"] > first["view"]
        ):
            n_vc += 1
            if first["purchase"] is not None and first["purchase"] > first["click"]:
                n_vcp += 1
    assert (row.n_view, row.n_view_click, row.n_view_click_purchase) == (
        n_view,
        n_vc,
        n_vcp,
    )


# --- cohort retention: collect_set rewrite vs the naive walk -----------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),     # user
            st.integers(0, 27),    # day offset (~4 ISO weeks)
        ),
        min_size=1,
        max_size=15,
    )
)
@example(rows=[(0, 0), (0, 0), (0, 7)])  # duplicate activity collapses
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_retention_matrix_matches_naive_walk(spark, rows):
    """events-retention builds the (cohort week, active week) matrix
    with a per-user collect_set + array_min; pin it to the naive
    definition — cohort = a user's first active ISO week, each user
    counted once per distinct active week."""
    import datetime

    import pyspark.sql.functions as F

    base = datetime.datetime(2025, 1, 6)  # a Monday
    data = [
        (u, base + datetime.timedelta(days=off), i)
        for i, (u, off) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, "user_id int, ts timestamp, event_id int")
    per_user = (
        ev.select(
            "user_id",
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
                "week"
            ),
        )
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
    )
    got = {
        (r.cohort_week, r.week): r.n_users
        for r in per_user.select(
            F.array_min("weeks").alias("cohort_week"),
            F.explode("weeks").alias("week"),
        )
        .groupBy("cohort_week", "week")
        .agg(F.count("*").alias("n_users"))
        .collect()
    }

    def monday(d: datetime.datetime) -> str:
        day = d.date()
        return (day - datetime.timedelta(days=day.weekday())).isoformat()

    want: dict = {}
    for u in {r[0] for r in data}:
        weeks = sorted({monday(r[1]) for r in data if r[0] == u})
        cohort = weeks[0]
        for w in weeks:
            want[(cohort, w)] = want.get((cohort, w), 0) + 1
    assert got == want


# ---------------------------------------------------------------------------
# Pointer-jumped connected components (ext/dedup.py::duplicate_clusters):
# plain rounds first, jumping rounds after _AUTO_JUMP_AFTER. The graphs
# below are deep enough that every example reaches the jumping rounds,
# so both round kinds must land on the union-find fixpoint; and the
# schedule must converge in O(log diameter) rounds on the deep chain
# that exhausts any fixed plain-propagation budget.
# ---------------------------------------------------------------------------


@st.composite
def _deep_cc_edges(draw):
    # a random path of 8-30 nodes (shuffled ids, so the min sits
    # anywhere along it) plus a few random extra edges, beside a small
    # random graph on ids 100-109 whose components must stay apart
    n = draw(st.integers(8, 30))
    order = draw(st.permutations(range(n)))
    edges = {(order[i], order[i + 1]) for i in range(n - 1)}
    extra = draw(
        st.sets(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=3)
    )
    other = draw(
        st.sets(st.tuples(st.integers(100, 109), st.integers(100, 109)), max_size=6)
    )
    return edges | {e for e in extra | other if e[0] != e[1]}


def _union_find_components(edges: set) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _min_label_eccentricity(edges: set) -> int:
    # hops from each component's min id to its farthest member, max
    # over components: plain propagation reaches one hop per round
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    ecc = 0
    for root in set(_union_find_components(edges).values()):
        dist, queue = {root: 0}, [root]
        for x in queue:  # BFS: the list grows while it is walked
            for w in adj[x]:
                if w not in dist:
                    dist[w] = dist[x] + 1
                    queue.append(w)
        ecc = max(ecc, max(dist.values()))
    return ecc


@given(raw=_deep_cc_edges())
@example(raw={(i, i + 1) for i in range(9)} | {(2, 4), (100, 101), (103, 102)})
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
    ],
)
def test_pointer_jump_components_match_union_find(spark, raw):
    from dug_data_ingest_spark.ext.dedup import _AUTO_JUMP_AFTER, duplicate_clusters

    # the initial label covers 1 hop and each plain round 1 more: past
    # _AUTO_JUMP_AFTER + 1 hops, round _AUTO_JUMP_AFTER still changes
    # labels and the jumping rounds run
    assume(_min_label_eccentricity(raw) > _AUTO_JUMP_AFTER + 1)
    pairs = spark.createDataFrame(sorted(raw), "a bigint, b bigint")
    want = set(_union_find_components(raw).items())
    got = {
        (r["doc_id"], r["component"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == want


def test_pointer_jump_converges_on_a_deep_chain(spark):
    # A 64-link chain has diameter 64. Plain propagation moves the min
    # one hop per round, so a 4-round budget (plain rounds only, below
    # the escalation point) exhausts loudly, per the non-convergence
    # contract. Pointer jumping roughly doubles the min's reach per
    # round: ≈4 plain + log2(64) jumping + the zero-change
    # confirmation round fit inside 14.
    import pytest as _pytest

    from dug_data_ingest_spark.ext.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(64)]
    pairs = spark.createDataFrame(chain, "a bigint, b bigint")
    got = {
        (r["doc_id"], r["component"])
        for r in duplicate_clusters(pairs, max_iters=14).collect()
    }
    assert got == {(i, 0) for i in range(65)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iters=4).collect()


def test_adaptive_jump_rescues_a_deep_chain_within_default_budget(spark):
    # A 256-link chain would need ~256 plain rounds; the adaptive
    # schedule finishes it inside the default 20-round budget. A
    # shallow star never reaches the escalation point, so the common
    # case pays nothing: it converges within 4 plain rounds.
    from dug_data_ingest_spark.ext.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(256)]
    pairs = spark.createDataFrame(chain, "a bigint, b bigint")
    got = {
        (r["doc_id"], r["component"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {(i, 0) for i in range(257)}

    star = [(0, j) for j in range(1, 6)]
    spairs = spark.createDataFrame(star, "a bigint, b bigint")
    got_star = {
        (r["doc_id"], r["component"])
        for r in duplicate_clusters(spairs, max_iters=4).collect()
    }
    assert got_star == {(j, 0) for j in range(6)}

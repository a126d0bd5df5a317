"""Model pins for the Bloom-filter membership family
(ext/dedup.py::bloom_build/bloom_probe/bloom_dedup_flags): the bitmap
words and every probe flag are replayed by a pure-Python hashlib walk
— the bit layout is md5-derived by contract, so the Spark expression
must reproduce it bit-for-bit under any partitioning. Library surface
(Dolma-style incremental-dedup state, Soldaini et al. 2024): the
probabilistic flag is engine-exact, but the op's OUTPUT semantics
("probably seen") are not a SQL-expressible value oracle, so it pins
here rather than in the registry.
"""

from __future__ import annotations

import hashlib

import pytest

from dug_data_ingest_spark.ext.dedup import (
    bloom_build,
    bloom_dedup_flags,
    bloom_parameters,
    bloom_probe,
)

M = 1 << 10  # 1024 bits / 16 words: small enough to force collisions
K = 5


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _positions(key: str, m_bits: int = M, k: int = K) -> list[int]:
    return [_md5_60(f"bloom{j}|{key}") % m_bits for j in range(k)]


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _model_words(keys: list[str], m_bits: int = M, k: int = K) -> list[int]:
    words = [0] * (m_bits // 64)
    for key in keys:
        for p in _positions(key, m_bits, k):
            words[p >> 6] |= 1 << (p & 63)
    return [_signed64(w) for w in words]


def _model_hit(key: str, words: list[int], k: int = K) -> bool:
    m_bits = len(words) * 64
    uwords = [w & ((1 << 64) - 1) for w in words]
    return all(
        uwords[p >> 6] & (1 << (p & 63)) for p in _positions(key, m_bits, k)
    )


HISTORY = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "stock prices fell sharply on earnings news"),
    (2, "cookie banner accept all manage preferences"),
    (3, None),  # NULL keys carry no content: never enter the bitmap
    (4, ""),  # empty string is a real key, distinct from NULL
]
BATCH = [
    (10, "the quick brown fox jumps over the lazy dog"),  # exact repeat
    (11, "cookie banner accept all manage preferences"),  # exact repeat
    (12, "an entirely novel sentence about volcanoes"),
    (13, None),  # NULL key -> NULL flag (unknown, not False)
    (14, ""),  # empty-string repeat
    (15, "another unseen document mentioning glaciers"),
]


def _frames(spark):
    hist = spark.createDataFrame(HISTORY, "doc_id int, text string")
    batch = spark.createDataFrame(BATCH, "doc_id int, text string")
    return hist, batch


def test_bloom_build_matches_hashlib_model(spark):
    hist, _ = _frames(spark)
    words = bloom_build(hist, m_bits=M, k_hashes=K)
    expect = _model_words([t for _, t in HISTORY if t is not None])
    assert words == expect


def test_bloom_build_is_partition_stable(spark):
    hist, _ = _frames(spark)
    words = bloom_build(hist.repartition(7), m_bits=M, k_hashes=K)
    assert words == bloom_build(hist.coalesce(1), m_bits=M, k_hashes=K)


def test_bloom_probe_flags_match_model_and_never_false_negative(spark):
    hist, batch = _frames(spark)
    words = bloom_build(hist, m_bits=M, k_hashes=K)
    got = {
        r["doc_id"]: r["maybe_seen"]
        for r in bloom_probe(batch, words, k_hashes=K).collect()
    }
    for doc_id, text in BATCH:
        if text is None:
            assert got[doc_id] is None
        else:
            assert got[doc_id] == _model_hit(text, words)
    # structural guarantees: repeats can NEVER be missed
    assert got[10] is True and got[11] is True and got[14] is True


def test_bloom_false_positive_rate_is_bounded(spark):
    # properly sized filter over disjoint sets: flag rate stays near
    # the design fpr (1% here; allow generous slack for 500 trials)
    n = 500
    m_bits, k = bloom_parameters(n, fpr=0.01)
    hist = spark.createDataFrame(
        [(i, f"history document number {i}") for i in range(n)],
        "doc_id int, text string",
    )
    probe = spark.createDataFrame(
        [(i, f"novel probe document number {i}") for i in range(n)],
        "doc_id int, text string",
    )
    flagged = (
        bloom_dedup_flags(probe, hist, m_bits=m_bits, k_hashes=k)
        .where("maybe_seen")
        .count()
    )
    assert flagged <= n * 0.05, f"{flagged}/{n} false positives"


def test_bloom_parameters_shapes():
    m, k = bloom_parameters(13_000_000, fpr=0.01)
    assert m % 64 == 0 and 115_000_000 < m < 135_000_000 and k == 7
    with pytest.raises(ValueError):
        bloom_parameters(0)
    with pytest.raises(ValueError):
        bloom_parameters(10, fpr=1.5)


def test_minhash_lsh_parameters_recall_biased():
    from dug_data_ingest_spark.ext.dedup import minhash_lsh_parameters

    # confirms the repo default: 16 hashes at the graded t=0.8 family
    # -> r=4, b=4, s50 ~ 0.707 (the high-recall side of 0.8)
    assert minhash_lsh_parameters(16, 0.8) == (4, 4, 0.7071)
    # the case the 2x above-threshold penalty exists for: plain
    # closest-midpoint would pick r=16/b=8 (s50=0.878, ~20% catch at
    # t=0.8); the generator must take r=8/b=16 (~95% catch)
    r, b, s50 = minhash_lsh_parameters(128, 0.8)
    assert (r, b) == (8, 16) and s50 < 0.8
    assert 1 - (1 - 0.8**r) ** b > 0.9
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_lsh_parameters(0, 0.8)
    with _pytest.raises(ValueError):
        minhash_lsh_parameters(16, 1.0)


def test_bloom_build_validates_arguments(spark):
    hist, _ = _frames(spark)
    with pytest.raises(ValueError):
        bloom_build(hist, m_bits=100)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_build(hist, m_bits=M, k_hashes=0)
    with pytest.raises(ValueError):
        bloom_probe(hist, [], k_hashes=K)


def test_bloom_merge_is_wordwise_or(spark):
    # standing-ingest contract from the docstring: building over the
    # union == OR-merging per-batch bitmaps driver-side
    hist, batch = _frames(spark)
    merged = [
        _signed64(
            (a & ((1 << 64) - 1)) | (b & ((1 << 64) - 1))
        )
        for a, b in zip(
            bloom_build(hist, m_bits=M, k_hashes=K),
            bloom_build(batch, m_bits=M, k_hashes=K),
        )
    ]
    assert merged == bloom_build(hist.unionAll(batch), m_bits=M, k_hashes=K)


def test_bloom_prefilter_exact_equals_plain_semi_join(spark):
    # the escalation is a PERFORMANCE prefilter: its flag must equal
    # true exact membership row-for-row (false positives cleared by
    # the confirm join, false negatives impossible), NULL keys NULL.
    # Undersized filter (M=64 bits for 505 keys) maximizes false
    # positives so the confirm join actually has work to do.
    from dug_data_ingest_spark.ext.dedup import bloom_prefilter_exact

    hist, batch = _frames(spark)
    big_hist = hist.unionAll(
        spark.createDataFrame(
            [(100 + i, f"filler history doc {i}") for i in range(500)],
            "doc_id int, text string",
        )
    )
    got = {
        r["doc_id"]: r["seen_exact"]
        for r in bloom_prefilter_exact(
            batch, big_hist, m_bits=64, k_hashes=3
        ).collect()
    }
    hist_keys = {t for _, t in HISTORY if t is not None} | {
        f"filler history doc {i}" for i in range(500)
    }
    for doc_id, text in BATCH:
        assert got[doc_id] == (None if text is None else text in hist_keys)


def test_bloom_probe_plan_is_pure_projection(spark):
    # the probe must not shuffle the batch or join history. r13: the
    # bitmap is a constant-folded array literal inside the projection
    # (the previous 1-row broadcast crossJoin copied the words array
    # into every output row), so the plan has NO exchange of any kind
    # and no join node — a single row-local projection.
    hist, batch = _frames(spark)
    words = bloom_build(hist, m_bits=M, k_hashes=K)
    plan = (
        bloom_probe(batch, words, k_hashes=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bloom_prefilter_exact_duplicate_and_null_ids(spark):
    # the r10 advisor finding: the confirm verdict must ride the KEY,
    # not id_col — duplicate ids must not cross-flag sibling rows and
    # NULL-id rows must still flag correctly
    from dug_data_ingest_spark.ext.dedup import bloom_prefilter_exact

    hist = spark.createDataFrame(
        [(0, "seen alpha"), (1, "seen beta")], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [
            (7, "seen alpha"),  # same id, seen
            (7, "never seen gamma"),  # same id, unseen — must flag False
            (None, "seen beta"),  # NULL id, seen — must flag True
            (None, "novel delta"),  # NULL id, unseen
            (8, None),  # NULL key -> NULL flag
        ],
        "doc_id int, text string",
    )
    rows = bloom_prefilter_exact(batch, hist, m_bits=64, k_hashes=3).collect()
    got = {(r["doc_id"], r["text"]): r["seen_exact"] for r in rows}
    assert len(rows) == 5  # no fanout from the flag join
    assert got == {
        (7, "seen alpha"): True,
        (7, "never seen gamma"): False,
        (None, "seen beta"): True,
        (None, "novel delta"): False,
        (8, None): None,
    }


def test_bloom_staging_columns_survive(spark):
    # suffix-until-free guard: a batch already carrying the staging
    # names must come back with those columns INTACT
    from dug_data_ingest_spark.ext.dedup import bloom_prefilter_exact

    hist = spark.createDataFrame([(0, "seen alpha")], "doc_id int, text string")
    batch = spark.createDataFrame(
        [(1, "seen alpha", 11, 12, 13, 14)],
        "doc_id int, text string, __bloom int, __bk int, "
        "__confirmed int, __bloom_words int",
    )
    out = bloom_prefilter_exact(batch, hist, m_bits=64, k_hashes=3)
    row = out.collect()[0]
    assert (row["__bloom"], row["__bk"], row["__confirmed"]) == (11, 12, 13)
    assert row["__bloom_words"] == 14
    assert row["seen_exact"] is True

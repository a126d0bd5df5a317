"""Model pins for the DSIR importance-resampling family
(ext/curation.py): hashed-n-gram bucket ids, bucket distributions,
smoothed log-weights and the Gumbel-top-k selection replayed by a
pure-Python md5 walk — the weights are learned-from-data floats, so
(like semantic_dedup) the family is library surface with a model pin
rather than a registry slug, and the pin is what keeps the Spark
expression honest.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyspark.sql.functions as F
import pytest

from dug_data_ingest_spark.ext.curation import (
    bucket_distribution,
    dsir_log_weights,
    dsir_resample,
    hashed_ngram_ids,
    nb_quality_log_odds,
)
from dug_data_ingest_spark.functions.text import normalized_words

B = 64  # small bucket count so collisions actually occur in the test


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _norm_words(text: str | None) -> list[str]:
    if text is None:
        return []
    s = re.sub(r"[^a-z0-9 ]", "", text.lower()).strip()
    return [w for w in s.split(" ") if w != ""]


def _ids(text: str | None, n_buckets: int = B) -> list[int]:
    w = _norm_words(text)
    grams = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
    return [_md5_60(g) % n_buckets for g in grams]


def _log_probs(texts: list[str | None], alpha: float = 1.0) -> list[float]:
    counts = [0] * B
    for t in texts:
        for i in _ids(t):
            counts[i] += 1
    total = sum(counts) + alpha * B
    return [math.log((c + alpha) / total) for c in counts]


RAW = [
    (0, "the quick brown fox jumps over the lazy dog near the barn today"),
    (1, "stock prices fell sharply as markets digested the earnings news"),
    (2, "the quick brown fox and the quick brown cat ran through the field"),
    (3, None),
    (4, ""),
    (5, "zzz qqq xxx vvv kkk jjj unusual tokens nowhere in the target"),
    (6, "a fox jumps over a dog while the farmer watches from the barn"),
]
TARGET = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "a fox and a dog play near the barn in the field"),
]


def _frames(spark):
    raw = spark.createDataFrame(RAW, "doc_id int, text string")
    target = spark.createDataFrame(TARGET, "doc_id int, text string")
    return raw, target


def test_hashed_ngram_ids_match_md5_model(spark):
    raw, _ = _frames(spark)
    got = (
        raw.select(
            "doc_id",
            hashed_ngram_ids(normalized_words(F.col("text")), B).alias("ids"),
        )
        .orderBy("doc_id")
        .collect()
    )
    for row in got:
        want = _ids(RAW[row["doc_id"]][1])
        assert row["ids"] == want, (row["doc_id"], row["ids"], want)
    # NULL and empty text yield EMPTY arrays, never NULL
    assert got[3]["ids"] == [] and got[4]["ids"] == []


def test_bucket_distribution_matches_model(spark):
    raw, _ = _frames(spark)
    got = {
        r["bucket"]: r["cnt"]
        for r in bucket_distribution(raw, n_buckets=B).collect()
    }
    counts: dict[int, int] = {}
    for _, t in RAW:
        for i in _ids(t):
            counts[i] = counts.get(i, 0) + 1
    assert got == counts


def test_dsir_log_weights_match_model(spark):
    raw, target = _frames(spark)
    lp_t = _log_probs([t for _, t in TARGET])
    lp_r = _log_probs([t for _, t in RAW])
    ratios = [lp_t[i] - lp_r[i] for i in range(B)]

    got = {
        r["doc_id"]: r["dsir_log_weight"]
        for r in dsir_log_weights(raw, target, n_buckets=B).collect()
    }
    for doc_id, text in RAW:
        want = 0.0
        for i in _ids(text):  # same left-to-right fold order
            want += ratios[i]
        assert math.isclose(got[doc_id], want, rel_tol=0, abs_tol=1e-9), (
            doc_id, got[doc_id], want,
        )
    # empty/NULL docs fold to exactly 0.0, not NULL
    assert got[3] == 0.0 and got[4] == 0.0
    # semantic sanity: the target-like docs outweigh the alien one
    assert got[0] > got[5] and got[6] > got[5]


def test_dsir_resample_matches_model_and_is_partition_stable(spark):
    raw, target = _frames(spark)
    lp_t = _log_probs([t for _, t in TARGET])
    lp_r = _log_probs([t for _, t in RAW])
    ratios = [lp_t[i] - lp_r[i] for i in range(B)]
    m = 1 << 60

    def score(doc_id: int, text: str | None, seed: int) -> float:
        w = sum(ratios[i] for i in _ids(text))
        u = ((_md5_60(f"{doc_id}|{seed}") % m) + 0.5) / m
        return w + -math.log(-math.log(u))

    for seed in (0, 7):
        want = [
            d for d, _ in sorted(
                RAW, key=lambda r: (-score(r[0], r[1], seed), r[0])
            )[:3]
        ]
        got = sorted(
            r["doc_id"]
            for r in dsir_resample(raw, target, k=3, seed=seed, n_buckets=B).collect()
        )
        assert got == sorted(want), (seed, got, want)

    # reproducible across an adversarial repartition (the property
    # rand(seed) does NOT have)
    got7 = sorted(
        r["doc_id"]
        for r in dsir_resample(
            raw.repartition(7), target, k=3, seed=0, n_buckets=B
        ).collect()
    )
    base = sorted(
        r["doc_id"]
        for r in dsir_resample(raw, target, k=3, seed=0, n_buckets=B).collect()
    )
    assert got7 == base


def test_dsir_scoring_plan_is_shuffle_free(spark):
    # the scoring stage must be a row-local projection over a 1-row
    # broadcast: no Exchange on the raw side beyond the two B-bounded
    # distribution aggregations (which run BEFORE the scored plan via
    # collect), and never a SortMergeJoin/CartesianProduct of the corpus
    raw, target = _frames(spark)
    scored = dsir_log_weights(raw, target, n_buckets=B)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # top-k selection is TakeOrderedAndProject, never a global sort
    sel = dsir_resample(raw, target, k=3, n_buckets=B)
    splan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in splan, splan


@pytest.mark.parametrize("alpha", [0.0, -1.0, math.inf, math.nan])
@pytest.mark.parametrize("fit", [dsir_log_weights, nb_quality_log_odds])
def test_smoothing_rejects_alpha_outside_finite_positive(spark, fit, alpha):
    # add-alpha smoothing is only defined for a finite alpha > 0: at 0
    # an empty bucket's log-probability is log(0), at inf every ratio
    # is NaN. Both fits share one check and name the parameter.
    raw, target = _frames(spark)
    args = (raw, target) if fit is dsir_log_weights else (raw, target, raw)
    with pytest.raises(ValueError, match="alpha"):
        fit(*args, n_buckets=B, alpha=alpha)

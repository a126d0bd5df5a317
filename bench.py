"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing counts full plan execution (collect-to-count, not show) after a
warmup pass that absorbs session/JIT startup. The warmup runs every
headline query once untimed: a fresh JVM pays whole-stage-codegen
compilation, classloading, and C2 JIT per plan shape — one-time costs
that a long-lived cluster amortizes to nothing, and that would
otherwise swamp the sub-second steady-state numbers this harness is
meant to track round-over-round.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dug_data_ingest_spark.queries import all_queries
from dug_data_ingest_spark.session import get_spark

# Headline set: the flagship pipeline shape plus the heaviest
# join/agg/window/extension operators — the ones whose plans matter at
# 100 TB.
HEADLINE = [
    "flagship-index-report",
    "join-gen3-picsure",
    "agg-groupby-dtid",
    "agg-pivot-report",
    "agg-nested-counts",
    "win-uniquify-id",
    "agg-group-by-key-files",
    "set-except",
    "dedup-minhash",
    "dedup-exact",
    "dedup-ngram-jaccard",
    "pipeline-bdc-summary",
    "pipeline-heal-variable-index",
    # sim-topk-bruteforce retired round 7 (identical oracle to
    # sim-topk-arrow; codegen scorer stays library surface,
    # tests/test_sim_baseline.py) — the arrow slug carries the
    # cosine-top-k bench presence below
    "sim-topk-arrow",
    "dedup-embedding-lsh",
    "text-quality",
    "text-langid",
    "dedup-simhash",
    "sim-ivf-topk",
    "mm-decode-features",
    "stream-session-window",
    "stream-marker-sessionize",
    "olap-pricing-summary",
    "olap-revenue-by-nation",
    "olap-top-orders",
    "dedup-cluster",
    "sim-topk-multiquery",
    "olap-rollup-summary",
    "join-range-events",
    "join-asof-events",
    "text-decontaminate",
    "pipeline-hash-sample",
    "pipeline-pack-sequences",
    "text-vocab-topk",
    "text-length-quantiles",
    "olap-order-priority",
    "olap-volume-shipping",
    "olap-market-share",
    "events-funnel",
    "events-retention",
    "text-word-repetition",
    "join-skew-salted",
    "xml-modify-study-name",
    "olap-cheapest-supplier",
    "olap-important-stock",
    "events-stickiness",
    "text-zipf-slope",
    "agg-approx-quantiles",
    # qgram is the production fuzzy-name join
    "join-fuzzy-qgram",
    "olap-grouping-sets",
    "stream-stream-join",
    "events-props-flatten",
    "events-retention-pivot",
    "events-stickiness-approx",
    "olap-cube-summary",
    "win-running-total",
    "sample-stratified-exact",
    "olap-revenue-forecast",
    "olap-product-profit",
    "olap-late-shipments",
    "olap-top-supplier",
    "olap-parts-supplier",
    "olap-large-orders",
    "olap-disjunctive-rev",
    "olap-dormant-customers",
    "events-sessionize",
    "dedup-containment",
    "pipeline-incremental-dedup",
    "agg-sketch-rollup",
    "events-audience-overlap",
    "events-heavy-hitters-approx",
    "win-ntile-quartiles",
    "olap-topn-per-group",
    "agg-histogram",
    "stream-stream-left-outer",
    "olap-excess-suppliers",
    "events-anomaly-zscore",
    "snk-partitioned-pruned",
    "join-dpp-events",
    "olap-yoy-growth",
    "sim-range-search",
    "agg-mode-per-group",
    "win-percent-rank",
    "text-chunk-overlap",
    # join-bucketed-colocated is deliberately NOT benched: each run
    # rewrites both bucketed tables (the one-time layout cost), which
    # would dominate its timing with write I/O and say nothing about
    # the Exchange-free join the slug exists to demonstrate — that
    # property is pinned in tests/test_plan_shapes.py instead.
    # §2.5/§2.6 window/sort/limit tail — cheap, but every SURVEY §2
    # family keeps a bench presence so a regression anywhere is visible
    "win-latest-file",
    "sort-ids",
    "sort-jq",
    "sort-distinct-join",
    "limit-top1",
    "limit-page",
    # round-6 ingest-QC / reshape batch
    "win-moving-avg-range",
    "ts-gapfill-locf",
    "agg-unpivot-melt",
    "dq-profile",
    "pipeline-snapshot-diff",
    "audit-row-hash",
    "mm-audio-features",
    "olap-waiting-suppliers",
    "events-path-transitions",
    "pipeline-dq-expectations",
    "text-lm-score",
    "ts-resample-ohlc",
    "text-keyword-tfidf",
    "pipeline-upsert-latest",
    "graph-triangle-count",
    "win-cume-distinct",
    "events-last-touch",
    # round-7: delta-sync sink (two real write generations + diff) and
    # the raw-FTP protocol walk (executor-side fixture replay)
    "snk-delta-sync",
    "src-ftp-walk",
    # round-7 close: span-level verbatim dedup (count-then-join, no
    # pairwise stage — the boilerplate-hunting scale shape)
    "dedup-substring",
    # round-11 promotions. sim-ivf-pq-topk is deliberately NOT
    # benched: each run retrains the coarse quantizer + m codebooks
    # (the one-time index-build cost, ~8 s), which would dominate its
    # timing and say nothing about the probe-bounded ADC scan the slug
    # exists to demonstrate — the same reasoning as
    # join-bucketed-colocated above; its plan shape is pinned in
    # tests and its quality gate runs per-round in CORRECTNESS.
    "dedup-paragraph",
    "dedup-winnow",
    "dedup-bloom-exact",
    "curate-temperature-mix",
    "text-kn-lm-score",
    "text-kn-score-heldout",
    "agg-sketch-partial-merge",
    "graph-pagerank",
    "layout-zorder",
    "dedup-winnow-pairs",
    "text-contamination-report",
    "pipeline-shuffle-corpus",
    "curate-gate-documents",
    "curate-perplexity-buckets",
    "curate-dsir-weights",
    "text-bm25-topk",
    "curate-dsir-resample",
    "sim-hard-negatives",
    "text-ngram-novelty",
    "sim-nearest-centroid",
    "events-volume-anomaly",
    "text-token-entropy",
    "join-asof-tolerance",
    "mm-phash-clusters",
    # round-13 promotion: the composed CCNet pipeline — the LM train
    # is a per-run model fit like text-lm-score's (already benched),
    # so the composition's honest end-to-end cost belongs in the
    # headline; sim-pq-topk-reranked is NOT benched (retrains the PQ
    # codebooks per run — the sim-ivf-pq-topk reasoning).
    "ccnet-curate",
    # the NB quality classifier refits two bounded distributions per
    # run by design (the dsir-weights precedent, which is benched) —
    # the honest model-fit cost belongs in the headline
    "curate-quality-classifier",
    "dedup-hot-spans",
    "dedup-bloom-probe",
    # dedup-semantic is correctness-gated but not benched: each run
    # retrains the k-means coarse quantizer (the one-time index-build
    # cost), which would dominate its timing — the sim-ivf-pq-topk
    # reasoning; its plan shape is pinned in tests.
]


# Host-contamination criterion: the shared host's numpy matmul probe
# runs ~0.15-0.25 s per 4-matmul rep when quiet; > 0.35 s means an
# external tenant is stealing cores and every number in the run is
# suspect. Flagging used to be manual post-run triage — and the final
# entry of a round went unflagged in BOTH r11 and r12 (judged
# defects), so the run now self-flags at record time. The probe can
# certify contamination but NOT quiet (r11 observed a clean calib on
# a 97 s contended run), so a missing flag still doesn't certify a
# clean entry — manual triage can only ADD flags, never remove one.
NOISY_CALIB_NUMPY = 0.35


def noisy_host_flags(result: dict) -> dict:
    """The `noisy_host` keys this run must carry, from its own calib
    probe. Split out of main() so the record path is regression-
    testable without running the bench (tests/test_bench_contract.py).
    """
    calib = result.get("calib_numpy_sec")
    if isinstance(calib, (int, float)) and calib > NOISY_CALIB_NUMPY:
        return {
            "noisy_host": True,
            "noisy_reason": (
                f"calib_numpy_sec {calib} > {NOISY_CALIB_NUMPY} criterion"
                " (self-flagged at record time)"
            ),
        }
    return {}


def history_tags(cpus: int) -> dict:
    """What a BENCH_HISTORY line records beyond the stdout result:
    the session's core count and the checkout's git sha (None outside
    a git checkout). Walls compare only at equal ``cpus``."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        sha = None
    return {"cpus": cpus, "git_sha": sha}


def calib(spark) -> dict[str, float]:
    """Machine-speed calibration anchor: the shared host's per-core
    throughput drifts 1.3-1.6x BETWEEN runs under external tenant load
    (SCALE.md "Bench posture" — measured 56.8s vs 88.1s totals for
    identical code 30 min apart), so absolute totals compare machine
    states, not plans. Timing a fixed synthetic workload — one
    JVM-side Spark reduction and one numpy matmul, both
    code-independent — alongside the queries lets any cross-round
    reader normalize: query_total / calib ratios travel; raw seconds
    do not. Medians of three reps."""
    import numpy as np

    spark_times, np_times = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr(
            "sum(id * 2654435761 % 1000000007)"
        ).collect()
        spark_times.append(time.perf_counter() - t0)
        a = np.random.default_rng(42).random((1024, 1024))
        t0 = time.perf_counter()
        for _ in range(4):
            a = a @ a % 1.0
        np_times.append(time.perf_counter() - t0)
    return {
        "calib_spark_sec": round(sorted(spark_times)[1], 3),
        "calib_numpy_sec": round(sorted(np_times)[1], 3),
    }


def sf_value(sf_dir: str) -> float | None:
    """The scale factor an ``.../sf<N>`` directory names, else None."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return None


def best_prior(prior: list, timings: dict, sf_val, cpus: int, cur_calib):
    """The prior run this one compares best against, as
    ``(adjusted_ratio, n_shared, prior_total, raw_ratio)``, or None.

    Only runs at the same sf AND the same core count pair up (a line
    without ``cpus`` is skipped: its core count is unknown). The
    comparison is restricted to the queries BOTH runs timed (a
    108-query total vs a 35-query-era total is apples-to-oranges —
    the round-6 false alarm) and normalized by the calib_spark
    machine-speed anchor when both runs carry one (the shared host
    drifts 1.3-1.8x under tenant load)."""
    best = None
    for p in prior:
        if (
            p.get("sf") != sf_val
            or p.get("cpus") != cpus
            or not isinstance(p.get("queries"), dict)
        ):
            continue
        shared = [q for q in timings if q in p["queries"]]
        # demand real overlap: a comparison over a sliver of the
        # current set says nothing about this run
        if len(shared) < max(10, len(timings) // 2):
            continue
        pri_t = sum(p["queries"][q] for q in shared)
        if pri_t <= 0:
            continue
        raw = sum(timings[q] for q in shared) / pri_t
        p_calib = p.get("calib_spark_sec")
        adj = raw / (cur_calib / p_calib) if cur_calib and p_calib else raw
        if best is None or adj < best[0]:
            best = (adj, len(shared), round(pri_t, 3), round(raw, 3))
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_val = sf_value(sf_dir)
    spark = get_spark("dug-data-ingest-spark-bench")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Warmup: run every headline query once untimed to absorb
    # JVM/codegen/JIT startup (see module docstring). A query that
    # breaks here is excluded from timing but recorded as an error —
    # one broken query must never cost the round its bench signal.
    errors: dict[str, str] = {}
    for name in names:
        try:
            queries[name](spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"WARNING: {name} failed warmup: {errors[name]}",
                  file=sys.stderr)

    # Five timed runs per query, report the median: machine-load noise
    # swings sub-second fixture queries 2-3x between identical-code
    # runs (BENCH_HISTORY shows 13.5s vs 22.0s totals in one round), and
    # the first run additionally pays one-time whole-stage-codegen
    # compilation. Median-of-5 is robust to both the cold outlier and a
    # load spike. A query that fails a later rep keeps the median of its
    # successful reps ONLY if ≥3 reps completed (a 1-2 rep "median" is
    # dominated by the cold run the warmup exists to exclude); shorter
    # survivor sets are recorded under "partial" instead of entering
    # timings, so round-over-round totals never mix cold-run medians
    # with warm ones.
    REPS = 5
    MIN_REPS = 3
    timings: dict[str, float] = {}
    partial: dict[str, int] = {}
    for name in names:
        if name in errors:
            continue
        times: list[float] = []
        for _ in range(REPS):
            try:
                start = time.perf_counter()
                df = queries[name](spark, sf_dir)
                df.count()
                times.append(time.perf_counter() - start)
            except Exception as exc:  # noqa: BLE001 — isolate per query
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"WARNING: {name} failed timed run: {errors[name]}",
                      file=sys.stderr)
                break
        if len(times) >= MIN_REPS:
            times.sort()
            timings[name] = round(times[len(times) // 2], 3)
        elif times:
            partial[name] = len(times)

    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        **calib(spark),
    }
    result.update(noisy_host_flags(result))
    if errors:
        result["errors"] = errors
    if partial:
        result["partial"] = partial
    if len(timings) < len(names):
        # Make a shrunken comparable set impossible to miss when
        # reading `value` round-over-round.
        result["timed_queries"] = len(timings)
        result["headline_queries"] = len(names)
    print(json.dumps(result))

    # Round-over-round stability: append every run to a history log
    # (per-query minima are the stable signal; totals swing with
    # machine load — see SCALE.md "Bench posture"), tagged with the
    # core count and git sha, and flag on stderr only on an HONEST
    # regression signal against a comparable prior run (best_prior).
    # stdout stays exactly one JSON line for the driver.
    hist_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_HISTORY.jsonl")
    try:
        prior = []
        if os.path.exists(hist_path):
            with open(hist_path) as fh:
                prior = [json.loads(ln) for ln in fh if ln.strip()]
        cpus = spark.sparkContext.defaultParallelism
        with open(hist_path, "a") as fh:
            fh.write(json.dumps(
                {**result, **history_tags(cpus), "ts": int(time.time())}
            ) + "\n")
        best = best_prior(
            prior, timings, sf_val, cpus, result.get("calib_spark_sec")
        )
        if best is not None and best[0] > 2:
            print(
                f"WARNING: same-set bench regression: {best[3]}x raw, "
                f"{round(best[0], 3)}x after calib_spark machine-speed "
                f"adjustment, vs the best prior run sharing {best[1]} "
                f"queries ({best[2]}s) at sf={sf_val}, {cpus} cores; "
                f"check per-query times in {hist_path} before trusting.",
                file=sys.stderr,
            )
    except Exception:  # noqa: BLE001 — a corrupt/truncated history line
        pass  # must never break the bench contract; history is best-effort


if __name__ == "__main__":
    main()

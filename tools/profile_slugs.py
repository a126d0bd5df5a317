"""Layered per-slug profile: construction vs action, per-stage Spark
counters and process-tree CPU, one JSONL row per slug on stdout.

    python tools/profile_slugs.py SLUG... [--sf DIR] [--inflate K]
                                  [--reps N] [--sink count|noop]

A SLUG is a registered query or a named set: ``HEADLINE``
(``bench.HEADLINE``, the bench's timed set) or ``HEAVY`` (the
dedup/curation/corpus heavyweights below, profiled at 10x volume).
``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, the directory bench.py
reads. ``--inflate K`` runs the slugs against a Kx copy of it
(``scale_smoke.inflated_dir``: documents in disjoint copies, fact
tables key-shifted, dimensions unchanged), built once and reused.

Each slug gets one untimed warm-up rep (codegen, JIT), then N timed
reps. A rep rebuilds the frame from scratch under job group
``<slug>:<rep>:build`` — eager fits, bounded collects and checkpoints
run here — and runs the sink under ``<slug>:<rep>:action``. ``count``
mirrors bench.py (and lets Catalyst prune output columns); ``noop``
writes every column, the honest per-row cost of a projection. Both
groups are read back through ``perfbench.engine.StageReader`` and the
driver / JVM / Python-worker CPU through ``perfbench.engine.ProcTree``.

A row carries the tags ``sf``, ``K``, ``cpus``, ``sink`` and
``git_sha``; the calib probe bracketing the whole run
(``calib_before`` / ``calib_after``, see ``bench.calib``); the output
row count; per rep ``build_s``, ``action_s``, ``build_jobs``,
``action_jobs`` and ``cpu_s``; and the stage rows of the median rep.
Walls compare only within one quiet window at one core count;
CPU-seconds, tasks and shuffle bytes compare plans across windows.

The count-vs-noop audit of the bench's blind spot is two runs over the
same slugs, ``--sink count`` and ``--sink noop``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from perfbench.engine import ProcTree, StageReader  # noqa: E402
from tools.scale_smoke import inflated_dir  # noqa: E402

# The heaviest registered slugs over documents, events and lineitem,
# profiled at 10x volume (``--inflate 10``) whenever one of them changes.
HEAVY = [
    "dedup-ngram-jaccard",
    "dedup-cluster",
    "dedup-substring",
    "dedup-strip-spans",
    "pipeline-incremental-dedup",
    "pipeline-curate-corpus",
    "text-lm-score",
    "text-keyword-tfidf",
    "dedup-winnow-pairs",
    "text-kn-lm-score",
    "graph-pagerank",
    "layout-zorder",
    "curate-gate-documents",
    "curate-dsir-weights",
    "text-bm25-topk",
    "text-ngram-novelty",
    "text-token-entropy",
    "mm-phash-clusters",
    "join-asof-tolerance",
    "ccnet-curate",
    "dedup-bloom-exact",
    "text-decontaminate",
    "dedup-containment",
]
SETS = {"HEADLINE": bench.HEADLINE, "HEAVY": HEAVY}

SINKS = {
    "count": lambda df: df.count(),
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
}


def _rounded(x):
    if isinstance(x, float):
        return round(x, 4)
    if isinstance(x, dict):
        return {k: _rounded(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_rounded(v) for v in x]
    return x


def profile_slug(spark, reader, procs, slug: str, sf_dir: str, reps: int, sink: str) -> dict:
    """One slug's ``rows``, per-rep ``reps`` and the median rep's
    ``stages``: a warm-up rep, then ``reps`` timed ones."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dug_data_ingest_spark.queries import all_queries

    fn = all_queries()[slug]

    def rep(tag: str) -> tuple[dict, dict, int]:
        groups = {phase: f"{slug}:{tag}:{phase}" for phase in ("build", "action")}
        obs = Observation()
        cpu0 = procs.cpu()
        try:
            reader.set_group(groups["build"], f"{slug}: build (rep {tag})")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            reader.set_group(groups["action"], f"{slug}: {sink} sink (rep {tag})")
            t0 = time.perf_counter()
            SINKS[sink](df)
            action_s = time.perf_counter() - t0
        finally:
            reader.clear_group()
        cpu1 = procs.cpu()
        row = {"build_s": build_s, "action_s": action_s}
        stages = {}
        for phase, group in groups.items():
            _, totals, stages[phase] = reader.read(group)
            row[f"{phase}_jobs"] = int(totals["spark.jobs"])
        row["cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return row, stages, obs.get["rows"]

    rep("warmup")
    timed = [rep(str(i)) for i in range(reps)]
    order = sorted(range(reps), key=lambda i: timed[i][0]["build_s"] + timed[i][0]["action_s"])
    return {
        "rows": timed[0][2],
        "reps": [r for r, _, _ in timed],
        "stages": timed[order[reps // 2]][1],
    }


def profile(spark, slugs: list[str], sf_dir: str, k: int = 1, reps: int = 3,
            sink: str = "count") -> list[dict]:
    """One row per slug (see the module docstring); a slug that raises
    gets an ``error`` row and the run goes on."""
    run_dir = inflated_dir(spark, sf_dir, k) if k > 1 else sf_dir
    reader, procs = StageReader(spark), ProcTree()
    tags = {
        "sf": bench.sf_value(sf_dir),
        "K": k,
        **bench.history_tags(spark.sparkContext.defaultParallelism),
        "sink": sink,
    }
    calib_before = bench.calib(spark)
    out = []
    for slug in slugs:
        try:
            res = profile_slug(spark, reader, procs, slug, run_dir, reps, sink)
        except Exception as exc:  # noqa: BLE001 — one broken slug, keep going
            traceback.print_exc()
            res = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        out.append({"slug": slug, **tags, **res})
        print(f"{slug}: {res.get('error') or [r['build_s'] + r['action_s'] for r in res['reps']]}",
              file=sys.stderr, flush=True)
    calib_after = bench.calib(spark)
    return [
        _rounded({**r, "calib_before": calib_before, "calib_after": calib_after})
        for r in out
    ]


def main(argv: list[str] | None = None) -> int:
    from dug_data_ingest_spark.queries import all_queries
    from dug_data_ingest_spark.session import get_spark

    p = argparse.ArgumentParser(prog="profile_slugs.py", description=__doc__.split("\n\n")[0])
    p.add_argument("slugs", nargs="+", metavar="SLUG", help="slug or HEADLINE / HEAVY")
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR")
    p.add_argument("--sf", default=sf_default, required=sf_default is None, metavar="DIR")
    p.add_argument("--inflate", type=int, default=1, metavar="K")
    p.add_argument("--reps", type=int, default=3, metavar="N")
    p.add_argument("--sink", choices=sorted(SINKS), default="count")
    args = p.parse_args(argv)
    slugs = list(dict.fromkeys(s for a in args.slugs for s in SETS.get(a, [a])))
    unknown = [s for s in slugs if s not in all_queries()]
    if unknown:
        p.error(f"unknown slugs: {', '.join(unknown)}")
    if args.inflate < 1 or args.reps < 1:
        p.error("--inflate and --reps must be >= 1")

    spark = get_spark("profile")
    for row in profile(spark, slugs, args.sf, args.inflate, args.reps, args.sink):
        print(json.dumps(row), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

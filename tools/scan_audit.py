"""Scan-count audit: run every registered slug at sf0.001, finalize
its adaptive plan, and flag any slug whose FINAL plan scans one table
more than twice — the signature of a defeated-reuse regression (two
branches of the same rollup planned as separate pipelines).

    python tools/scan_audit.py

Round-7 provenance: this audit caught text-lm-score's duplicated LM
build (an inferred isnotnull pushed below one branch's exchange) and
text-keyword-tfidf's duplicated (doc, token) rollup (column pruning
stripped one branch's partial count) — both fixed and plan-pinned.
Every remaining FLAG is justified and documented in SCALE.md lesson
12: truth-vs-sketch measurement slugs, inherently multi-pass
pipelines, and fuzzy-qgram's rarity pass.
Re-run after any plan-shaping change; investigate NEW flags.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# FLAGs reviewed and justified as of round 7 (see module docstring).
KNOWN = {
    "events-audience-overlap", "join-fuzzy-qgram", "pipeline-curate-corpus",
    "pipeline-incremental-dedup", "sim-ivf-recall", "sim-lsh-recall",
    "sim-lsh-recall-banded", "src-ftp-files", "text-decontaminate",
    # r8: 3 scans of documents = the two accepted wins derivations of
    # the count-then-join span design (dedup-substring's "derived
    # twice, by design" — keeps hot-fp skew probe-side) + the base
    # token pass that rebuilds clean_text; the duplicated run/protect
    # branches DO reuse (2 ReusedExchange in the final plan), and a
    # pruned columnar re-scan beats materializing a corpus-sized
    # shuffle to share it. Plan-pinned in test_plan_shapes.py.
    "dedup-strip-spans",
    # r11: same count-then-join anatomy as dedup-strip-spans — the
    # paragraph stream is derived twice (dup-hash build side + probe
    # side, keeping hot boilerplate hashes PROBE-side for AQE skew
    # splitting) plus one doc_id-only pruned scan for the NULL-text
    # passthrough join; materializing the hashed stream to share it
    # would cost a corpus-sized shuffle instead of a pruned re-scan.
    "dedup-paragraph",
    # r11: history is scanned twice (once into the m/64-bounded bloom
    # bitmap aggregate, once for the exact-confirm semi-join keys —
    # the confirm is the operator's whole point) + the batch scan;
    # here batch and history happen to be slices of the same table.
    "dedup-bloom-exact",
    # r12: the slug IS a self-audit — it re-runs the within-cell pair
    # scan on the survivors and re-derives the original pair set to
    # prove partition/completeness/soundness, so embeddings is read
    # once per property check by design (6 scans in the final plan:
    # every branch re-derives its cells with a row-local argmin over
    # the folded centroids instead of reading a centroid snapshot).
    # The production operator (ext/similarity.py::semantic_dedup
    # alone) scans the corpus once per k-means round while the frame
    # is built, then in the pair join and the survivor anti-join.
    "dedup-semantic",
    # r13: documents x3 = the composed CCNet arc inherits its stages'
    # accepted anatomies — dedup-paragraph's build/probe double
    # derivation (KNOWN above) plus the LM stage's bigram re-scan of
    # the CLEANED stream (text-lm-score scans its input twice: counts
    # rollup + scoring; the cleaned stream derives from documents, so
    # every pass lands on the same base table). Materializing the
    # scrubbed corpus to share it would cost a corpus-sized shuffle
    # instead of pruned columnar re-scans.
    "ccnet-curate",
    # r13: embeddings x4 = the slug grades a whole index lifecycle in
    # one query — PQ train (Lloyd-iteration scans, bounded by the
    # localCheckpoint snapshot), encode, the exact-L2 rerank join of
    # the 400-id shortlist, and the brute-force ground-truth pass the
    # recall property needs (a self-audit scan, the dedup-semantic
    # precedent). The production operator (pq_topk_reranked alone)
    # scans raw vectors once per query.
    "sim-pq-topk-reranked",
}


def main() -> int:
    from dug_data_ingest_spark.queries import all_queries
    from dug_data_ingest_spark.session import get_spark

    spark = get_spark("scan-audit")
    new_flags = []
    for slug, fn in sorted(all_queries().items()):
        try:
            df = fn(spark, SF_DIR)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("+- == Initial Plan ==")[0]
            tables = Counter(re.findall(r"(\w+)\.parquet", final))
            multi = {t: n for t, n in tables.items() if n > 2}
            if multi:
                tag = "known" if slug in KNOWN else "NEW"
                print(f"FLAG[{tag}] {slug}: {multi}", flush=True)
                if slug not in KNOWN:
                    new_flags.append(slug)
        except Exception as exc:  # noqa: BLE001 — isolate per slug
            print(f"SKIP {slug}: {type(exc).__name__}: {exc}"[:160], flush=True)

    print(f"AUDIT DONE — {len(new_flags)} new flag(s): {new_flags}")
    return 1 if new_flags else 0


if __name__ == "__main__":
    raise SystemExit(main())

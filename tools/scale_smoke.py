"""Scale-headroom smoke: run the heavy operator families on a Kx
inflated corpus and report how wall time scales with data volume.

    python tools/scale_smoke.py [K] [sf_dir] [mode]

Two inflation modes, two different stresses:

- ``disjoint`` (default): every WORD is tagged with the copy index,
  so copies share no shingles — per-copy near-dup structure is
  preserved while volume grows Kx, and a scale-safe plan should grow
  roughly Kx in wall time and output size. Superlinear growth flags
  candidate generation or shuffle volume that is quadratic in corpus
  size. The +1-order-of-magnitude empirical check behind SCALE.md's
  100-TB arguments.
- ``clique``: only a short PREFIX is prepended, which leaves the K
  copies of each document mutual near-duplicates (Jaccard ~0.99) —
  every doc becomes a K-clique, so TRUE output grows ~K^2/2. This is
  the duplicate-heavy-corpus stress (a crawl with mirrored sites):
  the engine must absorb quadratic OUTPUT without quadratic
  intermediate blowup beyond it.

Prints one JSON line: {"k": K, "mode": ..., "timings": {op: sec},
"outputs": {op: rows}}. Compare against a K=1 run of the same build.

The REGISTERED queries run at Kx volume through
``tools/profile_slugs.py --inflate K``, over the sf-layout directory that
``inflated_dir`` below materializes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from dug_data_ingest_spark.session import get_spark  # noqa: E402


# key offset between copies: it must exceed every source key, or
# copies collide (corrupting dedup and join results)
_STEP = 1_000_000_000


def _union_copies(base, k: int, replace):
    """K copies of ``base`` unioned, copy i with the columns of
    ``replace(i)`` ({name: Column}) swapped in place."""
    out = None
    for i in range(k):
        cols = replace(i)
        copy = base.select(*[cols.get(c, F.col(c)).alias(c) for c in base.columns])
        out = copy if out is None else out.unionByName(copy)
    return out


def _key_shift(*keys: str):
    return lambda i: {c: F.col(c) + F.lit(i * _STEP) for c in keys}


def inflate_documents(spark, sf_dir: str, k: int, mode: str = "disjoint"):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def replace(i: int) -> dict:
        if mode == "clique":
            text = F.concat(F.lit(f"copy{i} "), F.col("text"))
        else:  # disjoint: tag every word so copies share no shingles
            text = F.regexp_replace("text", r"(\S+)", f"c{i}$1")
        return {**_key_shift("doc_id")(i), "text": text}

    return _union_copies(base, k, replace)


def inflate_embeddings(spark, sf_dir: str, k: int):
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _union_copies(
        base,
        k,
        lambda i: {
            **_key_shift("vec_id")(i),
            # shift one coordinate per copy so copies are not exact
            # duplicates in embedding space either
            "embedding": F.transform(
                "embedding", lambda x, p: x + F.lit(0.001 * i) * (p == 0).cast("float")
            ),
        },
    )


# the key columns each inflated table shifts per copy; orders and
# lineitem shift their order key by the same step, so every copy's
# lineitems join to that copy's orders
_KEYS = {
    "documents": ("doc_id",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
}
_UNCHANGED = ("region", "nation", "customer", "supplier", "part", "embeddings")


def inflated_dir(spark, sf_dir: str, k: int, fresh: bool = False) -> str:
    """Materialize a Kx sf-layout directory the REGISTERED queries run
    against unmodified: documents in ``disjoint`` copies
    (inflate_documents), the fact tables key-shifted K times, and the
    dimension tables and embeddings copied as they are (facts grow,
    dims do not). A complete directory is reused unless ``fresh``."""
    from dug_data_ingest_spark.sources import scratch_dir

    # tag the cache dir with the SOURCE sf so a run against a
    # different scale factor can never reuse the wrong fixture
    # (the _events_partitioned convention, queries/sources.py)
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/").split("/")[-1])
    out = scratch_dir(f"inflated-{tag}-{k}", fresh=fresh)
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out

    def base(t: str):
        return spark.read.parquet(f"{sf_dir}/{t}.parquet")

    plans = {t: base(t) for t in _UNCHANGED}
    for t, keys in _KEYS.items():
        top = max(v or 0 for v in base(t).agg(*[F.max(c) for c in keys]).first())
        if top >= _STEP:
            raise ValueError(f"{t} key {top} >= {_STEP}: raise the copy offset")
        plans[t] = (
            inflate_documents(spark, sf_dir, k)
            if t == "documents"
            else _union_copies(base(t), k, _key_shift(*keys))
        )
    for t, df in plans.items():
        df.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(marker, "w").close()
    return out


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    mode = sys.argv[3] if len(sys.argv) > 3 else "disjoint"
    if mode not in ("disjoint", "clique"):
        raise SystemExit(f"unknown mode {mode!r}: use disjoint|clique")
    spark = get_spark("scale-smoke")

    from dug_data_ingest_spark.ext.dedup import (
        doc_shingles,
        duplicate_clusters,
        duplicated_span_stats,
        exact_dedup_groups,
        minhash_band_keys,
        minhash_candidate_pairs,
        minhash_signatures_wide,
        ngram_containment_pairs,
        ngram_jaccard_pairs_prefix,
        simhash64,
    )
    from dug_data_ingest_spark.ext.curation import stratified_exact_k
    from dug_data_ingest_spark.ext.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
        topk_bruteforce,
    )

    docs = inflate_documents(spark, sf_dir, k, mode).localCheckpoint()
    embs = inflate_embeddings(spark, sf_dir, k).localCheckpoint()
    n_docs, n_embs = docs.count(), embs.count()

    ops = {
        "dedup-exact": lambda: exact_dedup_groups(docs).count(),
        "dedup-minhash": lambda: minhash_candidate_pairs(
            # the fused sketch path the graded query uses
            minhash_band_keys(minhash_signatures_wide(doc_shingles(docs)))
        ).count(),
        # the df-capped shared-shingle join, as the graded
        # dedup-containment slug runs it (threshold 0.9, cap 100)
        "dedup-containment": lambda: ngram_containment_pairs(
            docs, threshold=0.9, max_doc_freq=100
        ).count(),
        # exact-semantics prefix-filtered path (the graded
        # dedup-ngram-jaccard shape since r10): under 'disjoint' the
        # df-rarest prefixes stay unique per copy (linear growth);
        # under 'clique' every copy's prefix collides with its K
        # siblings — true output is ~K^2/2 pairs and candidates must
        # track the OUTPUT, not the corpus
        "dedup-ngram-prefix": lambda: ngram_jaccard_pairs_prefix(
            docs, threshold=0.8
        ).count(),
        # graded dedup-cluster consumes prefix pairs since r10
        "dedup-cluster": lambda: duplicate_clusters(
            ngram_jaccard_pairs_prefix(docs, threshold=0.8)
        ).count(),
        "dedup-simhash": lambda: simhash64(docs).count(),
        # span-level verbatim dedup: under 'clique' inflation every
        # window fingerprint goes corpus-hot (K copies of each doc),
        # the adversarial case the count-then-join shape exists for —
        # a pair-based design would blow up K² here, a count does not
        "dedup-substring": lambda: duplicated_span_stats(docs).count(),
        "sim-topk-bruteforce": lambda: topk_bruteforce(
            embs, [0.1] * 64, k=10
        ).count(),
        # two-phase stratified sampling: inflation grows the corpus Kx
        # while the lang strata stay fixed — the monster-stratum shape
        # the rank-threshold refinement exists for; the work that
        # scales with K is two corpus scans + a 256-bucket rollup, the
        # rank window stays candidate-bounded
        "sample-stratified": lambda: stratified_exact_k(docs, k=5).count(),
        # Bloom membership: build over half the inflated corpus (one
        # m/64-bounded bit_or aggregate — work is one scan + k md5s
        # per key at any K), probe the other half (row-local over the
        # 1-row broadcast). Output = flagged count; under disjoint
        # inflation the halves share no text, so flags ≈ fpr·n/2 —
        # growth must track the SCAN, never a pairwise structure
        "bloom-build-probe": lambda: _bloom_half(docs),
        # PQ corpus-sized work: encode + ADC-score a query against
        # cached codebooks (codebooks are a build artifact bounded by
        # m*k — what scales with the corpus is encode and scoring)
        "pq-encode-query": lambda: pq_adc_topk(
            pq_encode(embs, _pq_books(), m=8, dim=64),
            _pq_books().collect(),
            [0.1] * 64,
            k=10,
            m=8,
        ).count(),
    }

    def _bloom_half(frame):
        from dug_data_ingest_spark.ext.dedup import bloom_build, bloom_probe

        hist = frame.where(F.col("doc_id") % 2 == 0)
        batch = frame.where(F.col("doc_id") % 2 == 1)
        words = bloom_build(hist, key_col="text", m_bits=1 << 23, k_hashes=7)
        return bloom_probe(batch, words, key_col="text", k_hashes=7).where(
            "maybe_seen"
        ).count()

    _books_cache = []

    def _pq_books():
        if not _books_cache:
            _books_cache.append(
                pq_train(embs, m=8, k=16, n_iters=2, dim=64).localCheckpoint()
            )
        return _books_cache[0]

    timings, outputs = {}, {}
    for name, fn in ops.items():
        fn()  # warm plan/codegen
        t0 = time.perf_counter()
        outputs[name] = fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "k": k,
                "mode": mode,
                "n_docs": n_docs,
                "n_embeddings": n_embs,
                "timings": timings,
                "outputs": outputs,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Extension slugs (SURVEY.md §7 M5 / BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing — each
with a DuckDB oracle that replays the exact same deterministic
algorithm (md5-derived hashing, identical normalization) so the gate
verifies the full pipeline, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.ext.dedup import (
    doc_shingles,
    duplicate_clusters,
    non_canonical_ids,
    exact_dedup_groups,
    minhash_band_keys,
    minhash_candidate_pairs,
    minhash_jaccard_estimates,
    minhash_signatures_wide,
    ngram_containment_pairs,
    ngram_jaccard_pairs_prefix,
    simhash64,
    simhash_near_pairs,
)
from dug_data_ingest_spark.functions.constants import sql_literal
from dug_data_ingest_spark.functions.vectors import as_double, cosine
from dug_data_ingest_spark.ext.multimodal import (
    as_media,
    extract_audio_features,
    extract_features,
    frame_sample,
    resize,
    synth_audio_media,
    synth_image_media,
)
from dug_data_ingest_spark.ext.similarity import (
    _assign,
    cosine_dup_pairs,
    ivf_topk,
    lsh_banded_pairs,
    lsh_dup_pairs,
    kmeans_centroids,
    random_hyperplanes,
    topk_arrow,
    topk_bruteforce,
)
from dug_data_ingest_spark.functions import text as TXT
from dug_data_ingest_spark.queries import load, query

# Shared SQL fragments so every oracle normalizes text exactly like
# functions/text.py::normalized_words (the canonical fragment lives
# there, next to its Spark twin).
_WORDS = TXT.NORMALIZED_WORDS_SQL
_SHINGLES_CTE = f"""
words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM words,
  unnest(CASE WHEN len(w) >= 3
              THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              ELSE []::VARCHAR[] END) t(s)
)
"""

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LANG_SCORES_SQL = {
    lang: " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in words
    )
    for lang, words in TXT.LANG_MARKERS.items()
}

_LANGID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_LANG_SCORES_SQL['en']} AS s_en,
         {_LANG_SCORES_SQL['es']} AS s_es,
         {_LANG_SCORES_SQL['fr']} AS s_fr,
         {_LANG_SCORES_SQL['de']} AS s_de
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de AND s_es > s_en THEN 'es'
       WHEN s_fr > 0 AND s_fr >= s_de AND s_fr > s_en AND s_fr > s_es THEN 'fr'
       WHEN s_de > 0 AND s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
       ELSE 'und' END AS pred_lang
FROM scored
"""


@query("text-langid", oracle=_LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", TXT.detect_lang(F.col("text")).alias("pred_lang")
    )


_QUALITY_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_words,
         ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
               / greatest(length(text), 1), 4) AS punct_ratio,
         ROUND((len(regexp_extract_all(text, '\\bthe\\b'))
                + len(regexp_extract_all(text, '\\ba\\b'))
                + len(regexp_extract_all(text, '\\band\\b'))
                + len(regexp_extract_all(text, '\\bof\\b')))
               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4)
           AS stopword_ratio,
         length(text) AS n_chars_m
  FROM documents
)
SELECT doc_id, n_words, punct_ratio, stopword_ratio,
       ROUND(0.4 * least(n_chars_m / 400.0, 1.0)
             + 0.4 * least(stopword_ratio * 10.0, 1.0)
             + 0.2 * greatest(0.0, 1.0 - punct_ratio * 20.0), 4) AS quality
FROM m
"""


@query("text-quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.n_words(t).cast("int").alias("n_words"),
        TXT.punct_ratio(t).alias("punct_ratio"),
        TXT.stopword_ratio(t).alias("stopword_ratio"),
        TXT.quality_score(t).alias("quality"),
    )


@query(
    "text-tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT)
             AS bpe_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.n_words(t).cast("int").alias("ws_tokens"),
        TXT.bpe_ish_token_count(t).cast("int").alias("bpe_tokens"),
    )


@query(
    "text-fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort({_WORDS}), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup-exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


_HASH64 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
seeds AS (SELECT unnest(range(0, 16)) AS seed),
base AS (SELECT doc_id, ({_HASH64.format(x="s")}) % 2147483647 AS hb FROM sh),
hs AS (
  SELECT doc_id, seed, ((2 * seed + 1) * hb + seed) % 2147483647 AS h
  FROM base, seeds
),
sig AS (SELECT doc_id, seed, min(h) AS mh FROM hs GROUP BY doc_id, seed)
SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
FROM sig GROUP BY doc_id, band
"""


@query("dedup-minhash", oracle=_MINHASH_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full minhash-LSH sketch pipeline; the oracle replays every
    signature, so all 16 permutations are value-checked."""
    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures_wide(doc_shingles(docs), num_hashes=16)
    return minhash_band_keys(sig, num_hashes=16, rows_per_band=4)


_MINHASH_PAIRS_ORACLE = f"""
WITH {_SHINGLES_CTE},
seeds AS (SELECT unnest(range(0, 16)) AS seed),
base AS (SELECT doc_id, ({_HASH64.format(x="s")}) % 2147483647 AS hb FROM sh),
hs AS (
  SELECT doc_id, seed, ((2 * seed + 1) * hb + seed) % 2147483647 AS h
  FROM base, seeds
),
sig AS (SELECT doc_id, seed, min(h) AS mh FROM hs GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, band
)
SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM bands x JOIN bands y USING (band, band_key)
WHERE x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
"""


@query("dedup-minhash-pairs", oracle=_MINHASH_PAIRS_ORACLE)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bands = minhash_band_keys(minhash_signatures_wide(doc_shingles(docs)))
    return minhash_candidate_pairs(bands)


_MINHASH_EST_ORACLE = f"""
WITH {_SHINGLES_CTE},
seeds AS (SELECT unnest(range(0, 16)) AS seed),
base AS (SELECT doc_id, ({_HASH64.format(x="s")}) % 2147483647 AS hb FROM sh),
hs AS (
  SELECT doc_id, seed, ((2 * seed + 1) * hb + seed) % 2147483647 AS h
  FROM base, seeds
),
sig AS (SELECT doc_id, seed, min(h) AS mh FROM hs GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y USING (band, band_key)
  WHERE x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.a
JOIN sig sb ON sb.doc_id = c.b AND sb.seed = sa.seed
GROUP BY c.a, c.b
"""


@query("dedup-minhash-estimate", oracle=_MINHASH_EST_ORACLE)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only Jaccard estimates for the band-join candidates —
    the cheap middle stage of the LSH pipeline (candidates → estimate
    → exact-verify survivors only). k/16 fractions are exact binary
    doubles, so the estimate replays bit-for-bit in the oracle."""
    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures_wide(doc_shingles(docs))
    cand = minhash_candidate_pairs(minhash_band_keys(sig))
    return minhash_jaccard_estimates(sig, cand)


# Document-frequency cap for the shared-shingle candidate join: a
# shingle in more than this many documents is dropped before the
# self-join on BOTH engines. Since the round-10 switch of the
# symmetric jaccard family onto the PPJoin prefix path, only
# dedup-containment still grades through this cap (directional
# containment cannot be prefix-pruned on the contained side — the
# measured-4.3x-worse negative result recorded on
# ngram_jaccard_pairs_prefix's docstring).
_JACCARD_CAP = 100

_KEPT_CTE = f"""
kept AS (
  SELECT doc_id, s FROM sh
  QUALIFY count(*) OVER (PARTITION BY s) <= {_JACCARD_CAP}
)
"""

# EXACT-semantics oracles for the symmetric jaccard family (the capped
# oracle minus its QUALIFY): since round 10 the graded queries run
# ngram_jaccard_pairs_prefix, whose PPJoin prefix filter is a complete
# candidate generator — no df cap, no semantic change, every true
# (a, b, ROUND(jaccard,4) >= t) pair.
_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8
"""


@query("dedup-ngram-jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard near-dup pairs at threshold 0.8 via PPJoin prefix
    filtering (ext/dedup.py::ngram_jaccard_pairs_prefix): only each
    document's n - ceil(t*n) + 1 globally-rarest shingles enter the
    candidate join (~26x fewer candidates than the shared-shingle join
    at sf0.1), then an array-intersect verify on the full shingle sets.
    The oracle is the literal exact definition — every shared-shingle
    pair scored, no df cap."""
    return ngram_jaccard_pairs_prefix(
        load(spark, sf_dir, "documents"), threshold=0.8
    )


_EXACT_GRAPH_CTES = f"""
{_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
pairs AS (
  SELECT a, b FROM inter JOIN sizes sa ON sa.doc_id = a
  JOIN sizes sb ON sb.doc_id = b
  WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
)
"""

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_EXACT_GRAPH_CTES}
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""


@query("dedup-cluster", oracle=_CLUSTER_ORACLE)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs are only half the job: dedup keeps ONE doc per
    transitive cluster, so pairs must become components. Min-label
    propagation over the EXACT Jaccard-pair graph (prefix-filtered
    candidates, ext/dedup.py), verified against DuckDB's
    recursive-CTE reachability — the oracle computes true components,
    so the fixpoint is checked, not the iteration."""
    pairs = ngram_jaccard_pairs_prefix(
        load(spark, sf_dir, "documents"), threshold=0.8
    )
    return duplicate_clusters(pairs)


_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {_EXACT_GRAPH_CTES},
comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)
"""


@query("dedup-survivors", oracle=_SURVIVORS_ORACLE)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: the corpus minus every non-canonical
    cluster member — what a training-data pipeline actually writes
    out. Pairs come from the EXACT prefix-filtered path; the drop set
    (cluster members ≠ canonical) is a tiny fraction of the corpus, so
    the final subtraction is a broadcast anti-join: the 100 TB side is
    scanned once, never shuffled."""
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_prefix(docs, threshold=0.8)
    drop = non_canonical_ids(pairs)
    return docs.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id")


# 64-bit SimHash shared fragments: four 16-bit lanes sliced from one
# md5 per word, 64 bit votes, lanes packed into band0..band3 — the
# identical formulas ext/dedup.py::simhash64 evaluates.
_SH64_LANES = ", ".join(
    f"CAST(('0x' || substr(md5(w), {4 * l + 1}, 4)) AS BIGINT) AS h{l}"
    for l in range(4)
)
_SH64_VOTES = ",\n         ".join(
    f"sum(CASE WHEN (h{j // 16} >> {j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(64)
)
_SH64_PACKS = ",\n         ".join(
    "CAST("
    + " + ".join(f"(CASE WHEN b{16 * l + j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16))
    + f" AS INTEGER) AS band{l}"
    for l in range(4)
)

_SIMHASH64_CTE = f"""
words AS (SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
h AS (SELECT doc_id, {_SH64_LANES} FROM words),
votes AS (
  SELECT doc_id,
         {_SH64_VOTES}
  FROM h GROUP BY doc_id
),
packed AS (
  SELECT doc_id,
         {_SH64_PACKS}
  FROM votes
)
"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH64_CTE}
SELECT doc_id, printf('%04x%04x%04x%04x', band0, band1, band2, band3) AS simhash,
       band0, band1, band2, band3
FROM packed
"""


@query("dedup-simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load(spark, sf_dir, "documents"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH64_CTE},
tall AS (
  SELECT doc_id, 0 AS lane, band0 AS key, band0, band1, band2, band3 FROM packed
  UNION ALL
  SELECT doc_id, 1, band1, band0, band1, band2, band3 FROM packed
  UNION ALL
  SELECT doc_id, 2, band2, band0, band1, band2, band3 FROM packed
  UNION ALL
  SELECT doc_id, 3, band3, band0, band1, band2, band3 FROM packed
),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         x.band0 AS a0, x.band1 AS a1, x.band2 AS a2, x.band3 AS a3,
         y.band0 AS b0, y.band1 AS b1, y.band2 AS b2, y.band3 AS b3
  FROM tall x JOIN tall y USING (lane, key)
  WHERE x.doc_id < y.doc_id
  GROUP BY ALL
)
SELECT a, b,
       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
            + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
      + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
"""


@query("dedup-simhash-pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 near-dup pairs via the 4×16-bit banded lookup —
    proves the 64-bit code actually blocks (candidates are per-lane
    buckets, never all-pairs)."""
    return simhash_near_pairs(simhash64(load(spark, sf_dir, "documents")), max_hamming=3)


@query(
    "dedup-embedding",
    oracle="""
    SELECT x.vec_id AS a, y.vec_id AS b,
           ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
             AS cos_sim
    FROM embeddings x JOIN embeddings y
      ON x.label = y.label AND x.vec_id < y.vec_id
    WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
          >= 0.4
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _query_row(spark: SparkSession, sf_dir: str, *cols: str):
    """The search parameter row: vec_id 0's ``cols`` (tiny driver-side
    parameter fetch, not a data collect). Raises ``ValueError`` when the
    embeddings table has no vec_id = 0 row to search with."""
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(*cols)
        .first()
    )
    if row is None:
        raise ValueError(
            "similarity search needs the query row vec_id = 0 in "
            f"{sf_dir}/embeddings.parquet, and it is missing"
        )
    return row


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The search parameter: vec_id 0's embedding."""
    return [float(x) for x in _query_row(spark, sf_dir, "embedding")[0]]


# RETIRED from the registry in round 7 (SCALE.md "retire redundant
# slugs"): sim-topk-bruteforce graded the IDENTICAL query and oracle as
# sim-topk-arrow — same search, same top-10, only the physical scorer
# differed (codegen Column expression vs Arrow batch). One registry
# slot per logical query; the Arrow slug stays registered because it is
# the wide-vector scale path AND keeps the repo's one pandas_udf under
# the driver's gate. The codegen scorer remains first-class library
# surface (ext/similarity.py::topk_bruteforce — the narrow-vector
# comparison point, used by sim-ivf-recall's truth side below and by
# tools/scale_smoke.py) and keeps its own oracle-parity test,
# tests/test_sim_baseline.py.
_RETIRED_TOPK_BRUTEFORCE_ORACLE = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings, q
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
    LIMIT 10
"""


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return topk_bruteforce(emb, _query_vec(spark, sf_dir), k=10)


@query(
    "sim-ivf-topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cent AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM (
        SELECT label, pos, avg(embedding[pos]::DOUBLE) AS m FROM (
          SELECT label, embedding, generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
        GROUP BY label, pos)
      GROUP BY label
    ),
    best AS (
      SELECT label FROM cent, q
      ORDER BY list_cosine_similarity(centroid, qv) DESC, label LIMIT 1
    )
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings e JOIN best USING (label), q
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id
    LIMIT 5
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _query_vec(spark, sf_dir), k=5, n_probe=1)


@query(
    "sim-ivf-recall",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    truth AS (
      SELECT vec_id FROM embeddings, q
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
      LIMIT 5
    ),
    cent AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM (
        SELECT label, pos, avg(embedding[pos]::DOUBLE) AS m FROM (
          SELECT label, embedding, generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
        GROUP BY label, pos)
      GROUP BY label
    ),
    best AS (
      SELECT label FROM cent, q
      ORDER BY list_cosine_similarity(centroid, qv) DESC, label LIMIT 1
    ),
    approx AS (
      SELECT e.vec_id FROM embeddings e JOIN best USING (label), q
      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id
      LIMIT 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           ROUND(COUNT(*) / 5.0, 2) AS recall_at_5
    FROM truth JOIN approx USING (vec_id)
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: recall@5 of the 1-probe IVF path against
    brute-force ground truth — the quality/throughput dial every ANN
    deployment has to read before raising n_probe. Both sides are tiny
    top-k results, so the join is driver-trivial at any corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    truth = topk_bruteforce(emb, qv, k=5).select("vec_id")
    approx = ivf_topk(emb, qv, k=5, n_probe=1).select("vec_id")
    return truth.join(approx, "vec_id").agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.round(F.count("*") / 5.0, 2).alias("recall_at_5"),
    )


@query(
    "sim-topk-multiquery",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS raw,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                        e.vec_id) AS rn
      FROM embeddings e CROSS JOIN q
    )
    SELECT qid, vec_id, ROUND(raw, 4) AS cos_sim FROM scored WHERE rn <= 3
    """,
)
def sim_topk_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch search: N query vectors answered in ONE corpus pass.
    The query set folds into the plan as a literal struct array (the
    moral broadcast — at real scale, F.broadcast a query DataFrame);
    per-query top-k is a window rank over qid, so there's exactly one
    shuffle however many queries ride along — never one scan each."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    qrows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", "embedding")
        .collect()
    )
    # typed even when empty: array() of no structs is array<void>,
    # whose q.qid no extract can resolve (a 0-row embeddings table)
    qset = (
        T.StructType().add("qid", T.LongType()).add("qv", T.ArrayType(T.DoubleType()))
    )
    qlit = F.expr(sql_literal(qrows, T.ArrayType(qset)))
    scored = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .select("vec_id", "v", F.explode(qlit).alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            "vec_id",
            cosine(F.col("v"), F.col("q.qv")).alias("raw"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("raw"), F.col("vec_id"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", F.round("raw", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Multimodal: mm-binary-meta / mm-frame-sample treat documents.text
# bytes as an opaque payload (envelope + offset plumbing, format-
# agnostic); mm-decode-features / mm-resize run REAL stdlib PPM/BMP
# codecs over synthesized images (see ext/multimodal.py).
# ---------------------------------------------------------------------------


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return as_media(docs, "doc_id", "payload", "text/plain")


@query(
    "mm-binary-meta",
    oracle="""
    SELECT doc_id AS media_id, 'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _media(spark, sf_dir).select(
        "media_id", "media_type", "n_bytes", "checksum"
    )


# The decode oracle replays, in closed form, what Spark computes by
# actually ENCODING real PPM/BMP bytes and PARSING them back
# (ext/multimodal.py): synth pixel (x, y, c) of doc d is
# (7d + 13x + 31y + 97c) mod 256 at width 4 + d%5, height 3 + d%4.
# If the encoder, the struct-level parser, or the stats pass were
# wrong, the integer sums/extrema would not match.
_DECODE_ORACLE = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM dims),
ys AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
px AS (
  SELECT doc_id, w, h, (7 * doc_id + 13 * x + 31 * y + 97 * c) % 256 AS v
  FROM (SELECT doc_id, w, h, x, y, unnest([0, 1, 2]) AS c FROM ys)
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, w, h
"""


@query("mm-decode-features", oracle=_DECODE_ORACLE)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode over a mixed-format media column: synthesize
    deterministic PPM (even ids) / BMP (odd ids) payloads, then
    struct-parse them back and emit exact pixel statistics."""
    docs = load(spark, sf_dir, "documents")
    feats = extract_features(synth_image_media(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.col("feature").getItem(0).cast("bigint").alias("px_sum"),
        F.col("feature").getItem(1).cast("int").alias("px_min"),
        F.col("feature").getItem(2).cast("int").alias("px_max"),
        F.col("feature").getItem(3).cast("bigint").alias("n_px"),
    )


@query(
    "mm-frame-sample",
    oracle="""
    WITH m AS (
      SELECT doc_id, greatest(octet_length(encode(text)) // 64, 1) AS n_frames
      FROM documents
    )
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no,
           CAST(f * 64 AS BIGINT) AS byte_offset
    FROM (SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS f FROM m)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = frame_sample(_media(spark, sf_dir), every_n_bytes=64)
    return frames.select(
        "media_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.col("byte_offset").cast("bigint").alias("byte_offset"),
    )

# ---------------------------------------------------------------------------
# LSH-blocked embedding dedup (the scale path): deterministic
# random-hyperplane buckets, candidate pairs only within a bucket,
# exact cosine verify. The planes are literals in BOTH engines.
# ---------------------------------------------------------------------------

_PLANES = random_hyperplanes(8, 64)
_PLANES_SQL = [
    "[" + ", ".join(f"{x}" for x in plane) + "]::DOUBLE[]" for plane in _PLANES
]
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {p}) > 0 THEN {2**j} ELSE 0 END)"
    for j, p in enumerate(_PLANES_SQL)
)

_LSH_ORACLE = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
)
SELECT x.vec_id AS a, y.vec_id AS b,
       ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
         AS cos_sim
FROM bucketed x JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
      >= 0.3
"""


@query("dedup-embedding-lsh", oracle=_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.3)


@query(
    "sim-lsh-recall",
    oracle=f"""
    WITH truth AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
            >= 0.3
    ),
    bucketed AS (
      SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
    ),
    found AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM bucketed x JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
            >= 0.3
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           ROUND((SELECT count(*) FROM found) /
                 CAST((SELECT count(*) FROM truth) AS DOUBLE), 4) AS recall
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level recall of the 8-plane LSH blocking against exact
    all-pairs ground truth — the quality dial for n_planes, the same
    measure-don't-guess companion sim-ivf-recall gives the IVF path.

    The measured value agrees with theory and is a finding, not a
    bug: a single 8-plane band finds a cosine-s pair with probability
    (1 - arccos(s)/pi)^8, which at the permissive s=0.3 threshold is
    ~0.017 — and the gauge reads 0.017-0.018 at both test scales.
    Single-band sign-LSH only has usable recall for genuinely
    near-duplicate pairs (s→1); for a permissive threshold you band
    the bits (b bands of r planes, OR across bands) exactly like the
    minhash/simhash blocking — this gauge is what tells you when.

    The all-pairs truth side is O(n²) by definition: at real scale
    you run this on a fixed hash-sample of the corpus (hash_sample
    keeps the sample — and so the metric — reproducible run-over-
    run); the LSH side stays bucket-local at any scale. The final
    combine is a crossJoin of two single-row aggregates —
    constant-size, driver trivial."""
    emb = load(spark, sf_dir, "embeddings")
    truth = cosine_dup_pairs(
        emb.withColumn("_all", F.lit(1)), threshold=0.3, block_col="_all"
    )
    found = lsh_dup_pairs(emb, threshold=0.3)
    t = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    f = found.agg(F.count("*").cast("bigint").alias("n_found"))
    return t.crossJoin(f).select(
        "n_true",
        "n_found",
        F.round(F.try_divide("n_found", "n_true"), 4).alias("recall"),
    )


# Per-band 2-plane keys for the banded-LSH oracle: band b owns planes
# [2b, 2b+1]; key = sum of sign bits weighted 1, 2.
_BAND_KEYS_SQL = [
    " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_PLANES_SQL[b * 2 + j]}) > 0"
        f" THEN {2**j} ELSE 0 END)"
        for j in range(2)
    )
    for b in range(4)
]

_BANDED_FOUND_SQL = " UNION ".join(
    f"""SELECT x.vec_id AS a, y.vec_id AS b,
        ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
          AS cos_sim
        FROM (SELECT vec_id, embedding, {k} AS key FROM embeddings) x
        JOIN (SELECT vec_id, embedding, {k} AS key FROM embeddings) y
          ON x.key = y.key AND x.vec_id < y.vec_id
        WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
          >= 0.3"""
    for k in _BAND_KEYS_SQL
)


@query(
    "sim-lsh-recall-banded",
    oracle=f"""
    WITH truth AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      WHERE ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4)
            >= 0.3
    ),
    found AS ({_BANDED_FOUND_SQL})
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           ROUND((SELECT count(*) FROM found) /
                 CAST((SELECT count(*) FROM truth) AS DOUBLE), 4) AS recall
    """,
)
def sim_lsh_recall_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the BANDED blocking (4 bands × 2 planes, OR across
    bands — ext/similarity.py:lsh_banded_pairs) against the same
    all-pairs truth as sim-lsh-recall. Theory predicts
    1-(1-(1-arccos(0.3)/pi)^2)^4 ≈ 0.83 at the threshold boundary and
    higher for closer pairs; read next to sim-lsh-recall's ~0.017 for
    the single-band code, this pair of gauges is the banding
    trade-off (recall × b more candidate comparisons) made
    measurable."""
    emb = load(spark, sf_dir, "embeddings")
    truth = cosine_dup_pairs(
        emb.withColumn("_all", F.lit(1)), threshold=0.3, block_col="_all"
    )
    found = lsh_banded_pairs(emb, threshold=0.3)
    t = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    f = found.agg(F.count("*").cast("bigint").alias("n_found"))
    return t.crossJoin(f).select(
        "n_true",
        "n_found",
        F.round(F.try_divide("n_found", "n_true"), 4).alias("recall"),
    )


@query(
    "mm-resize",
    # Replays the full chain encode → decode → nearest-neighbor
    # resample to 4x3 → re-encode → decode → stats: resized pixel
    # (i, j, c) reads source ((i*w)//4, (j*h)//3); n_bytes pins the
    # re-encoded container (PPM 11-byte header + 36 raster bytes = 47,
    # BMP 54-byte headers + unpadded 12-byte rows * 3 = 90).
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
    ),
    xs AS (SELECT doc_id, w, h, unnest(generate_series(0, 3)) AS i FROM dims),
    ys AS (SELECT doc_id, w, h, i, unnest(generate_series(0, 2)) AS j FROM xs),
    px AS (
      SELECT doc_id,
             (7 * doc_id + 13 * ((i * w) // 4) + 31 * ((j * h) // 3)
              + 97 * c) % 256 AS v
      FROM (SELECT doc_id, w, h, i, j, unnest([0, 1, 2]) AS c FROM ys)
    )
    SELECT doc_id AS media_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 47 ELSE 90 END AS BIGINT)
             AS n_bytes,
           CAST(SUM(v) AS BIGINT) AS px_sum
    FROM px GROUP BY doc_id
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real nearest-neighbor resize to 4x3 over mixed PPM/BMP payloads,
    verified by re-decoding the re-encoded output: one decode pass
    (keep_cols) yields both the container size and the pixel sum."""
    docs = load(spark, sf_dir, "documents")
    resized = resize(synth_image_media(docs), width=4, height=3)
    feats = extract_features(resized, keep_cols=("n_bytes",))
    return feats.select(
        "media_id",
        "n_bytes",
        F.col("feature").getItem(0).cast("bigint").alias("px_sum"),
    )


@query(
    "mm-audio-features",
    # Replays, in closed form, what Spark computes by ENCODING real
    # RIFF/WAVE PCM16 bytes and PARSING them back (ext/multimodal.py:
    # encode_wav/decode_wav/audio_stats): sample i of clip d is
    # ((31*d + 17*i) mod 201) - 100, length 1600 + (d mod 5)*80 at
    # 8 kHz. duration/zero-crossings/peak are integer-exact; rms is
    # sqrt of a rational both engines evaluate to the identical IEEE
    # double. If the WAV encoder, the chunk-walking parser, or the
    # feature pass were wrong, the replay would not match.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 1600 + (doc_id % 5) * 80 AS n FROM documents
    ),
    idx AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM dims),
    smp AS (
      SELECT doc_id, n, i, ((31 * doc_id + 17 * i) % 201) - 100 AS s FROM idx
    ),
    lagd AS (SELECT *, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
             FROM smp)
    SELECT doc_id AS media_id, 8000 AS sample_rate,
           CAST(MAX(n) AS INT) AS n_samples,
           CAST(MAX(n) / 8.0 AS DOUBLE) AS duration_ms,
           CAST(ROUND(SQRT(SUM(CAST(s AS DOUBLE) * s) / MAX(n)), 4) AS DOUBLE)
             AS rms,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev >= 0) <> (s >= 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(MAX(ABS(s)) AS INT) AS peak
    FROM lagd GROUP BY doc_id
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio completes the multimodal triad (images: mm-decode-features
    / mm-resize; video-shaped: mm-frame-sample): real WAV payloads are
    synthesized per doc, decoded by the stdlib RIFF chunk walker, and
    reduced to per-clip features — duration, RMS energy, zero-crossing
    rate's numerator, peak amplitude — in one Arrow-batched pass. The
    100-TB shape is identical to the image path: payloads never
    shuffle; the only movement is the scan and the per-batch decode."""
    docs = load(spark, sf_dir, "documents")
    feats = extract_audio_features(synth_audio_media(docs))
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.col("feature").getItem(0).alias("duration_ms"),
        # audio_stats returns rms unrounded; round HERE with F.round
        # (HALF_UP, same half-mode as DuckDB ROUND) — the repo-wide
        # convention for every value in the exact-hash gate
        F.round(F.col("feature").getItem(1), 4).alias("rms"),
        F.col("feature").getItem(2).cast("bigint").alias("zero_crossings"),
        F.col("feature").getItem(3).cast("int").alias("peak"),
    )


@query(
    "sim-topk-arrow",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings, q
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
    LIMIT 10
    """,
)
def sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same search as sim-topk-bruteforce through the Arrow-vectorized
    scorer — the wide-vector plan; one numpy matmul per Arrow batch."""
    emb = load(spark, sf_dir, "embeddings")
    return topk_arrow(emb, _query_vec(spark, sf_dir), k=10)


# ---------------------------------------------------------------------------
# k-means learned IVF cells: iterative DataFrame algorithm; the oracle
# unrolls the same two Lloyd iterations as SQL CTEs.
# ---------------------------------------------------------------------------


def _kmeans_oracle(k: int, n_iters: int) -> str:
    dist = ("list_sum([ (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]) "
            "for i in range(1, len(e.v) + 1) ])")
    sql = [f"WITH a0 AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
           f"CAST(vec_id % {k} AS INT) AS cluster FROM embeddings)"]
    for it in range(1, n_iters + 1):
        prev = f"a{it - 1}"
        sql.append(f""",
c{it} AS (
  SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
    SELECT cluster, pos, avg(x) AS m FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM {prev})
    GROUP BY cluster, pos)
  GROUP BY cluster),
a{it} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM a0 e CROSS JOIN c{it} c) WHERE rn = 1)""")
    sql.append(f"""
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
FROM a{n_iters} GROUP BY cluster""")
    return "".join(sql)


@query("sim-kmeans-cells", oracle=_kmeans_oracle(8, 2))
def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations from a deterministic init — the learned
    coarse quantizer behind IVF; output is the cell population table
    of the final assignment."""
    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, n_iters=2)
    return (
        _assign(emb, cents, "vec_id", "embedding")
        .groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
    )


# ---------------------------------------------------------------------------
# Directional containment near-dup: |Sa ∩ Sb| / |Sa| — the asymmetric
# measure Jaccard misses when a short doc is embedded in a long one
# (union dominated by the long side). Stays on the df-capped
# shared-shingle candidate join (the pre-r10 dedup-ngram-jaccard
# shape) by measured negative result: only the contained side can be
# prefix-pruned, so the prefix analogue was 4.3x WORSE; see
# ext/dedup.py::ngram_containment_pairs for the scale argument.
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_KEPT_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM kept x JOIN kept y USING (s) WHERE x.doc_id <> y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, ROUND(i * 1.0 / sa.n, 4) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = a
WHERE ROUND(i * 1.0 / sa.n, 4) >= 0.9
"""


@query("dedup-containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(
        load(spark, sf_dir, "documents"), threshold=0.9, max_doc_freq=_JACCARD_CAP
    )


@query(
    "sim-range-search",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings, q
    WHERE ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4) >= 0.2
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: every neighbor with cosine
    ≥ 0.2 of the query — bounds result QUALITY where top-k bounds
    count (ext/similarity.py::range_search). Zero shuffles."""
    from dug_data_ingest_spark.ext.similarity import range_search

    emb = load(spark, sf_dir, "embeddings")
    return range_search(emb, _query_vec(spark, sf_dir), threshold=0.2)


# ---------------------------------------------------------------------------
# Span-level verbatim dedup: the exact-substring operation (Lee et al.
# 2022) at 8-token granularity — which spans does the corpus repeat,
# per document. Distinct from every whole-doc strategy above: the unit
# is the token window, and there is NO pairwise join (hot boilerplate
# costs a count, not m² pairs), so no df cap is needed. See
# ext/dedup.py::duplicated_span_stats for the plan/skew argument.
# ---------------------------------------------------------------------------

# covered_tokens in the `ovl` CTE: runs are window-disjoint but each
# trails k-1 tokens past its last window, so adjacent token intervals
# overlap when the window gap < k; union = sum of run coverage minus
# the adjacent overlaps (mirrors ext/dedup.py::duplicated_span_stats).
# No inline `--` comments: query() flattens the SQL to one line.
_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {_WORDS} AS w
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS fp
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
dupfp AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) > 1),
flagged AS (
  SELECT w.doc_id, w.pos,
         w.pos - ROW_NUMBER() OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS isl
  FROM wins w JOIN dupfp USING (fp)
),
runs AS (
  SELECT doc_id, MIN(pos) AS p0, MAX(pos) AS p1, COUNT(*) AS nw
  FROM flagged GROUP BY doc_id, isl
),
ovl AS (
  SELECT doc_id, p0, p1, nw,
         GREATEST(0, COALESCE(
           LAG(p1) OVER (PARTITION BY doc_id ORDER BY p0) + 8 - p0, 0
         )) AS o
  FROM runs
)
SELECT doc_id,
       CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(p1 - p0 + 8) AS INT) AS max_run_tokens,
       CAST(SUM(p1 - p0 + 8) - SUM(o) AS BIGINT) AS covered_tokens
FROM ovl GROUP BY doc_id
"""


@query("dedup-substring", oracle=_SUBSTRING_ORACLE)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import duplicated_span_stats

    return duplicated_span_stats(load(spark, sf_dir, "documents"), k=8)


# Acts on what dedup-substring reports: rebuild the corpus with every
# non-canonical duplicated 8-token window removed, canonical-site
# tokens protected (the removal half of Lee et al. 2022 span dedup —
# see ext/dedup.py::strip_duplicated_spans for the plan/skew shape,
# which is the same count-then-join as the stats query plus two
# per-doc run collects and one HOF token filter, still no pairwise
# join). The oracle replays the whole contract: same window
# fingerprints, canonical = corpus-wide first occurrence by
# (doc_id, pos) of each duplicated fingerprint, gaps-and-islands runs
# for removal and protection, and the token-interval keep rule
# (kept iff not removal-covered or canonical-covered, a run [p0,p1]
# covering tokens p0..p1+k-1). Registered round 8 paired with the
# join-edge-gen retirement (identical oracle to snk-json-kgx), so
# N stays 200. Short/NULL docs pass through as normalized text —
# the toks LEFT JOIN keeps every input doc in the output.
_STRIP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {_WORDS} AS w
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS fp
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
tagged AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY fp) AS n_fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rk
  FROM wins
),
rem AS (
  SELECT doc_id, MIN(pos) AS p0, MAX(pos) AS p1
  FROM (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM tagged WHERE n_fp > 1 AND rk > 1) nc
  GROUP BY doc_id, isl
),
keeps AS (
  SELECT doc_id, MIN(pos) AS p0, MAX(pos) AS p1
  FROM (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM tagged WHERE n_fp > 1 AND rk = 1) cc
  GROUP BY doc_id, isl
),
tok AS (
  SELECT doc_id, i, w[i] AS tk
  FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
),
cov_rem AS (
  SELECT DISTINCT t.doc_id, t.i
  FROM tok t JOIN rem r ON r.doc_id = t.doc_id AND t.i BETWEEN r.p0 AND r.p1 + 7
),
cov_keep AS (
  SELECT DISTINCT t.doc_id, t.i
  FROM tok t JOIN keeps s ON s.doc_id = t.doc_id AND t.i BETWEEN s.p0 AND s.p1 + 7
),
agg AS (
  SELECT t.doc_id,
         string_agg(t.tk, ' ' ORDER BY t.i)
           FILTER (WHERE cr.i IS NULL OR ck.i IS NOT NULL) AS ct
  FROM tok t
  LEFT JOIN cov_rem cr ON cr.doc_id = t.doc_id AND cr.i = t.i
  LEFT JOIN cov_keep ck ON ck.doc_id = t.doc_id AND ck.i = t.i
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.w IS NULL THEN NULL ELSE COALESCE(agg.ct, '') END AS clean_text
FROM toks d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


@query("dedup-strip-spans", oracle=_STRIP_SPANS_ORACLE)
def dedup_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import strip_duplicated_spans

    return strip_duplicated_spans(load(spark, sf_dir, "documents"), k=8)


# ---------------------------------------------------------------------------
# Boilerplate triage report (ext/dedup.py::hot_spans) — the top-20
# most-repeated 8-token windows corpus-wide with occurrence and
# document counts: the view over what duplicated_span_stats counts
# and strip_duplicated_spans removes (at real scale the head of this
# table is license headers, navigation chrome, template text).
# Promoted from library surface in round 13 — the last md5-free
# dedup-family function outside the gate, and fully SQL-expressible,
# so the oracle is a FULL value oracle (span text, both counts; ties
# at the top-20 boundary break on span ASC in both engines).
# Scale shape: ONE groupBy on the k-token gram string (map-side
# combined, key bounded at k tokens) into a TakeOrderedAndProject —
# the top-N never materializes the distinct-gram table on the driver.
# ---------------------------------------------------------------------------

_HOT_SPANS_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS span
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
  WHERE len(w) >= 8
),
agg AS (
  SELECT span, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY span HAVING COUNT(*) > 1
)
SELECT span, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_docs AS BIGINT) AS n_docs
FROM agg ORDER BY n_occurrences DESC, span ASC LIMIT 20
"""


@query("dedup-hot-spans", oracle=_HOT_SPANS_ORACLE)
def dedup_hot_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import hot_spans

    return hot_spans(load(spark, sf_dir, "documents"), k=8, top=20)


# ---------------------------------------------------------------------------
# Paragraph-granularity dedup (CCNet stage 1, Wenzek et al. 2020):
# split each document on a separator, hash the CCNet-normalized form
# of every paragraph, rebuild each document with corpus-wide
# duplicated paragraphs dropped (keep="first": the smallest
# (doc_id, pos) occurrence survives). The driver corpus has no
# newline structure, so the registered query segments on a literal
# mid-text separator — the operator's sep parameter, exercising the
# REAL multi-paragraph semantics (the sf0.01 corpus yields ~2.7
# paragraphs/doc with ~50 duplicated-paragraph groups). Promoted from
# library surface in round 11 (VERDICT r10 item 1); model pins in
# tests/test_paragraph_dedup.py. Scale shape: count-then-join like
# dedup-substring — NO pairwise stage, a paragraph repeated 10M times
# costs a count, not m² pairs (ext/dedup.py::paragraph_dedup).
# ---------------------------------------------------------------------------

_PARAGRAPH_ORACLE = """
WITH p AS (
  SELECT doc_id, text, string_split(text, ' stream ') AS ps
  FROM documents WHERE text IS NOT NULL
),
paras AS (
  SELECT doc_id, i - 1 AS pos, ps[i] AS para
  FROM p, UNNEST(generate_series(1, len(ps))) t(i)
),
norm AS (
  SELECT doc_id, pos, para,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(para),
           '[0-9]', '0', 'g'), '[^a-z0 ]', '', 'g'), ' +', ' ', 'g')) AS pn
  FROM paras
),
tagged AS (
  SELECT doc_id, pos, para, pn,
         count(*) OVER (PARTITION BY pn) AS n_pn,
         row_number() OVER (PARTITION BY pn ORDER BY doc_id, pos) AS rk
  FROM norm
),
agg AS (
  SELECT doc_id,
         count(*) AS n_paras,
         sum(CASE WHEN pn = '' OR n_pn < 2 OR rk = 1 THEN 0 ELSE 1 END)
           AS n_dropped,
         string_agg(para, ' stream ' ORDER BY pos)
           FILTER (WHERE pn = '' OR n_pn < 2 OR rk = 1) AS ct
  FROM tagged GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.ct, '') END
         AS clean_text,
       CAST(COALESCE(a.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("dedup-paragraph", oracle=_PARAGRAPH_ORACLE)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import paragraph_dedup

    return paragraph_dedup(load(spark, sf_dir, "documents"), sep=" stream ")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS):
# each sliding window of w=4 consecutive 8-gram hashes records only
# its RIGHTMOST MINIMAL hash — an expected-density-2/(w+1) fingerprint
# index that still shares >= 1 fingerprint with any verbatim match of
# >= w+k-1 = 11 tokens. Promoted from library surface in round 11;
# the oracle replays the md5 k-gram hashes AND the rightmost-min
# window selection (ORDER BY h ASC, i DESC per window), so every
# selected (pos, fp) is value-checked. Scale shape: ENTIRELY
# row-local (one O(n*w) fold per doc, one explode) — no shuffle, no
# join, no Python (ext/dedup.py::winnow_fingerprints).
# ---------------------------------------------------------------------------

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
  WHERE text IS NOT NULL AND len({_WORDS}) >= 11
),
hs AS (
  SELECT doc_id, i,
         {_HASH64.format(x="array_to_string(list_slice(w, i, i + 7), ' ')")}
           AS h,
         len(w) - 7 AS nh
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
),
win AS (
  SELECT doc_id, u.j, i, h,
         row_number() OVER (PARTITION BY doc_id, u.j
                            ORDER BY h ASC, i DESC) AS rk
  FROM hs, UNNEST(generate_series(GREATEST(1, i - 3), LEAST(i, nh - 3))) u(j)
)
SELECT DISTINCT doc_id, CAST(i AS INT) AS pos, h AS fp
FROM win WHERE rk = 1
"""


@query("dedup-winnow", oracle=_WINNOW_ORACLE)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import winnow_fingerprints

    return winnow_fingerprints(load(spark, sf_dir, "documents"), k=8, w=4)


# ---------------------------------------------------------------------------
# Bloom-prefiltered EXACT membership (the Dolma-style incremental
# dedup escalation, Soldaini et al. 2024): probe the batch against a
# history Bloom bitmap, then confirm ONLY the flagged slice with an
# exact semi-join — the flag equals true exact membership (false
# positives cleared by the confirm, false negatives structurally
# impossible) while the exact join probes ~(dup_rate + fpr) of the
# batch. Promoted from library surface in round 11; the oracle is the
# plain exact membership the escalation is pinned equal to. The key
# is a first-8-words fingerprint (document texts rarely collide
# whole; prefix keys give the confirm join real work at every sf).
# History = doc_id % 3 == 0, batch = the rest.
# ---------------------------------------------------------------------------

_BLOOM_EXACT_ORACLE = """
WITH d AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
           AS fp_key
  FROM documents
),
h AS (SELECT DISTINCT fp_key FROM d
      WHERE doc_id % 3 = 0 AND fp_key IS NOT NULL)
SELECT b.doc_id, b.fp_key,
       CASE WHEN b.fp_key IS NULL THEN NULL
            ELSE (h.fp_key IS NOT NULL) END AS seen_exact
FROM (SELECT * FROM d WHERE doc_id % 3 <> 0) b
LEFT JOIN h USING (fp_key)
"""


@query("dedup-bloom-exact", oracle=_BLOOM_EXACT_ORACLE)
def dedup_bloom_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import bloom_prefilter_exact

    docs = load(spark, sf_dir, "documents")
    key = F.array_join(
        # split with limit 9: identical first-8 slice, but the scan
        # stops tokenizing after 8 separators instead of splitting
        # the whole document per row per branch (r13; this key is
        # evaluated in every scan branch of the bloom plan)
        F.slice(F.split(F.col("text"), " ", 9), 1, 8),
        " ",
    )
    batch = docs.where(F.col("doc_id") % 3 != 0).withColumn("fp_key", key)
    hist = docs.where(F.col("doc_id") % 3 == 0).withColumn("fp_key", key)
    return bloom_prefilter_exact(
        batch, hist, key_col="fp_key", m_bits=1 << 14, k_hashes=5
    ).select("doc_id", "fp_key", "seen_exact")


# ---------------------------------------------------------------------------
# Probabilistic Bloom probe WITHOUT the exact confirm (ext/dedup.py::
# bloom_dedup_flags over bloom_build + bloom_probe) — the raw
# streaming-dedup primitive the exact slug escalates from: flag
# batch keys whose k bits are all set in the history bitmap, accept
# the false-positive rate, never touch history again. The flags are
# md5-deterministic, but replaying the bitmap in SQL would duplicate
# the _bloom_positions bit walk oracle-side — so the slug is graded
# with the population-property oracle (the dedup-semantic /
# sim-ivf-pq-topk kind), pinning the exact batch count plus the
# filter's two defining guarantees, each recomputed in Spark against
# an exact semi-join of the SAME split:
#   no_false_negative — every batch key truly in history flags True
#                       (a Bloom filter's hard guarantee; any False
#                       here is a real bug, not bad luck)
#   fpr_ok            — among batch keys NOT in history, the flagged
#                       fraction is <= 5% (sized via the 1<<14-bit /
#                       k=5 bitmap: theoretical (1-e^(-kn/m))^k
#                       <= ~1% at the sf0.1 history cardinality)
#   nulls_null        — NULL keys flag NULL, never True/False
# Scale shape: the bitmap is a <= m/64-word driver array shipped as
# ONE broadcast row; probing is a row-local projection — no join
# against history at probe time, no shuffle of the batch.
# ---------------------------------------------------------------------------


@query(
    "dedup-bloom-probe",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
           TRUE AS no_false_negative,
           TRUE AS fpr_ok,
           TRUE AS nulls_null
    FROM documents WHERE doc_id % 3 <> 0
    """,
)
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import bloom_dedup_flags

    docs = load(spark, sf_dir, "documents")
    key = F.array_join(
        # split with limit 9: identical first-8 slice, but the scan
        # stops tokenizing after 8 separators instead of splitting
        # the whole document per row per branch (r13; this key is
        # evaluated in every scan branch of the bloom plan)
        F.slice(F.split(F.col("text"), " ", 9), 1, 8),
        " ",
    )
    batch = docs.where(F.col("doc_id") % 3 != 0).withColumn("fp_key", key)
    hist = docs.where(F.col("doc_id") % 3 == 0).withColumn("fp_key", key)
    flagged = bloom_dedup_flags(
        batch, hist, key_col="fp_key", m_bits=1 << 14, k_hashes=5
    )
    truth = hist.select("fp_key").where(F.col("fp_key").isNotNull()).distinct()
    joined = flagged.join(
        F.broadcast(truth.withColumnRenamed("fp_key", "__seen_key")),
        F.col("fp_key") == F.col("__seen_key"),
        "left",
    ).select(
        "fp_key",
        "maybe_seen",
        F.col("__seen_key").isNotNull().alias("truly_seen"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.coalesce(
            F.bool_and(F.when(F.col("truly_seen"), F.col("maybe_seen"))),
            F.lit(True),
        ).alias("no_false_negative"),
        (
            F.coalesce(
                F.avg(
                    F.when(
                        ~F.col("truly_seen") & F.col("fp_key").isNotNull(),
                        F.col("maybe_seen").cast("double"),
                    )
                ),
                F.lit(0.0),
            )
            <= 0.05
        ).alias("fpr_ok"),
        F.coalesce(
            F.bool_and(
                F.col("fp_key").isNull() == F.col("maybe_seen").isNull()
            ),
            F.lit(True),
        ).alias("nulls_null"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ top-k with exact rerank — the composition production ANN
# indexes ship (FAISS IVFPQ + refine). The learned float centroids
# are engine-inexact (kmeans_centroids' documented caveat), so the
# oracle is the recall-bound/population kind (the agg-approx-*
# tolerance-flag precedent, VERDICT r10 item 6): it pins the result
# COUNT, probe confinement (every shortlist row came from the nprobe
# probed cells — checked on the ADC stage before rerank), and
# recall@10 >= 2 against brute-force ground truth (measured 7/4/3 at
# sf0.001/0.01/0.1 — the ceiling is cell confinement on this
# structureless corpus: the true top-10 spans 8 of 10 label clusters,
# so 2-of-8 probed cells bounds recall by construction, exactly the
# quality/throughput dial nprobe exposes). All three bits are stable,
# replayable facts — an honest oracle for a learned-index operator.
# ---------------------------------------------------------------------------


@query(
    "sim-ivf-pq-topk",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_results,
           TRUE AS probe_confined,
           TRUE AS recall_ok
    """,
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_reranked,
    )

    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cells, books, coded = ivf_pq_index(emb, n_cells=8, m=8, k=16, n_iters=2)
    codebook_rows = books.collect()
    # the probe set, derived exactly as ivf_pq_topk derives it (cells
    # is the collected n_cells-row coarse-quantizer table)
    by_dist = sorted(
        cells,
        key=lambda r: (
            sum((float(q) - float(c)) ** 2 for q, c in zip(qv, r.centroid)),
            r.cluster,
        ),
    )
    probed_ids = [r.cluster for r in by_dist[:2]]
    # ONE probe-bounded ADC pass: the 50-row shortlist is snapshot
    # (bounded) and feeds BOTH the confinement check and the rerank's
    # candidate join — unshared, the cell-filtered scan ran twice
    shortlist = ivf_pq_topk(
        coded, cells, codebook_rows, qv, k=50, nprobe=2
    ).localCheckpoint(eager=False)
    reranked = ivf_pq_topk_reranked(
        emb, coded, cells, codebook_rows, qv, k=10, shortlist=50, nprobe=2,
        cand=shortlist.select("vec_id"),
    )
    truth = topk_bruteforce(emb, qv, k=10).select(
        F.col("vec_id").alias("tid"), F.lit(True).alias("is_true")
    )
    confinement = shortlist.agg(
        F.bool_and(F.col("cell").isin(probed_ids)).alias("probe_confined")
    )
    return (
        reranked.join(truth, reranked["vec_id"] == truth["tid"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_results"),
            (F.count("is_true") >= 2).alias("recall_ok"),
        )
        .crossJoin(confinement)
        .select("n_results", "probe_confined", "recall_ok")
    )


# ---------------------------------------------------------------------------
# Flat PQ top-k with exact rerank (Jégou et al. 2011's ADC + the
# refine stage) — the non-IVF half of the PQ family, promoted from
# model-pinned library surface in round 13 (VERDICT r12 item 6, the
# sim-ivf-pq-topk precedent): ADC over ALL compressed codes produces
# a 400-candidate shortlist, then ONLY those ids are re-scored with
# exact L2 against their raw vectors. The learned float codebooks are
# engine-inexact (kmeans' documented caveat), so the oracle is the
# recall-bound/population kind:
#   n_results      — exactly k=10 rows
#   from_shortlist — every reranked id came from the ADC shortlist
#                    (the two-stage contract: quantization error picks
#                    candidates, exact math picks winners)
#   recall_ok      — recall@10 >= 6 against exact-L2 brute-force
#                    ground truth (measured 10/10/9 at
#                    sf0.001/0.01/0.1 — the sf0.1 tail is honest ADC
#                    quantization error over a structureless corpus,
#                    exactly the shortlist-size dial this operator
#                    exposes).
# pq_train returns an eagerly-fitted local-relation codebook (r14), so
# the collect, the encode, and the in-function ADC recompute all read
# ONE learned snapshot by construction (avg()'s partial-merge order is
# not guaranteed across recomputations — the dedup-semantic lesson,
# r12 ADVICE; the pre-r14 localCheckpoint existed for exactly this).
# Scale shape: codebooks are m*k = 128 rows at any corpus size; encode
# is a row-local literal-argmin projection, ADC a row-local expression
# over the codes column + one TakeOrderedAndProject; the 400-id
# shortlist broadcasts back to the raw vectors, so the corpus is
# scanned, never shuffled — and never exploded.
# ---------------------------------------------------------------------------


@query(
    "sim-pq-topk-reranked",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_results,
           TRUE AS from_shortlist,
           TRUE AS recall_ok
    """,
)
def sim_pq_topk_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.similarity import (
        _dim_checked,
        pq_adc_topk,
        pq_encode,
        pq_topk_reranked,
        pq_train,
    )
    from dug_data_ingest_spark.functions.vectors import as_double

    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    # pq_train is eager since r14 (one bounded collect per Lloyd round)
    # and returns a local-relation snapshot — the localCheckpoint that
    # used to pin ONE learned copy is redundant, and the collect here
    # is free
    books_df = pq_train(emb, m=8, k=16, n_iters=2)
    books = books_df.collect()  # m*k = 128 rows, bounded by construction
    codes = pq_encode(emb, books_df, m=8)
    # ONE corpus-wide ADC pass: the 400-id shortlist is snapshot
    # (bounded) and feeds BOTH the membership audit and the rerank's
    # candidate join — unshared, the full coded-corpus scan ran twice
    cand = (
        pq_adc_topk(codes, books, qv, k=400, m=8)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    shortlist = cand.select(F.col("vec_id").alias("sid"))
    reranked = pq_topk_reranked(
        emb, codes, books, qv, k=10, shortlist=400, m=8, cand=cand
    )
    q = F.expr(sql_literal(qv, T.ArrayType(T.DoubleType())))
    d2 = F.aggregate(
        F.zip_with(
            as_double(
                _dim_checked(F.col("embedding"), len(qv), "pq_truth")
            ),
            q,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    truth = (
        emb.select("vec_id", d2.alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select(F.col("vec_id").alias("tid"), F.lit(True).alias("is_true"))
    )
    membership = reranked.join(
        F.broadcast(shortlist), reranked["vec_id"] == F.col("sid"), "left"
    ).agg(F.bool_and(F.col("sid").isNotNull()).alias("from_shortlist"))
    return (
        reranked.join(truth, reranked["vec_id"] == truth["tid"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_results"),
            (F.count("is_true") >= 6).alias("recall_ok"),
        )
        .crossJoin(membership)
        .select("n_results", "from_shortlist", "recall_ok")
    )


# ---------------------------------------------------------------------------
# Winnowing candidate pairs — MOSS's detection step over the
# dedup-winnow fingerprint index: pairs sharing >= 2 fingerprints,
# each shared fingerprint certifying a verbatim run of >= w+k-1 = 11
# tokens on both sides. Same df-cap posture as the shingle family
# (fingerprints in > 100 docs dropped both sides — a no-op on the
# driver corpus, structurally required against boilerplate m²
# buckets); the self-join's sides share one pipeline (ReusedExchange
# at scale). ext/dedup.py::winnow_candidate_pairs.
# ---------------------------------------------------------------------------

_WINNOW_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
  WHERE text IS NOT NULL AND len({_WORDS}) >= 11
),
hs AS (
  SELECT doc_id, i,
         {_HASH64.format(x="array_to_string(list_slice(w, i, i + 7), ' ')")}
           AS h,
         len(w) - 7 AS nh
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) t(i)
),
win AS (
  SELECT doc_id, u.j, i, h,
         row_number() OVER (PARTITION BY doc_id, u.j
                            ORDER BY h ASC, i DESC) AS rk
  FROM hs, UNNEST(generate_series(GREATEST(1, i - 3), LEAST(i, nh - 3))) u(j)
),
fps AS (SELECT DISTINCT doc_id, h AS fp FROM win WHERE rk = 1),
kept AS (
  SELECT doc_id, fp FROM fps
  QUALIFY count(*) OVER (PARTITION BY fp) <= 100
)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM kept x JOIN kept y USING (fp)
WHERE x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
HAVING COUNT(*) >= 2
"""


@query("dedup-winnow-pairs", oracle=_WINNOW_PAIRS_ORACLE)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import winnow_candidate_pairs

    return winnow_candidate_pairs(
        load(spark, sf_dir, "documents"), k=8, w=4, min_shared=2
    )


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup (Abbas et al. 2023) — graded via population
# properties, the sim-ivf-pq-topk precedent for learned-float
# operators (k-means centroids are engine-inexact, so a DuckDB hash
# replay of the cells is impossible; the exact arithmetic is
# model-pinned with EXPLICIT centroids in tests/test_semantic_dedup
# .py). The Spark side recomputes each property against its OWN
# learned cells and returns booleans; the oracle pins them TRUE plus
# the data-derived input count:
#   partition_ok  — survivors + drop is a partition of the input
#   no_dup_left   — re-running the within-cell pair scan on the
#                   survivors (same centroids) finds ZERO pairs at
#                   the threshold: the drop set is complete w.r.t.
#                   the cells it learned
#   drops_sound   — every dropped id appeared in at least one
#                   >=threshold within-cell pair: nothing innocent
#                   was dropped
# The inherent cell-boundary recall trade stays visible in the
# library docstring + test, not hidden by this gate.
# Scale shape: the collected centroids (k rows, one snapshot shared
# by every property branch) fold into a row-local argmin; the one
# quadratic step is the within-cell pair join, (n/k)^2 per cell; the
# corpus shuffles only on the cell id.
# ---------------------------------------------------------------------------


@query(
    "dedup-semantic",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
           TRUE AS partition_ok,
           TRUE AS no_dup_left,
           TRUE AS drops_sound
    FROM embeddings
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, n_iters=2)
    survivors, drop = semantic_dedup(emb, threshold=0.4, centroids=cents)
    pairs = cosine_dup_pairs(
        _assign(emb, cents, "vec_id", "embedding"), 0.4, block_col="cluster"
    )
    left = cosine_dup_pairs(
        _assign(survivors, cents, "vec_id", "embedding"),
        0.4,
        block_col="cluster",
    )
    pair_ids = (
        pairs.select(F.col("a").alias("vec_id"))
        .union(pairs.select(F.col("b").alias("vec_id")))
        .distinct()
    )
    n_in = emb.agg(F.count(F.lit(1)).alias("n_input"))
    n_s = survivors.agg(F.count(F.lit(1)).alias("n_s"))
    n_d = drop.agg(F.count(F.lit(1)).alias("n_d"))
    left0 = left.agg((F.count(F.lit(1)) == 0).alias("no_dup_left"))
    sound = drop.join(pair_ids, "vec_id", "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("drops_sound")
    )
    return (
        n_in.crossJoin(n_s)
        .crossJoin(n_d)
        .crossJoin(left0)
        .crossJoin(sound)
        .select(
            "n_input",
            ((F.col("n_s") + F.col("n_d")) == F.col("n_input")).alias(
                "partition_ok"
            ),
            "no_dup_left",
            "drops_sound",
        )
    )


# ---------------------------------------------------------------------------
# Okapi BM25 ranked retrieval (Robertson & Zaragoza 2009; the
# +1-inside-log idf, Lucene's default) — the query-side capability of
# the search system the reference ingests FOR (Dug's index), top-10
# docs for a 3-term query. ext/retrieval.py::bm25_topk. Deterministic
# by construction: term contributions sum in query-term order as ONE
# fixed expression (never an exploded-join groupBy whose float order
# floats with partitioning), constants pre-combined identically on
# both sides, scores ROUNDed before the ordering so the k-boundary is
# a doc_id tie-break, not an ulp race. Scale shape: one aggregate
# pass for (N, avgdl, per-term df) -> 1 broadcast row; tf is a
# row-local array count against literal terms (a query has a few
# terms — the corpus never explodes, never shuffles); top-k plans as
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_BM25_TERM_SQL = """
    (CASE WHEN {tf} > 0 THEN
      ln(1.0 + (CAST(n AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5)
               / (CAST({df} AS DOUBLE) + 0.5))
      * (CAST({tf} AS DOUBLE) * (1.2 + 1.0))
      / (CAST({tf} AS DOUBLE)
         + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl))
     ELSE 0.0 END)
"""

_BM25_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         COALESCE(list_filter({_WORDS}, x -> x <> ''), []::VARCHAR[]) AS nw
  FROM documents),
d AS (
  SELECT doc_id, len(nw) AS dl,
         len(list_filter(nw, x -> x = 'hash')) AS tf1,
         len(list_filter(nw, x -> x = 'join')) AS tf2,
         len(list_filter(nw, x -> x = 'filter')) AS tf3
  FROM w),
s AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
  FROM d)
SELECT doc_id,
  ROUND({_BM25_TERM_SQL.format(tf='tf1', df='df1')}
      + {_BM25_TERM_SQL.format(tf='tf2', df='df2')}
      + {_BM25_TERM_SQL.format(tf='tf3', df='df3')}, 4) AS bm25
FROM d CROSS JOIN s
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query("text-bm25-topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.retrieval import bm25_topk

    return bm25_topk(
        load(spark, sf_dir, "documents"), ["hash", "join", "filter"], k=10
    )


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining (ext/similarity.py::hard_negatives)
# — the top-10 most-similar embeddings whose label differs from the
# query vector's: the high-similarity wrong-class pairs a
# contrastive-training pipeline exports (the hard-negatives step of
# the public DPR/SimCLR recipes). One codegen-fused scan (label
# filter + literal-query cosine), TakeOrderedAndProject, zero
# shuffles; the oracle replays the cosine and null-safe label
# inequality exactly.
# ---------------------------------------------------------------------------


@query(
    "sim-hard-negatives",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv, label AS ql
      FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4)
             AS cos_sim
    FROM embeddings e, q
    WHERE e.label IS DISTINCT FROM q.ql
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
             e.vec_id
    LIMIT 10
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    row = _query_row(spark, sf_dir, "embedding", "label")
    return hard_negatives(
        emb, [float(x) for x in row[0]], row[1], k=10
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (ext/dedup.py::ngram_novelty) — the
# memorization-risk triage: what fraction of a doc's distinct 8-gram
# shingles appears in NO other document. Near-zero novelty flags
# boilerplate/verbatim-copy material for the span-verbatim family;
# near-1.0 is unique text. One shingle explode -> ONE map-side-
# combined df table -> token-keyed join back -> per-doc aggregate;
# no pairwise stage (novelty needs only df == 1, never WHICH doc
# shares the shingle). Exact integer/ratio oracle.
# ---------------------------------------------------------------------------


@query(
    "text-ngram-novelty",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS nw FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM w,
      unnest(CASE WHEN len(nw) >= 8
                  THEN [array_to_string(nw[i:i+7], ' ')
                        for i in range(1, len(nw)-6)]
                  ELSE []::VARCHAR[] END) t(s)),
    df AS (SELECT s, COUNT(*) AS docs FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(CAST(SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.dedup import ngram_novelty

    return ngram_novelty(load(spark, sf_dir, "documents"), k=8)


# ---------------------------------------------------------------------------
# Nearest-centroid ranking (ext/similarity.py::label_centroids) — the
# classify-by-prototype step of the IVF family exposed as its own
# query: rank every label's mean embedding by cosine to the query
# vector. The centroid mean is a fixed positional average both
# engines compute identically at driver scale (the sim-ivf-topk
# oracle precedent); |labels| rows out, one (label, pos) shuffle,
# corpus scanned once.
# ---------------------------------------------------------------------------


@query(
    "sim-nearest-centroid",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    cent AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM (
        SELECT label, pos, avg(embedding[pos]::DOUBLE) AS m FROM (
          SELECT label, embedding, generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
        GROUP BY label, pos)
      GROUP BY label
    )
    SELECT label, ROUND(list_cosine_similarity(centroid, qv), 4) AS cos_sim
    FROM cent, q
    ORDER BY list_cosine_similarity(centroid, qv) DESC, label
    """,
)
def sim_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.similarity import cosine, label_centroids

    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    q = F.expr(sql_literal(qv, T.ArrayType(T.DoubleType())))
    raw = cosine(F.col("centroid"), q)
    return (
        label_centroids(emb)
        .select("label", raw.alias("_raw"), F.round(raw, 4).alias("cos_sim"))
        .orderBy(F.desc("_raw"), "label")
        .drop("_raw")
    )


# ---------------------------------------------------------------------------
# Token-distribution entropy (functions/text.py::token_entropy) — the
# Shannon-entropy quality signal of the public corpus pipelines'
# signal sets (low = templated/repetitive text): ZERO shuffles, one
# row-local run-length walk over the sorted token array (the
# _run_stats idiom), terms emitted in sorted-token order so the
# oracle's list_reduce over ORDER BY token replays the exact
# summation order; ROUND(,4) absorbs ln ulps.
# ---------------------------------------------------------------------------


@query(
    "text-token-entropy",
    oracle=f"""
    WITH w AS (SELECT doc_id,
                COALESCE(list_filter({_WORDS}, x -> x <> ''), []::VARCHAR[]) AS nw
               FROM documents),
    cnts AS (SELECT doc_id, t, COUNT(*) AS c
             FROM w, unnest(nw) u(t) GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_unique
            FROM cnts GROUP BY doc_id),
    terms AS (
      SELECT c.doc_id,
             list_reduce(list_prepend(0.0,
               list(-(c.c / CAST(t.n AS DOUBLE))
                    * ln(c.c / CAST(t.n AS DOUBLE)) ORDER BY c.t)),
               (a, b) -> a + b) AS h
      FROM cnts c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
    SELECT w.doc_id,
           CAST(len(w.nw) AS BIGINT) AS n_tokens,
           CAST(COALESCE(tot.n_unique, 0) AS BIGINT) AS n_unique,
           ROUND(COALESCE(terms.h, 0.0), 4) AS token_entropy
    FROM w
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN terms USING (doc_id)
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.functions.text import (
        normalized_words,
        token_entropy,
    )

    docs = load(spark, sf_dir, "documents")
    # materialize the filtered word array ONCE (the token_entropy perf
    # contract): derived inline, the normalization regex re-runs per
    # array element inside the entropy walk — O(tokens^2) per row
    staged = docs.withColumn(
        "__w",
        F.filter(
            F.coalesce(
                normalized_words(F.col("text")),
                F.array().cast("array<string>"),
            ),
            lambda w: w != "",
        ),
    )
    st = token_entropy(F.col("text"), F.col("__w"))
    return staged.select(
        "doc_id",
        st.getField("n_tokens").alias("n_tokens"),
        st.getField("n_unique").alias("n_unique"),
        F.round(st.getField("entropy"), 4).alias("token_entropy"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (ext/multimodal.py::image_phash) — the
# aHash step of every public near-dup image pipeline: decode the REAL
# PPM/BMP payloads (the actual stdlib codecs, not the metadata), one
# integer bit per pixel (channel-sum > image mean, s*n > total — no
# float mean), then cluster on (width, height, phash). The window
# count keeps the decode in ONE pass (a groupBy+join back would
# re-run the Python stage per consumer). The oracle replays the
# synth-pixel closed form (the mm-decode-features precedent): if the
# encoder, decoder, or hash math drifted, the 48-bit hashes would
# not match. Cluster sizes are non-trivial on this corpus (up to 35
# at sf0.1) — the coarse mask genuinely collides across distinct
# pixel patterns, which is the dedup signal.
# ---------------------------------------------------------------------------


@query(
    "mm-phash-clusters",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
    xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
           FROM dims),
    ys AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
           FROM xs),
    px AS (
      SELECT doc_id, w, h, x, y,
             (7*doc_id + 13*x + 31*y) % 256
             + (7*doc_id + 13*x + 31*y + 97) % 256
             + (7*doc_id + 13*x + 31*y + 194) % 256 AS s
      FROM ys),
    tot AS (SELECT doc_id, SUM(s) AS total, COUNT(*) AS n
            FROM px GROUP BY doc_id),
    hash AS (
      SELECT px.doc_id, px.w, px.h,
             CAST(SUM(CASE WHEN px.s * t.n > t.total
                      THEN CAST(1 AS BIGINT) << (px.y * px.w + px.x)
                      ELSE 0 END) AS BIGINT) AS phash
      FROM px JOIN tot t ON t.doc_id = px.doc_id
      GROUP BY px.doc_id, px.w, px.h)
    SELECT doc_id AS media_id, CAST(w AS INT) AS width,
           CAST(h AS INT) AS height, phash,
           COUNT(*) OVER (PARTITION BY w, h, phash) AS cluster_size
    FROM hash
    """,
)
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from dug_data_ingest_spark.ext.multimodal import (
        PHASH_SCHEMA,
        extract_features,
        image_phash,
        synth_image_media,
    )

    docs = load(spark, sf_dir, "documents")
    feats = extract_features(
        synth_image_media(docs), decoder=image_phash,
        feature_schema=PHASH_SCHEMA,
    )
    return feats.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(W.partitionBy("width", "height", "phash")),
    )

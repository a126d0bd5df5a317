"""Curation slugs: the post-dedup corpus-preparation operators an
LLM training-data pipeline runs (decontamination, reproducible
sampling, sequence packing, vocabulary). Oracles replay the exact
deterministic algorithm in DuckDB — same normalization as
functions/text.py, same md5 bucketing as ext/dedup.py, and a
recursive CTE that replays the greedy packer — so the gate verifies
values, not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dug_data_ingest_spark.ext.dedup import (
    _md5_hash64,
    capped_shingles_with_sizes,
    exact_dedup_survivors,
    jaccard_scored_pairs,
)
from dug_data_ingest_spark.ext.curation import (
    decontaminate,
    hash_sample,
    mix_sample,
    pack_sequences,
    vocab_topk,
    with_token_counts,
)
from dug_data_ingest_spark.functions.text import (
    LANG_MARKERS as _LANG_MARKERS,
    normalized_words,
    shingles_of,
)
from dug_data_ingest_spark.queries import load, query

# ONE normalization fragment for every oracle in the repo: import the
# canonical copy (functions/text.py::normalized_words's SQL twin)
# instead of re-declaring it — a future normalization change must not
# be able to desync the ~10 curation oracles from the Spark side.
from dug_data_ingest_spark.functions.text import (  # noqa: E402
    NORMALIZED_WORDS_SQL as _WORDS,
)

# k=5 shingles (the decontamination width; extensions._SHINGLES_CTE is k=3).
_SHINGLES5_CTE = f"""
words5 AS (SELECT doc_id, {_WORDS} AS w FROM documents),
sh5 AS (
  SELECT DISTINCT doc_id, s FROM words5,
  unnest(CASE WHEN len(w) >= 5
              THEN [array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]
              ELSE []::VARCHAR[] END) t(s)
)
"""

# The eval-set stand-in: every 10th doc plays the benchmark corpus.
_EVAL_PRED = "doc_id % 10 = 7"


def _doc_tokens(docs: DataFrame, keep_doc_id: bool = True) -> DataFrame:
    """The one token-explode scan behind the term-statistics slugs
    (word-repetition, idf, zipf, tfidf): normalized words exploded to
    (doc_id?, token) with empty tokens dropped — one definition so a
    tokenization or empty-token change can never hit three slugs and
    miss the fourth."""
    cols = (["doc_id"] if keep_doc_id else []) + [
        F.explode(normalized_words(F.col("text"))).alias("token")
    ]
    return docs.select(*cols).filter(F.col("token") != "")


@query(
    "text-decontaminate",
    oracle=f"""
    WITH {_SHINGLES5_CTE},
    eval_sh AS (SELECT DISTINCT s FROM sh5 WHERE {_EVAL_PRED}),
    contaminated AS (
      SELECT DISTINCT doc_id FROM sh5
      WHERE NOT ({_EVAL_PRED}) AND s IN (SELECT s FROM eval_sh)
    )
    SELECT doc_id, source FROM documents
    WHERE NOT ({_EVAL_PRED})
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 5-gram
    shingle with the eval split are dropped. Eval side is the small
    side by construction (benchmarks), so its shingle set broadcasts
    and the corpus is scanned exactly once (ext/curation.py:
    decontaminate). Reference analogue: the reference screens input
    rows against a known-id skiplist (filters in its ingest scripts);
    this is the content-level version a training pipeline needs."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 10 == 7
    survivors = decontaminate(docs.filter(~is_eval), docs.filter(is_eval), k=5)
    return survivors.select("doc_id", "source")


@query(
    "pipeline-hash-sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket
      FROM documents)
    SELECT doc_id, source, bucket FROM b WHERE bucket < 7
    """,
)
def pipeline_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 7% subsample via md5 bucketing of the key — the
    engine-portable sample (same rows kept under any partitioning,
    any engine), proven by DuckDB computing the identical kept set
    from the identical formula. Row-local: no shuffle, fully pushed
    scan (ext/curation.py:hash_sample)."""
    docs = load(spark, sf_dir, "documents")
    return hash_sample(docs, pct=7).select("doc_id", "source", "bucket")


@query(
    "pipeline-pack-sequences",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id,
             CAST(COALESCE(len(regexp_split_to_array(trim(text), '\\s+')), 0) AS INT)
               AS n_tok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT source, doc_id, n_tok, rn, 1 AS chunk, n_tok AS acc
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.source, t.doc_id, t.n_tok, t.rn,
             CASE WHEN p.acc + t.n_tok <= 256 THEN p.chunk ELSE p.chunk + 1 END,
             CASE WHEN p.acc + t.n_tok <= 256 THEN p.acc + t.n_tok ELSE t.n_tok END
      FROM toks t JOIN pack p
        ON t.source IS NOT DISTINCT FROM p.source AND t.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tok, CAST(chunk AS INT) AS chunk FROM pack
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token training chunks, one
    independent packing per source. The sequential walk is the
    DuckDB recursive CTE on the oracle side and a per-group pandas
    walk on the Spark side (ext/curation.py:pack_sequences) — the
    gate proves the distributed packer reproduces the sequential
    semantics exactly, per group, at every row."""
    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs, cap=256)


@query(
    "pipeline-mix-sample",
    oracle="""
    SELECT doc_id, lang, source, bucket FROM (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket,
             CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 25 WHEN 'zh' THEN 25
                  ELSE 5 END AS pct
      FROM documents)
    WHERE bucket < pct
    """,
)
def pipeline_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix sampling: en at 50%, es/zh at 25%, everything else at
    5% — the per-stratum rate table broadcast-joined, the keep
    decision the same md5 bucket as pipeline-hash-sample (so mixes
    nest across recipe revisions; ext/curation.py:mix_sample). The
    oracle collapses the broadcast join to the equivalent CASE — the
    values must agree exactly."""
    docs = load(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("en", 50), ("es", 25), ("zh", 25)], ["lang", "pct"]
    )
    return mix_sample(docs, weights, default_pct=5).select(
        "doc_id", "lang", "source", "bucket"
    )


@query(
    "pipeline-curate-corpus",
    oracle=f"""
    WITH {_SHINGLES5_CTE},
    train AS (SELECT * FROM documents WHERE NOT ({_EVAL_PRED})),
    dedup AS (
      SELECT * FROM train
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
    ),
    eval_sh AS (SELECT DISTINCT s FROM sh5 WHERE {_EVAL_PRED}),
    contaminated AS (
      SELECT DISTINCT doc_id FROM sh5
      WHERE doc_id IN (SELECT doc_id FROM dedup)
        AND s IN (SELECT s FROM eval_sh)
    ),
    good AS (
      SELECT doc_id, source,
             CAST(COALESCE(len(regexp_split_to_array(trim(text), '\\s+')), 0) AS INT)
               AS n_tok
      FROM dedup
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id, source, n_tok, bucket FROM (
      SELECT *,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket
      FROM good WHERE n_tok >= 20)
    WHERE bucket < 50
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE declarative plan: exact
    dedup (min-id per content hash; window not join, so null-text
    groups keep a survivor) → benchmark decontamination (5-gram
    overlap with the eval split) → quality gate (≥ 20 whitespace
    tokens) → reproducible 50% md5-bucket sample.

    Composition is where the Spark-first design pays: every stage is
    Column expressions or a broadcast join, so Catalyst sees the
    whole pipeline at once — the scan is shared, the quality gate and
    the sample predicate are row-local, and the only corpus shuffles
    are the two keyed ones the semantics force (content-hash window,
    shingle explode for the contamination check). Stage order is
    semantic, not accidental: dedup before decontaminate (cheaper
    contamination check over survivors), sample last (sampling before
    dedup would make 'duplicate' depend on the sample)."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 10 == 7
    train, eval_docs = docs.filter(~is_eval), docs.filter(is_eval)
    clean = decontaminate(exact_dedup_survivors(train), eval_docs, k=5)
    good = with_token_counts(clean).filter(F.col("n_tok") >= 20)
    return hash_sample(good, pct=50).select("doc_id", "source", "n_tok", "bucket")


@query(
    "text-vocab-topk",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
    counts AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_total
      FROM words WHERE token IS NOT NULL AND token != '' GROUP BY token
    )
    SELECT token, n_docs, n_total FROM counts
    ORDER BY n_total DESC, token LIMIT 50
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary with document and total frequencies;
    deterministic tie-break so the top-k SET is engine-stable. Plan:
    one partial-aggregated groupBy + TakeOrderedAndProject
    (ext/curation.py:vocab_topk)."""
    docs = load(spark, sf_dir, "documents")
    return vocab_topk(docs, n=50)


# ---------------------------------------------------------------------------
# Gopher-style repetition gauge: each doc's top-word fraction. One
# explode + two keyed aggs, both on doc_id (the second reuses the
# first's partitioning under AQE); the ratio divides two exact longs
# so the rounded double is engine-identical.
# ---------------------------------------------------------------------------


@query(
    "text-word-repetition",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
    counts AS (
      SELECT doc_id, token, count(*) AS c FROM words
      WHERE token IS NOT NULL AND token != '' GROUP BY doc_id, token
    )
    SELECT doc_id, CAST(max(c) AS INT) AS top_count,
           CAST(sum(c) AS INT) AS n_words,
           ROUND(max(c) / sum(c), 4) AS top_frac
    FROM counts GROUP BY doc_id
    """,
)
def text_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-word pressure (Gopher repetition filters):
    most-frequent-token count over total tokens. Docs with a high
    top fraction are the boilerplate/spam the pre-training gates
    drop."""
    docs = load(spark, sf_dir, "documents")
    tokens = _doc_tokens(docs)
    counts = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.max("c").cast("int").alias("top_count"),
        F.sum("c").cast("int").alias("n_words"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_frac"),
    )


# ---------------------------------------------------------------------------
# Corpus top bigrams: the 2-gram frequency head (the thing n-gram LMs
# and contamination heuristics both start from). Shingle explode +
# partial-aggregated groupBy + TakeOrderedAndProject.
# ---------------------------------------------------------------------------


@query(
    "text-bigram-topk",
    oracle=f"""
    WITH words AS (SELECT {_WORDS} AS w FROM documents),
    bi AS (
      SELECT unnest(CASE WHEN len(w) >= 2
                    THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
                    ELSE []::VARCHAR[] END) AS bigram
      FROM words
    )
    SELECT bigram, COUNT(*) AS n FROM bi
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(normalized_words(F.col("text")).alias("w"))
    bigrams = words.select(F.explode(shingles_of(F.col("w"), k=2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Document-frequency / IDF head: the vocabulary weighting table a
# TF-IDF featurizer or rare-word filter consumes. count(distinct
# doc_id) rewrites to a two-phase expand aggregate (vocabulary-sized
# key space); the corpus size joins in as a broadcast scalar, never a
# driver-side collect.
# ---------------------------------------------------------------------------


@query(
    "text-idf",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
    df AS (
      SELECT token, count(DISTINCT doc_id) AS n_docs FROM words
      WHERE token IS NOT NULL AND token != '' GROUP BY token
    )
    SELECT token, n_docs,
           ROUND(ln((SELECT count(*) FROM documents) / n_docs), 4) AS idf
    FROM df ORDER BY n_docs DESC, token LIMIT 40
    """,
)
def text_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("n_total"))
    tokens = _doc_tokens(docs)
    df_counts = tokens.groupBy("token").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        df_counts.crossJoin(F.broadcast(total))
        .select(
            "token",
            "n_docs",
            F.round(F.log(F.col("n_total") / F.col("n_docs")), 4).alias("idf"),
        )
        .orderBy(F.col("n_docs").desc(), "token")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# PII redaction: mask emails / SSN-shaped / phone-shaped spans before
# a corpus leaves the pipeline. Pure regexp_replace projection —
# fused into the scan by codegen, no shuffle at any scale. The regex
# subset (classes, counted repeats; no backrefs or lookaround) means
# Java (Spark) and RE2 (DuckDB) agree byte-for-byte. The synthetic
# corpus contains no PII, so BOTH engines first inject deterministic
# spans (a doc_id-derived email + fixed SSN/phone on every 7th doc);
# the oracle then verifies a POSITIVE redaction — changed hashes and
# nonzero match counts — not merely a faithful no-op.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\d{3}-\d{2}-\d{4}"
_PII_PHONE = r"\d{3}[-. ]\d{3}[-. ]\d{4}"
# Appended to every (doc_id % 7 == 0) doc, after a doc_id-derived email.
_PII_TAIL = " ssn 123-45-6789 tel 555.123.4567 end"


@query(
    "text-pii-redact",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com{_PII_TAIL}'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{_PII_EMAIL}', '[EMAIL]', 'g'),
                 '{_PII_SSN}', '[SSN]', 'g'),
                 '{_PII_PHONE}', '[PHONE]', 'g')) AS redacted_hash,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS INT) AS n_ssns,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones
    FROM injected
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com" + _PII_TAIL),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(injected, _PII_EMAIL, "[EMAIL]"),
            _PII_SSN,
            "[SSN]",
        ),
        _PII_PHONE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_hash"),
        F.regexp_count(injected, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(injected, F.lit(_PII_SSN)).alias("n_ssns"),
        F.regexp_count(injected, F.lit(_PII_PHONE)).alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Zipf slope: the log-log OLS slope over the top-100 token
# frequencies — the classic corpus-health gauge (natural text reads
# ≈ -1; template/boilerplate corpora flatten, spam steepens). The
# head is a TakeOrderedAndProject (never a global sort); the 100-row
# regression runs in one tiny agg. regr_slope is exact OLS in both
# engines and the inputs (ln of exact longs) match bit-for-bit, so
# the 3-decimal round is engine-stable.
# ---------------------------------------------------------------------------


@query(
    "text-zipf-slope",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
    counts AS (
      SELECT token, count(*) AS n FROM words
      WHERE token IS NOT NULL AND token != '' GROUP BY token
    ),
    top AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM counts ORDER BY n DESC, token LIMIT 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(ln(n), ln(rank)), 3) AS zipf_slope
    FROM top
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = (
        _doc_tokens(docs, keep_doc_id=False)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(100)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("n").desc(), "token"))
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(F.expr("regr_slope(ln(n), ln(rank))"), 3).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Exact-k stratified sampling: EXACTLY k docs per stratum (lang),
# selected by md5 order — the companion to pipeline-hash-sample's
# percentage buckets when a training mix specifies absolute per-source
# counts. md5-ordered row_number is reproducible across engines, runs,
# and cluster sizes (no RNG, no partition-order dependence). Runs
# through the two-phase rank-threshold refinement
# (ext/curation.py::stratified_exact_k): a 256-bucket md5 rollup finds
# the only buckets that can hold each stratum's k smallest keys, a
# broadcast semi join prunes to ~k + one bucket of candidates, and the
# exact rank window sorts ONLY the survivors — with a handful of
# language strata over a fact-grain corpus, the naive per-stratum
# window would sort n/|strata| rows in single tasks (the plan class
# the percent-rank rewrite removed). Ranks are exact and identical to
# the naive form; the oracle IS the naive form.
# ---------------------------------------------------------------------------


@query(
    "sample-stratified-exact",
    oracle="""
    SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 5
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import stratified_exact_k

    docs = load(spark, sf_dir, "documents")
    return stratified_exact_k(docs, k=5).select(
        "doc_id", "lang", F.col("rk").cast("int").alias("rk")
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup: the shape every continuously-fed corpus
# runs — a new BATCH (20% of docs by the reproducible md5 bucket)
# checked against the existing CORPUS (the other 80%), never corpus ×
# corpus. Exact dups leave via a hash semi-join (shuffles only the
# 16-byte text hashes, NEVER broadcast — the corpus side is the big
# one at 100 TB); near-dups via the df-capped shared-shingle join
# with the batch side as the probe. The bucket is a pure row-local
# function of doc_id, so the batch/corpus split costs zero shuffles
# and is engine-identical (same formula as pipeline-hash-sample).
# ---------------------------------------------------------------------------

# Reuse the k=3 shingle + df-cap CTEs (and the cap constant) from
# extensions so dedup-containment / this slug can never silently
# diverge in shingle construction or cap value. (dedup-ngram-jaccard
# moved onto the exact prefix path in r10; the batch×corpus join here
# keeps the df cap — the probe side is a small batch, so the cap's
# filtered-Jaccard trade is the right one for incremental ingest.)
from dug_data_ingest_spark.queries.extensions import (  # noqa: E402
    _JACCARD_CAP,
    _KEPT_CTE,
    _SHINGLES_CTE,
)

_SHINGLES3_CTE = f"""{_SHINGLES_CTE},
{_KEPT_CTE.strip().replace("kept AS", "kept3 AS")}
"""

_INCR_DEDUP_ORACLE = f"""
WITH {_SHINGLES3_CTE},
b AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS bucket
  FROM documents
),
batch AS (SELECT doc_id, md5(text) AS h FROM b WHERE bucket >= 80),
corpus AS (SELECT doc_id, md5(text) AS h FROM b WHERE bucket < 80),
sizes AS (SELECT doc_id, count(*) AS n FROM kept3 GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS c, count(*) AS i
  FROM kept3 x JOIN batch ON x.doc_id = batch.doc_id
  JOIN kept3 y ON x.s = y.s
  JOIN corpus ON y.doc_id = corpus.doc_id
  GROUP BY x.doc_id, y.doc_id
),
near AS (
  SELECT DISTINCT inter.a AS doc_id FROM inter
  JOIN sizes sa ON sa.doc_id = inter.a
  JOIN sizes sc ON sc.doc_id = inter.c
  WHERE ROUND(i * 1.0 / (sa.n + sc.n - i), 4) >= 0.8
)
SELECT batch.doc_id,
       CASE WHEN batch.h IN (SELECT h FROM corpus) THEN 'exact_dup'
            WHEN batch.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
            ELSE 'kept' END AS status
FROM batch
"""


@query("pipeline-incremental-dedup", oracle=_INCR_DEDUP_ORACLE)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = _md5_hash64(F.col("doc_id").cast("string")) % 100
    is_batch = bucket >= 80

    batch_h = docs.filter(is_batch).select("doc_id", F.md5("text").alias("h"))
    corpus_h = docs.filter(~is_batch).select(F.md5("text").alias("h")).distinct()
    exact = (
        batch_h.join(corpus_h, "h", "semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )

    kept_n = capped_shingles_with_sizes(
        docs, max_doc_freq=_JACCARD_CAP, caller="pipeline_incremental_dedup"
    ).withColumn("_b", _md5_hash64(F.col("doc_id").cast("string")) % 100)
    a = kept_n.filter(F.col("_b") >= 80).select(
        F.col("doc_id").alias("a"), F.col("n").alias("na"), "shingle"
    )
    c = kept_n.filter(F.col("_b") < 80).select(
        F.col("doc_id").alias("c"), F.col("n").alias("nb"), "shingle"
    )
    # batch × corpus scoring through the ONE jaccard core (join →
    # PPJoin length prune → pair agg → ROUND(,4) ≥ t) shared with
    # dedup-ngram-jaccard — the threshold slack and rounding
    # convention cannot drift between the batch and full-corpus paths
    near = (
        jaccard_scored_pairs(a, c, 0.8, left="a", right="c")
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )

    # No broadcast hint on the dup-id sets: they scale with the BATCH
    # (with a high duplicate rate they are a large fraction of it), so
    # a hard hint would abort past the 8 GB broadcast ceiling exactly
    # when dedup matters most. Unhinted, AQE broadcasts them while
    # small and degrades to a shuffle join when they are not — the
    # same posture as text-keyword-tfidf's vocabulary join.
    return (
        batch_h.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


# Context-window chunking: the fan-out every pretraining pipeline runs
# between curation and tokenization. Character-based here (the repo's
# token counter is whitespace-based and chunk boundaries must replay
# exactly in the oracle); swap _CHUNK/_STRIDE for token offsets when a
# real tokenizer sits upstream.
_CHUNK = 200
_STRIDE = 150  # 50-char overlap so no span is lost at a boundary


@query(
    "text-chunk-overlap",
    oracle=f"""
    WITH fanned AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil((GREATEST(length(text), {_CHUNK})
                                        - {_CHUNK}) / {_STRIDE}.0) AS BIGINT)
                             + 1)) AS i
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           substr(text, CAST(i*{_STRIDE} + 1 AS INT), {_CHUNK}) AS chunk,
           CAST(length(substr(text, CAST(i*{_STRIDE} + 1 AS INT), {_CHUNK}))
                AS INT) AS chunk_len
    FROM fanned
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (window 200 chars, stride 150):
    every document becomes 1 + ceil(max(0, len-200)/150) rows of
    (doc_id, chunk_idx, chunk, chunk_len). The stride guarantees full
    coverage with 50-char overlap, and the last-chunk start is always
    <= len, so no empty chunks are ever emitted.

    100-TB shape: a pure row-local Generate — sequence() over an
    arithmetic bound, explode, substring — with ZERO shuffles; the
    stage pipelines into whatever follows (tokenization, packing) and
    task sizing is entirely `spark.sql.files.maxPartitionBytes`. The
    fan-out is bounded by len/stride per row, so skew mirrors the
    document-length distribution and never amplifies it. Reference
    parity: no analogue (the reference ingests metadata, not corpus
    text) — extension surface for the LLM-pipeline tier, feeding
    pipeline-pack-sequences (Q/curation.py) downstream."""
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return chunk_with_overlap(docs)


def chunk_with_overlap(
    docs: DataFrame,
    chunk_len: int = _CHUNK,
    stride: int = _STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The text-chunk-overlap transformation on an arbitrary frame
    (the graded query binds the corpus defaults). Kept separate so the
    coverage/reconstruction invariants — every character lands in a
    chunk, stitching the chunks back yields the original text — are
    property-testable on hypothesis-generated strings
    (tests/test_properties.py), which the oracle cannot check: it
    mirrors the same fan-out arithmetic, so an off-by-one would agree
    on both sides."""
    if stride <= 0 or chunk_len < stride:
        raise ValueError(
            f"chunk_with_overlap: need 0 < stride <= chunk_len "
            f"(got chunk_len={chunk_len}, stride={stride}); a stride "
            "above the window would silently skip spans"
        )
    last = F.ceil(
        (F.greatest(F.length(text_col), F.lit(chunk_len)) - chunk_len)
        / F.lit(float(stride))
    ).cast("bigint")
    fanned = docs.select(
        id_col,
        text_col,
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("i"),
    )
    piece = F.expr(
        f"substring({text_col}, CAST(i * {stride} + 1 AS INT), {chunk_len})"
    )
    return fanned.select(
        id_col,
        F.col("i").cast("int").alias("chunk_idx"),
        piece.alias("chunk"),
        F.length(piece).cast("int").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# Corpus-LM fluency score: train a bigram language model ON the corpus
# (P(w2|w1) = bigram count / prefix count) and score every document by
# its mean log-probability — the classic statistical-fluency gate
# (gibberish and boilerplate score far from the corpus mode). Two
# passes over the exploded bigrams: one to build the LM rollup, one to
# score; the fact explodes once per pass and never self-joins.
#
# The LM table the score join broadcasts is NOT the full vocab²-bounded
# bigram table — it is df-capped to its frequency head (the
# dedup-ngram-jaccard cap pattern, ext/dedup.py): bigrams seen fewer
# than _LM_MIN_COUNT times are floored out, and the survivors are
# hard-capped to the _LM_HEAD_K most frequent (ties broken by bigram
# text, so the head set is engine-deterministic). Out-of-head bigrams
# score as unseen (excluded from the doc's average; a doc with zero
# in-head bigrams drops out). Denominators stay TRUE conditional
# probabilities: n_prefix sums over ALL bigrams, uncapped. The cap
# bounds the broadcast at K rows regardless of corpus size — at 100 TB
# the head is still ≤ K; the count floor is what bites at small SF
# (singleton bigrams exist at every scale), keeping the cap observable
# in the graded result rather than vacuous.
# ---------------------------------------------------------------------------

from dug_data_ingest_spark.ext.curation import (  # noqa: E402
    LM_HEAD_K as _LM_HEAD_K,
    LM_MIN_COUNT as _LM_MIN_COUNT,
)

_LM_SCORE_ORACLE = f"""
WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
bi AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
                THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
                ELSE []::VARCHAR[] END) AS bigram
  FROM words),
counts AS (
  SELECT bigram, string_split(bigram, ' ')[1] AS prefix, COUNT(*) AS n_big
  FROM bi GROUP BY bigram),
with_totals AS (
  SELECT bigram, n_big,
         SUM(n_big) OVER (PARTITION BY prefix) AS n_prefix
  FROM counts),
head AS (
  SELECT bigram, n_big, n_prefix FROM with_totals
  WHERE n_big >= {_LM_MIN_COUNT}
  ORDER BY n_big DESC, bigram LIMIT {_LM_HEAD_K}),
scored AS (
  SELECT b.doc_id,
         ln(CAST(h.n_big AS DOUBLE) / h.n_prefix) AS logp
  FROM bi b JOIN head h USING (bigram))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(logp), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


@query("text-lm-score", oracle=_LM_SCORE_ORACLE)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delegates to ext/curation.py::corpus_lm_scores — a pure code-motion
    # factoring (expressions identical line for line, so the graded plan
    # is byte-for-byte unchanged; the dq-profile/profile_columns
    # precedent) that lets ccnet_curate reuse the scorer. The word array
    # projects FIRST inside it (shingles_of lambda cost contract) and the
    # denominators ride ONE counts rollup (the ReusedExchange lesson) —
    # see the function's docstring and the block comment above for the
    # full commentary; _LM_MIN_COUNT/_LM_HEAD_K re-export its constants
    # so the oracle literal and the Spark plan cannot drift.
    from dug_data_ingest_spark.ext.curation import corpus_lm_scores

    docs = load(spark, sf_dir, "documents")
    return corpus_lm_scores(
        docs, min_count=_LM_MIN_COUNT, head_k=_LM_HEAD_K
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction: each doc's top-3 TF-IDF terms — the
# metadata-enrichment pass (search facets, topic tags) a corpus
# pipeline runs after text-idf builds the weighting table. tf rides
# the (doc, token) rollup; the df table is vocabulary-sized, so its
# join back onto tf is deliberately UNHINTED — AQE broadcasts it while
# it fits and falls back to a shuffle join on token when the
# vocabulary outgrows the threshold (at 100 TB it would); the rank
# window partitions by doc_id.
# Ties break (tfidf DESC, token ASC) identically in both engines, and
# tfidf compares EXACTLY (tf · ln(N/df) of integer inputs → the same
# IEEE double) so the top-3 SET is engine-stable.
# ---------------------------------------------------------------------------


@query(
    "text-keyword-tfidf",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({_WORDS}) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM words
      WHERE token IS NOT NULL AND token != '' GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS n_docs FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * ln((SELECT COUNT(*) FROM documents) / df.n_docs)
               AS tfidf
      FROM tf JOIN df USING (token)
    )
    SELECT doc_id, token, ROUND(tfidf, 4) AS tfidf,
           CAST(rn AS INT) AS kw_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def text_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("n_total"))
    tokens = _doc_tokens(docs)
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # The vacuous tf >= 1 filter is load-bearing: without it, column
    # pruning strips tf's count from THIS branch's partial aggregate
    # (functions=[] vs functions=[partial_count(1)]), the two tf
    # exchanges stop being canonically identical, and ReusedExchange
    # can't share the scan→explode→rollup shuffle — the corpus would
    # be exploded twice (the lesson-12 reuse-defeat; plan-pinned).
    df_counts = (
        tf.filter(F.col("tf") >= 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # no broadcast hint on the vocabulary-sized df table: AQE
    # broadcasts while small, degrades to a token-keyed shuffle join
    # beyond the threshold (the 1-row corpus total stays hinted)
    scored = tf.join(df_counts, "token").crossJoin(
        F.broadcast(total)
    ).select(
        "doc_id",
        "token",
        (F.col("tf") * F.log(F.col("n_total") / F.col("n_docs"))).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "token", F.round("tfidf", 4).alias("tfidf"), "kw_rank")
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling (the alpha-sampling rule of
# multilingual pretraining — Raffel et al. 2020 §3.4.3 / Conneau et
# al. 2020, alpha ~ 0.3): target mixture q_l ∝ p_l^alpha realized as
# without-replacement md5-bucket keep rates at the largest feasible
# total (the scarcest-supply stratum saturates at rate 1). Promoted
# from library surface in round 11 (VERDICT r10 item 1): the rates
# are a closed-form function of the per-stratum counts, so the oracle
# replays them EXACTLY — counts in stratum order, pow/division/floor
# in the same operation order as ext/curation.py::
# temperature_mix_rates (list_reduce keeps the zq summation
# left-to-right over strata sorted by name, matching Python's sum
# over sorted counts), then the same md5 bucket rule as
# pipeline-mix-sample. pct is clamped to >= 1 on both sides (only
# NULL strata are excluded from the mix). Scale shape: ONE
# strata-bounded count + a broadcast of the rate table + a row-local
# keep decision — the corpus never shuffles.
# ---------------------------------------------------------------------------

_TEMP_H64 = "CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

_TEMPERATURE_MIX_ORACLE = f"""
WITH c AS (
  SELECT lang, count(*) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
l AS (
  SELECT list(lang ORDER BY lang) AS ls,
         list(CAST(n AS DOUBLE) ORDER BY lang) AS ns,
         CAST(sum(n) AS DOUBLE) AS total
  FROM c
),
w AS (SELECT ls, ns, [pow(x / total, 0.3) for x in ns] AS ws FROM l),
z AS (SELECT ls, ns, ws,
             CAST(list_reduce(ws, (a, b) -> a + b) AS DOUBLE) AS zq FROM w),
t AS (SELECT ls, ns, ws, zq,
             list_min([ns[i] / (ws[i] / zq)
                       for i in generate_series(1, len(ns))]) AS T
      FROM z),
r AS (
  SELECT unnest(ls) AS lang,
         unnest([GREATEST(1, CAST(floor(LEAST(((ws[i] / zq) * T) / ns[i],
                 1.0) * 10000) AS INT))
                 for i in generate_series(1, len(ns))]) AS pct
  FROM t
)
SELECT d.doc_id, d.lang, d.source, r.pct,
       {_TEMP_H64} % 10000 AS bucket
FROM documents d JOIN r USING (lang)
WHERE {_TEMP_H64} % 10000 < r.pct
"""


@query("curate-temperature-mix", oracle=_TEMPERATURE_MIX_ORACLE)
def curate_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import temperature_mix

    docs = load(spark, sf_dir, "documents")
    return temperature_mix(
        docs, alpha=0.3, strata_col="lang", key_col="doc_id"
    ).select("doc_id", "lang", "source", "pct", "bucket")


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring — the KenLM-shaped upgrade of
# text-lm-score (CCNet's quality model is a KN-smoothed n-gram LM,
# Wenzek et al. 2020 §3.3). No head cap: EVERY observed bigram scores
# through max(c-D,0)/c(w1·) + (D·N1+(w1·)/c(w1·))·N1+(·w2)/N1+(··),
# so no doc goes unscored (self-scoring keeps every probability
# strictly positive). The oracle replays counts, both continuation
# tables, and the exact operation order of the probability expression
# (ext/curation.py::kneser_ney_bigram_scores); ROUND(·,4) on the mean
# log-prob absorbs summation-order ulps, the text-lm-score precedent.
# Scale: one bigram explode -> ONE groupBy(bigram); prefix/
# continuation tables are vocabulary-bounded aggregates OF the counts
# table; the scoring join is UNHINTED (AQE broadcasts while the
# vocabulary fits, token-keyed shuffle beyond — the tfidf posture).
# ---------------------------------------------------------------------------

_KN_D = 0.75

_KN_LM_ORACLE = f"""
WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
bi AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
                THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
                ELSE []::VARCHAR[] END) AS bigram
  FROM words),
counts AS (
  SELECT bigram, string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2, COUNT(*) AS n_big
  FROM bi GROUP BY bigram),
prefix AS (
  SELECT w1, SUM(n_big) AS c1dot, COUNT(*) AS n1p_fw
  FROM counts GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1p_end FROM counts GROUP BY w2),
types AS (SELECT COUNT(*) AS n_types FROM counts),
tbl AS (
  SELECT c.bigram,
         GREATEST(CAST(c.n_big AS DOUBLE) - {_KN_D}, 0.0) / p.c1dot
           + (({_KN_D} * p.n1p_fw) / p.c1dot)
             * (CAST(n.n1p_end AS DOUBLE) / t.n_types) AS p
  FROM counts c JOIN prefix p USING (w1) JOIN cont n USING (w2)
  CROSS JOIN types t),
scored AS (
  SELECT b.doc_id, ln(tbl.p) AS logp FROM bi b JOIN tbl USING (bigram))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(logp), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


@query("text-kn-lm-score", oracle=_KN_LM_ORACLE)
def text_kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import kneser_ney_bigram_scores

    docs = load(spark, sf_dir, "documents")
    return kneser_ney_bigram_scores(docs, discount=_KN_D)


# ---------------------------------------------------------------------------
# Held-out KN scoring — the deployment shape of the KN model: train on
# half the corpus (doc_id % 2 = 0), score the OTHER half, where the
# interpolation's backoff tiers actually fire (pair seen -> full KN;
# pair unseen but prefix seen -> backoff mass * continuation; prefix
# unseen -> continuation alone; continuation unseen -> OUT-OF-MODEL,
# excluded from the mean and counted in n_oov rather than faking a
# floor score). ext/curation.py::kneser_ney_score_batch; same
# replay/ROUND(,4) posture as text-kn-lm-score.
# ---------------------------------------------------------------------------

_KN_HELDOUT_ORACLE = f"""
WITH words AS (SELECT doc_id, {_WORDS} AS w FROM documents),
allbi AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
                THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
                ELSE []::VARCHAR[] END) AS bigram
  FROM words),
cbi AS (SELECT * FROM allbi WHERE doc_id % 2 = 0),
bbi AS (
  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2
  FROM allbi WHERE doc_id % 2 = 1),
counts AS (
  SELECT bigram, string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2, COUNT(*) AS n_big
  FROM cbi GROUP BY bigram),
prefix AS (
  SELECT w1, SUM(n_big) AS c1dot, COUNT(*) AS n1p_fw
  FROM counts GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1p_end FROM counts GROUP BY w2),
types AS (SELECT COUNT(*) AS n_types FROM counts),
scored AS (
  SELECT b.doc_id,
         ln(CASE
           WHEN c.n_big IS NOT NULL THEN
             GREATEST(CAST(c.n_big AS DOUBLE) - {_KN_D}, 0.0) / p.c1dot
               + (({_KN_D} * p.n1p_fw) / p.c1dot)
                 * (CAST(n.n1p_end AS DOUBLE) / t.n_types)
           WHEN p.c1dot IS NOT NULL AND n.n1p_end IS NOT NULL THEN
             (({_KN_D} * p.n1p_fw) / p.c1dot)
               * (CAST(n.n1p_end AS DOUBLE) / t.n_types)
           WHEN n.n1p_end IS NOT NULL THEN
             CAST(n.n1p_end AS DOUBLE) / t.n_types
           END) AS logp
  FROM bbi b
  LEFT JOIN counts c ON c.bigram = b.bigram
  LEFT JOIN prefix p ON p.w1 = b.w1
  LEFT JOIN cont n ON n.w2 = b.w2
  CROSS JOIN types t)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN logp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(AVG(logp), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


@query("text-kn-score-heldout", oracle=_KN_HELDOUT_ORACLE)
def text_kn_score_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import kneser_ney_score_batch

    docs = load(spark, sf_dir, "documents")
    return kneser_ney_score_batch(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        discount=_KN_D,
    )


# ---------------------------------------------------------------------------
# Contamination forensics — the audit artifact text-decontaminate
# doesn't emit: WHICH eval doc leaked into WHICH training doc and how
# strongly, (train_id, eval_id, n_shared_shingles) for every pair
# sharing a 5-gram shingle. ext/curation.py::contamination_report;
# same eval split and shingle width as text-decontaminate, so the
# report's distinct train ids ARE that slug's dropped set. Scale:
# eval side broadcasts WITH ids; the corpus is scanned once and never
# shuffled on the shingle (only actual hits reach the pair groupBy).
# The oracle replays the same distinct-shingle join in DuckDB —
# exact integer counts, no floats.
# ---------------------------------------------------------------------------


@query(
    "text-contamination-report",
    oracle=f"""
    WITH {_SHINGLES5_CTE}
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           COUNT(*) AS n_shared_shingles
    FROM sh5 t JOIN sh5 e USING (s)
    WHERE NOT (t.{_EVAL_PRED}) AND e.{_EVAL_PRED}
    GROUP BY 1, 2
    """,
)
def text_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import contamination_report

    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 10 == 7
    return contamination_report(
        docs.filter(~is_eval), docs.filter(is_eval), k=5
    )


# ---------------------------------------------------------------------------
# Reproducible corpus shuffle — the training-order export between
# curation and the data loader: (shard, pos) replay ONE fixed
# md5(seed|key) permutation, byte-identical across reruns, engines,
# cluster sizes, and input partitionings (df.orderBy(rand()) re-deals
# every run; a resumable training run needs step N to see the same
# document after a restart). ext/curation.py::shuffle_corpus. Scale:
# ONE hash exchange on the shard id; rank windows are n/n_shards rows
# (the caller sizes n_shards to the task budget — tens of thousands
# of few-hundred-MB shards at 100 TB). The oracle replays the exact
# md5 shard/rank formula — a pure-integer permutation check.
# ---------------------------------------------------------------------------


@query(
    "pipeline-shuffle-corpus",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5('r12|' || CAST(doc_id AS VARCHAR)) AS skey,
             CAST(CAST(('0x' || substr(md5('r12|' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 8 AS INT) AS shard
      FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                AS INT) AS pos
    FROM h
    """,
)
def pipeline_shuffle_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import shuffle_corpus

    docs = load(spark, sf_dir, "documents")
    return shuffle_corpus(docs, n_shards=8, seed="r12").select(
        "doc_id", "shard", "pos"
    )


# ---------------------------------------------------------------------------
# Quarantine-style quality gate over the NAMED public web-text filters
# (ext/curation.py::gate_documents): every doc comes back with
# reject_reason = NULL (keep) or the FIRST failing rule's name, in the
# triage order null_text -> the 8 Gopher quality rules (Rae et al.
# 2021 A1.1) -> the 13 Gopher repetition rules (Table A1) -> the C4
# page rule (Raffel et al. 2020 s2.2). All 22 rules are deterministic
# booleans over pure Column expressions — ONE projection, no shuffle,
# no Python — so the oracle replays every rule exactly in DuckDB
# (same whitespace-word and normalized-word conventions as the rest
# of the text oracles) and the value hash pins thresholds AND rule
# order: a drifted constant or reordered CASE is a silent
# corpus-composition change this gate exists to catch.
# ---------------------------------------------------------------------------

_GATE_ORACLE = f"""
WITH d AS (SELECT doc_id, text FROM documents),
qw AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws,
         {_WORDS} AS nw
  FROM d),
qbase AS (
  SELECT doc_id, text, ws, nw,
         len(ws) AS n_words,
         CASE WHEN len(ws) > 0
              THEN CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)
              END AS mean_len,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ellipsis,
         regexp_split_to_array(text, '\\n') AS lines
  FROM qw),
q AS (
  SELECT doc_id, text, nw,
    (n_words >= 50 AND n_words <= 100000) AS n_words_ok,
    COALESCE(mean_len >= 3.0 AND mean_len <= 10.0, FALSE) AS mean_word_len_ok,
    COALESCE(CASE WHEN n_words > 0 THEN n_hash / CAST(n_words AS DOUBLE) <= 0.1 END, FALSE) AS hash_ratio_ok,
    COALESCE(CASE WHEN n_words > 0 THEN n_ellipsis / CAST(n_words AS DOUBLE) <= 0.1 END, FALSE) AS ellipsis_ratio_ok,
    COALESCE(CAST(len(list_filter(lines, l ->
        starts_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '-')
        OR starts_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '*')
        OR starts_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '•'))) AS DOUBLE)
      / len(lines) <= 0.9, FALSE) AS bullet_lines_ok,
    COALESCE(CAST(len(list_filter(lines, l ->
        ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '...')
        OR ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '…'))) AS DOUBLE)
      / len(lines) <= 0.3, FALSE) AS ellipsis_lines_ok,
    COALESCE(CASE WHEN len(ws) > 0 THEN
        CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
          / len(ws) >= 0.8 END, FALSE) AS alpha_words_ok,
    COALESCE(len(list_filter(['the','be','to','of','and','that','have','with'],
        s -> list_contains(nw, s))) >= 2, FALSE) AS stopwords_ok
  FROM qbase),

rl AS (
  SELECT doc_id, unnest(list_filter(
      list_transform(regexp_split_to_array(text, '\\n'),
                     l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')),
      l -> l <> '')) AS item
  FROM d),
rp AS (
  SELECT doc_id, unnest(list_filter(
      list_transform(regexp_split_to_array(text, '\\n{{2,}}'),
                     p -> regexp_replace(p, '^\\s+|\\s+$', '', 'g')),
      p -> p <> '')) AS item
  FROM d),
rls AS (
  SELECT doc_id, SUM(c) AS n, SUM(c - 1) AS dup_n,
         SUM(c * length(item)) AS total, SUM((c - 1) * length(item)) AS dup
  FROM (SELECT doc_id, item, COUNT(*) AS c FROM rl GROUP BY 1, 2)
  GROUP BY doc_id),
rps AS (
  SELECT doc_id, SUM(c) AS n, SUM(c - 1) AS dup_n,
         SUM(c * length(item)) AS total, SUM((c - 1) * length(item)) AS dup
  FROM (SELECT doc_id, item, COUNT(*) AS c FROM rp GROUP BY 1, 2)
  GROUP BY doc_id),
nks AS (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS k),
grams AS (
  SELECT doc_id, k, unnest(CASE WHEN len(nw) >= k
      THEN [array_to_string(nw[i:i+k-1], ' ') for i in range(1, len(nw)-k+2)]
      ELSE []::VARCHAR[] END) AS g
  FROM qw CROSS JOIN nks),
gstat AS (
  SELECT doc_id, k, SUM(c) AS n, SUM(c * length(g)) AS total,
         SUM((c - 1) * length(g)) AS dup, MAX(c * length(g)) AS top
  FROM (SELECT doc_id, k, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3)
  GROUP BY doc_id, k),
rep AS (
  SELECT q.doc_id,
    COALESCE(CAST(l.dup_n AS DOUBLE) / nullif(l.n, 0) <= 0.30, FALSE) AS dup_line_frac_ok,
    COALESCE(CAST(l.dup AS DOUBLE) / nullif(l.total, 0) <= 0.20, FALSE) AS dup_line_char_frac_ok,
    COALESCE(CAST(p.dup_n AS DOUBLE) / nullif(p.n, 0) <= 0.30, FALSE) AS dup_para_frac_ok,
    COALESCE(CAST(p.dup AS DOUBLE) / nullif(p.total, 0) <= 0.20, FALSE) AS dup_para_char_frac_ok,
    COALESCE(g2.n IS NULL OR CAST(g2.top AS DOUBLE) / nullif(g2.total, 0) <= 0.20, FALSE) AS top2gram_ok,
    COALESCE(g3.n IS NULL OR CAST(g3.top AS DOUBLE) / nullif(g3.total, 0) <= 0.18, FALSE) AS top3gram_ok,
    COALESCE(g4.n IS NULL OR CAST(g4.top AS DOUBLE) / nullif(g4.total, 0) <= 0.16, FALSE) AS top4gram_ok,
    COALESCE(g5.n IS NULL OR CAST(g5.dup AS DOUBLE) / nullif(g5.total, 0) <= 0.15, FALSE) AS dup5gram_ok,
    COALESCE(g6.n IS NULL OR CAST(g6.dup AS DOUBLE) / nullif(g6.total, 0) <= 0.14, FALSE) AS dup6gram_ok,
    COALESCE(g7.n IS NULL OR CAST(g7.dup AS DOUBLE) / nullif(g7.total, 0) <= 0.13, FALSE) AS dup7gram_ok,
    COALESCE(g8.n IS NULL OR CAST(g8.dup AS DOUBLE) / nullif(g8.total, 0) <= 0.12, FALSE) AS dup8gram_ok,
    COALESCE(g9.n IS NULL OR CAST(g9.dup AS DOUBLE) / nullif(g9.total, 0) <= 0.11, FALSE) AS dup9gram_ok,
    COALESCE(g10.n IS NULL OR CAST(g10.dup AS DOUBLE) / nullif(g10.total, 0) <= 0.10, FALSE) AS dup10gram_ok
  FROM q
  LEFT JOIN rls l ON l.doc_id = q.doc_id
  LEFT JOIN rps p ON p.doc_id = q.doc_id
  LEFT JOIN gstat g2 ON g2.doc_id = q.doc_id AND g2.k = 2
  LEFT JOIN gstat g3 ON g3.doc_id = q.doc_id AND g3.k = 3
  LEFT JOIN gstat g4 ON g4.doc_id = q.doc_id AND g4.k = 4
  LEFT JOIN gstat g5 ON g5.doc_id = q.doc_id AND g5.k = 5
  LEFT JOIN gstat g6 ON g6.doc_id = q.doc_id AND g6.k = 6
  LEFT JOIN gstat g7 ON g7.doc_id = q.doc_id AND g7.k = 7
  LEFT JOIN gstat g8 ON g8.doc_id = q.doc_id AND g8.k = 8
  LEFT JOIN gstat g9 ON g9.doc_id = q.doc_id AND g9.k = 9
  LEFT JOIN gstat g10 ON g10.doc_id = q.doc_id AND g10.k = 10),
c4 AS (
  SELECT doc_id,
    (NOT contains(lower(text), 'lorem ipsum')
     AND NOT contains(text, '{{')
     AND len(list_filter(regexp_split_to_array(text, '\\n'), l ->
        (ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '.')
         OR ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '!')
         OR ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '?')
         OR ends_with(regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '"'))
        AND len(list_filter(regexp_split_to_array(
              regexp_replace(l, '^\\s+|\\s+$', '', 'g'), '\\s+'),
              w -> w <> '')) >= 5
        AND NOT contains(lower(l), 'javascript'))) >= 3) AS page_ok
  FROM d)
SELECT q.doc_id,
  CASE
    WHEN q.text IS NULL THEN 'null_text'
    WHEN NOT q.n_words_ok THEN 'gopher:n_words_ok'
    WHEN NOT q.mean_word_len_ok THEN 'gopher:mean_word_len_ok'
    WHEN NOT q.hash_ratio_ok THEN 'gopher:hash_ratio_ok'
    WHEN NOT q.ellipsis_ratio_ok THEN 'gopher:ellipsis_ratio_ok'
    WHEN NOT q.bullet_lines_ok THEN 'gopher:bullet_lines_ok'
    WHEN NOT q.ellipsis_lines_ok THEN 'gopher:ellipsis_lines_ok'
    WHEN NOT q.alpha_words_ok THEN 'gopher:alpha_words_ok'
    WHEN NOT q.stopwords_ok THEN 'gopher:stopwords_ok'
    WHEN NOT r.dup_line_frac_ok THEN 'gopher_rep:dup_line_frac_ok'
    WHEN NOT r.dup_line_char_frac_ok THEN 'gopher_rep:dup_line_char_frac_ok'
    WHEN NOT r.dup_para_frac_ok THEN 'gopher_rep:dup_para_frac_ok'
    WHEN NOT r.dup_para_char_frac_ok THEN 'gopher_rep:dup_para_char_frac_ok'
    WHEN NOT r.top2gram_ok THEN 'gopher_rep:top2gram_ok'
    WHEN NOT r.top3gram_ok THEN 'gopher_rep:top3gram_ok'
    WHEN NOT r.top4gram_ok THEN 'gopher_rep:top4gram_ok'
    WHEN NOT r.dup5gram_ok THEN 'gopher_rep:dup5gram_ok'
    WHEN NOT r.dup6gram_ok THEN 'gopher_rep:dup6gram_ok'
    WHEN NOT r.dup7gram_ok THEN 'gopher_rep:dup7gram_ok'
    WHEN NOT r.dup8gram_ok THEN 'gopher_rep:dup8gram_ok'
    WHEN NOT r.dup9gram_ok THEN 'gopher_rep:dup9gram_ok'
    WHEN NOT r.dup10gram_ok THEN 'gopher_rep:dup10gram_ok'
    WHEN NOT c.page_ok THEN 'c4:page'
    END AS reject_reason
FROM q JOIN rep r ON r.doc_id = q.doc_id JOIN c4 c ON c.doc_id = q.doc_id
"""


@query("curate-gate-documents", oracle=_GATE_ORACLE)
def curate_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import gate_documents

    docs = load(spark, sf_dir, "documents")
    return gate_documents(docs).select("doc_id", "reject_reason")


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (Wenzek et al. 2020 s3.3) — split each
# language's documents into head/middle/tail by per-language score
# quantiles (ext/curation.py::perplexity_buckets), scored here by the
# exactly-replayable composite quality heuristic (the text-quality
# slug's score; high = fluent, so ascending=False). At driver scale
# the GK sketch is in its exact regime (eps*n < 1/2), and Spark's
# percentile_approx then returns the element at rank ceil(f*n) —
# verified empirically across n in {5..2000} — so the oracle replays
# the cuts EXACTLY via row_number rank selection with the same IEEE
# double fractions (1/3 -> 0.3333333333333333). A full value oracle,
# not just a boundary property: at 100 TB the cuts are approximate by
# design (the paper's buckets are statistical), which the library
# docstring documents.
# Scale shape: ONE groupBy(lang) sketch rollup (state bounded by
# accuracy per stratum, never a corpus sort), the |langs|-row cut
# table broadcast back, assignment row-local.
# ---------------------------------------------------------------------------


@query(
    "curate-perplexity-buckets",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang,
             ROUND(0.4 * least(length(text) / 400.0, 1.0)
                   + 0.4 * least(ROUND((len(regexp_extract_all(text, '\\bthe\\b'))
                          + len(regexp_extract_all(text, '\\ba\\b'))
                          + len(regexp_extract_all(text, '\\band\\b'))
                          + len(regexp_extract_all(text, '\\bof\\b')))
                        / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) * 10.0, 1.0)
                   + 0.2 * greatest(0.0, 1.0 - ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                        / greatest(length(text), 1), 4) * 20.0), 4) AS q
      FROM documents
    ),
    s AS (SELECT doc_id, lang, -q AS s FROM m WHERE q IS NOT NULL),
    n AS (SELECT lang, COUNT(*) AS cnt FROM s GROUP BY lang),
    ranked AS (
      SELECT lang, s, row_number() OVER (PARTITION BY lang ORDER BY s) AS rk
      FROM s),
    cuts AS (
      SELECT r.lang,
             MAX(CASE WHEN rk = CAST(ceil(0.3333333333333333 * cnt) AS BIGINT)
                 THEN s END) AS c1,
             MAX(CASE WHEN rk = CAST(ceil(0.6666666666666666 * cnt) AS BIGINT)
                 THEN s END) AS c2
      FROM ranked r JOIN n USING (lang) GROUP BY r.lang)
    SELECT m.doc_id, m.lang, m.q AS quality,
           CASE WHEN m.q IS NULL THEN NULL
                WHEN -m.q <= c.c1 THEN 'head'
                WHEN -m.q <= c.c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM m LEFT JOIN cuts c ON m.lang IS NOT DISTINCT FROM c.lang
    """,
)
def curate_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import perplexity_buckets
    from dug_data_ingest_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    # materialize the narrow (id, lang, quality) projection ONCE: the
    # quality expression (5 regex passes/doc) feeds both the cuts
    # rollup and the assignment join, which otherwise each recompute
    # it (r13; the guide §8 "decide with small rows" shape — the
    # snapshot is 3 scalar columns, never the text)
    scored = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    ).localCheckpoint(eager=False)
    return perplexity_buckets(
        scored, score_col="quality", group_col="lang", ascending=False
    ).select("doc_id", "lang", "quality", "ppl_bucket")


# ---------------------------------------------------------------------------
# The full CCNet pipeline (Wenzek et al. 2020, arXiv:1911.00359) as
# ONE composed query — ext/curation.py::ccnet_curate: §3.1 corpus-wide
# duplicate-paragraph removal (keep="first"; docs emptied by the scrub
# leave the corpus) → §3.2 language ID over the CLEANED text → §3.3
# corpus-bigram-LM fluency scoring and per-LANGUAGE head/middle/tail
# bucketing on avg_logprob (ascending=False; docs with no in-head
# bigram keep a NULL bucket — unscored is not "tail"). Promoted from
# composition-pinned library surface in round 13 (VERDICT r12 item 5,
# the pipeline-curate-corpus precedent): all four stages already have
# graded value oracles (dedup-paragraph, text-langid, text-lm-score,
# curate-perplexity-buckets), and this FULL value oracle is assembled
# from those four fragments end to end — same ' stream ' separator as
# dedup-paragraph (the driver corpus has no newline structure), same
# LM head constants, same exact-GK rank replay as the buckets slug.
# The bucket cuts run at accuracy=40000 so the single dominant
# detected-language stratum (~5k docs at sf0.1) stays far inside GK's
# exact regime (eps*n < 1/2 needs n < accuracy/2) — the registered
# perplexity-buckets slug strata are smaller and keep the default.
# Scale shape: the composition adds NOTHING to its parts — paragraph
# dedup's count-then-join (no pairwise stage), one <=256Ki-row LM head
# broadcast, one GK sketch rollup + |langs|-row broadcast back; the
# corpus is never pairwise-joined and never globally sorted.
# ---------------------------------------------------------------------------

_CCNET_LANG_SCORES = {
    lang: " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in words
    )
    for lang, words in _LANG_MARKERS.items()
}

_CCNET_ORACLE = f"""
WITH p AS (
  SELECT doc_id, text, string_split(text, ' stream ') AS ps
  FROM documents WHERE text IS NOT NULL
),
paras AS (
  SELECT doc_id, i - 1 AS pos, ps[i] AS para
  FROM p, UNNEST(generate_series(1, len(ps))) t(i)
),
pnorm AS (
  SELECT doc_id, pos, para,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(para),
           '[0-9]', '0', 'g'), '[^a-z0 ]', '', 'g'), ' +', ' ', 'g')) AS pn
  FROM paras
),
tagged AS (
  SELECT doc_id, pos, para, pn,
         count(*) OVER (PARTITION BY pn) AS n_pn,
         row_number() OVER (PARTITION BY pn ORDER BY doc_id, pos) AS rk
  FROM pnorm
),
pagg AS (
  SELECT doc_id,
         count(*) AS n_paras,
         sum(CASE WHEN pn = '' OR n_pn < 2 OR rk = 1 THEN 0 ELSE 1 END)
           AS n_dropped,
         string_agg(para, ' stream ' ORDER BY pos)
           FILTER (WHERE pn = '' OR n_pn < 2 OR rk = 1) AS ct
  FROM tagged GROUP BY doc_id
),
alive0 AS (
  SELECT p.doc_id,
         COALESCE(a.ct, '') AS text,
         CAST(COALESCE(a.n_paras, 0) AS BIGINT) AS n_paras,
         CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped
  FROM p LEFT JOIN pagg a USING (doc_id)
),
alive AS (SELECT * FROM alive0 WHERE length(text) > 0),
lng AS (
  SELECT doc_id, text, n_paras, n_dropped,
         CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
              WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de AND s_es > s_en THEN 'es'
              WHEN s_fr > 0 AND s_fr >= s_de AND s_fr > s_en AND s_fr > s_es THEN 'fr'
              WHEN s_de > 0 AND s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
              ELSE 'und' END AS lang
  FROM (
    SELECT doc_id, text, n_paras, n_dropped,
           {_CCNET_LANG_SCORES['en']} AS s_en,
           {_CCNET_LANG_SCORES['es']} AS s_es,
           {_CCNET_LANG_SCORES['fr']} AS s_fr,
           {_CCNET_LANG_SCORES['de']} AS s_de
    FROM alive)
),
lmw AS (SELECT doc_id, {_WORDS} AS w FROM lng),
bi AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
                THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
                ELSE []::VARCHAR[] END) AS bigram
  FROM lmw),
counts AS (
  SELECT bigram, string_split(bigram, ' ')[1] AS prefix, COUNT(*) AS n_big
  FROM bi GROUP BY bigram),
with_totals AS (
  SELECT bigram, n_big,
         SUM(n_big) OVER (PARTITION BY prefix) AS n_prefix
  FROM counts),
head AS (
  SELECT bigram, n_big, n_prefix FROM with_totals
  WHERE n_big >= {_LM_MIN_COUNT}
  ORDER BY n_big DESC, bigram LIMIT {_LM_HEAD_K}),
lmscored AS (
  SELECT b.doc_id,
         ln(CAST(h.n_big AS DOUBLE) / h.n_prefix) AS logp
  FROM bi b JOIN head h USING (bigram)),
lm AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(AVG(logp), 4) AS avg_logprob
  FROM lmscored GROUP BY doc_id),
j AS (
  SELECT l.doc_id, l.text, l.lang, l.n_paras, l.n_dropped,
         lm.n_bigrams, lm.avg_logprob
  FROM lng l LEFT JOIN lm USING (doc_id)),
nn AS (SELECT lang, COUNT(*) AS cnt FROM j WHERE avg_logprob IS NOT NULL
       GROUP BY lang),
ranked AS (
  SELECT lang, -avg_logprob AS s,
         row_number() OVER (PARTITION BY lang ORDER BY -avg_logprob) AS rk
  FROM j WHERE avg_logprob IS NOT NULL),
cuts AS (
  SELECT r.lang,
         MAX(CASE WHEN rk = CAST(ceil(0.3333333333333333 * cnt) AS BIGINT)
             THEN s END) AS c1,
         MAX(CASE WHEN rk = CAST(ceil(0.6666666666666666 * cnt) AS BIGINT)
             THEN s END) AS c2
  FROM ranked r JOIN nn USING (lang) GROUP BY r.lang)
SELECT j.doc_id, j.text, j.lang, j.n_paras, j.n_dropped, j.n_bigrams,
       j.avg_logprob,
       CASE WHEN j.avg_logprob IS NULL THEN NULL
            WHEN -j.avg_logprob <= c.c1 THEN 'head'
            WHEN -j.avg_logprob <= c.c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM j LEFT JOIN cuts c ON j.lang IS NOT DISTINCT FROM c.lang
"""


@query("ccnet-curate", oracle=_CCNET_ORACLE)
def ccnet_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import ccnet_curate

    docs = load(spark, sf_dir, "documents")
    return ccnet_curate(docs, sep=" stream ", accuracy=40000)


# ---------------------------------------------------------------------------
# Fasttext-style quality classifier (the CCNet §3.3 / LLaMA data-
# recipe stage: train a linear classifier to separate high-quality
# seed text from the crawl, then score everything) — in closed form
# as hashed-n-gram multinomial naive Bayes so training is exact,
# deterministic, and engine-replayable (no SGD, no learned floats):
# ext/curation.py::nb_quality_log_odds. The seed labels come from the
# corpus itself the way CCNet's do: the quality-score head third is
# the positive class, the tail third the negative (GLOBAL GK cuts at
# accuracy=20000 — the whole corpus is one stratum, and 5k docs at
# sf0.1 sits far inside the exact eps*n < 1/2 regime), and ALL
# documents are then scored with the learned log-odds. Full value
# oracle: DuckDB replays the quality expression (copied verbatim from
# the curate-perplexity-buckets oracle), the exact-rank cuts, the
# class-conditional 4096-bucket distributions (the DSIR CTE pattern),
# and the left-to-right fold with the prior added first —
# ROUND(,4) absorbs libm ln ulps, and nb_keep compares the ROUNDED
# value on both sides so the flag can never flip on an ulp.
# Scale shape (the DSIR posture): two n_buckets-bounded collects, a
# 1-row broadcast of B ratios + the prior, row-local fold — the
# scored corpus never shuffles; the label pass is one GK rollup.
# ---------------------------------------------------------------------------

_NB_B = 4096

_NB_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         ROUND(0.4 * least(length(text) / 400.0, 1.0)
               + 0.4 * least(ROUND((len(regexp_extract_all(text, '\\bthe\\b'))
                      + len(regexp_extract_all(text, '\\ba\\b'))
                      + len(regexp_extract_all(text, '\\band\\b'))
                      + len(regexp_extract_all(text, '\\bof\\b')))
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) * 10.0, 1.0)
               + 0.2 * greatest(0.0, 1.0 - ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                    / greatest(length(text), 1), 4) * 20.0), 4) AS q
  FROM documents
),
s AS (SELECT doc_id, -q AS s FROM m WHERE q IS NOT NULL),
c AS (SELECT COUNT(*) AS cnt FROM s),
ranked AS (
  SELECT doc_id, s, row_number() OVER (ORDER BY s) AS rk FROM s),
cuts AS (
  SELECT MAX(CASE WHEN rk = CAST(ceil(0.3333333333333333 * cnt) AS BIGINT)
             THEN s END) AS c1,
         MAX(CASE WHEN rk = CAST(ceil(0.6666666666666666 * cnt) AS BIGINT)
             THEN s END) AS c2
  FROM ranked, c),
lab AS (
  SELECT r.doc_id,
         CASE WHEN r.s <= cuts.c1 THEN 'head'
              WHEN r.s <= cuts.c2 THEN 'middle'
              ELSE 'tail' END AS b
  FROM ranked r, cuts),
w0 AS (SELECT doc_id, {_WORDS} AS nw FROM documents),
w AS (SELECT doc_id,
             COALESCE(list_filter(nw, x -> x <> ''), []::VARCHAR[]) AS nw
      FROM w0),
grams AS (
  SELECT doc_id,
         list_concat(nw,
           CASE WHEN len(nw) >= 2
                THEN [nw[i] || ' ' || nw[i+1] for i in range(1, len(nw))]
                ELSE []::VARCHAR[] END) AS gs
  FROM w),
gx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {_NB_B} AS INT)
           AS bucket
  FROM grams, unnest(gs) t(g)),
pcnt AS (SELECT bucket, COUNT(*) AS cnt FROM gx JOIN lab USING (doc_id)
         WHERE lab.b = 'head' GROUP BY bucket),
ncnt AS (SELECT bucket, COUNT(*) AS cnt FROM gx JOIN lab USING (doc_id)
         WHERE lab.b = 'tail' GROUP BY bucket),
np AS (SELECT COUNT(*) AS c FROM lab WHERE b = 'head'),
nn AS (SELECT COUNT(*) AS c FROM lab WHERE b = 'tail'),
pt AS (SELECT SUM(cnt) + {_NB_B} AS total FROM pcnt),
nt AS (SELECT SUM(cnt) + {_NB_B} AS total FROM ncnt),
ratios AS (
  SELECT list(ln((COALESCE(p.cnt, 0) + 1.0) / pt.total)
              - ln((COALESCE(n.cnt, 0) + 1.0) / nt.total)
              ORDER BY b.bucket) AS arr
  FROM range({_NB_B}) b(bucket)
  LEFT JOIN pcnt p ON p.bucket = b.bucket
  LEFT JOIN ncnt n ON n.bucket = b.bucket
  CROSS JOIN pt CROSS JOIN nt),
scored AS (
  SELECT g.doc_id,
         ln(CAST(np.c AS DOUBLE) / nn.c) + list_reduce(
           list_prepend(0.0, list_transform(g.gs, x ->
             ratios.arr[CAST(CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
                        % {_NB_B} AS INT) + 1])),
           (a, b) -> a + b) AS lo
  FROM grams g CROSS JOIN ratios CROSS JOIN np CROSS JOIN nn)
SELECT doc_id, ROUND(lo, 4) AS nb_log_odds,
       ROUND(lo, 4) > 0 AS nb_keep
FROM scored
"""


@query("curate-quality-classifier", oracle=_NB_ORACLE)
def curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import (
        nb_quality_log_odds,
        perplexity_buckets,
    )
    from dug_data_ingest_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    # materialize (id, text, quality) ONCE: the quality expression
    # feeds the GK cuts rollup AND (via the head/tail filters) both
    # NB fit jobs, which otherwise each recompute the 5-regex score
    # per doc (r13; determinism makes this a pure execution change —
    # md5 buckets, exact-regime GK cuts, integer counts)
    # lazy (eager=False): the first consuming action (the GK cuts
    # rollup inside perplexity_buckets) materializes the snapshot
    # in-line instead of a separate blocking job at construction
    # (r14, ADVICE r13). text rides the snapshot deliberately: both
    # NB fit slices read it, so dropping it would re-scan the corpus.
    scored = docs.select(
        "doc_id", "text", quality_score(F.col("text")).alias("quality")
    ).localCheckpoint(eager=False)
    # global head/middle/tail thirds (one stratum — the seed-label
    # pass)
    buckets = perplexity_buckets(
        scored,
        score_col="quality",
        group_col=None,
        ascending=False,
        accuracy=20000,
    )
    pos = buckets.filter(F.col("ppl_bucket") == "head")
    neg = buckets.filter(F.col("ppl_bucket") == "tail")
    out = nb_quality_log_odds(docs, pos, neg, n_buckets=_NB_B)
    lo = F.round(F.col("nb_log_odds"), 4)
    return out.select(
        "doc_id", lo.alias("nb_log_odds"), (lo > 0).alias("nb_keep")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, arXiv:2302.03169) — score
# every raw-corpus document by how much its hashed-n-gram distribution
# looks like the target corpus: sum over the doc's unigram+bigram
# md5 buckets of log p_target - log p_raw, add-1 smoothed over 4096
# buckets (ext/curation.py::dsir_log_weights). Fully deterministic —
# md5 buckets, closed-form ratios, fixed left-to-right fold — so the
# oracle replays it end to end: same bucket formula, same smoothing,
# and list_reduce over the gram list in DOCUMENT ORDER (list_prepend
# 0.0 reproduces Spark's F.aggregate fold exactly — the repo's
# float-op-order convention); ROUND(,4) absorbs libm ln ulps.
# Eval split doubles as the target corpus (doc_id % 10 = 7), raw =
# the rest — the text-decontaminate pairing.
# Scale shape: each distribution is ONE map-side-combined groupBy
# bounded by 4096 rows at any corpus size; the log-ratios ride a
# 1-row broadcast; scoring is a row-local array fold. Raw is scanned
# twice (distribution + scoring) — at 100 TB fit the raw side on a
# hash_sample slice, the library docstring's contract.
# ---------------------------------------------------------------------------

_DSIR_B = 4096

# shared model CTEs (features -> smoothed log-ratio table) — one
# definition for both DSIR oracles, the _kn_tables lesson
_DSIR_CTES = f"""
WITH w0 AS (SELECT doc_id, {_WORDS} AS nw FROM documents),
w AS (SELECT doc_id,
             COALESCE(list_filter(nw, x -> x <> ''), []::VARCHAR[]) AS nw
      FROM w0),
grams AS (
  SELECT doc_id,
         list_concat(nw,
           CASE WHEN len(nw) >= 2
                THEN [nw[i] || ' ' || nw[i+1] for i in range(1, len(nw))]
                ELSE []::VARCHAR[] END) AS gs
  FROM w),
gx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {_DSIR_B} AS INT)
           AS bucket
  FROM grams, unnest(gs) t(g)),
tcnt AS (SELECT bucket, COUNT(*) AS cnt FROM gx WHERE doc_id % 10 = 7
         GROUP BY bucket),
rcnt AS (SELECT bucket, COUNT(*) AS cnt FROM gx WHERE doc_id % 10 <> 7
         GROUP BY bucket),
tt AS (SELECT SUM(cnt) + {_DSIR_B} AS total FROM tcnt),
rt AS (SELECT SUM(cnt) + {_DSIR_B} AS total FROM rcnt),
ratios AS (
  SELECT list(ln((COALESCE(t.cnt, 0) + 1.0) / tt.total)
              - ln((COALESCE(r.cnt, 0) + 1.0) / rt.total)
              ORDER BY b.bucket) AS arr
  FROM range({_DSIR_B}) b(bucket)
  LEFT JOIN tcnt t ON t.bucket = b.bucket
  LEFT JOIN rcnt r ON r.bucket = b.bucket
  CROSS JOIN tt CROSS JOIN rt)
"""

# the raw fold — Spark's F.aggregate left-to-right order, exactly
_DSIR_FOLD = f"""list_reduce(
         list_prepend(0.0, list_transform(g.gs, x ->
           ratios.arr[CAST(CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
                      % {_DSIR_B} AS INT) + 1])),
         (a, b) -> a + b)"""

_DSIR_ORACLE = f"""
{_DSIR_CTES}
SELECT g.doc_id,
       ROUND({_DSIR_FOLD}, 4) AS dsir_log_weight
FROM grams g CROSS JOIN ratios
WHERE g.doc_id % 10 <> 7
"""


@query("curate-dsir-weights", oracle=_DSIR_ORACLE)
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import dsir_log_weights

    docs = load(spark, sf_dir, "documents")
    is_target = F.col("doc_id") % 10 == 7
    return dsir_log_weights(
        docs.filter(~is_target), docs.filter(is_target)
    ).select(
        "doc_id", F.round("dsir_log_weight", 4).alias("dsir_log_weight")
    )


# ---------------------------------------------------------------------------
# DSIR Gumbel-top-k resampling (the paper's sampling rule,
# ext/curation.py::dsir_resample): keep the k documents maximizing
# log_weight + Gumbel(doc_id, seed), where the Gumbel draw is
# md5-derived from (id, seed) — reproducible across engines, reruns
# and repartitionings, unlike rand(seed) whose draws move with the
# partitioning. Fully replayable: the oracle shares the weight CTEs
# with curate-dsir-weights and reproduces u = (hash + 0.5) / 2^60 ->
# -ln(-ln(u)) exactly; adjacent selection scores are separated by
# ~range/n, so ulp noise cannot flip the k-boundary the way it could
# a dense tie. Scale shape: scoring stays row-local; top-k plans as
# TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
# never a global sort.
# ---------------------------------------------------------------------------

_DSIR_M = 1 << 60

_DSIR_RESAMPLE_ORACLE = f"""
{_DSIR_CTES},
scored AS (
  SELECT g.doc_id,
         {_DSIR_FOLD} AS lw,
         -ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)
                    || '|0'), 1, 15)) AS BIGINT) % {_DSIR_M} AS DOUBLE)
                  + 0.5) / {_DSIR_M}.0)) AS gum
  FROM grams g CROSS JOIN ratios
  WHERE g.doc_id % 10 <> 7)
SELECT doc_id, ROUND(lw, 4) AS dsir_log_weight
FROM scored
ORDER BY lw + gum DESC, doc_id
LIMIT 50
"""


@query("curate-dsir-resample", oracle=_DSIR_RESAMPLE_ORACLE)
def curate_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.ext.curation import dsir_resample

    docs = load(spark, sf_dir, "documents")
    is_target = F.col("doc_id") % 10 == 7
    return dsir_resample(
        docs.filter(~is_target), docs.filter(is_target), k=50, seed=0
    ).select(
        "doc_id", F.round("dsir_log_weight", 4).alias("dsir_log_weight")
    )

"""Ranked keyword retrieval over the documents table: Okapi BM25
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
BM25 and Beyond" — the public formula every search engine ships).

The reference ingests metadata FOR a search system (Dug's
Elasticsearch); this module is the query-side capability a user of
that system exercises, expressed Spark-first:

- term frequencies are ROW-LOCAL array counts against the literal
  query terms (no corpus explode, no token join — a query has a few
  terms, the corpus has billions of rows, so the work rides the
  existing document scan);
- document frequencies, N, and avgdl come from ONE map-side-combined
  aggregate collapsed to a single broadcast row (the 1-row scalar
  crossJoin idiom);
- scoring is a pure projection; top-k plans as TakeOrderedAndProject
  (per-partition heaps + a k-row driver merge), never a global sort.

Every arithmetic step is written in a fixed operation order shared
with the DuckDB oracle (text-bm25-topk), constants pre-combined the
same way on both sides, so scores replay to the rounding digit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dug_data_ingest_spark.functions.text import normalized_words

K1 = 1.2
B = 0.75


def _nonempty_words(text: Column) -> Column:
    """normalized_words minus the empty-string token an empty doc
    produces, with NULL text coalesced to the empty array (the dsir
    hashed_ngram_ids convention) — otherwise F.size() returns -1 for
    the NULL doc and silently corrupts dl and avgdl."""
    return F.filter(
        F.coalesce(normalized_words(text), F.array().cast("array<string>")),
        lambda w: w != "",
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    score_col: str = "bm25",
) -> DataFrame:
    """(id, score): Okapi BM25 of every document against the literal
    ``query_terms``:

        score(d) = sum_t idf(t) * tf * (k1+1)
                             / (tf + k1 * (1 - b + b * dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    (the +1-inside-log idf variant — always positive, the Lucene
    default). Docs with no query term score 0.0 and are retained;
    filter or top-k downstream. NULL text scores 0.0 (no terms).

    Determinism contract: the per-term contributions are summed in
    QUERY-TERM ORDER as one fixed expression (never a groupBy over an
    exploded term join, whose float summation order would float with
    partitioning), and k1+1 / 1-b are pre-combined the same way the
    oracle combines them, so both engines execute identical IEEE ops.

    Scale shape: ONE tokenizing pass materializes the narrow
    (id, dl, tf...) table (ints only — the guide §8 small-rows
    posture); the (N, df per term, avgdl) aggregate and the scoring
    projection both read that snapshot, so the corpus text is scanned
    once and never shuffled. The snapshot is lazy (the first consuming
    action materializes it in-line) and pins ~24 bytes/doc of executor
    storage for the query's duration.
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"bm25_scores: duplicate query terms: {query_terms}")
    # closure factory, NOT a default-arg lambda: Spark interprets a
    # two-parameter lambda as (element, index) and would bind the term
    # to the index column
    def _matches(term: str):
        lit = F.lit(term)
        return lambda w: w == lit

    # materialize the tokenization ONCE (the token_entropy perf
    # lesson's constant-factor sibling: used inline, the normalization
    # regex would run once per tf column + once for dl, |terms|+1
    # times per row)
    worded = docs.withColumn("__bm25_w", _nonempty_words(F.col(text_col)))
    words = F.col("__bm25_w")
    tf_cols = [
        F.size(F.filter(words, _matches(t))).alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    # materialize the NARROW (id, dl, tf...) table once (r13, guide §8
    # "decide with small rows"): it feeds the stats aggregate AND the
    # scoring projection, which otherwise each re-tokenize the corpus
    # (the docstring's old two-scan shape); the snapshot is ints only,
    # never the text
    staged = worded.select(
        F.col(id_col), F.size(words).alias("__dl"), *tf_cols
    ).localCheckpoint(eager=False)
    stats = staged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("int")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = staged.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    dl = F.col("__dl").cast("double")
    k1p1 = float(k1) + 1.0  # pre-combined exactly as the oracle writes it
    one_minus_b = 1.0 - float(b)
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        df_t = F.col(f"__df{i}").cast("double")
        idf = F.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        denom = tf + k1 * (one_minus_b + b * dl / F.col("__avgdl"))
        score = score + F.when(
            F.col(f"__tf{i}") > 0, idf * (tf * k1p1) / denom
        ).otherwise(F.lit(0.0))
    return scored.select(
        F.col(id_col), F.round(score, 4).alias(score_col)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "bm25",
) -> DataFrame:
    """Top-``k`` documents by BM25, rounded score then id as the
    total tie-break (rounding BEFORE ordering makes the k-boundary
    deterministic across engines — two docs within an ulp are a tie
    broken by id, not by whichever engine's low bits won)."""
    scored = bm25_scores(
        docs, query_terms, text_col=text_col, id_col=id_col,
        score_col=score_col,
    )
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)

"""Training-data curation operators: benchmark decontamination,
reproducible sampling, sequence packing, vocabulary building.

These are the corpus-preparation steps a large-scale LLM training
pipeline runs after dedup (ext/dedup.py) and quality scoring
(functions/text.py): drop documents that overlap the eval set, draw
a reproducible subsample, pack variable-length documents into
fixed-token-budget training chunks, and build a frequency vocabulary.
Everything is expressed over DataFrames so Catalyst keeps pushdown /
partial aggregation; the one genuinely sequential step (greedy
packing) is an ``applyInPandas`` whose parallelism unit is the
packing group.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.ext.dedup import (
    _md5_hash64,
    doc_shingles,
    paragraph_dedup,
)
from dug_data_ingest_spark.functions.constants import fold_or_broadcast, free_name
from dug_data_ingest_spark.functions.text import n_words, normalized_words


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every training document that shares at least one k-word
    shingle with any eval-set document; returns the surviving train
    rows (all columns).

    Scale shape: the eval side is benchmarks — thousands of docs, not
    billions — so its distinct shingle set broadcasts; the contaminated
    id set is found with a broadcast LEFT SEMI over the exploded train
    shingles (corpus scanned once, never shuffled on the shingle), and
    the final LEFT ANTI on ``id_col`` removes them. k=5 by default:
    3-gram overlap on natural text flags near-everything (stop-word
    runs), 5-grams are the common contamination-screen width.
    """
    # no .distinct() on the broadcast build side: duplicate keys are
    # semantically harmless in a LEFT SEMI build (the hashed relation
    # answers "present?"), the stream is already per-doc distinct
    # (array_distinct in doc_shingle_sets) so cross-doc dups are ~1%,
    # and dropping it removes a full shuffle + two aggregates from the
    # eval subtree (r13). The contaminated-id .distinct() STAYS: the
    # anti-join's right side would otherwise carry one row per
    # contaminated shingle per doc — unbounded fan-out at scale.
    eval_sh = doc_shingles(eval_docs, text_col, id_col, k).select("shingle")
    contaminated = (
        doc_shingles(train, text_col, id_col, k)
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The audit artifact ``decontaminate`` doesn't emit: WHICH eval
    document leaked into WHICH training document, and how strongly —
    ``(train_id, eval_id, n_shared_shingles)`` for every pair sharing
    at least one k-word shingle. ``decontaminate`` answers "give me a
    clean corpus"; this answers "show me the leak" (benchmark-eval
    forensics, contamination dashboards, deciding whether a hit is a
    quotation or a verbatim copy by its shingle count).

    Same scale shape as decontaminate: the eval side is
    benchmark-sized and broadcasts WITH its ids; the train side is
    scanned once, never shuffled on the shingle (the pair groupBy
    shuffles only actual hits). Consistency with decontaminate is
    pinned in tests: the report's distinct train ids ARE the dropped
    set.
    """
    eval_sh = doc_shingles(eval_docs, text_col, id_col, k).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    hits = doc_shingles(train, text_col, id_col, k).join(
        F.broadcast(eval_sh), "shingle"
    )
    return (
        hits.groupBy(F.col(id_col).alias("train_id"), "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def hash_sample(
    docs: DataFrame,
    pct: int,
    key_col: str = "doc_id",
    n_buckets: int = 100,
) -> DataFrame:
    """Reproducible ``pct``-out-of-``n_buckets`` sample: keep rows whose
    md5-derived bucket of ``key_col`` falls below ``pct``.

    Unlike ``df.sample()`` (seeded per-partition, so the kept set
    changes whenever partitioning does), the bucket is a pure function
    of the key — the same rows are kept across reruns, repartitions,
    engines, and incremental loads, which is what makes held-out
    splits and ablation subsamples reproducible at 100 TB. Row-local
    (no shuffle); the bucket column rides along for audit.
    """
    if not 0 <= pct <= n_buckets:
        raise ValueError(f"hash_sample: pct must be in [0, {n_buckets}]")
    bucket = _md5_hash64(F.col(key_col).cast("string")) % n_buckets
    return docs.withColumn("bucket", bucket).filter(F.col("bucket") < pct)


def mix_sample(
    docs: DataFrame,
    weights: DataFrame,
    default_pct: int = 0,
    key_col: str = "doc_id",
    strata_col: str = "lang",
    n_buckets: int = 100,
) -> DataFrame:
    """Training-mix sampling: each stratum (language, source, domain)
    is kept at its own rate from a small ``weights`` table
    (strata_col, pct); strata absent from the table fall back to
    ``default_pct``. The keep/drop decision reuses the hash_sample
    bucket, so mixes are reproducible AND nested: raising one
    stratum's pct only ever ADDS documents, and every mix is a
    superset of any lower-rate mix — which is how you grow a data
    recipe between training runs without churning what the model
    already saw.

    Scale shape: weights is recipe-sized (tens of rows) → broadcast
    join; the bucket predicate is row-local; the corpus never
    shuffles."""
    bucket = _md5_hash64(F.col(key_col).cast("string")) % n_buckets
    return (
        docs.join(F.broadcast(weights), strata_col, "left")
        .withColumn("pct", F.coalesce(F.col("pct"), F.lit(default_pct)))
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < F.col("pct"))
    )


def with_token_counts(
    docs: DataFrame, text_col: str = "text", count_col: str = "n_tok"
) -> DataFrame:
    """Whitespace token count per row (null/empty text → 0), the size
    measure the packer bins against."""
    n = n_words(F.col(text_col))
    return docs.withColumn(
        count_col, F.coalesce(F.when(n >= 0, n), F.lit(0)).cast("int")
    )


def gate_documents(
    docs: DataFrame,
    text_col: str = "text",
    reason_col: str = "reject_reason",
) -> DataFrame:
    """Quarantine-style gate over the NAMED public web-text filters:
    every input row comes back with ``reason_col`` = NULL (keep) or
    the first failing rule's name — ``operators.filters.
    required_fields_reason``'s idiom applied to content quality, so
    the same ``split_valid_quarantine`` downstream splits corpus from
    rejects and nothing silently vanishes.

    Rule order (first failure names the reason, so the order is the
    triage order, cheap-and-decisive first): NULL text →
    ``null_text``; the Gopher quality rules (functions/text.py::
    gopher_quality_flags) each under ``gopher:<flag>``; the Gopher
    repetition rules under ``gopher_rep:<flag>``; the C4 page gate
    under ``c4:page``. All pure Column expressions — the
    gate is one projection; the word array is materialized ONCE and
    shared by the repetition shingles (the documented
    gopher_repetition_flags perf contract).
    """
    from dug_data_ingest_spark.functions.text import (
        SPARK_NORMALIZED_WORDS_SQL,
        STRIPPED_LINES_SQL,
        STRIPPED_PARAS_SQL,
        WS_WORDS_SQL,
        _gopher_quality_flag_exprs,
        _gopher_repetition_flag_exprs,
        c4_keep_line_sql,
        null_safe_flags,
        run_stats_raw_sql,
        shingles_of_sql,
    )

    text = F.col(text_col)

    # every staging column gets a free_name: an input that already
    # carries a __gate_* column must come back with it intact, not
    # silently overwritten and dropped
    taken = docs.columns

    # Staging discipline (r13, guide §1.2 "per-task work"): every
    # shared array/struct becomes a REAL column in its own projection
    # so it is evaluated once per row. The previous single-struct form
    # inlined each rule's copy of the shared subtrees into one
    # interpreted Project — 30 word-splits, 44 array_sorts and 48
    # aggregates PER ROW (plans/r13/curate-gate-documents_before.txt);
    # Catalyst keeps the stages because CollapseProject refuses to
    # inline a non-cheap alias referenced more than once.
    words_col = free_name(taken, "__gate_words")  # normalized words (shingles, stopwords)
    ws_col = free_name(taken, "__gate_ws")        # whitespace tokens (quality ratios)
    lines_col = free_name(taken, "__gate_lines")  # stripped lines (bullet/dup/C4 rules)
    paras_col = free_name(taken, "__gate_paras")  # stripped paragraphs
    stat_cols = {k: free_name(taken, f"__gate_st{k}") for k in range(2, 11)}
    stl_col, stp_col = (free_name(taken, b) for b in ("__gate_stl", "__gate_stp"))
    c4n_col = free_name(taken, "__gate_c4n")

    # staged columns are built as SQL strings (one JVM parse each, the
    # functions/text.py SQL-twin convention) and in THREE selectExpr
    # stages rather than one withColumn per column: the py4j-built
    # Column trees plus the per-withColumn re-analysis cost ~3 s of
    # driver time per invocation on their own
    # escape backticks in the user-supplied identifier (` doubles to
    # `` inside a quoted identifier) so any column name survives the
    # SQL interpolation below — ADVICE r13
    tq = "`{}`".format(text_col.replace("`", "``"))
    stage1 = docs.selectExpr(
        "*",
        f"{SPARK_NORMALIZED_WORDS_SQL.format(t=tq)} AS `{words_col}`",
        f"{WS_WORDS_SQL.format(t=tq)} AS `{ws_col}`",
        f"{STRIPPED_LINES_SQL.format(t=tq)} AS `{lines_col}`",
        f"{STRIPPED_PARAS_SQL.format(t=tq)} AS `{paras_col}`",
    )
    nonempty_lines = f"filter(`{lines_col}`, l -> l != '')"
    stage2 = [
        "*",
        f"{run_stats_raw_sql(nonempty_lines)} AS `{stl_col}`",
        f"{run_stats_raw_sql(f'`{paras_col}`')} AS `{stp_col}`",
    ] + [
        f"{run_stats_raw_sql(shingles_of_sql(f'`{words_col}`', k))} AS `{c}`"
        for k, c in stat_cols.items()
    ] + [
        f"size(filter(`{lines_col}`, s -> {c4_keep_line_sql('s')}))"
        f" AS `{c4n_col}`"
    ]
    staged = stage1.selectExpr(*stage2)

    flags = null_safe_flags(
        text,
        _gopher_quality_flag_exprs(
            text, F.col(ws_col), F.col(lines_col), F.col(words_col)
        ),
    )
    reason = F.when(text.isNull(), F.lit("null_text"))
    for name, flag in flags.items():
        reason = reason.when(~flag, F.lit(f"gopher:{name}"))
    rep_flags = null_safe_flags(
        text,
        _gopher_repetition_flag_exprs(
            F.col(stl_col),
            F.col(stp_col),
            {k: F.col(c) for k, c in stat_cols.items()},
        ),
    )
    for name, flag in rep_flags.items():
        reason = reason.when(~flag, F.lit(f"gopher_rep:{name}"))
    # the C4 page rule over the staged kept-line count — same
    # semantics as c4_clean(text).page_ok (the keep rule is the shared
    # c4_keep_line, thresholds identical)
    page_ok = (
        ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (F.col(c4n_col) >= 3)
    )
    page_ok = F.when(text.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.coalesce(page_ok, F.lit(False))
    )
    reason = reason.when(~page_ok, F.lit("c4:page"))
    return staged.withColumn(
        reason_col, reason.otherwise(F.lit(None).cast("string"))
    ).drop(
        words_col, ws_col, lines_col, paras_col, stl_col, stp_col,
        *stat_cols.values(), c4n_col,
    )


def pack_sequences(
    docs: DataFrame,
    cap: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Greedy first-fit sequence packing: within each ``group_col``
    group, walk documents in ``id_col`` order accumulating token
    counts; start a new chunk when the running total would exceed
    ``cap``. Returns (group, id, n_tok, chunk), chunk numbered from 1
    per group; a single document longer than ``cap`` still gets its
    own chunk.

    This is the training-batch construction step (pack documents into
    fixed-context-window rows). Packing is inherently sequential in
    the scan order, so the parallelism unit is the group: one
    ``applyInPandas`` task per group, a plain O(n) pandas walk inside.
    At 100 TB you pack per (source, shard) — any keying whose groups
    fit a task works, and chunk ids stay local to their group so no
    cross-group coordination exists. The token counting itself stays
    JVM-side (computed before the groupBy, so the Python stage moves
    only (group, id, n_tok) triples through Arrow, never the text).
    """
    sized = with_token_counts(docs, text_col).select(group_col, id_col, "n_tok")
    # derive the group/id field types from the input — both columns
    # are caller-configurable (string accessions are as valid as long
    # doc ids) and a hardcoded bigint would fail Arrow conversion at
    # runtime for any non-long id
    out_schema = T.StructType(
        [
            sized.schema[group_col],
            sized.schema[id_col],
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("chunk", T.IntegerType()),
        ]
    )

    def _pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        chunks = []
        chunk, acc = 0, None
        for t in pdf["n_tok"]:
            if acc is None or acc + t > cap:
                chunk, acc = chunk + 1, int(t)
            else:
                acc += int(t)
            chunks.append(chunk)
        pdf["chunk"] = chunks
        return pdf

    return sized.groupBy(group_col).applyInPandas(_pack, schema=out_schema)


def shuffle_corpus(
    docs: DataFrame,
    n_shards: int,
    seed: str = "",
    key_col: str = "doc_id",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Reproducible global corpus shuffle — the training-order export
    step between curation and the data loader. Returns the input
    columns plus (``shard_col``, ``pos_col``): reading shards in order
    and rows by position within each shard replays ONE fixed
    pseudorandom permutation of the corpus.

    Everything derives from ``md5(seed | key)``: the shard is the
    60-bit hash mod ``n_shards``, the in-shard position ranks the same
    hash — a pure function of (seed, key), so the permutation is
    byte-identical across reruns, engines, cluster sizes, and input
    partitionings (``df.orderBy(rand())`` re-deals every run;
    ``repartitionByRange`` samples its boundaries — neither can back a
    resumable training run, where step N must see the same document
    after a restart). A new ``seed`` is a fresh epoch's permutation.

    Scale shape: ONE hash exchange on the shard id; the rank window's
    groups are n/``n_shards`` rows, so the caller sizes ``n_shards``
    to the task budget exactly like pack_sequences sizes its packing
    groups (at 100 TB: tens of thousands of shards, each a few
    hundred MB). md5 balances shards to within sampling noise —
    no planted hot key can skew a shard because the shard key is a
    hash the adversary's content doesn't reach.

    Contract: ``key_col`` must be NON-NULL and UNIQUE — the guarantee
    is "position is a pure function of (seed, key)", which is only a
    permutation when keys identify rows. NULL keys are rejected at
    execution time (``raise_error`` inside the plan — no extra scan;
    ``concat_ws`` would otherwise silently fold every NULL key to
    ``md5(seed)``, one colliding shard/position tie whose intra-tie
    order is partition-dependent). Duplicate keys are the same hazard
    one step weaker — total skey+key ties — and are the caller's
    contract to uphold (dedup upstream); they cannot be detected
    row-locally without a self-join this hot path must not pay.
    """
    if n_shards < 1:
        raise ValueError(f"shuffle_corpus: n_shards must be >= 1, got {n_shards}")
    key_s = F.col(key_col).cast("string")
    guarded_key = F.when(
        key_s.isNull(),
        F.raise_error(
            F.lit(
                f"shuffle_corpus: NULL {key_col} — positions for NULL-keyed "
                "rows would be partition-order-dependent, breaking the "
                "byte-identical-permutation contract; filter or key them first"
            )
        ),
    ).otherwise(key_s)
    seeded = F.concat_ws("|", F.lit(str(seed)), guarded_key)
    skey = F.md5(seeded)
    shard = (_md5_hash64(seeded) % n_shards).cast("int")

    from pyspark.sql import Window as W

    tagged = docs.withColumn(shard_col, shard)
    w = W.partitionBy(shard_col).orderBy(skey, key_col)
    return tagged.withColumn(pos_col, F.row_number().over(w))


def stratified_exact_k(
    docs: DataFrame,
    k: int,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    rank_col: str = "rk",
    refine_levels: int = 1,
) -> DataFrame:
    """Exactly-``k``-per-stratum sampling by md5 order — the two-phase
    rank-threshold refinement the naive per-stratum window promises at
    scale (the ``sample-stratified-exact`` docprose). Returns the input
    columns plus ``rank_col`` (1..k within each stratum, md5-then-key
    order), identical rows and ranks to::

        row_number() OVER (PARTITION BY strata ORDER BY md5(key), key) <= k

    The naive form shuffles the WHOLE table on the stratum key and
    sorts each stratum inside one window task — with a handful of
    strata (languages, sources) over a fact-grain corpus that is a
    single-task sort of n/|strata| rows, the same class of plan the
    percent-rank rewrite removed (operators/windows.py). Two phases
    instead, the count-then-join idea of span dedup applied to
    sampling:

    1. Bucket rollup: count rows per (stratum, first-2-hex-chars-of-
       md5) — a map-side-combined aggregate whose output is bounded by
       |strata| x 256 rows at ANY corpus size. A rollup-keyed window
       turns it into cumulative counts in bucket order; the buckets
       whose cumulative-before is < k are the only ones that can hold
       a stratum's k smallest keys.
    2. Candidate prune + exact rank: a broadcast LEFT SEMI on
       (stratum, bucket) keeps ~k + one bucket's worth of rows per
       stratum; the exact rank window then sorts ONLY those survivors
       — the corpus itself is scanned twice and shuffled never.

    Ranks are exact, not approximate: the prune is a superset of every
    stratum's true top-k by construction (any row ranked <= k has at
    most k-1 rows before it, so its bucket's cumulative-before is
    < k), and the final window applies the naive ordering verbatim —
    property-pinned to the naive model in
    tests/test_stratified_properties.py, NULL strata and NULL keys
    included (the semi join is null-safe on both columns; a plain
    equi-join would silently drop a NULL stratum the naive window
    ranks).

    Constraints (the API contract, not just scale prose):

    * **|strata| must be broadcast-small.** Each level's admissible
      set is at most ``|strata| x min(k, 256)`` rows (a bucket is
      admissible only while cumulative-before < k, so at most k
      non-empty buckets qualify per stratum) and it is collected to
      the driver and broadcast. Languages / sources / domains —
      thousands of strata — are the designed shape; a fact-grained
      strata_col (URL, customer id) makes every stratum tiny and the
      broadcast huge, and the naive single window IS the right plan
      there (k rows per stratum ~ the whole stratum; nothing to
      prune).
    * **refine_levels** (default 1) recurses the refinement: level
      ``i`` re-rolls the survivors of level ``i-1`` on the first
      ``2*i`` hex chars of the md5 key, shrinking the per-stratum
      candidate set from ``~k + n_stratum/256`` to
      ``~k + n_stratum/16^(2*levels)`` before the exact rank window —
      so the one-task sort stays ~k-bounded at ANY corpus size.
      Superset-exactness is preserved level by level: the true top-k
      rows survive every prune (a row with global rank <= k has < k
      candidate rows before it a fortiori), and each level's
      cumulative counts are taken in the same md5-lexicographic order
      the final window sorts by. Cost: each extra level re-derives
      the (unshuffled) candidate scan — worth it only when a stratum's
      1/256th slice still overflows one task; cache ``docs`` if the
      rescan dominates.
    """
    if k < 1:
        raise ValueError(f"stratified_exact_k: k must be >= 1, got {k}")
    if refine_levels < 1:
        raise ValueError(
            f"stratified_exact_k: refine_levels must be >= 1, got {refine_levels}"
        )
    md5key = F.md5(F.col(key_col).cast("string"))

    from pyspark.sql import Window as W

    cand = docs
    for level in range(1, refine_levels + 1):
        bucket = F.substring(md5key, 1, 2 * level)
        counts = (
            cand.select(F.col(strata_col).alias("__s"), bucket.alias("__b"))
            .groupBy("__s", "__b")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = W.partitionBy("__s").orderBy(F.asc_nulls_first("__b"))
        admissible = (
            counts.withColumn("__cum_before", F.sum("__n").over(w) - F.col("__n"))
            .filter(F.col("__cum_before") < k)
            .select("__s", "__b")
        )
        tagged = cand.withColumn("__b", bucket)
        cand = tagged.join(
            F.broadcast(admissible),
            tagged[strata_col].eqNullSafe(admissible["__s"])
            & tagged["__b"].eqNullSafe(admissible["__b"]),
            "left_semi",
        ).drop("__b")
    rank_w = W.partitionBy(strata_col).orderBy(md5key, key_col)
    return cand.withColumn(rank_col, F.row_number().over(rank_w)).filter(
        F.col(rank_col) <= k
    )


def vocab_topk(
    docs: DataFrame,
    n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``n`` vocabulary by corpus frequency: (token, n_docs,
    n_total) with a deterministic (count desc, token asc) tie-break.

    One explode + one map-side-combined groupBy; top-n via
    orderBy().limit() so the physical plan is TakeOrderedAndProject
    (per-partition heaps + driver merge of n rows), never a global
    sort. count(distinct) rewrites to a two-phase expand aggregate —
    fine here because the token key space is vocabulary-sized.
    """
    tokens = docs.select(
        F.col(id_col), F.explode_outer(normalized_words(F.col(text_col))).alias("token")
    ).filter(F.col("token").isNotNull() & (F.col("token") != ""))
    return (
        tokens.groupBy("token")
        .agg(
            # counts stay bigint: a ubiquitous token tops 2^31
            # occurrences well below this module's target corpus
            # scale, and an int cast would throw under ANSI mode (or
            # silently wrap the most frequent tokens negative without)
            F.count_distinct(id_col).alias("n_docs"),
            F.count("*").alias("n_total"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(n)
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): pick raw-corpus documents whose hashed-n-gram
# distribution looks like a (small) target corpus. The public recipe
# behind "select pretraining data that matches Wikipedia/books":
# bag-of-hashed-n-grams models p_target / p_raw, per-document
# importance log-weight sum(count_i * (log p_t[i] - log p_r[i])),
# Gumbel-top-k resampling without replacement.
#
# Spark shape at 100 TB: features are row-local md5-bucket ids (no
# vocabulary, no fitting state beyond B counts), each distribution is
# ONE map-side-combined groupBy bounded by B buckets at any corpus
# size, the B log-ratios fold into the plan (fold_or_broadcast: a
# constant-folded literal up to _LITERAL_MAX_ELEMS values, a 1-row
# broadcast above it), and scoring is a pure projection (F.aggregate
# over the doc's bucket array). The raw corpus is scanned twice
# (distribution + scoring); at real scale fit the raw distribution on
# a hash_sample() slice instead — the estimator only needs
# proportions, and the docstring of dsir_log_weights spells the
# contract.
# ---------------------------------------------------------------------------


def _log_ratios(
    num: DataFrame,
    num_ids: Column,
    den: DataFrame,
    den_ids: Column,
    n_buckets: int,
    alpha: float,
) -> list[float]:
    """The B add-``alpha`` smoothed log-ratios ``ln p_num[b] -
    ln p_den[b]`` of two hashed-n-gram bucket distributions (each
    side's ``*_ids`` is its doc's bucket-id array), fitted in ONE job:
    both sides explode, tag and count in a single (bucket, side)
    groupBy whose collect is bounded by 2 * n_buckets rows, never by
    corpus size. Smoothing needs a finite alpha > 0: at 0 an empty
    bucket's log-probability is log(0), at inf every ratio is NaN."""
    if not (math.isfinite(alpha) and alpha > 0):
        raise ValueError(f"alpha must be a finite number > 0, got {alpha!r}")
    rows = (
        num.select(F.explode(num_ids).alias("bucket"), F.lit(0).alias("side"))
        .unionAll(
            den.select(F.explode(den_ids).alias("bucket"), F.lit(1).alias("side"))
        )
        .groupBy("bucket", "side")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    counts = [[0] * n_buckets, [0] * n_buckets]
    for r in rows:
        counts[r["side"]][r["bucket"]] = r["cnt"]
    lp = []
    for side in counts:
        total = sum(side) + alpha * n_buckets
        lp.append([math.log((c + alpha) / total) for c in side])
    return [lp[0][i] - lp[1][i] for i in range(n_buckets)]


def _ratio_sum(ids: Column, ratios: Column) -> Column:
    """Left-to-right sum of ``ratios[i]`` over the doc's bucket ids —
    the row-local scoring fold of DSIR and the NB classifier."""
    return F.aggregate(
        ids, F.lit(0.0), lambda acc, i: acc + F.element_at(ratios, i + 1)
    )


def hashed_ngram_ids(
    words: Column, n_buckets: int = 4096
) -> Column:
    """Row-local DSIR feature extractor: the md5-derived hash-bucket
    id of every unigram AND bigram of ``words``, as ``array<int>``
    (duplicates preserved — the weight is count-weighted). NULL or
    empty ``words`` yields an empty array, never NULL, so downstream
    folds see a 0.0 weight instead of a NULL hole.

    md5-prefix hashing (ext/dedup.py::_md5_hash64) keeps the bucket
    assignment reproducible across engines, partitionings and reruns
    — the property every other sampling op in this module guarantees.
    """
    # normalized_words("") is [""] (split of an empty string), so
    # empty tokens are filtered here — a phantom-unigram bucket would
    # otherwise poison both distributions and every empty doc's weight
    w = F.filter(
        F.coalesce(words, F.array().cast("array<string>")),
        lambda x: x != "",
    )
    n = F.size(w)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(w, bigrams)
    return F.transform(
        grams, lambda g: (_md5_hash64(g) % n_buckets).cast("int")
    )


def bucket_distribution(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """(bucket, cnt) hashed-n-gram counts over a corpus — ONE
    map-side-combined groupBy whose result is bounded by
    ``n_buckets`` rows at any corpus size."""
    ids = hashed_ngram_ids(normalized_words(F.col(text_col)), n_buckets)
    return (
        docs.select(F.explode(ids).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    weight_col: str = "dsir_log_weight",
) -> DataFrame:
    """``raw`` plus a ``weight_col`` importance log-weight per row:
    sum over the document's hashed n-grams of
    ``log p_target[bucket] - log p_raw[bucket]`` with add-``alpha``
    smoothed bucket probabilities (so a bucket absent from one corpus
    is a finite penalty, not -inf).

    The two bucket distributions are collected driver-side — bounded
    by ``n_buckets`` (default 4096) rows regardless of corpus size,
    the same boundedness contract as stratified_exact_k's rollup —
    and the B log-ratios fold into the plan through
    ``fold_or_broadcast`` (a constant-folded literal at the default
    4096 buckets, a 1-row broadcast above its cap), so scoring is a
    row-local array fold: the raw corpus never shuffles.
    At 100 TB fit the raw side on ``hash_sample(raw, pct)`` —
    proportions are all the estimator uses — and score the full
    corpus.

    Deterministic: md5 buckets + a fixed left-to-right fold order
    (array order), so the weight replays bit-for-bit on reruns and
    repartitionings; model-pinned against a pure-Python walk in
    tests/test_dsir.py.

    r13 execution shape (same math, same counts, same fold): the raw
    side's hashed-gram arrays are materialized ONCE
    (``localCheckpoint``) and shared by the fit and the scoring fold,
    and BOTH bucket distributions are counted in a single union job
    (side-tagged groupBy, bounded by 2*n_buckets rows) — the old form
    tokenized+md5-hashed raw twice (fit job + scoring plan) and ran
    two sequential fit jobs. The checkpoint trades executor
    memory/disk for the repeated tokenize; at 100 TB, fit on a
    ``hash_sample`` slice per the contract above.
    """
    ids = hashed_ngram_ids(normalized_words(F.col(text_col)), n_buckets)
    ids_col = free_name(raw.columns, "__dsir_ids")
    # lazy: the fit job below is the first action and materializes the
    # snapshot in-line (one fewer blocking construction job)
    raw_ids = raw.withColumn(ids_col, ids).localCheckpoint(eager=False)
    ratios = _log_ratios(target, ids, raw_ids, F.col(ids_col), n_buckets, alpha)
    return fold_or_broadcast(
        raw_ids,
        ratios,
        T.ArrayType(T.DoubleType()),
        lambda df, r: df.withColumn(weight_col, _ratio_sum(F.col(ids_col), r)),
    ).drop(ids_col)


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """Gumbel-top-k importance resampling WITHOUT replacement (the
    paper's sampling rule): keep the ``k`` documents maximizing
    ``log_weight + Gumbel(doc_id, seed)``, where the Gumbel noise is
    md5-derived from (id, seed) — reproducible across engines,
    reruns and repartitionings, unlike rand(seed) whose draws move
    with the partitioning.

    Top-k via orderBy().limit() so the physical plan is
    TakeOrderedAndProject (per-partition heaps + a k-row driver
    merge), never a global sort. Ties broken by id for full
    determinism.
    """
    scored = dsir_log_weights(
        raw, target, text_col=text_col, n_buckets=n_buckets, alpha=alpha
    )
    # u in (0,1): 60-bit md5 hash scaled with a half-bucket offset so
    # u is never exactly 0 or 1 (log(-log(u)) stays finite)
    m = 1 << 60
    u = (
        (_md5_hash64(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))) % m)
        .cast("double") + 0.5
    ) / float(m)
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("__dsir_score", F.col("dsir_log_weight") + gumbel)
        .orderBy(F.desc("__dsir_score"), F.asc(id_col))
        .limit(k)
        .drop("__dsir_score")
    )


def nb_quality_log_odds(
    docs: DataFrame,
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    out_col: str = "nb_log_odds",
) -> DataFrame:
    """``docs`` plus a multinomial naive-Bayes log-odds column: the
    fasttext-style quality classifier of the CCNet / LLaMA data
    recipes (Wenzek et al. 2020 §3.3 trains a classifier to separate
    high-quality seed text from crawl text; Touvron et al. 2023 use
    the same pattern with Wikipedia-referenced pages), in closed form
    over hashed n-gram features so training is exact, deterministic,
    and engine-replayable — no SGD, no learned floats:

        log_odds(doc) = ln(n_pos / n_neg)
                      + sum over the doc's unigram+bigram md5 buckets
                        of [ln p_pos(bucket) - ln p_neg(bucket)]

    with add-``alpha`` smoothing over ``n_buckets`` buckets — the
    same feature extractor (``hashed_ngram_ids``) and the same
    bounded-distribution machinery as DSIR, pointed at class-
    conditional corpora instead of target/raw. ``pos``/``neg`` are
    the labeled training slices (each needs >= 1 doc); ``docs`` is
    the corpus to score — typically a superset of both (the seed-set
    recipe scores everything it trained on plus the rest).

    Scale shape (the dsir_log_weights contract): each class
    distribution is ONE map-side-combined groupBy bounded by
    ``n_buckets`` rows at any corpus size, collected driver-side; the
    B log-ratios fold into the plan through ``fold_or_broadcast`` and
    the scalar prior as a literal; scoring is a row-local array fold —
    the scored corpus never shuffles. At 100 TB fit the class
    distributions on hash_sample slices (proportions are all the
    estimator uses) and score the full corpus.

    Deterministic: md5 buckets, closed-form ratios, fixed
    left-to-right fold with the prior added LAST (prior + foldsum —
    the oracle replays the same IEEE op order); model-pinned against
    a pure-Python walk in tests/test_nb_classifier.py.
    """
    # one job for both class sizes (r13: two .count() actions each
    # re-ran the classes' shared upstream plan)
    size_rows = (
        pos.select(F.lit(0).alias("side"))
        .unionAll(neg.select(F.lit(1).alias("side")))
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = {r["side"]: r["n"] for r in size_rows}
    n_p, n_n = sizes.get(0, 0), sizes.get(1, 0)
    if n_p == 0 or n_n == 0:
        raise ValueError(
            "nb_quality_log_odds: both classes need >= 1 training doc "
            f"(got pos={n_p}, neg={n_n}) — an empty class makes the "
            "prior infinite"
        )
    if out_col in docs.columns:
        raise ValueError(f"docs already has a {out_col!r} column")
    ids = hashed_ngram_ids(normalized_words(F.col(text_col)), n_buckets)
    ratios = _log_ratios(pos, ids, neg, ids, n_buckets, alpha)
    prior = math.log(n_p / n_n)
    return fold_or_broadcast(
        docs,
        ratios,
        T.ArrayType(T.DoubleType()),
        lambda df, r: df.withColumn(out_col, F.lit(prior) + _ratio_sum(ids, r)),
    )


def perplexity_buckets(
    docs: DataFrame,
    score_col: str,
    group_col: str | None = "lang",
    fractions: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    ascending: bool = True,
    accuracy: int = 10000,
    bucket_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet's quality bucketing (Wenzek et al. 2020, arXiv:1911.00359
    §3.3): split each language's documents into head/middle/tail by
    per-LANGUAGE score quantiles — the partition the paper uses to
    train on "head" web text and the step that completes this repo's
    CCNet arc (paragraph_dedup -> text-langid -> text-lm-score ->
    these buckets).

    ``score_col`` is any fluency score. ``ascending=True`` is the
    paper's perplexity convention (LOW score = head); for this repo's
    ``text-lm-score`` avg_logprob (HIGH = fluent) pass
    ``ascending=False``. ``fractions`` are cumulative cut fractions
    (len(labels) == len(fractions) + 1); cuts are computed per
    ``group_col`` stratum (NULL group is its own stratum — unknown-
    language docs bucket against each other, never against English),
    or globally when ``group_col`` is None. NULL scores get a NULL
    bucket (unscored is not "tail").

    Scale shape: ONE groupBy(group) ``percentile_approx`` rollup —
    Greenwald-Khanna sketch state bounded by ``accuracy`` per stratum,
    never a sort of the corpus — then the |strata|-row cut table
    broadcast-joins back and assignment is a row-local projection. No
    global sort, no window over the corpus, same posture at any SF.
    At the default accuracy the cuts are EXACT whenever a stratum has
    fewer than ``accuracy/2`` rows (GK's eps·n < 1/2 regime), which is
    what makes the small-scale pins deterministic; at 100 TB the cuts
    are approximate by design — the paper's buckets are statistical,
    not exact ranks.
    """
    if len(labels) != len(fractions) + 1:
        raise ValueError(
            f"need len(labels) == len(fractions)+1, got {len(labels)} labels "
            f"for {len(fractions)} cut fractions"
        )
    if list(fractions) != sorted(set(fractions)) or not all(
        0.0 < f < 1.0 for f in fractions
    ):
        raise ValueError(f"fractions must be strictly increasing in (0,1): {fractions}")
    if bucket_col in docs.columns:
        raise ValueError(f"docs already has a {bucket_col!r} column")
    # free staging names: a caller's own __ppl_* column must come back
    # intact, never be silently consumed
    cuts_col, key_col = (
        free_name(docs.columns, b) for b in ("__ppl_cuts", "__ppl_g")
    )
    # one internal orientation: bucket by s = score (ascending) or
    # s = -score (descending), so cuts and comparisons share a code path
    s = F.col(score_col) if ascending else -F.col(score_col)
    gcols = [group_col] if group_col is not None else []
    cuts = (
        docs.where(F.col(score_col).isNotNull())
        .groupBy(*gcols)
        .agg(
            F.percentile_approx(
                s, F.array(*[F.lit(f) for f in fractions]), F.lit(accuracy)
            ).alias(cuts_col)
        )
    )
    if group_col is not None:
        # null-safe equi-join: the NULL-language stratum must find its
        # own cuts row, not fall out of the inner join. The cuts side's
        # key is RENAMED before joining — cuts derives from docs, so a
        # docs[group_col] == cuts[group_col] condition is the ambiguous
        # self-reference Spark only best-effort disambiguates (it warns
        # "trivially true predicate"); distinct names make it exact.
        cuts = cuts.withColumnRenamed(group_col, key_col)
        joined = docs.join(
            F.broadcast(cuts), F.col(group_col).eqNullSafe(F.col(key_col)), "left"
        ).drop(key_col)
    else:
        joined = docs.crossJoin(F.broadcast(cuts))  # 1-row scalar broadcast
    bucket = F.lit(labels[-1])
    for i in range(len(fractions) - 1, -1, -1):
        bucket = F.when(
            s <= F.element_at(cuts_col, i + 1), F.lit(labels[i])
        ).otherwise(bucket)
    return joined.withColumn(
        bucket_col, F.when(F.col(score_col).isNotNull(), bucket)
    ).drop(cuts_col)


# -- corpus bigram-LM fluency (factored from the graded text-lm-score
#    query — pure code motion, expressions identical, so the graded
#    plan is byte-for-byte unchanged; the dq-profile/profile_columns
#    precedent) -----------------------------------------------------------

LM_MIN_COUNT = 2       # frequency floor: drop hapax bigrams
LM_HEAD_K = 1 << 18    # hard head cap: broadcast <= 256 Ki rows


def corpus_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = LM_MIN_COUNT,
    head_k: int = LM_HEAD_K,
) -> DataFrame:
    """(id, n_bigrams, avg_logprob): every document's mean bigram
    log-probability under a language model trained ON the corpus
    itself — the statistical-fluency score (gibberish and boilerplate
    land far from the corpus mode). See queries/curation.py's
    text-lm-score block for the full scale commentary: the broadcast
    LM table is df-capped to its deterministic frequency head
    (``min_count`` floor + top-``head_k``), denominators stay TRUE
    conditional probabilities (n_prefix sums over ALL bigrams,
    uncapped), out-of-head bigrams score as unseen, and a doc with
    zero in-head bigrams has NO output row (join semantics — callers
    LEFT-join this back and treat NULL as unscored)."""
    from pyspark.sql import Window

    from dug_data_ingest_spark.functions.text import (
        normalized_words,
        shingles_of,
    )

    words = docs.select(
        F.col(id_col), normalized_words(F.col(text_col)).alias("w")
    )
    # The per-doc bigram ARRAYS are snapshot once (lazy localCheckpoint
    # — the r13 ngram-novelty idiom): the LM rollup and the scoring
    # join are two full passes over the exploded bigrams, and without
    # the snapshot each pass re-runs the regex tokenization — the
    # pipeline's dominant CPU — over the whole corpus (plan: two
    # Scan+Generate branches; r14, guide §5 recompute elimination).
    # Trade-off: the bigram arrays (~text-sized) are materialized to
    # executor storage for the query's duration; at cluster scale
    # persist them explicitly with a spillable level instead.
    bia = words.select(
        F.col(id_col), shingles_of(F.col("w"), k=2).alias("__bis")
    ).localCheckpoint(eager=False)
    bi = bia.select(
        F.col(id_col), F.explode("__bis").alias("bigram")
    )
    counts = (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_big"))
        .withColumn("prefix", F.split("bigram", " ").getItem(0))
    )
    w_prefix = Window.partitionBy("prefix")
    with_totals = counts.select(
        "bigram", "n_big", F.sum("n_big").over(w_prefix).alias("n_prefix")
    )
    head = (
        with_totals.filter(F.col("n_big") >= min_count)
        .orderBy(F.desc("n_big"), F.asc("bigram"))
        .limit(head_k)
    )
    table = head.select(
        "bigram", (F.col("n_big").cast("double") / F.col("n_prefix")).alias("p")
    )
    scored = bi.join(F.broadcast(table), "bigram").select(
        F.col(id_col), F.log("p").alias("logp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


def ccnet_curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    fractions: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    accuracy: int = 10000,
) -> DataFrame:
    """The CCNet pipeline (Wenzek et al. 2020, arXiv:1911.00359) end to
    end, one call over a raw document corpus:

    §3.1 corpus-wide duplicate-paragraph removal (``paragraph_dedup``,
    keep="first" — the paper's one-survivor rule; docs emptied by the
    scrub, and NULL-text docs, leave the corpus) → §3.2 language ID
    (``detect_lang`` over the CLEANED text — boilerplate is gone, so
    the n-gram vote sees content) → §3.3 fluency scoring (the paper
    scores with KenLM perplexity; this engine's statistical stand-in
    is ``corpus_lm_scores`` — higher avg_logprob = more fluent) and
    per-LANGUAGE head/middle/tail bucketing (``perplexity_buckets``
    with ascending=False for the logprob orientation; docs with no
    in-head bigram get a NULL bucket — unscored is not "tail").

    Output: (id, text = cleaned text, lang, n_paras, n_dropped,
    n_bigrams, avg_logprob, ppl_bucket).

    Scale: the composition adds nothing to its parts — paragraph
    dedup's count-then-join, one LM head broadcast, one GK rollup; the
    corpus is never pairwise-joined and never globally sorted. Each
    stage's pins live with the stage; the composition pin
    (tests/test_ccnet_pipeline.py) checks the stages hand off
    correctly (dedup feeds langid feeds buckets).
    """
    from dug_data_ingest_spark.functions.text import detect_lang

    cleaned = paragraph_dedup(
        docs, text_col=text_col, id_col=id_col, sep=sep, keep="first"
    )
    alive = (
        cleaned.where(F.length("clean_text") > 0)
        .select(
            F.col(id_col),
            F.col("clean_text").alias(text_col),
            "n_paras",
            "n_dropped",
        )
        .withColumn("lang", detect_lang(F.col(text_col)))
    )
    # materialize the two fan-out points (every stage is deterministic,
    # so this changes no values — r13, guide §5 "caching is worth it
    # when a DataFrame is reused and recomputation is expensive"):
    # `alive` feeds the LM pipeline AND the bucket assignment (without
    # the snapshot the paragraph-dedup count-then-join re-executes per
    # reference), and the narrow per-doc `scores` table feeds both the
    # cuts rollup and the assignment join (without it the whole LM
    # head build re-runs twice inside perplexity_buckets).
    # lazy (eager=False): the first consuming action materializes each
    # snapshot IN-LINE instead of two extra blocking jobs at
    # construction time (r13; same values, one fewer pass each)
    alive = alive.localCheckpoint(eager=False)
    scores = corpus_lm_scores(
        alive, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)
    scored = alive.join(scores, id_col, "left")
    return perplexity_buckets(
        scored,
        "avg_logprob",
        group_col="lang",
        fractions=fractions,
        ascending=False,
        accuracy=accuracy,
    )


def temperature_mix_rates(
    docs: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "lang",
    rate_buckets: int = 10000,
) -> list:
    """Per-stratum keep rates for temperature-based mixture sampling
    (the alpha-sampling rule of multilingual pretraining — Raffel et
    al. 2020 / Conneau et al. 2020 use alpha ~ 0.3): target mixture
    q_l ∝ p_l^alpha with p_l the stratum's corpus share, realized as
    WITHOUT-replacement keep rates r_l <= 1 at the largest feasible
    total (the stratum with the scarcest supply relative to its
    target saturates at r = 1; alpha < 1 upsamples low-resource
    strata RELATIVELY by downsampling the head). alpha = 1 keeps the
    natural mixture; alpha = 0 targets uniform.

    Returns a sorted list of rows
    ``(stratum, n_docs, rate, pct)`` with ``pct`` the integer
    out-of-``rate_buckets`` rate ``mix_sample`` consumes. Driver-side
    state is strata-bounded (ONE map-side-combined groupBy — the
    bucket_distribution posture); NULL strata form their own row.
    Rates are a pure function of the counts, so the mix is as
    reproducible (and nested across alpha revisions) as the md5
    buckets underneath. NULL strata are EXCLUDED from the mixture
    (no language, no target share): they get no rates row, and
    ``temperature_mix`` drops them via mix_sample's default_pct=0 —
    route unknown-language docs through langid (or an explicit
    stratum) before mixing.
    """
    import math

    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    rows = (
        docs.where(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = sorted((r[0], r[1]) for r in rows)
    if not counts:
        return []
    total = sum(n for _, n in counts)
    q = [(s, (n / total) ** alpha, n) for s, n in counts]
    zq = sum(w for _, w, _ in q)
    # largest feasible output total T: every stratum must supply its
    # target q_l*T from n_l docs, so T = min_l n_l / (q_l/Z)
    T = min(n / (w / zq) for _, w, n in q)
    out = []
    for s, w, n in q:
        rate = (w / zq) * T / n
        rate = min(rate, 1.0)  # float guard at the saturating stratum
        # every non-NULL stratum has rate > 0 (n > 0 and alpha-powered
        # shares are positive), so clamp the integer pct to >= 1: a
        # head stratum whose keep rate falls below 1/rate_buckets
        # (huge corpus share, alpha near 0) is kept at the floor rate
        # instead of silently vanishing from the mix — only NULL
        # strata are excluded, exactly as the docstring promises
        out.append((s, n, rate, max(1, math.floor(rate * rate_buckets))))
    return out


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    rate_buckets: int = 10000,
) -> DataFrame:
    """Apply ``temperature_mix_rates`` through the md5-bucket keep
    rule (``mix_sample`` with fine-grained buckets): one
    strata-bounded count, one broadcast of the rate table, a
    row-local keep decision — the corpus never shuffles, and the
    sample NESTS across alpha revisions exactly like mix_sample's
    (raising a stratum's rate only ever ADDS documents)."""
    from pyspark.sql import types as T

    rates = temperature_mix_rates(docs, alpha, strata_col, rate_buckets)
    spark = docs.sparkSession
    # derive the strata field's type from the input schema (a DDL
    # f-string would hardcode string — implicitly casting, or failing
    # outright, on int/backtick-needing strata columns)
    weights = spark.createDataFrame(
        [(s, p) for s, _, _, p in rates],
        T.StructType(
            [
                T.StructField(strata_col, docs.schema[strata_col].dataType),
                T.StructField("pct", T.IntegerType()),
            ]
        ),
    )
    return mix_sample(
        docs,
        weights,
        default_pct=0,
        key_col=key_col,
        strata_col=strata_col,
        n_buckets=rate_buckets,
    )


def kneser_ney_bigram_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """(id, n_bigrams, avg_logprob): mean interpolated-Kneser-Ney
    bigram log-probability per document, trained on the corpus itself
    — the KenLM-shaped upgrade of ``corpus_lm_scores`` (CCNet's
    quality model is a KN-smoothed n-gram LM; Wenzek et al. 2020
    §3.3). Unlike the df-capped MLE head, EVERY observed bigram
    scores (no head cap, no unscored docs beyond the <2-token ones):

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                   + (D · N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)

    with D = ``discount``, N1+(w1·) the distinct continuations of w1,
    N1+(·w2) the distinct histories of w2, N1+(··) the distinct
    bigram types. Self-scoring makes every doc bigram corpus-observed
    (c >= 1), so probabilities are strictly positive and the log is
    total — the zero-backoff corner cases of scoring FOREIGN text
    don't arise; score a held-out batch by LEFT-joining its bigrams
    against this corpus' table and treating NULL as out-of-model.

    Scale shape: one bigram explode feeding ONE map-side-combined
    groupBy(bigram); the prefix totals and continuation counts are
    two further vocabulary-bounded aggregates OF that counts table
    (never a second corpus pass); the type total rides the 1-row
    scalar crossJoin idiom. Scoring joins the bigram stream against
    the assembled table on bigram — deliberately UNHINTED: AQE
    broadcasts the table while it fits and falls back to a token-
    keyed shuffle join when the vocabulary outgrows it (the
    text-keyword-tfidf posture). Hot bigrams skew PROBE-side.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(
            f"kneser_ney_bigram_scores: discount must be in (0, 1), "
            f"got {discount}"
        )
    bi = _kn_bigrams(docs, text_col, id_col)
    counts, prefix, cont, types_row = _kn_tables(bi)
    d = F.lit(float(discount))
    p = (
        F.greatest(F.col("n_big").cast("double") - d, F.lit(0.0))
        / F.col("c1dot")
        + ((d * F.col("n1p_fw")) / F.col("c1dot"))
        * (F.col("n1p_end").cast("double") / F.col("n_types"))
    )
    table = (
        counts.join(prefix, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types_row))
        .select("bigram", p.alias("p"))
    )
    scored = bi.join(table, "bigram").select(
        F.col(id_col), F.log("p").alias("logp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


def _kn_bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bigram) stream — normalized-word 2-shingles with
    duplicates, the unit both KN paths score."""
    from dug_data_ingest_spark.functions.text import (
        normalized_words,
        shingles_of,
    )

    words = docs.select(
        F.col(id_col), normalized_words(F.col(text_col)).alias("w")
    )
    return words.select(
        F.col(id_col), F.explode(shingles_of(F.col("w"), k=2)).alias("bigram")
    )


def _kn_tables(
    corpus_bi: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """KN model tables from a (id, bigram) stream — the single
    definition both the self-scoring and foreign-batch paths share
    (they must stay in lockstep with each other AND both SQL oracles):
    (counts, prefix, cont, types_row) =
    (c(w1w2) keyed by bigram/w1/w2, [c(w1·), N1+(w1·)] by w1,
    N1+(·w2) by w2, the 1-row N1+(··) total).

    localCheckpoint: counts feeds FOUR consumers (prefix, cont, types,
    the scoring join) — uncheckpointed, each re-derives the
    corpus-wide bigram explode + aggregation (measured: 5 corpus scans
    in the executed plan; 2 after). Vocabulary-bounded, so the
    materialization is small; lazy — the first consumer materializes
    it."""
    counts = (
        corpus_bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_big"))
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
    ).localCheckpoint(eager=False)
    prefix = counts.groupBy("w1").agg(
        F.sum("n_big").alias("c1dot"),
        F.count(F.lit(1)).alias("n1p_fw"),
    )
    cont = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_end"))
    types_row = counts.agg(F.count(F.lit(1)).alias("n_types"))
    return counts, prefix, cont, types_row


def kneser_ney_score_batch(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Score a FOREIGN batch under a KN bigram LM trained on
    ``corpus`` — the deployment shape ``kneser_ney_bigram_scores``'
    docstring promises (that function self-scores, where every bigram
    is corpus-observed; here the interpolation's backoff tiers
    actually fire):

    - pair seen in corpus: the full interpolated-KN probability;
    - pair unseen, w1 seen as a prefix: backoff mass only,
      (D · N1+(w1·)/c(w1·)) · P_cont(w2);
    - w1 unseen, w2 seen as a continuation: P_cont(w2) alone;
    - w2 never observed as a continuation: OUT-OF-MODEL — no
      probability mass exists for it, so it is excluded from the mean
      and counted in ``n_oov`` instead of faking a floor score.

    Output: (id, n_bigrams, n_oov, avg_logprob) — avg over the
    in-model bigrams, NULL when every bigram is OOV; docs with <2
    tokens have no row (join semantics, as in the self-scoring path).

    Scale shape: the corpus builds the same checkpointed
    vocabulary-bounded tables as the self-scoring path (one corpus
    scan); the batch bigram stream LEFT-joins pair/prefix/
    continuation tables — three token-keyed joins, each UNHINTED so
    AQE broadcasts while the vocabulary fits; the batch is scanned
    once and only shuffles on the bigram/w1/w2 join keys.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(
            f"kneser_ney_score_batch: discount must be in (0, 1), "
            f"got {discount}"
        )
    counts, prefix, cont, types_row = _kn_tables(
        _kn_bigrams(corpus, text_col, id_col)
    )

    bi = _kn_bigrams(batch, text_col, id_col).select(
        F.col(id_col),
        F.col("bigram"),
        F.split("bigram", " ").getItem(0).alias("w1"),
        F.split("bigram", " ").getItem(1).alias("w2"),
    )
    d = F.lit(float(discount))
    joined = (
        bi.join(counts.select("bigram", "n_big"), "bigram", "left")
        .join(prefix, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types_row))
    )
    pcont = F.col("n1p_end").cast("double") / F.col("n_types")
    p = (
        F.when(
            F.col("n_big").isNotNull(),
            F.greatest(F.col("n_big").cast("double") - d, F.lit(0.0))
            / F.col("c1dot")
            + ((d * F.col("n1p_fw")) / F.col("c1dot")) * pcont,
        )
        .when(
            F.col("c1dot").isNotNull() & F.col("n1p_end").isNotNull(),
            ((d * F.col("n1p_fw")) / F.col("c1dot")) * pcont,
        )
        .when(F.col("n1p_end").isNotNull(), pcont)
    )
    scored = joined.select(F.col(id_col), F.log(p).alias("logp"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("logp").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )

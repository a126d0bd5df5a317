"""Scale-mechanism proofs: salting for skew and bucketing for
co-located joins (SURVEY.md §4 / SCALE.md) — semantics verified
against the plain plans, physical effect verified on the plans
themselves.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dug_data_ingest_spark.operators.joins import salted_join
from dug_data_ingest_spark.sources.files import write_bucketed
from tests.conftest import TEST_SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(orders, cust, "o_custkey", salt=8).groupBy(
        "c_mktsegment"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_the_key(spark):
    # every original key now joins under `salt` distinct composite keys
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plan = _plan(salted_join(orders, cust, "o_custkey", salt=8))
    assert "__salt" in plan  # composite join key in the physical plan
    assert "BroadcastExchange" in plan  # replication side is broadcast


@pytest.fixture(scope="module")
def bucketed_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketed_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_test LOCATION '{loc}'")
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet")
    write_bucketed(orders, "bucketed_test.orders_b", "o_custkey", 8)
    write_bucketed(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_acctbal"),
        "bucketed_test.cust_b",
        "o_custkey",
        8,
    )
    yield "bucketed_test"
    spark.sql("DROP DATABASE IF EXISTS bucketed_test CASCADE")


def test_bucketed_join_needs_no_shuffle(spark, bucketed_db):
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet")
    ob = spark.table(f"{bucketed_db}.orders_b")
    cb = spark.table(f"{bucketed_db}.cust_b")
    # forbid broadcast so the only shuffle-free path is the bucketing
    joined = ob.hint("merge").join(cb, "o_custkey")
    plan = _plan(joined)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan
    # and the result is right
    n = joined.count()
    plain = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_acctbal"),
        "o_custkey",
    ).count()
    assert n == plain


def test_bucketed_aggregation_needs_no_shuffle(spark, bucketed_db):
    ob = spark.table(f"{bucketed_db}.orders_b")
    agg = ob.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("t"))
    plan = _plan(agg)
    assert "Exchange hashpartitioning" not in plan, plan


# ---------------------------------------------------------------------------
# Partitioned-write fan-out (write_partitioned = the reference's
# per-program repo fan-out) and the read-back pruning it buys
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def partitioned_lineitem(spark, tmp_path_factory):
    from dug_data_ingest_spark.sources.files import write_partitioned

    path = str(tmp_path_factory.mktemp("part") / "lineitem_by_flag")
    li = spark.read.parquet(f"{TEST_SF_DIR}/lineitem.parquet")
    write_partitioned(li, path, "l_returnflag")
    return path


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_static_partition_pruning_on_readback(spark, partitioned_lineitem):
    # a literal filter on the partition column must become a
    # PartitionFilters entry (directory pruning — zero data files of
    # the other partitions are opened), not a post-scan Filter
    df = spark.read.parquet(partitioned_lineitem).filter(F.col("l_returnflag") == "R")
    info = _formatted(df)
    assert "PartitionFilters" in info and "l_returnflag" in info.split("PartitionFilters", 1)[1].split("]", 1)[0], info
    got = df.select(F.countDistinct("l_returnflag")).first()[0]
    assert got == 1


def test_dynamic_partition_pruning_from_dim_filter(spark, partitioned_lineitem):
    # the selective filter lives on the dim side; DPP must push a
    # runtime subquery filter into the fact scan's partition filters —
    # at 100 TB this is the difference between scanning one program
    # partition and scanning the warehouse
    fact = spark.read.parquet(partitioned_lineitem)
    dim = (
        spark.createDataFrame([("R", "returned")], ["flag", "label"])
        .filter(F.col("label") == "returned")
    )
    joined = fact.join(dim, fact.l_returnflag == dim.flag).groupBy("flag").count()
    info = _formatted(joined)
    assert "dynamicpruning" in info, info


# ---------------------------------------------------------------------------
# shingle document-frequency cap of the shared-shingle joins (ext/dedup.py:
# capped_shingles_with_sizes, behind ngram_containment_pairs and the
# incremental Jaccard dedup)
# ---------------------------------------------------------------------------


def test_jaccard_df_cap_kills_hot_shingle_blowup(spark):
    # n docs all sharing ONE ubiquitous shingle ("the quick fox") plus
    # per-doc unique shingles. Uncapped, the shared shingle alone
    # creates n(n-1) ordered candidate pairs — the m²-per-hot-shingle
    # blowup that at 100 TB makes a stop-word shingle a 10^12-row join
    # bucket. With df cap < n the shingle is dropped from both sides
    # and candidate generation is bounded by O(n * cap).
    from dug_data_ingest_spark.ext.dedup import ngram_containment_pairs

    n = 40
    docs = spark.createDataFrame(
        [(i, f"the quick fox w{i}a w{i}b w{i}c") for i in range(n)],
        ["doc_id", "text"],
    )
    uncapped = ngram_containment_pairs(
        docs, threshold=0.0, max_doc_freq=None
    ).count()
    capped = ngram_containment_pairs(docs, threshold=0.0, max_doc_freq=5).count()
    assert uncapped == n * (n - 1)  # the quadratic bucket, live
    assert capped == 0  # hot shingle dropped -> no candidates


def test_jaccard_df_cap_defaults_on(spark):
    # The bare call must be scale-safe: the cap defaults to a finite
    # value (uncapped is an explicit max_doc_freq=None opt-out), and a
    # default-args call over a corpus whose hot shingle exceeds that
    # default behaves as capped — the ubiquitous shingle is dropped,
    # not joined m². (Uncapped, this corpus would emit n(n-1) > 10^6
    # pairs; capped it emits none, so the assertion distinguishes the
    # paths decisively.)
    import inspect

    from dug_data_ingest_spark.ext.dedup import ngram_containment_pairs

    default = inspect.signature(ngram_containment_pairs).parameters[
        "max_doc_freq"
    ].default
    assert isinstance(default, int) and default > 0

    n = default + 50  # hot-shingle doc frequency exceeds the default cap
    docs = spark.createDataFrame(
        [(i, f"the quick fox w{i}a w{i}b w{i}c") for i in range(n)],
        ["doc_id", "text"],
    )
    assert ngram_containment_pairs(docs, threshold=0.0).count() == 0


def test_jaccard_df_cap_emits_runtime_signal(spark, caplog):
    # When the cap ACTUALLY drops shingles, the first executed capped
    # plan must report it (Observation riding the existing plan — no
    # extra job) so default-arg callers relying on exact semantics
    # notice the semantic change.
    import logging
    import time

    from dug_data_ingest_spark.ext import dedup as dd

    # Re-arm: the one-shot signal may already have been consumed by an
    # earlier capped call in this test session.
    with dd._cap_signal_lock:
        dd._cap_signal_armed = False
    n = 40
    docs = spark.createDataFrame(
        [(i, f"the quick fox w{i}a w{i}b w{i}c") for i in range(n)],
        ["doc_id", "text"],
    )
    with caplog.at_level(
        logging.WARNING, logger="dug_data_ingest_spark.ext.dedup"
    ):
        dd.ngram_containment_pairs(docs, threshold=0.0, max_doc_freq=5).count()
        obs = dd._last_cap_observation
        assert obs is not None
        assert obs.get["n_hot"] > 0  # blocks until metrics land
        deadline = time.time() + 5
        while time.time() < deadline and not any(
            "dropped" in r.getMessage() for r in caplog.records
        ):
            time.sleep(0.05)
    assert any(
        "df-cap" in r.getMessage() and "dropped" in r.getMessage()
        for r in caplog.records
    ), [r.getMessage() for r in caplog.records]


def test_jaccard_df_cap_is_noop_below_cap(spark):
    # When no shingle exceeds the cap the capped and uncapped paths
    # must produce identical pairs AND identical values (the
    # post-filter set sizes equal the raw set sizes).
    from dug_data_ingest_spark.ext.dedup import ngram_containment_pairs

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    plain = sorted(
        map(tuple, ngram_containment_pairs(docs, 0.8, max_doc_freq=None).collect())
    )
    capped = sorted(
        map(tuple, ngram_containment_pairs(docs, 0.8, max_doc_freq=100).collect())
    )
    assert plain == capped and len(plain) > 0


# ---------------------------------------------------------------------------
# 64-bit SimHash banded Hamming lookup (ext/dedup.py)
# ---------------------------------------------------------------------------


def test_simhash_banded_lookup_matches_bruteforce(spark):
    # The 4x16-bit lane join must find EXACTLY the brute-force
    # Hamming<=3 pairs (pigeonhole completeness + exact xor/bit_count
    # verify). Brute force here is the O(n^2) reference, fine at n=500.
    from dug_data_ingest_spark.ext.dedup import simhash64, simhash_near_pairs

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    codes = simhash64(docs).collect()
    brute = set()
    for i in range(len(codes)):
        for j in range(i + 1, len(codes)):
            x, y = codes[i], codes[j]
            h = sum(
                bin(x[f"band{l}"] ^ y[f"band{l}"]).count("1") for l in range(4)
            )
            if h <= 3:
                a, b = sorted((x.doc_id, y.doc_id))
                brute.add((a, b, h))
    banded = {
        (r.a, r.b, r.hamming)
        for r in simhash_near_pairs(simhash64(docs), max_hamming=3).collect()
    }
    assert banded == brute


def test_simhash_pairs_join_is_bucket_local(spark):
    # the candidate join must be an equi-join on (lane, key) — never a
    # cartesian / nested-loop over the corpus
    from dug_data_ingest_spark.queries import all_queries

    plan = _plan(all_queries()["dedup-simhash-pairs"](spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_salted_join_rejects_outer_how(spark):
    # right/full outer would emit unmatched right rows `salt` times
    import pytest as _pytest

    df = spark.range(4).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="unsupported"):
        salted_join(df, df, "k", salt=4, how="full")


def test_kmeans_returns_quantizer_rows(spark):
    from dug_data_ingest_spark.ext.similarity import _assign, kmeans_centroids

    emb = spark.read.parquet(f"{TEST_SF_DIR}/embeddings.parquet")
    rows = kmeans_centroids(emb, k=4, n_iters=1)
    assert all(set(r.asDict()) == {"cluster", "centroid"} for r in rows)
    assert len(rows) == 4 and all(len(r.centroid) > 0 for r in rows)
    # every vector lands in one of the returned cells
    pops = _assign(emb, rows, "vec_id", "embedding").groupBy("cluster").count()
    assert {r.cluster for r in pops.collect()} <= {r.cluster for r in rows}
    assert sum(r["count"] for r in pops.collect()) == emb.count()


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    # a 6-node chain has diameter 5; max_iters=1 cannot reach fixpoint
    import pytest as _pytest
    from dug_data_ingest_spark.ext.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["a", "b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iters=1)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # signature-only Jaccard estimates for band-join candidates must
    # correlate with exact Jaccard: unbiased with stderr ~ 1/sqrt(16),
    # so exact-dup pairs estimate 1.0 and every candidate's |err| is
    # bounded well inside 4 sigma on this corpus
    from dug_data_ingest_spark.ext.dedup import (
        doc_shingles,
        minhash_band_keys,
        minhash_candidate_pairs,
        minhash_jaccard_estimates,
        minhash_signatures_wide,
        ngram_jaccard_pairs,
    )

    base = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    # guarantee at least one exact-duplicate pair: clone doc 0 under a
    # fresh id (max id + 1)
    clone = base.limit(1).select(
        (F.lit(10_000_000) + F.col("doc_id")).alias("doc_id"),
        *[c for c in base.columns if c != "doc_id"],
    )
    docs = base.select(*base.columns).unionByName(clone.select(*base.columns))
    sig = minhash_signatures_wide(doc_shingles(docs))
    cand = minhash_candidate_pairs(minhash_band_keys(sig))
    est = {
        (r.a, r.b): r.est_jaccard
        for r in minhash_jaccard_estimates(sig, cand).collect()
    }
    assert len(est) > 0 and all(0.0 <= v <= 1.0 for v in est.values())
    exact = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    errs = [abs(est[p] - exact[p]) for p in est if p in exact]
    assert errs and max(errs) <= 1.0  # sanity: comparable scale
    # identical docs must estimate exactly 1.0
    perfect = [p for p, j in exact.items() if j == 1.0 and p in est]
    assert perfect and all(est[p] == 1.0 for p in perfect)
    # and the mean absolute error stays within 2/sqrt(k)=0.5 overall
    assert sum(errs) / len(errs) < 0.5


def test_banded_lsh_is_superset_of_single_band(spark):
    """8-bit full-code equality implies equality on every 2-plane
    band, so the banded blocking can only ADD candidate pairs — the
    recall amplification is monotone (sim-lsh-recall 0.017 vs
    sim-lsh-recall-banded 0.86 at sf0.001 is this, measured)."""
    from dug_data_ingest_spark.ext.similarity import (
        lsh_banded_pairs,
        lsh_dup_pairs,
    )
    from dug_data_ingest_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    single = {(r.a, r.b) for r in lsh_dup_pairs(emb, threshold=0.3).collect()}
    banded = {(r.a, r.b) for r in lsh_banded_pairs(emb, threshold=0.3).collect()}
    assert single <= banded
    assert len(banded) > len(single)  # the amplification actually bites


def test_banded_lsh_rejects_nondividing_band_size(spark):
    import pytest as _pytest

    from dug_data_ingest_spark.ext.similarity import lsh_banded_pairs
    from dug_data_ingest_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    with _pytest.raises(ValueError):
        lsh_banded_pairs(emb, threshold=0.3, n_planes=8, band_size=3)


# ---------------------------------------------------------------------------
# fan_out width probe (ext/dedup.py)
# ---------------------------------------------------------------------------


def test_fan_out_spreads_in_memory_inputs(spark):
    # createDataFrame sources have no backing files and arrive in 1-2
    # partitions; fan_out must spread them before expensive per-row
    # sketch work instead of skipping (perf regression from round 4).
    from dug_data_ingest_spark.ext.dedup import fan_out

    narrow = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], ["doc_id", "text"]
    ).coalesce(1)
    wide = fan_out(narrow)
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_fan_out_leaves_wide_file_scans_alone(spark):
    # A scan with >= defaultParallelism input files keeps its native
    # splitting: no repartition shuffle is added at real scale.
    from dug_data_ingest_spark.ext.dedup import fan_out

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    files = docs.inputFiles()
    if len(files) >= spark.sparkContext.defaultParallelism:
        assert fan_out(docs) is docs
    else:
        # narrow local fixture: fan_out may repartition; the plan must
        # not error and row counts must be preserved either way
        assert fan_out(docs).count() == docs.count()


def test_lsh_raises_on_embedding_dim_mismatch(spark):
    # zip_with null-pads a dim mismatch, nulling every dot product —
    # every row would land in bucket 0 and the bucket-local join
    # degenerate to a cross product; the guard must raise instead
    import pytest

    from dug_data_ingest_spark.ext.similarity import lsh_dup_pairs

    emb = spark.read.parquet(f"{TEST_SF_DIR}/embeddings.parquet")
    real_dim = len(emb.select("embedding").first()[0])
    with pytest.raises(Exception, match="dims"):
        lsh_dup_pairs(emb, 0.9, dim=real_dim + 1).collect()


def test_simhash_rejects_radius_beyond_pigeonhole_guarantee(spark):
    import pytest

    from dug_data_ingest_spark.ext.dedup import simhash64, simhash_near_pairs

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").limit(10)
    codes = simhash64(docs)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(codes, max_hamming=5)


def test_minhash_band_keys_rejects_nondividing_rows_per_band(spark):
    import pytest

    from dug_data_ingest_spark.ext.dedup import (
        doc_shingles,
        minhash_band_keys,
        minhash_signatures_wide,
    )

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").limit(5)
    wide = minhash_signatures_wide(doc_shingles(docs), num_hashes=18)
    with pytest.raises(ValueError, match="divide"):
        minhash_band_keys(wide, num_hashes=18, rows_per_band=4)


def test_containment_uncapped_path_has_no_window(spark):
    # max_doc_freq=None computes set sizes row-locally (F.size before
    # the explode) — no doc-keyed window shuffle; and the results
    # agree with the capped path when no shingle exceeds the cap
    from dug_data_ingest_spark.ext.dedup import ngram_containment_pairs

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").limit(200)
    uncapped = ngram_containment_pairs(docs, 0.5, max_doc_freq=None)
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    capped = ngram_containment_pairs(docs, 0.5, max_doc_freq=10**6)
    assert sorted(map(tuple, uncapped.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_uniquify_raises_on_residual_collision(spark):
    # ['a','a','a_1']: the one-pass window would emit a_1 twice — the
    # reference's seen-set walk would have dodged it; loud beats wrong
    import pytest

    from dug_data_ingest_spark.operators.windows import uniquify_ids

    df = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "a_1")], ["ord", "name"]
    )
    with pytest.raises(Exception, match="collides"):
        uniquify_ids(df, "name", [F.col("ord")], "uname").collect()


def test_cosine_zero_vector_yields_null_not_abort(spark):
    # ANSI mode is on by default: a bare division would throw
    # DIVIDE_BY_ZERO on one all-zero embedding and abort the job
    from dug_data_ingest_spark.functions.vectors import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0].c is None
    assert abs(got[1].c - 1.0) < 1e-12


def test_tag_first_empty_array_falls_to_default(spark):
    from dug_data_ingest_spark.operators.projections import tag_first

    df = spark.createDataFrame(
        [([],), ([{"name": "topmed"}],)],
        "tags array<struct<name string>>",
    )
    got = [r.p for r in df.select(
        tag_first(F.col("tags"), default="unknown").alias("p")
    ).collect()]
    assert got == ["unknown", "topmed"]


def test_except_ids_is_set_difference_on_multisets(spark):
    from dug_data_ingest_spark.operators.setops import except_ids

    left = spark.createDataFrame([(1,), (1,), (2,)], ["id"])
    right = spark.createDataFrame([(1,)], ["id"])
    assert [r.id for r in except_ids(left, right).collect()] == [2]


def test_null_rows_survive_anti_membership_and_grep_v(spark):
    # python `not in` / grep -v keep rows the condition can't judge;
    # SQL three-valued logic would silently drop them
    from dug_data_ingest_spark.operators.filters import anti_membership, grep_v

    df = spark.createDataFrame(
        [("phs1",), (None,), ("phs2",)], ["id"]
    )
    kept = {r.id for r in anti_membership(df, "id", ["phs2"]).collect()}
    assert kept == {"phs1", None}
    kept = {r.id for r in grep_v(df, F.col("id") == "phs2").collect()}
    assert kept == {"phs1", None}


def test_bdc_values_parse_survives_apostrophes(spark):
    # Python-repr quoting: labels with apostrophes arrive double-
    # quoted; the old '->"' replace corrupted them into a null array
    from dug_data_ingest_spark.plans.bdc import generate_xml
    from dug_data_ingest_spark.sources.xml_dbgap import parse_data_tables

    studies = spark.createDataFrame(
        [("phs000001", "phs000001.v1.p1", "prog")],
        "study_id string, Accession string, program_dir string",
    )
    variables = spark.createDataFrame(
        [
            ("phs000001", "dt1", "v1", "var1", None, "d", None, True,
             '["Don\'t know", \'Refused\']'),
        ],
        "study_id string, dtId string, varId string,"
        " columnmeta_name string, derived_var_name string,"
        " columnmeta_description string, description string,"
        " is_categorical boolean, values string",
    )
    docs = generate_xml(studies, variables)
    parsed = parse_data_tables(docs).collect()
    codes = [tuple(v) for v in parsed[0].values]
    assert codes == [("Don't know", "Don't know"), ("Refused", "Refused")]


def test_global_row_number_matches_sequential_rank(spark):
    # exact global ranks from the range-partitioned two-pass form,
    # checked against a driver-side sort; deliberately more partitions
    # than rows so empty slices and offset bookkeeping are exercised
    from dug_data_ingest_spark.operators.windows import global_row_number

    rows = [(i * 37 % 101, f"k{i}") for i in range(101)]
    df = spark.createDataFrame(rows, ["v", "k"]).repartition(13)
    ranked, n = global_row_number(
        df, [F.col("v").desc(), F.col("k")], "rn", num_partitions=17
    )
    assert n == 101
    got = {(r.v, r.k): r.rn for r in ranked.collect()}
    expected = sorted(rows, key=lambda t: (-t[0], t[1]))
    assert got == {vk: i + 1 for i, vk in enumerate(expected)}

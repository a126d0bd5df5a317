"""CLI smoke: the pipeline entry points produce the reference's
output artifacts end-to-end."""

from __future__ import annotations

import os


def test_cli_bdc_end_to_end(spark, tmp_path):
    from dug_data_ingest_spark.cli import run_bdc
    from dug_data_ingest_spark.plans import fixtures as FX

    gen3_p = str(tmp_path / "gen3")
    pic_p = str(tmp_path / "pic")
    FX.gen3_studies(spark).write.parquet(gen3_p)
    FX.picsure_variables(spark).write.parquet(pic_p)

    class A:
        gen3, picsure, out, csv = gen3_p, pic_p, str(tmp_path / "out"), False

    run_bdc(spark, A)
    assert os.path.isdir(f"{A.out}/dbgap_xml")
    summary = (
        spark.read.option("header", True).csv(f"{A.out}/processing_summary")
    )
    quarantine = spark.read.option("header", True).csv(f"{A.out}/quarantine")
    assert summary.count() + quarantine.count() == FX.gen3_studies(spark).count()


def test_cli_heal_end_to_end(spark, tmp_path):
    from dug_data_ingest_spark.cli import run_heal
    from dug_data_ingest_spark.plans import fixtures as FX

    studies_p = str(tmp_path / "studies")
    fields_p = str(tmp_path / "fields")
    map_p = str(tmp_path / "mapping")
    FX.heal_studies(spark).write.parquet(studies_p)
    FX.heal_fields(spark).write.parquet(fields_p)
    FX.hdp_mapping(spark).write.parquet(map_p)

    class A:
        studies, fields, mapping = studies_p, fields_p, map_p
        out, csv = str(tmp_path / "out"), False

    run_heal(spark, A)
    vi = spark.read.option("header", True).csv(f"{A.out}/variable_index")
    assert vi.count() == FX.heal_fields(spark).count()
    nodes = spark.read.json(f"{A.out}/kgx/nodes")
    assert nodes.count() == FX.heal_studies(spark).count()


def test_cli_heal_csv_inputs(spark, tmp_path):
    # --csv must apply to ALL THREE heal inputs: studies/fields were
    # hardcoded to the parquet branch, so CSV inputs crashed on the
    # missing parquet footer while mapping read fine. Nested (MAP and
    # ARRAY) columns ride CSV as JSON strings, parsed after the read.
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.cli import run_heal
    from dug_data_ingest_spark.plans import fixtures as FX

    studies_csv = FX.heal_studies(spark).withColumn(
        "data_dictionaries", F.to_json("data_dictionaries")
    )
    fields_csv = (
        FX.heal_fields(spark)
        .withColumn("enum", F.to_json("enum"))
        .withColumn("enumLabels", F.to_json("enumLabels"))
    )
    paths = {}
    for name, df in [
        ("studies", studies_csv),
        ("fields", fields_csv),
        ("mapping", FX.hdp_mapping(spark)),
    ]:
        p = str(tmp_path / name)
        df.write.option("header", True).mode("overwrite").csv(p)
        paths[name] = p

    class A:
        studies, fields, mapping = (
            paths["studies"], paths["fields"], paths["mapping"],
        )
        out, csv = str(tmp_path / "out"), True

    run_heal(spark, A)
    vi = spark.read.option("header", True).csv(f"{A.out}/variable_index")
    assert vi.count() == FX.heal_fields(spark).count()


def test_cli_dedup_exact_and_jaccard(spark, tmp_path):
    from dug_data_ingest_spark.cli import run_dedup
    from tests.conftest import TEST_SF_DIR

    docs_p = f"{TEST_SF_DIR}/documents.parquet"
    n_docs = spark.read.parquet(docs_p).count()

    class A:
        documents, csv = docs_p, False
        strategy, threshold = "exact", 0.8
        out = str(tmp_path / "exact")

    run_dedup(spark, A)
    surv = spark.read.parquet(f"{A.out}/survivors")
    report = spark.read.option("header", True).csv(f"{A.out}/dedup_report")
    r = report.first()
    assert int(r.n_docs) == n_docs
    assert surv.count() == int(r.n_survivors) <= n_docs
    # exact survivors have unique texts
    assert surv.select("text").distinct().count() == surv.count()

    class B(A):
        strategy = "jaccard"
        out = str(tmp_path / "jac")

    run_dedup(spark, B)
    jac = spark.read.parquet(f"{B.out}/survivors")
    # near-dedup drops at least the exact dups, usually more
    assert jac.count() <= surv.count()
    # the prefix path keeps exactly the survivors of the literal
    # shared-shingle join's clusters
    from dug_data_ingest_spark.ext.dedup import (
        ngram_jaccard_pairs,
        non_canonical_ids,
    )

    docs = spark.read.parquet(docs_p)
    drop = non_canonical_ids(ngram_jaccard_pairs(docs, threshold=0.8))
    want = docs.join(drop, "doc_id", "left_anti")
    assert sorted(r.doc_id for r in jac.select("doc_id").collect()) == sorted(
        r.doc_id for r in want.select("doc_id").collect()
    )


def test_cli_dedup_minhash_estimate_path(spark, tmp_path):
    from dug_data_ingest_spark.cli import run_dedup
    from tests.conftest import TEST_SF_DIR

    class A:
        documents, csv = f"{TEST_SF_DIR}/documents.parquet", False
        strategy, threshold = "minhash", 0.5
        out = str(tmp_path / "mh")

    run_dedup(spark, A)
    surv = spark.read.parquet(f"{A.out}/survivors")
    n_docs = spark.read.parquet(A.documents).count()
    assert 0 < surv.count() < n_docs  # something dropped, corpus kept


def test_cli_dedup_exact_keeps_one_null_text_doc(spark, tmp_path):
    # equi-join-on-hash semantics would delete ALL null-text docs;
    # the window path must keep exactly one
    from dug_data_ingest_spark.cli import run_dedup

    docs_p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, "other")],
        ["doc_id", "text"],
    ).write.parquet(docs_p)

    class A:
        documents, csv = docs_p, False
        strategy, threshold = "exact", 0.8
        out = str(tmp_path / "out")

    run_dedup(spark, A)
    surv = spark.read.parquet(f"{A.out}/survivors")
    ids = sorted(r.doc_id for r in surv.collect())
    assert ids == [1, 3, 5]  # canonical of dup pair, ONE null-text, unique


def test_cli_dedup_substring_passes_null_text_through(spark, tmp_path):
    # a NULL-text doc was never "emptied by stripping" (the only
    # documented drop case) — it must survive, text still NULL, just
    # as the exact strategy keeps its null-text survivor
    from dug_data_ingest_spark.cli import run_dedup

    docs_p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, None),
        ],
        ["doc_id", "text"],
    ).write.parquet(docs_p)

    class A:
        documents, csv = docs_p, False
        strategy, threshold = "substring", 0.8
        span_tokens = 4
        out = str(tmp_path / "out")

    run_dedup(spark, A)
    surv = spark.read.parquet(f"{A.out}/survivors")
    by_id = {r.doc_id: r.text for r in surv.collect()}
    assert set(by_id) == {1, 3}  # doc 2 fully stripped, doc 3 kept
    assert by_id[3] is None
    assert by_id[1] == "alpha beta gamma delta"


def test_cli_curate_end_to_end(spark, tmp_path):
    from dug_data_ingest_spark.cli import main

    docs_p = str(tmp_path / "docs")
    long = " ".join(f"w{i}" for i in range(30))
    spark.createDataFrame(
        [
            (1, long, "s"),
            (2, long, "s"),          # exact dup of 1 -> dropped
            (3, "short text", "s"),  # < 20 tokens -> gated out
            (4, " ".join(f"v{i}" for i in range(40)), "s"),
        ],
        ["doc_id", "text", "source"],
    ).write.parquet(docs_p)
    out = str(tmp_path / "out")
    main(
        [
            "curate",
            "--documents", docs_p,
            "--min-tokens", "20",
            "--pack",
            "--cap-tokens", "64",
            "--out", out,
        ]
    )
    curated = spark.read.parquet(f"{out}/curated")
    assert sorted(r.doc_id for r in curated.collect()) == [1, 4]
    chunks = spark.read.parquet(f"{out}/chunks")
    assert chunks.count() == 2 and "chunk" in chunks.columns


def test_cli_curate_decontaminates_against_eval(spark, tmp_path):
    from dug_data_ingest_spark.cli import main

    shared = " ".join(f"e{i}" for i in range(25))
    docs_p, eval_p = str(tmp_path / "docs"), str(tmp_path / "eval")
    spark.createDataFrame(
        [(1, shared + " tail tail tail", "s"),
         (2, " ".join(f"u{i}" for i in range(25)), "s")],
        ["doc_id", "text", "source"],
    ).write.parquet(docs_p)
    spark.createDataFrame(
        [(100, shared, "eval")], ["doc_id", "text", "source"]
    ).write.parquet(eval_p)
    out = str(tmp_path / "out")
    main(["curate", "--documents", docs_p, "--eval-docs", eval_p, "--out", out])
    curated = spark.read.parquet(f"{out}/curated")
    assert [r.doc_id for r in curated.collect()] == [2]


def test_cli_dedup_substring_rewrites_docs(spark, tmp_path):
    from dug_data_ingest_spark.cli import run_dedup
    from tests.conftest import TEST_SF_DIR

    docs_p = f"{TEST_SF_DIR}/documents.parquet"
    n_docs = spark.read.parquet(docs_p).count()

    class A:
        documents, csv = docs_p, False
        strategy, threshold = "substring", 0.8
        span_tokens = 8
        out = str(tmp_path / "sub")

    run_dedup(spark, A)
    surv = spark.read.parquet(f"{A.out}/survivors")
    report = spark.read.option("header", True).csv(f"{A.out}/dedup_report")
    r = report.first()
    assert int(r.n_docs) == n_docs
    assert surv.count() == int(r.n_survivors)
    # same schema out as in; docs drop ONLY by being 100% duplicated
    # spans (this corpus has a few verbatim-copy shorts), and every
    # drop or shrink is a doc the stats query flagged
    assert surv.columns == spark.read.parquet(docs_p).columns
    from dug_data_ingest_spark.ext.dedup import duplicated_span_stats

    flagged = duplicated_span_stats(
        spark.read.parquet(docs_p), k=8
    ).count()
    n_emptied = n_docs - surv.count()
    assert 0 < n_emptied <= flagged
    import pyspark.sql.functions as F

    orig = spark.read.parquet(docs_p).select(
        "doc_id",
        F.length(
            F.trim(F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", ""))
        ).alias("norm_len"),
    )
    shrunk = (
        surv.select("doc_id", F.length("text").alias("new_len"))
        .join(orig, "doc_id")
        .filter(F.col("new_len") < F.col("norm_len"))
        .count()
    )
    assert 0 < shrunk + n_emptied <= flagged

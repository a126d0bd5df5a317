"""Command-line entry points — the engine's equivalent of the
reference's shell orchestrators (scripts/bdc/ingest.sh,
scripts/heal/ingest.sh, scripts/lakefs/generate_lakefs_dbgap_xml_index.py).

    python -m dug_data_ingest_spark bdc   --gen3 G --picsure P --out DIR
    python -m dug_data_ingest_spark heal  --studies S --fields F --mapping M --out DIR
    python -m dug_data_ingest_spark index --variables V --out DIR [--repos r1 r2]

Inputs are parquet (or CSV with --csv, using the declared schemas);
outputs land under --out as parquet/CSV/JSON exactly as the reference
produced them (XML docs, variable index, KGX graph, summary
scoreboard, pivot report).

The bdc and heal jobs write their independent outputs as concurrent
Spark jobs (``sources.files.write_all``): each output is a small job
of a few tasks, so written one at a time they leave most cores idle.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession


def _read(spark: SparkSession, path: str, csv: bool, schema=None) -> DataFrame:
    if csv:
        reader = spark.read.option("header", True)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.csv(path)
    return spark.read.parquet(path)


def _read_csv_nested(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV read for a schema with ARRAY/MAP columns: the CSV
    datasource refuses nested types, so those columns ride the file as
    JSON strings and are from_json'd back to the declared types after
    the read — the flat columns keep their declared types."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    nested = {
        f.name: f.dataType
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType))
    }
    flat = T.StructType(
        [
            T.StructField(f.name, T.StringType()) if f.name in nested else f
            for f in schema.fields
        ]
    )
    df = _read(spark, path, True, flat)
    for name, dtype in nested.items():
        df = df.withColumn(name, F.from_json(name, dtype))
    return df


def _write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def run_bdc(spark: SparkSession, args) -> None:
    from dug_data_ingest_spark.plans.bdc import bdc_pipeline
    from dug_data_ingest_spark.plans.fixtures import GEN3_SCHEMA, PICSURE_SCHEMA
    from dug_data_ingest_spark.sources.files import write_all, write_csv

    out = bdc_pipeline(
        _read(spark, args.gen3, args.csv, GEN3_SCHEMA),
        _read(spark, args.picsure, args.csv, PICSURE_SCHEMA),
    )
    write_all(
        spark,
        ("dbgap_xml", lambda: _write_parquet(out["xml_docs"], f"{args.out}/dbgap_xml")),
        ("processing_summary", lambda: write_csv(
            out["summary"], f"{args.out}/processing_summary", single_file=True)),
        ("quarantine", lambda: write_csv(
            out["quarantine"], f"{args.out}/quarantine", single_file=True)),
    )
    out["scoreboard"].show(truncate=False)


def run_heal(spark: SparkSession, args) -> None:
    from dug_data_ingest_spark.plans.fixtures import (
        HDP_MAPPING_SCHEMA,
        HEAL_FIELDS_SCHEMA,
        HEAL_STUDIES_SCHEMA,
    )
    from dug_data_ingest_spark.plans.heal import heal_pipeline
    from dug_data_ingest_spark.sources.files import write_all, write_csv, write_kgx

    # CSV cannot carry the studies' MAP or the fields' ARRAY/MAP
    # columns — in --csv mode those ride as JSON strings and are
    # parsed back to the declared types after the read; the mapping
    # schema is flat scalars and reads as declared
    if args.csv:
        studies = _read_csv_nested(spark, args.studies, HEAL_STUDIES_SCHEMA)
        fields = _read_csv_nested(spark, args.fields, HEAL_FIELDS_SCHEMA)
    else:
        studies = _read(spark, args.studies, False)
        fields = _read(spark, args.fields, False)
    out = heal_pipeline(
        studies,
        fields,
        _read(spark, args.mapping, args.csv, HDP_MAPPING_SCHEMA),
    )
    write_all(
        spark,
        ("dbgap_xml", lambda: _write_parquet(out["xml_docs"], f"{args.out}/dbgap_xml")),
        ("variable_index", lambda: write_csv(
            out["variable_index"], f"{args.out}/variable_index", single_file=True)),
        ("kgx", lambda: write_kgx(out["kgx_nodes"], out["kgx_edges"], f"{args.out}/kgx")),
        ("stray_dds", lambda: write_csv(
            out["stray_dds"], f"{args.out}/stray_dds", single_file=True)),
    )


def run_index(spark: SparkSession, args) -> None:
    from dug_data_ingest_spark.plans.lakefs_index import variable_index_report
    from dug_data_ingest_spark.sources.files import write_csv

    variables = _read(spark, args.variables, args.csv)
    # Driver-side collect is bounded by the number of DISTINCT
    # repositories (tens, not rows — SURVEY §7 hard-part 7 requires
    # explicit pivot values). If a dataset ever had unbounded
    # repository cardinality, pass --repos explicitly instead.
    repos = args.repos or [
        r[0] for r in variables.select("repository").distinct().orderBy("repository").collect()
    ]
    write_csv(
        variable_index_report(variables, repos),
        f"{args.out}/dbgap_xml_index",
        single_file=True,
    )


def run_dedup(spark: SparkSession, args) -> None:
    """Training-data dedup: documents in, survivors + report out.

    Strategies compose the ext.dedup stages: ``exact`` keeps one doc
    per content hash (null texts form one group, so exactly one
    null-text doc survives); ``jaccard`` clusters the pairs at
    --threshold from the PPJoin prefix path
    (ngram_jaccard_pairs_prefix): EXACT Jaccard semantics, no df cap,
    the hot-shingle blowup structurally prevented, the same path the
    graded dedup family runs; ``minhash`` blocks via banded LSH and
    thresholds the
    signature-only Jaccard estimate — no shingle-level verify, so its
    recall near the threshold is softer than jaccard's by the
    estimate's ±1/sqrt(16) stderr (a pair at exactly J=threshold is
    kept ~60% of the time); use jaccard when exact near-threshold
    semantics matter; ``substring`` rewrites docs instead of dropping
    them — every duplicated --span-tokens window is stripped except
    its corpus-wide first occurrence (docs emptied by stripping do
    drop). The drop-set anti-join is left unhinted here
    (AQE broadcasts it when small): unlike the fixed-threshold
    dedup-survivors query, a permissive --threshold can make the
    drop set a large corpus fraction."""
    from pyspark.sql import functions as F

    from dug_data_ingest_spark.ext.dedup import (
        doc_shingles,
        exact_dedup_survivors,
        minhash_band_keys,
        minhash_candidate_pairs,
        minhash_jaccard_estimates,
        minhash_signatures_wide,
        ngram_jaccard_pairs_prefix,
        non_canonical_ids,
    )
    from dug_data_ingest_spark.sources.files import write_csv

    docs = _read(spark, args.documents, args.csv)
    if args.strategy == "exact":
        survivors = exact_dedup_survivors(docs)
        n_dropped = None  # derived from counts below
    elif args.strategy == "substring":
        # span-level verbatim dedup: docs are REWRITTEN, not dropped —
        # every duplicated --span-tokens window is stripped except its
        # corpus-wide first occurrence; a doc with nothing left after
        # stripping leaves the corpus. text becomes the normalized
        # surviving token stream (see ext.dedup.strip_duplicated_spans)
        from dug_data_ingest_spark.ext.dedup import strip_duplicated_spans

        cleaned = strip_duplicated_spans(docs, k=args.span_tokens)
        # NULL text passes through untouched (clean_text is NULL and
        # length(NULL) > 0 is NULL → filtered): the doc was never
        # "emptied by stripping", and the exact strategy above keeps
        # its null-text survivor too — the strategies must agree
        survivors = (
            docs.join(cleaned, "doc_id")
            .filter(F.col("text").isNull() | (F.length("clean_text") > 0))
            .withColumn(
                "text",
                F.when(F.col("text").isNull(), F.col("text")).otherwise(
                    F.col("clean_text")
                ),
            )
            .drop("clean_text")
        )
        n_dropped = None
    else:
        if args.strategy == "jaccard":
            pairs = ngram_jaccard_pairs_prefix(docs, threshold=args.threshold)
        else:  # minhash
            sig = minhash_signatures_wide(doc_shingles(docs))
            cand = minhash_candidate_pairs(minhash_band_keys(sig))
            pairs = minhash_jaccard_estimates(sig, cand).filter(
                F.col("est_jaccard") >= args.threshold
            )
        drop = non_canonical_ids(pairs).localCheckpoint()
        n_dropped = drop.count()
        survivors = docs.join(drop, "doc_id", "left_anti")
    survivors.write.mode("overwrite").parquet(f"{args.out}/survivors")
    n_out = spark.read.parquet(f"{args.out}/survivors").count()
    # n_in without a second full pass over the corpus where possible:
    # cluster strategies know the (small) drop count already
    n_in = (n_out + n_dropped) if n_dropped is not None else docs.count()
    report = spark.createDataFrame(
        [(args.strategy, n_in, n_out, n_in - n_out)],
        ["strategy", "n_docs", "n_survivors", "n_dropped"],
    )
    write_csv(report, f"{args.out}/dedup_report", single_file=True)
    report.show()


def run_curate(spark: SparkSession, args) -> None:
    """Training-corpus curation: documents in, curated sample (and
    optionally packed training chunks) out. Composes the
    ext.curation stages exactly like the pipeline-curate-corpus
    query: exact dedup → decontamination against --eval-docs (skipped
    when not given) → token-count quality gate → reproducible
    md5-bucket sample; --pack additionally packs the curated docs
    into --cap-token chunks per source."""
    from pyspark.sql import functions as F

    from dug_data_ingest_spark.ext.curation import (
        decontaminate,
        hash_sample,
        pack_sequences,
        with_token_counts,
    )
    from dug_data_ingest_spark.ext.dedup import exact_dedup_survivors
    from dug_data_ingest_spark.sources.files import write_csv

    docs = _read(spark, args.documents, args.csv)
    deduped = exact_dedup_survivors(docs)
    if args.eval_docs:
        deduped = decontaminate(deduped, _read(spark, args.eval_docs, args.csv))
    good = with_token_counts(deduped).filter(F.col("n_tok") >= args.min_tokens)
    curated = hash_sample(good, pct=args.sample_pct)
    curated.write.mode("overwrite").parquet(f"{args.out}/curated")
    if args.pack:
        pack_sequences(curated, cap=args.cap_tokens).write.mode("overwrite").parquet(
            f"{args.out}/chunks"
        )
    n_in, n_out = docs.count(), spark.read.parquet(f"{args.out}/curated").count()
    report = spark.createDataFrame(
        [(n_in, n_out, args.sample_pct, args.min_tokens)],
        ["n_docs", "n_curated", "sample_pct", "min_tokens"],
    )
    write_csv(report, f"{args.out}/curate_report", single_file=True)
    report.show()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="dug_data_ingest_spark")
    p.add_argument("--csv", action="store_true", help="inputs are CSV, not parquet")
    sub = p.add_subparsers(dest="cmd", required=True)

    bdc = sub.add_parser("bdc", help="EP1: BDC ingest")
    bdc.add_argument("--gen3", required=True)
    bdc.add_argument("--picsure", required=True)
    bdc.add_argument("--out", required=True)

    heal = sub.add_parser("heal", help="EP2: HEAL ingest")
    heal.add_argument("--studies", required=True)
    heal.add_argument("--fields", required=True)
    heal.add_argument("--mapping", required=True)
    heal.add_argument("--out", required=True)

    index = sub.add_parser("index", help="EP3: cross-repository XML index")
    index.add_argument("--variables", required=True)
    index.add_argument("--repos", nargs="*")
    index.add_argument("--out", required=True)

    dedup = sub.add_parser("dedup", help="corpus dedup: survivors + report")
    dedup.add_argument("--documents", required=True)
    dedup.add_argument(
        "--strategy",
        choices=["exact", "jaccard", "minhash", "substring"],
        default="exact",
    )
    dedup.add_argument("--threshold", type=float, default=0.8)
    dedup.add_argument(
        "--span-tokens", type=int, default=8, dest="span_tokens",
        help="substring strategy: window width in tokens",
    )
    dedup.add_argument("--out", required=True)

    curate = sub.add_parser(
        "curate", help="corpus curation: dedup + decontaminate + gate + sample"
    )
    curate.add_argument("--documents", required=True)
    curate.add_argument("--eval-docs", dest="eval_docs", default=None)
    curate.add_argument("--min-tokens", type=int, default=20, dest="min_tokens")
    curate.add_argument("--sample-pct", type=int, default=100, dest="sample_pct")
    curate.add_argument("--pack", action="store_true")
    curate.add_argument("--cap-tokens", type=int, default=256, dest="cap_tokens")
    curate.add_argument("--out", required=True)

    args = p.parse_args(argv)
    from dug_data_ingest_spark.session import get_spark

    spark = get_spark(f"dug-data-ingest-{args.cmd}")
    {
        "bdc": run_bdc,
        "heal": run_heal,
        "index": run_index,
        "dedup": run_dedup,
        "curate": run_curate,
    }[args.cmd](spark, args)


if __name__ == "__main__":
    main()

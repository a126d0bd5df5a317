"""File-format readers/writers: CSV, TSV, JSON docs, recursive
listings, partitioned parquet (SURVEY.md §2.1).

Contract notes vs the reference:
- CSV always reads with an explicit schema (the reference declared
  fieldnames by hand, e.g. scripts/bdc/get_bdc_studies_from_gen3.py:247-250;
  inferSchema is a 2× read and nondeterministic at scale).
- "one JSON document per file" study docs map to spark.read.json with
  input_file_name() carried as provenance.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, sep: str = ","
) -> DataFrame:
    """CSV/TSV with declared header & schema.

    Reference: ``csv.DictReader(f, dialect)``
    (scripts/bdc/get_dbgap_data_dicts.py:176-189; pandas variants at
    run_dbgap_xml_gen_fallback.py:68, xml_generator.py:19).
    """
    return (
        spark.read.option("header", True).option("sep", sep).schema(schema).csv(path)
    )


def write_csv(df: DataFrame, path: str, sep: str = ",", single_file: bool = False) -> None:
    """CSV with declared header.

    Reference: ``csv.DictWriter(...); writeheader()``
    (scripts/bdc/get_bdc_studies_from_gen3.py:242-256). ``coalesce(1)``
    only when the single-file contract genuinely matters (reports);
    sharded otherwise — a 100 TB output must not funnel through one task.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).option("sep", sep).csv(path)


def write_all(spark: SparkSession, *sinks: tuple[str, Callable[[], object]]) -> None:
    """Run a job's independent ``(name, write)`` sinks as concurrent
    Spark jobs and wait for all of them.

    A single sink of a small CLI job runs on about one task, so one
    sink at a time leaves most cores idle; submitted together, the
    scheduler fills the free cores with the other sinks' tasks. Each
    sink gets its own thread (the pool is exactly as wide as the sink
    list), wrapped separately by ``inheritable_thread_target`` so each
    thread owns a copy of the caller's local properties: its jobs keep
    the caller's job group and session tags, and run under the
    description ``"<caller description>: <name>"``.

    Every sink runs to completion; then the first failure, in list
    order, is re-raised unchanged.
    """
    from pyspark.util import inheritable_thread_target

    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")

    def thread_target(name: str, write: Callable[[], object]) -> Callable[[], None]:
        @inheritable_thread_target(spark)
        def run() -> None:
            sc.setLocalProperty(
                "spark.job.description", f"{caller}: {name}" if caller else name
            )
            write()

        return run

    targets = [thread_target(name, write) for name, write in sinks]
    with ThreadPoolExecutor(len(targets), thread_name_prefix="write_all") as pool:
        futures = [pool.submit(t) for t in targets]
    for f in futures:
        exc = f.exception()
        if exc is not None:
            raise exc


def read_json_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multi_line: bool = False,
    with_provenance: bool = True,
) -> DataFrame:
    """One-JSON-document-per-file study docs (or JSON-lines).

    Reference: ``json.load(f)`` per study file
    (scripts/heal/get_heal_platform_mds_data_dicts.py:286-287, 562-563).
    """
    reader = spark.read.option("multiLine", multi_line)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if with_provenance:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def read_recursive(
    spark: SparkSession,
    fmt: str,
    path: str,
    glob: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Recursive object-store listing with a (case-normalized) glob —
    the listing itself is distributed, unlike the reference's serial
    ``lakefs.ls`` walk.

    Reference: recursive walk + ``*.xml`` filter
    (scripts/lakefs/generate_lakefs_dbgap_xml_index.py:183-213).
    """
    reader = spark.read.format(fmt).option("recursiveFileLookup", True)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.load(path)


def write_kgx(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    """KGX knowledge-graph sink: the ``{nodes, edges}`` JSON document
    as two sharded JSON-lines datasets (nodes/, edges/).

    Reference: ``json.dump(make_kgx(nodes, edges), f)``
    (scripts/bdc/get_bdc_studies_from_gen3.py:258-265, 382-386;
    scripts/heal/get_heal_platform_mds_data_dicts.py:540-547). The
    reference holds the whole graph in driver memory; sharded
    JSON-lines keeps the sink distributed — a downstream consumer
    that needs the single-document form wraps the two directories.
    """
    write_all(
        nodes.sparkSession,
        ("nodes", lambda: nodes.write.mode("overwrite").json(f"{path}/nodes")),
        ("edges", lambda: edges.write.mode("overwrite").json(f"{path}/edges")),
    )


def write_partitioned(
    df: DataFrame, path: str, partition_by: str, commit_hook=None
) -> None:
    """Partitioned parquet write + optional post-write commit hook.

    Reference: one-LakeFS-repo-per-program fan-out + commit
    (scripts/bdc/ingest.sh:85-136). ``partitionBy`` gives dynamic
    partition pruning on read; the commit hook is where a LakeFS
    REST commit / Delta transaction would go.
    """
    df.write.mode("overwrite").partitionBy(partition_by).parquet(path)
    if commit_hook is not None:
        commit_hook(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed parquet table: rows are hash-distributed into
    ``n_buckets`` files by ``bucket_col`` at WRITE time, so a join or
    aggregation on that key later needs NO shuffle — the scan itself
    reports the hash distribution to the planner. The co-located-join
    answer for fact tables joined repeatedly on the same key
    (study_id/doc_id), where broadcast doesn't apply and per-query
    shuffles would dominate.

    Reference analogue: none (single-process pandas); this is the
    Spark-native replacement for the reference's one-directory-per-
    program file layout (scripts/bdc/ingest.sh:107-118).
    """
    writer = (
        df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)

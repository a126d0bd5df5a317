"""SURVEY.md §2.1 source/sink slugs bound to the testdata tables.

Each binding genuinely exercises the reader/writer (round-trip through
the scratch dir, or a fixture-replayed fetch stage) and then returns a
DataFrame whose DuckDB oracle reads the ORIGINAL parquet — so the
round-trip itself is what is verified.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.operators.joins import edge_gen
from dug_data_ingest_spark.queries import dec_money, load, query
from dug_data_ingest_spark.sources import scratch_dir
from dug_data_ingest_spark.sources.files import (
    read_csv,
    read_json_docs,
    read_recursive,
    write_csv,
    write_kgx,
    write_partitioned,
)
from dug_data_ingest_spark.sources.rest import (
    incremental_fetch,
    keyed_fetch,
    paginated_fetch,
    parquet_page_fetcher,
    _spark_schema_for,
)
from dug_data_ingest_spark.sources.xml_dbgap import (
    parse_data_tables,
    render_data_tables,
)

_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@query("src-csv", oracle="SELECT * FROM nation")
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("src-csv")
    write_csv(load(spark, sf_dir, "nation"), path, single_file=True)
    return read_csv(spark, path, _NATION_SCHEMA)


@query(
    "snk-csv",
    oracle="SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem",
)
def snk_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("snk-csv")
    df = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    write_csv(df, path, sep="\t")
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    return read_csv(spark, path, schema, sep="\t")


@query("src-json-doc", oracle="SELECT * FROM customer")
def src_json_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("src-json-doc")
    cust = load(spark, sf_dir, "customer")
    cust.write.mode("overwrite").json(path)
    return read_json_docs(
        spark, path, schema=cust.schema, with_provenance=False
    ).select(*cust.columns)


@query(
    "src-rest-paginated",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day
    FROM orders
    """,
)
def src_rest_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/orders.parquet"
    total = load(spark, sf_dir, "orders").count()
    fetched = paginated_fetch(
        spark,
        parquet_page_fetcher(path, ["o_orderkey"]),
        total=total,
        limit=1000,
        schema=_spark_schema_for(path),
    )
    return fetched.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )


@query("src-rest-keyed", oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer")
def src_rest_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/customer.parquet"
    keys = load(spark, sf_dir, "customer").select("c_custkey")

    def fetch_batch(batch: pd.DataFrame) -> pd.DataFrame:
        import pyarrow.parquet as pq

        pdf = pq.read_table(path, columns=["c_custkey", "c_name", "c_mktsegment"]).to_pandas()
        return pdf[pdf["c_custkey"].isin(set(batch["c_custkey"]))]

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return keyed_fetch(keys, fetch_batch, schema, partitions=8)


@query(
    "src-ftp-files",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey <= 5 THEN 'cached' ELSE 'downloaded' END AS method
    FROM supplier
    """,
)
def src_ftp_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/supplier.parquet"
    listing = load(spark, sf_dir, "supplier").select("s_suppkey")
    manifest = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 5)
        .select("s_suppkey", "s_name", F.lit("cached").alias("method"))
    )

    def fetch_batch(batch: pd.DataFrame) -> pd.DataFrame:
        import pyarrow.parquet as pq

        pdf = pq.read_table(path, columns=["s_suppkey", "s_name"]).to_pandas()
        pdf = pdf[pdf["s_suppkey"].isin(set(batch["s_suppkey"]))].copy()
        pdf["method"] = "downloaded"
        return pdf

    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("method", T.StringType()),
        ]
    )
    fetched = incremental_fetch(listing, manifest, "s_suppkey", fetch_batch, schema)
    return fetched.unionByName(manifest)


@query(
    "src-ftp-walk",
    # n_bytes replays the double's deterministic payload in closed
    # form: '<data_table study="phsNNNNNN"><name>' + s_name +
    # '</name></data_table>' = 56 fixed chars + the name (ASCII). If
    # the protocol walk — login/PASV, error_temp reconnect, nlst
    # filter, chunked retrbinary reassembly — dropped or corrupted
    # anything, filenames/rows/sizes would not match.
    oracle="""
    SELECT s_suppkey,
           concat('phs', lpad(CAST(s_suppkey AS VARCHAR), 6, '0'),
                  '.data_dict.xml') AS filename,
           'ftp' AS source,
           CAST(56 + length(s_name) AS BIGINT) AS n_bytes
    FROM supplier WHERE s_suppkey <= 8
    """,
)
def src_ftp_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-FTP protocol walk (sources/ftp.py) replayed through the
    in-process ftplib double (sources/ftp_fixture.py) INSIDE executors
    via the standard keyed fetch stage: one FTP connection per Arrow
    batch, cwd-with-reconnect (the double fires one error_temp per
    python worker, exercising the reconnect in the graded run), nlst
    name filtering, chunked retrbinary reassembly. Reference:
    scripts/bdc/get_dbgap_data_dicts.py:46-137; src-ftp-files keeps
    the HTTP-mirror/incremental-manifest half of that code path."""
    from dug_data_ingest_spark.sources.ftp import ftp_tree_fetcher
    from dug_data_ingest_spark.sources.ftp_fixture import parquet_ftp_factory

    keys = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 8)
        .select("s_suppkey")
    )
    fetch = ftp_tree_fetcher(
        "ftp.example.test",
        "/studies/phs{key:06d}/pheno_variable_summaries",
        "s_suppkey",
        "data_dict",
        ftp_factory=parquet_ftp_factory(
            f"{sf_dir}/supplier.parquet", timeout_first_cwd=True
        ),
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("filename", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return keyed_fetch(keys, fetch, schema).select(
        "s_suppkey", "filename", "source", "n_bytes"
    )


def _part_as_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → canonical VARIABLE_SCHEMA rows (study=brand, dd=type)."""
    return load(spark, sf_dir, "part").select(
        F.col("p_brand").alias("study_id"),
        F.col("p_type").alias("dd_id"),
        F.col("p_partkey").cast("string").alias("var_id"),
        F.col("p_name").alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit("encoded value").alias("type"),
        F.array(
            F.struct(
                F.col("p_size").cast("string").alias("code"),
                F.col("p_brand").alias("label"),
            )
        ).alias("values"),
    )


@query(
    "src-xml",
    oracle="""
    SELECT p_brand AS study_id, p_type AS dd_id,
           CAST(p_partkey AS VARCHAR) AS var_id, p_name AS name,
           CAST(p_size AS VARCHAR) AS first_code
    FROM part
    """,
)
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip: render part rows to <data_table> docs, parse
    back, flatten — parse(render(df)) == df (SURVEY §5)."""
    variables = _part_as_variables(spark, sf_dir)
    parsed = parse_data_tables(render_data_tables(variables))
    return parsed.select(
        "study_id",
        "dd_id",
        "var_id",
        "name",
        F.col("values").getItem(0).getField("code").alias("first_code"),
    )


@query(
    "snk-xml",
    oracle="""
    SELECT CAST(n_regionkey AS VARCHAR) AS dd_id, CAST(COUNT(*) AS BIGINT) AS n_vars
    FROM nation GROUP BY n_regionkey
    """,
)
def snk_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation").select(
        F.lit("nations").alias("study_id"),
        F.col("n_regionkey").cast("string").alias("dd_id"),
        F.col("n_nationkey").cast("string").alias("var_id"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.lit("string").alias("type"),
        F.lit(None)
        .cast("array<struct<code:string,label:string>>")
        .alias("values"),
    )
    docs = render_data_tables(nation)
    parsed = parse_data_tables(docs)
    return parsed.groupBy("dd_id").agg(F.count("*").alias("n_vars"))


@query("src-fs-recursive", oracle="SELECT * FROM region")
def src_fs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("src-fs-recursive")
    region = load(spark, sf_dir, "region")
    region.filter(F.col("r_regionkey") < 2).write.mode("overwrite").parquet(
        f"{base}/a/inner"
    )
    region.filter(F.col("r_regionkey") >= 2).write.mode("overwrite").parquet(
        f"{base}/b"
    )
    return read_recursive(
        spark, "parquet", base, glob="*.parquet", schema=region.schema
    )


@query(
    "snk-json-kgx",
    oracle="""
    SELECT 'CUST:' || CAST(o_custkey AS VARCHAR) AS subject,
           'biolink:related_to' AS predicate,
           'ORD:' || CAST(o_orderkey AS VARCHAR) AS object
    FROM orders
    """,
)
def snk_json_kgx(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("snk-json-kgx")
    cust = load(spark, sf_dir, "customer")
    nodes = cust.select(
        F.concat(F.lit("CUST:"), F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_name").alias("name"),
        F.array(F.lit("biolink:Study")).alias("categories"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.concat(F.lit("CUST:"), F.col("o_custkey").cast("string")).alias("subj"),
        F.concat(F.lit("ORD:"), F.col("o_orderkey").cast("string")).alias("obj"),
    )
    edges = edge_gen(orders, "subj", "obj")
    write_kgx(nodes, edges, path)
    schema = T.StructType(
        [
            T.StructField("subject", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("object", T.StringType()),
        ]
    )
    return read_json_docs(spark, f"{path}/edges", schema=schema, with_provenance=False)


@query(
    "snk-object-store",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def snk_object_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("snk-object-store")
    orders = load(spark, sf_dir, "orders")
    write_partitioned(orders, path, "o_orderstatus")
    # Partition-pruned read-back: only the o_orderstatus=O directory
    # is scanned (dynamic partition pruning at scale). The read takes
    # the written schema: an empty write leaves no part file to infer
    # one from.
    back = spark.read.schema(orders.schema).parquet(path).filter(
        F.col("o_orderstatus") == "O"
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )


# ---------------------------------------------------------------------------
# Delta-sync sink: the only-what-changed half of the reference's
# publish step (rclone sync --track-renames --no-update-modtime,
# scripts/bdc/ingest.sh:82; scripts/heal/ingest.sh:40-48), implemented
# as a content-hash manifest diff (sources/delta_sync.py). The graded
# scenario runs TWO real generations through delta_sync_write on the
# scratch store — generation 2 extends the date range (added months →
# upload), flips statuses in a BOUNDED set of months (changed months →
# upload), moves one month's identical bytes to an archive key
# (rename, zero bytes rewritten), and drops one month (delete) — and
# returns the second sync's action plan, which the oracle reproduces
# from the same two generations in pure SQL, rename pairing included.
# The mutation is deliberately confined to 1996-01..03: a delta sink's
# defining property is that untouched partitions cost nothing, so the
# graded scenario keeps most months on the keep path (the second
# sync rewrites ~3 changed + ~6 added partition dirs, not the whole
# store) while still exercising every action type at every SF.
# ---------------------------------------------------------------------------

# mirrors sources/delta_sync.py:row_content_hash — each column is
# length-prefixed and NULL-sentineled (<len>:<value> | '<NULL>') so
# the serialization is injective: NULLs can't shift later columns
# into earlier slots and separators inside values can't re-segment
# the row
_DS_COL = (
    "COALESCE(length(CAST({c} AS VARCHAR)) || ':' || CAST({c} AS VARCHAR),"
    " '<NULL>')"
)
_DS_HASH = (
    "CAST(concat('0x', substr(md5(concat_ws('|', "
    + ", ".join(
        _DS_COL.format(c=c)
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    + ")), 1, 15)) AS BIGINT)"
)
_DS_MANIFEST = (
    "SELECT k AS sync_key, COUNT(*) AS n_rows, "
    f"bit_xor({_DS_HASH}) AS content_hash, "
    f"CAST(SUM({_DS_HASH} % 1073741824) AS BIGINT) AS content_sum "
    "FROM {gen} GROUP BY k"
)

_DELTA_SYNC_ORACLE = f"""
WITH g1 AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS k, o_orderkey, o_custkey,
         o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
g2_base AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 0
                   AND strftime(o_orderdate, '%Y-%m')
                       IN ('1996-01', '1996-02', '1996-03')
              THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_orderpriority
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01'
),
g2 AS (
  SELECT CASE WHEN m = '1995-03' THEN 'archive-1995-03' ELSE m END AS k,
         o_orderkey, o_custkey, o_orderstatus, o_orderpriority
  FROM g2_base WHERE m <> '1995-01'
),
m1 AS ({_DS_MANIFEST.format(gen="g1")}),
m2 AS ({_DS_MANIFEST.format(gen="g2")}),
j AS (
  SELECT COALESCE(m1.sync_key, m2.sync_key) AS sync_key,
         m1.n_rows AS p_rows, m1.content_hash AS p_hash,
         m1.content_sum AS p_sum,
         m2.n_rows AS c_rows, m2.content_hash AS c_hash,
         m2.content_sum AS c_sum
  FROM m1 FULL JOIN m2 ON m1.sync_key = m2.sync_key
),
base AS (
  SELECT sync_key,
         CASE WHEN p_rows IS NULL THEN 'added'
              WHEN c_rows IS NULL THEN 'deleted'
              WHEN p_rows = c_rows AND p_hash = c_hash AND p_sum = c_sum
                   THEN 'keep'
              ELSE 'changed' END AS state,
         COALESCE(c_rows, p_rows) AS n_rows,
         COALESCE(c_hash, p_hash) AS content_hash,
         COALESCE(c_sum, p_sum) AS content_sum
  FROM j
),
adds AS (
  SELECT *, row_number() OVER (PARTITION BY n_rows, content_hash, content_sum
                               ORDER BY sync_key) AS rk
  FROM base WHERE state = 'added'
),
dels AS (
  SELECT *, row_number() OVER (PARTITION BY n_rows, content_hash, content_sum
                               ORDER BY sync_key) AS rk
  FROM base WHERE state = 'deleted'
),
ren AS (
  SELECT d.sync_key AS old_key, a.sync_key AS new_key
  FROM dels d JOIN adds a USING (n_rows, content_hash, content_sum, rk)
)
SELECT b.sync_key,
       CASE WHEN r1.new_key IS NOT NULL THEN 'rename'
            WHEN b.state IN ('added', 'changed') THEN 'upload'
            WHEN b.state = 'deleted' THEN 'delete'
            ELSE 'keep' END AS action,
       r1.new_key AS rename_to,
       b.n_rows
FROM base b
LEFT JOIN ren r1 ON b.sync_key = r1.old_key
LEFT JOIN ren r2 ON b.sync_key = r2.new_key
WHERE r2.new_key IS NULL
"""


def _delta_sync_generations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two publish generations of the graded scenario (see the
    oracle above for the exact SQL they mirror)."""
    orders = load(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    gen1 = orders.filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    ).select(
        month.alias("k"), "o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority",
    )
    gen2 = (
        orders.filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-07-01")))
        .select(
            month.alias("m"), "o_orderkey", "o_custkey",
            F.when(
                (F.col("o_orderkey") % 7 == 0)
                & month.isin("1996-01", "1996-02", "1996-03"),
                "X",
            ).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            "o_orderpriority",
        )
        .filter(F.col("m") != "1995-01")
        .select(
            F.when(F.col("m") == "1995-03", "archive-1995-03")
            .otherwise(F.col("m"))
            .alias("k"),
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        )
    )
    return gen1, gen2


@query("snk-delta-sync", oracle=_DELTA_SYNC_ORACLE)
def snk_delta_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dug_data_ingest_spark.sources.delta_sync import (
        ACTIONS_SCHEMA,
        delta_sync_write,
    )

    path = scratch_dir("snk-delta-sync")
    gen1, gen2 = _delta_sync_generations(spark, sf_dir)
    content = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    delta_sync_write(gen1, path, "k", content)  # initial publish
    _, actions = delta_sync_write(gen2, path, "k", content)
    # the action plan is key-cardinality bounded (the rclone file
    # list); materialized before the apply step mutated the store
    return spark.createDataFrame(actions, ACTIONS_SCHEMA)


@query(
    "src-dug-api",
    oracle="""
    SELECT doc_id AS collection_id, source AS collection_name,
           lang AS collection_action
    FROM documents WHERE source <> 'CDE' ORDER BY collection_id
    """,
)
def src_dug_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dug search-API pull: 3-field projection → TSV → grep -v
    placeholder → sort (scripts/dug/get_dug_data_dictionaries.sh:17-18)."""
    path = scratch_dir("src-dug-api")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("collection_id"),
        F.col("source").alias("collection_name"),
        F.col("lang").alias("collection_action"),
    )
    write_csv(docs, path, sep="\t", single_file=True)
    schema = T.StructType(
        [
            T.StructField("collection_id", T.LongType()),
            T.StructField("collection_name", T.StringType()),
            T.StructField("collection_action", T.StringType()),
        ]
    )
    back = read_csv(spark, path, schema, sep="\t")
    return back.filter(F.col("collection_name") != "CDE").orderBy("collection_id")


@query(
    "snk-xml-gapexchange",
    oracle="""
    SELECT 'phs' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS study_id,
           'phs' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') || '.v1.p1' AS accession,
           c_name AS study_name, c_mktsegment AS description,
           c_mktsegment AS program
    FROM customer
    """,
)
def snk_xml_gapexchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Study-level GaPExchange render + parse round-trip: the oracle
    sees the original study fields, so escaping and structure are
    value-checked through the XML."""
    from dug_data_ingest_spark.sources.xml_dbgap import (
        parse_gap_exchange,
        render_gap_exchange,
    )

    studies = _customer_as_studies(spark, sf_dir)
    return parse_gap_exchange(render_gap_exchange(studies))


def _customer_as_studies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("phs"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias("study_id"),
        F.concat(F.lit("phs"), F.lpad(F.col("c_custkey").cast("string"), 6, "0"), F.lit(".v1.p1")).alias("accession"),
        F.col("c_name").alias("study_name"),
        F.col("c_mktsegment").alias("description"),
        F.col("c_mktsegment").alias("program"),
    )


@query(
    "xml-modify-study-name",
    oracle="""
    SELECT 'phs' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS study_id,
           CASE WHEN c_custkey % 3 = 0 THEN 'Gen3 ' || c_name
                ELSE c_name END AS study_name,
           c_custkey % 3 = 0 AS modified
    FROM customer
    """,
)
def xml_modify_study_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GapExchange in-place study rename, reference parity for
    modify_gapexchange_study_name (scripts/bdc/get_dbgap_data_dicts.py:24-42):
    render real GaPExchange docs, rewrite StudyNameEntrez for the
    studies Gen3 renames (every 3rd customer here), then RE-PARSE the
    re-serialized XML — the oracle-checked study_name proves the edit
    survived a full serialize/parse cycle, and ``modified`` pins the
    reference's True/False contract. Since r13 the three Python stages
    run fused (rename_gap_exchange_roundtrip — same per-row helpers,
    one Arrow boundary crossing instead of six XML-string transfers)."""
    from dug_data_ingest_spark.sources.xml_dbgap import (
        rename_gap_exchange_roundtrip,
    )

    studies = _customer_as_studies(spark, sf_dir)
    renames = studies.filter(F.col("custkey") % 3 == 0).select(
        "study_id",
        F.concat(F.lit("Gen3 "), F.col("study_name")).alias("new_study_name"),
    )
    parsed = rename_gap_exchange_roundtrip(studies.drop("custkey"), renames)
    return parsed.select("study_id", "study_name", "modified")


@query(
    "snk-orc",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def snk_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + read-back round trip — the second columnar container
    Spark ships natively (predicate pushdown and column pruning work
    the same as parquet). The oracle sees the ORIGINAL table, so the
    write→read cycle is value-verified end to end."""
    path = scratch_dir("snk-orc")
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    supp.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "join-bucketed-colocated",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides written
    ``bucketBy(16, orderkey)`` into external tables, then sort-merge
    joined WITHOUT a shuffle — the storage-layout mechanism that
    turns the recurring fact ⋈ fact join at 100 TB from an
    every-query exchange of both tables into a one-time layout cost
    amortized across every downstream join on the same key.

    The write repartitions by the bucket key first (repartition and
    bucket spec share Murmur3, so each task holds exactly its
    bucket's rows → one file per bucket, preserving the sortBy
    order for a Sort-free read). The ``merge`` hint pins SMJ so the
    plan demonstrates the Exchange-free join even where AQE would
    broadcast the small side; the oracle checks values against the
    plain join. Plan shape pinned in
    tests/test_plan_shapes.py::test_bucketed_join_has_no_exchange.
    """
    tag = _sf_tag(sf_dir)
    base = scratch_dir(f"bucketed-{tag}", fresh=False)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    specs = [
        (f"sg_li_{tag}", li, "l_orderkey"),
        (f"sg_ord_{tag}", orders, "o_orderkey"),
    ]
    for name, df, key in specs:
        (
            df.repartition(16, F.col(key))
            .write.bucketBy(16, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    bli = spark.table(specs[0][0])
    bord = spark.table(specs[1][0])
    return (
        bli.join(bord.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            # dec_money: the ONE money-rendering convention (see
            # queries/__init__.py) — an inline copy here is exactly
            # the drift it exists to prevent
            F.round(F.sum(dec_money("l_extendedprice")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


def _sf_tag(sf_dir: str) -> str:
    """Filesystem-safe scratch/table tag for an sf_dir — ONE
    definition so the bucketed-table and partitioned-events scratch
    names can never drift apart (a one-sided change would silently
    collide the other's names across sf_dirs)."""
    return "".join(
        c if c.isalnum() else "_" for c in sf_dir.strip("/").split("/")[-1]
    )


_EVENTS_PARTITIONED_WRITTEN: set[str] = set()


def _events_partitioned(
    spark: SparkSession, sf_dir: str, name: str, memo: bool = False
) -> DataFrame:
    """Write events partitionBy(event_type) into a query-private
    scratch dir and read it back with the written schema (an empty
    write leaves no part file to infer one from). Each caller gets its OWN
    directory: a shared one would let a later query's overwrite delete
    the part files an earlier query's still-lazy DataFrame already
    listed (build-both-then-execute callers would crash on collect).
    Reuses the library writer so the partitioned-write idiom has one
    implementation.

    ``memo=True`` skips the rewrite when THIS process already wrote
    the path — for queries whose graded subject is the pruned READ
    (join-dpp-events), where re-laying the fixture table every
    invocation would dominate the timing with setup I/O (the same
    reason join-bucketed-colocated is excluded from bench.py
    entirely). The sink query keeps memo=False: its subject IS the
    write. A fresh process always rewrites, so stale scratch never
    outlives testdata changes."""
    tag = _sf_tag(sf_dir)
    path = scratch_dir(f"{name}-{tag}", fresh=False)
    events = load(spark, sf_dir, "events")
    if not (memo and path in _EVENTS_PARTITIONED_WRITTEN):
        write_partitioned(events, path, "event_type")
        _EVENTS_PARTITIONED_WRITTEN.add(path)
    return spark.read.schema(events.schema).parquet(path)


@query(
    "snk-partitioned-pruned",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE event_type IN ('purchase', 'click')
    GROUP BY event_type
    """,
)
def snk_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink + pruned read-back as a registered query: the
    events stream written ``partitionBy(event_type)`` (the reference's
    per-program fan-out idiom), then read back with a partition-column
    filter that must prune at the DIRECTORY level — the scan opens
    zero files of the other partitions (PartitionFilters, pinned in
    tests/test_plan_shapes.py). At 100 TB this is the difference
    between scanning two event types and scanning the firehose. The
    oracle reads the ORIGINAL table, so the write→prune→read cycle is
    value-verified end to end."""
    back = _events_partitioned(spark, sf_dir, "events-pruned-sink").filter(
        F.col("event_type").isin("purchase", "click")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "join-dpp-events",
    oracle="""
    WITH dim(event_type, label) AS (
      VALUES ('purchase', 'conversion'), ('click', 'traffic'),
             ('view', 'traffic'), ('signup', 'conversion'),
             ('error', 'ops')
    )
    SELECT e.event_type, COUNT(*) AS n_events
    FROM events e JOIN dim USING (event_type)
    WHERE label = 'conversion'
    GROUP BY e.event_type
    """,
)
def join_dpp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning as a registered query: the fact is
    partitioned on event_type, the selective predicate lives on the
    DIM side (label = 'conversion'), and the optimizer must inject a
    runtime ``dynamicpruning`` subquery into the fact scan's partition
    filters — the fact never learns the surviving keys until the dim
    filter runs, yet still skips the other partitions' directories
    entirely. Plan pinned in tests/test_plan_shapes.py."""
    fact = _events_partitioned(spark, sf_dir, "events-dpp-fact", memo=True)
    dim = spark.createDataFrame(
        [
            ("purchase", "conversion"),
            ("click", "traffic"),
            ("view", "traffic"),
            ("signup", "conversion"),
            ("error", "ops"),
        ],
        ["d_type", "label"],
    ).filter(F.col("label") == "conversion")
    return (
        fact.join(dim, fact.event_type == dim.d_type)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )

"""The three workloads: what one pass runs and how its outputs are checked.

- ``ingest``: the weekly CronJob end to end. One pass runs the BDC
  and HEAL CLI jobs, the cross-repository index over the XML both
  wrote, and a delta-sync load of that XML into a store kept for the
  run. Inputs come from the run seed; passes alternate between two
  input generations, so from the second pass on each load moves the
  same churn.
- ``corpus`` / ``analytics``: registry queries over generated tables,
  in a fixed order, each timed from its call until its sink completes.

An operation returns a short failure text when its output fails a
check, or ``None``; an operation that raises fails too.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
from argparse import Namespace

import duckdb

import datagen

TABLES = list(datagen.table_rows(0.1))

# Queries bound by driver-side jobs in ext/functions while the
# DataFrame is built (the corpus pipelines) ...
CORPUS = [
    "ccnet-curate",
    "dedup-cluster",
    "dedup-ngram-jaccard",
    "dedup-containment",
    "curate-dsir-resample",
    "curate-quality-classifier",
    "text-kn-lm-score",
    "sim-ivf-topk",
    "text-bm25-topk",
]
# ... and read-only queries whose work is operator and streaming
# shuffles at the sink.
ANALYTICS = [
    "olap-revenue-by-nation",
    "olap-top-orders",
    "olap-revenue-forecast",
    "join-gen3-picsure",
    "agg-group-by-key-files",
    "win-uniquify-id",
    "stream-session-window",
    "sort-jq",
]

# The registry workloads read one fixed dataset, so a query's oracle
# check holds for every run seed.
DATA_SEED = 42
# Studies per repository in one ingest input generation.
STUDIES = 60

# Modular fingerprint: row count plus the sum of 64-bit row hashes
# reduced modulo a prime, so the sum never overflows ANSI arithmetic.
_FP_PRIME = 1_000_000_007


def _quiet():
    """The CLI jobs print their scoreboards; keep stdout for the result."""
    return contextlib.redirect_stdout(io.StringIO())


class RegistryWorkload:
    """Registry queries over the generated tables: the star schema at
    ``sf`` and the documents/embeddings corpus at ``corpus_sf``."""

    sink = "observe+noop"

    def __init__(self, name, spark, work, slugs, sf, corpus_sf, cache):
        self.name = name
        self.spark = spark
        self.data_dir = os.path.join(work, "data")
        self.slugs = list(slugs)
        self.sf = sf
        self.corpus_sf = corpus_sf
        self.cache = cache
        self.fingerprints: dict[str, tuple[int, int]] = {}
        self.rows: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        self.rows = datagen.write_tables(
            self.data_dir, self.sf, DATA_SEED, self.corpus_sf
        )
        self.inputs = [os.path.join(self.data_dir, f"{t}.parquet") for t in self.rows]
        from dug_data_ingest_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        self.oracles = all_oracles()
        key = f"{self.cache.revision} sf={self.sf} corpus_sf={self.corpus_sf} data_seed={DATA_SEED}"
        self.cache_key = key
        self.verified = self.cache.get(key)

    def input_rows(self) -> int:
        """Rows of every table each query's oracle reads, summed over a pass."""
        total = 0
        for slug in self.slugs:
            sql = self.oracles[slug]
            total += sum(
                n for t, n in self.rows.items() if re.search(rf"\b{t}\b", sql)
            )
        return total

    # -- one pass -------------------------------------------------------------
    def ops(self, pass_no: int) -> list[tuple[str, object]]:
        # a fixed order: in a cold pass the first query to use a code
        # path pays its compilation, so a seeded order would move cost
        # between queries from run to run
        return [(slug, self._op(slug)) for slug in self.slugs]

    def _op(self, slug):
        def run(tracer):
            with tracer.span("construct"):
                df = self.queries[slug](self.spark, self.data_dir)
            with tracer.span("action"):
                fp = fingerprint(df)
            ref = self.fingerprints.setdefault(slug, fp)
            if fp != ref:
                return f"fingerprint {fp} != first pass {ref}"
            if slug in self.verified and tuple(self.verified[slug]) != fp:
                return f"fingerprint {fp} != oracle-verified {self.verified[slug]}"
            return None

        return run

    def after_pass(self, pass_no: int) -> dict[str, str]:
        return {}

    # -- oracle ---------------------------------------------------------------
    def verify(self) -> dict[str, str]:
        """Compare, once per code revision and dataset, each query's full
        result against its DuckDB oracle, and remember the fingerprint
        it had; later runs compare every pass with that fingerprint."""
        todo = [s for s in self.slugs if s not in self.verified and s in self.fingerprints]
        failures = {}
        if not todo:
            return failures
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for slug in todo:
                spark_pdf = self.queries[slug](self.spark, self.data_dir).toPandas()
                duck_pdf = con.sql(self.oracles[slug]).df()
                problem = frames_differ(spark_pdf, duck_pdf)
                if problem:
                    failures[slug] = f"oracle mismatch: {problem}"
                else:
                    self.verified[slug] = list(self.fingerprints[slug])
        finally:
            con.close()
        self.cache.put(self.cache_key, self.verified)
        return failures


class VerifiedCache:
    """Oracle-verified fingerprints, kept in the checkout between runs
    and keyed by the code revision and the dataset."""

    def __init__(self, path: str, revision: str) -> None:
        self.path = path
        self.revision = revision

    def _load(self) -> dict:
        try:
            with open(self.path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def get(self, key: str) -> dict:
        return dict(self._load().get(key, {}))

    def put(self, key: str, value: dict) -> None:
        data = self._load()
        data[key] = value
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(data, fh)
        os.replace(tmp, self.path)


def _normalised(col, dtype):
    """Hashable form of a column: floating values rounded to float32 so
    summation-order noise in the last bits of a double does not change
    the fingerprint."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return col.cast("float")
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(col, lambda x: x.cast("float"))
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[_normalised(col.getField(f.name), f.dataType).alias(f.name) for f in dtype.fields]
        )
    return col


def fingerprint(df) -> tuple[int, int]:
    """The timed sink: every output column is hashed into an observed
    aggregate while a no-op write materialises the whole result, so
    neither column pruning nor a dropped sort can hide work."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [_normalised(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_FP_PRIME))).alias("h"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)


def _norm_cell(v):
    import decimal
    import math

    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        return repr([_norm_cell(x) for x in v.tolist()])
    if isinstance(v, (list, tuple)):
        return repr([_norm_cell(x) for x in v])
    if isinstance(v, dict):
        return repr(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def frames_differ(spark_pdf, duck_pdf) -> str | None:
    """Order-insensitive multiset compare of two result frames with the
    repository's oracle convention: columns by name, floats to six
    decimals (within a relative 1e-6 where rounding lands apart)."""
    import pandas as pd

    cols = sorted(spark_pdf.columns)
    if cols != sorted(duck_pdf.columns):
        return f"columns {cols} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"

    def rows(pdf):
        pdf = pdf[cols].astype(object)
        pdf = pdf.where(pd.notna(pdf), None)
        return sorted(
            (tuple(_norm_cell(v) for v in r) for r in pdf.itertuples(index=False)),
            key=repr,
        )

    for a, b in zip(rows(spark_pdf), rows(duck_pdf)):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"first differing row {a!r} vs {b!r}"
    return None


class IngestWorkload:
    """BDC + HEAL ingest, index and delta-sync load, on two seeded
    input generations that alternate pass by pass."""

    sink = "files"

    def __init__(self, name, spark, work, seed):
        self.name = name
        self.spark = spark
        self.work = work
        self.seed = seed
        self.store = os.path.join(work, "store")
        self.out = os.path.join(work, "out")
        self.rows: dict[str, int] = {}
        self.expect: list[dict[str, int]] = []
        self.stats: dict | None = None

    def _gen_dir(self, g: int) -> str:
        return os.path.join(self.work, f"inputs{g}")

    def prepare(self) -> None:
        self.rows = {}
        self.inputs = []
        self.expect = []
        for g in (0, 1):
            rows = datagen.write_ingest_inputs(
                self._gen_dir(g), 2 * self.seed + g, STUDIES, STUDIES
            )
            for t, n in rows.items():
                self.rows[f"{t}.gen{g}"] = n
                self.inputs.append(os.path.join(self._gen_dir(g), t))
            self.expect.append(self._expected(g))

    def input_rows(self) -> int:
        return sum(self.rows.values()) // 2

    def _expected(self, g: int) -> dict[str, int]:
        """What a correct pass produces on generation ``g``, computed
        from the inputs alone with DuckDB."""
        d = self._gen_dir(g)
        con = duckdb.connect()
        try:
            for t in datagen.INGEST_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}/*.parquet'")
            one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
            con.execute("""
                CREATE VIEW valid AS SELECT split_part("Accession", '.', 1) AS study_id
                FROM gen3
                WHERE trim(coalesce("Accession", '')) <> ''
                  AND trim(coalesce("Study Name", '')) <> ''
                  AND trim(coalesce("Description", '')) <> ''
                  AND regexp_matches("Accession", '^phs[0-9]+')""")
            con.execute("""
                CREATE VIEW rendered AS SELECT c.study_id, c."dtId" AS dd_id
                FROM (SELECT split_part("studyId", '.', 1) AS study_id, "dtId"
                      FROM picsure
                      WHERE "studyId" IS NOT NULL AND "dtId" IS NOT NULL
                        AND "varId" IS NOT NULL AND derived_var_name IS NOT NULL
                        AND description IS NOT NULL AND starts_with("varId", 'phv')) c
                JOIN valid v USING (study_id)""")
            return {
                "gen3": one("SELECT count(*) FROM gen3"),
                "valid": one("SELECT count(*) FROM valid"),
                "bdc_vars": one("SELECT count(*) FROM rendered"),
                "bdc_docs": one("SELECT count(DISTINCT (study_id, dd_id)) FROM rendered"),
                "bdc_success": one("SELECT count(DISTINCT study_id) FROM rendered"),
                "heal_vars": one("SELECT count(*) FROM heal_fields"),
                "heal_docs": one("SELECT count(DISTINCT (hdp_id, dd_id)) FROM heal_fields"),
                "heal_studies": one("SELECT count(DISTINCT hdp_id) FROM heal_fields"),
            }
        finally:
            con.close()

    # -- one pass -------------------------------------------------------------
    def ops(self, pass_no: int) -> list[tuple[str, object]]:
        g = pass_no % 2
        d = self._gen_dir(g)
        bdc = Namespace(
            gen3=f"{d}/gen3", picsure=f"{d}/picsure", csv=False, out=f"{self.out}/bdc"
        )
        heal = Namespace(
            studies=f"{d}/heal_studies", fields=f"{d}/heal_fields",
            mapping=f"{d}/mapping", csv=False, out=f"{self.out}/heal",
        )
        index = Namespace(
            variables=f"{self.out}/variables", repos=None, csv=False,
            out=f"{self.out}/index",
        )
        self.generation = g
        return [
            ("bdc", lambda tracer: self._cli("run_bdc", bdc)),
            ("heal", lambda tracer: self._cli("run_heal", heal)),
            ("index", lambda tracer: self._index(index)),
            ("load", lambda tracer: self._load()),
        ]

    def _cli(self, job: str, args: Namespace) -> None:
        from dug_data_ingest_spark import cli

        with _quiet():
            getattr(cli, job)(self.spark, args)

    def _xml_docs(self):
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        return read(f"{self.out}/bdc/dbgap_xml").withColumn(
            "repository", F.lit("BDC")
        ).unionByName(
            read(f"{self.out}/heal/dbgap_xml").withColumn("repository", F.lit("HEAL"))
        )

    def _index(self, args: Namespace) -> None:
        """Parse back the XML both jobs wrote, tagged by repository,
        and run the cross-repository index job over it."""
        from pyspark.sql import functions as F

        from dug_data_ingest_spark.sources import xml_dbgap

        read = self.spark.read.parquet
        parsed = [
            xml_dbgap.parse_data_tables(read(f"{self.out}/{repo.lower()}/dbgap_xml"))
            .withColumn("repository", F.lit(repo))
            for repo in ("BDC", "HEAL")
        ]
        variables = parsed[0].unionByName(parsed[1]).select(
            "study_id", "repository", "dd_id", F.col("type").alias("section"), "var_id"
        )
        variables.write.mode("overwrite").parquet(args.variables)
        self._cli("run_index", args)

    def _load(self) -> None:
        from dug_data_ingest_spark.sources import delta_sync

        self.stats, _ = delta_sync.delta_sync_write(
            self._xml_docs(), self.store, "study_id", ["dd_id", "repository", "xml"]
        )

    # -- checks ---------------------------------------------------------------
    def after_pass(self, pass_no: int) -> dict[str, str]:
        """Reconciliation invariants of the pass's outputs, read back
        with DuckDB and compared with what the inputs imply; returns
        failure text per operation name."""
        e = self.expect[pass_no % 2]
        o = self.out
        csv = "read_csv('{}/*.csv', header=true, all_varchar=true)"
        summary = csv.format(f"{o}/bdc/processing_summary")
        bdc_xml = f"'{o}/bdc/dbgap_xml/*.parquet'"
        keys = e["bdc_success"] + e["heal_studies"]

        def bdc(one, ids):
            n_summary = one(f"SELECT count(*) FROM {summary}")
            n_quar = one(f"SELECT count(*) FROM {csv.format(f'{o}/bdc/quarantine')}")
            success = ids(f"SELECT study_id FROM {summary} WHERE status = 'SUCCESS'")
            yield n_summary + n_quar == e["gen3"], "valid + quarantine != input rows"
            yield n_summary == e["valid"], "summary rows != valid studies"
            yield success == ids(f"SELECT study_id FROM {bdc_xml}"), (
                "SUCCESS studies != XML study ids")
            yield len(success) == e["bdc_success"], "SUCCESS studies != expected"
            yield one(f"SELECT count(*) FROM {bdc_xml}") == e["bdc_docs"], (
                "XML docs != expected")

        def heal(one, ids):
            vi = one(f"SELECT count(*) FROM {csv.format(f'{o}/heal/variable_index')}")
            yield vi == e["heal_vars"], "variable index rows != field rows"
            yield one(f"SELECT count(*) FROM '{o}/heal/dbgap_xml/*.parquet'") == (
                e["heal_docs"]), "XML docs != expected"

        def index(one, ids):
            parsed = f"'{o}/variables/*.parquet'"
            for repo, want in (("BDC", e["bdc_vars"]), ("HEAL", e["heal_vars"])):
                got = one(f"SELECT count(*) FROM {parsed} WHERE repository = '{repo}'")
                yield got == want, f"parsed {repo} variables != rendered"
            report = one(f"SELECT count(*) FROM {csv.format(f'{o}/index/dbgap_xml_index')}")
            yield report == keys, "index report rows != studies"

        def load(one, ids):
            s = self.stats or {}
            synced = s.get("upload", 0) + s.get("rename", 0) + s.get("keep", 0)
            yield synced == keys, "delta-sync stats do not sum to the keys synced"

        fails = {}
        con = duckdb.connect()
        try:
            one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
            ids = lambda sql: {r[0] for r in con.sql(sql).fetchall()}  # noqa: E731
            for op, checks in (("bdc", bdc), ("heal", heal), ("index", index), ("load", load)):
                try:
                    bad = [what for ok, what in checks(one, ids) if not ok]
                except duckdb.Error as exc:
                    bad = [f"outputs unreadable: {exc}"]
                if bad:
                    fails[op] = "; ".join(bad)
        finally:
            con.close()
        return fails

    def changed_share(self) -> float:
        s = self.stats or {}
        synced = s.get("upload", 0) + s.get("rename", 0) + s.get("keep", 0)
        return (s.get("upload", 0) + s.get("rename", 0)) / synced if synced else 0.0

    def verify(self) -> dict[str, str]:
        """Ingest outputs are checked after every pass (``after_pass``)."""
        return {}


def make(name: str, spark, work: str, seed: int, cache: VerifiedCache):
    if name == "ingest":
        return IngestWorkload(name, spark, work, seed)
    if name == "corpus":
        # the corpus queries are bound by driver-side jobs, not rows:
        # 500 documents keep a pass short without changing that
        return RegistryWorkload(name, spark, work, CORPUS, 0.01, 0.01, cache)
    return RegistryWorkload(name, spark, work, ANALYTICS, 0.1, 0.01, cache)

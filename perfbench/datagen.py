"""Seeded synthetic inputs for the benchmark.

Two families of inputs:

- ``write_tables``: the star-schema tables the query registry reads
  (region nation customer supplier part orders lineitem events
  documents embeddings), one parquet file each, with the column names,
  Arrow types and value shapes of the registry's test tables at the
  given scale factor.
- ``write_ingest_inputs``: the reference-shaped ingest inputs (Gen3
  studies, PicSure variables, HEAL studies/fields, HDP mapping) built
  by the package's own ``plans.fixtures`` generators, written to
  parquet once per input generation.

Everything is a pure function of the seed; no network, no clock.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr", "zh", "en", "en"]

_US_PER_DAY = 86_400 * 1_000_000


def _days(date: str) -> int:
    return int(np.datetime64(date, "D").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return _ts(days * _US_PER_DAY)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


def table_rows(sf: float, corpus_sf: float | None = None) -> dict[str, int]:
    """Row count per table at scale factor ``sf``; ``corpus_sf`` scales
    documents and embeddings on their own."""
    csf = sf if corpus_sf is None else corpus_sf
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * csf)),
        "embeddings": max(500, int(20_000 * csf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts over a 30-word vocabulary; 5% of docs copy an earlier doc
    with a ' dup' suffix, so near-duplicate detectors have work."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(0.0, 0.05, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) / np.sqrt(dim) + centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def write_tables(
    out_dir: str, sf: float, seed: int, corpus_sf: float | None = None
) -> dict[str, int]:
    """Write every registry table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(sf, corpus_sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)]
            ),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    start = _days("2024-01-01") * _US_PER_DAY
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(100, int(15_000 * sf)), ne, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return {
        name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }


# The ingest inputs: (fixture function, scale argument, seed base,
# output name). Seeds differ per table so a generation's tables are
# independent draws; the two generations of one run differ in every
# seeded choice (variable counts, versions, consents).
INGEST_TABLES = {
    "gen3": ("gen3_studies", "bdc_studies", 7),
    "picsure": ("picsure_variables", "bdc_studies", 11),
    "heal_studies": ("heal_studies", "heal_studies", 13),
    "heal_fields": ("heal_fields", "heal_studies", 17),
    "mapping": ("hdp_mapping", "heal_studies", 19),
}


class _Rows:
    """Stands in for a session: ``createDataFrame`` hands back the rows
    and schema, so the fixture generators run without Spark."""

    def createDataFrame(self, rows, schema):  # noqa: N802 — session API name
        return rows, schema


def _arrow_type(dtype) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        return pa.list_(_arrow_type(dtype.elementType))
    if isinstance(dtype, T.MapType):
        return pa.map_(_arrow_type(dtype.keyType), _arrow_type(dtype.valueType))
    return {
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DoubleType: pa.float64(),
        T.IntegerType: pa.int32(),
    }[type(dtype)]


def _arrow_value(v):
    return list(v.items()) if isinstance(v, dict) else v


def write_ingest_inputs(
    out_dir: str, seed: int, bdc_studies: int, heal_studies: int
) -> dict[str, int]:
    """One input generation of the BDC + HEAL ingest, as parquet
    directories (one file each) in the declared fixture schemas."""
    from dug_data_ingest_spark.plans import fixtures

    sizes = {"bdc_studies": bdc_studies, "heal_studies": heal_studies}
    rows = {}
    for name, (fn, size, base) in INGEST_TABLES.items():
        data, schema = getattr(fixtures, fn)(_Rows(), sizes[size], seed=base + 1000 * seed)
        columns = {
            f.name: pa.array([_arrow_value(r[i]) for r in data], type=_arrow_type(f.dataType))
            for i, f in enumerate(schema.fields)
        }
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        rows[name] = _write(pa.table(columns), os.path.join(out_dir, name, "part-0.parquet"))
    return rows

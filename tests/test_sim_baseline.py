"""The retired cosine-top-k codegen baseline
(queries/extensions.py:sim_topk_bruteforce) stays correct even though
it left the registry in round 7: it graded the identical query/oracle
pair as sim-topk-arrow (one registry slot per logical query), but it
remains the narrow-vector comparison point against the Arrow scorer,
the truth side of sim-ivf-recall, and a scale_smoke workload — so it
keeps its own oracle parity here."""

from __future__ import annotations

import duckdb

from dug_data_ingest_spark.queries.extensions import (
    _RETIRED_TOPK_BRUTEFORCE_ORACLE,
    sim_topk_bruteforce,
)
from tests.conftest import TEST_SF_DIR


def _norm(df):
    cols = sorted(df.columns)
    return sorted(map(repr, df[cols].itertuples(index=False, name=None)))


def test_retired_bruteforce_still_matches_its_oracle(spark):
    sp = sim_topk_bruteforce(spark, TEST_SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{TEST_SF_DIR}/embeddings.parquet'"
    )
    du = con.sql(_RETIRED_TOPK_BRUTEFORCE_ORACLE).df()
    assert len(sp) == 10
    assert _norm(sp) == _norm(du)


def test_retired_bruteforce_not_in_registry():
    from dug_data_ingest_spark.queries import all_oracles, all_queries

    assert "sim-topk-bruteforce" not in all_queries()
    assert "sim-topk-bruteforce" not in all_oracles()
    # the surviving slug of the identical-oracle pair
    assert "sim-topk-arrow" in all_queries()


def test_arrow_and_codegen_scorers_agree(spark):
    # the two physical strategies must stay value-identical — the
    # controlled comparison the retirement decision rests on
    from dug_data_ingest_spark.queries import all_queries

    arrow = all_queries()["sim-topk-arrow"](spark, TEST_SF_DIR).toPandas()
    codegen = sim_topk_bruteforce(spark, TEST_SF_DIR).toPandas()
    assert _norm(arrow) == _norm(codegen)


def test_zero_norm_vector_ranks_last_in_both_scorers(spark):
    # an all-zero embedding has no defined cosine: the codegen path's
    # try_divide yields NULL; the Arrow scorer must yield NULL too —
    # a NaN would sort ABOVE every real score and win rank 1
    from dug_data_ingest_spark.ext.similarity import (
        topk_arrow,
        topk_bruteforce,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),  # corrupted row
        (3, [0.6, 0.8]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for fn in (topk_bruteforce, topk_arrow):
        got = fn(emb, [1.0, 0.0], k=2).collect()
        assert [r.vec_id for r in got] == [1, 3], (fn.__name__, got)

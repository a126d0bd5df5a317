"""An empty embeddings table is a defined input for the similarity
slugs: those that search with the vec_id = 0 query row raise a typed
ValueError naming that row instead of failing on ``None[0]``; the
recall gauges match their oracle's (0, 0, NULL) row instead of raising
a divide-by-zero; and the batch search over an empty query set matches
its oracle's empty result. The learned-cell slugs fit no centroids
on an empty corpus and match their oracles too: an empty population
table, and dedup-semantic's (0, true, true, true) property row."""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from dug_data_ingest_spark.queries import all_oracles, all_queries
from tests.conftest import TEST_SF_DIR, assert_frames_match


@pytest.fixture
def empty_dir(tmp_path):
    schema = pq.read_schema(f"{TEST_SF_DIR}/embeddings.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "embeddings.parquet")
    return tmp_path


@pytest.mark.parametrize("slug", ["sim-ivf-topk", "sim-hard-negatives"])
def test_empty_embeddings_raise_typed_error(spark, empty_dir, slug):
    with pytest.raises(ValueError, match="vec_id = 0"):
        all_queries()[slug](spark, str(empty_dir))


def _oracle_rows(spark, empty_dir, slug):
    df = all_queries()[slug](spark, str(empty_dir))
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{empty_dir}/embeddings.parquet'"
        )
        assert_frames_match(df, con.sql(all_oracles()[slug]), slug)
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("slug", ["sim-lsh-recall", "sim-lsh-recall-banded"])
def test_empty_embeddings_recall_matches_oracle(spark, empty_dir, slug):
    assert _oracle_rows(spark, empty_dir, slug) == [(0, 0, None)]


def test_empty_embeddings_multiquery_matches_oracle(spark, empty_dir):
    # no query rows: the folded query set is a typed empty array, not
    # array<void> (whose q.qid extract cannot resolve)
    assert _oracle_rows(spark, empty_dir, "sim-topk-multiquery") == []


@pytest.mark.parametrize(
    "slug, rows",
    [("sim-kmeans-cells", []), ("dedup-semantic", [(0, True, True, True)])],
)
def test_empty_embeddings_learned_cells_match_oracle(spark, empty_dir, slug, rows):
    assert _oracle_rows(spark, empty_dir, slug) == rows

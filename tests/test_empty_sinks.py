"""An empty write is a defined input for the sink round-trips: the
partitioned write of a 0-row table leaves no part file to infer a
schema from, so each query reads back with the schema it wrote and
matches its oracle's empty result instead of raising
UNABLE_TO_INFER_SCHEMA."""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from dug_data_ingest_spark.queries import all_oracles, all_queries
from tests.conftest import TEST_SF_DIR, assert_frames_match

TABLES = ("orders", "events")


@pytest.fixture
def empty_dir(tmp_path):
    for t in TABLES:
        schema = pq.read_schema(f"{TEST_SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), tmp_path / f"{t}.parquet")
    return tmp_path


@pytest.mark.parametrize(
    "slug", ["snk-object-store", "snk-partitioned-pruned", "join-dpp-events"]
)
def test_empty_partitioned_write_matches_oracle(spark, empty_dir, slug):
    df = all_queries()[slug](spark, str(empty_dir))
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'")
        assert_frames_match(df, con.sql(all_oracles()[slug]), slug)
    assert df.count() == 0

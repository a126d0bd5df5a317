"""An empty embeddings table has no vec_id = 0 query row: the
similarity slugs that search with it raise a typed ValueError naming
that row instead of failing on ``None[0]``."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from dug_data_ingest_spark.queries import all_queries
from tests.conftest import TEST_SF_DIR


@pytest.mark.parametrize("slug", ["sim-ivf-topk", "sim-hard-negatives"])
def test_empty_embeddings_raise_typed_error(spark, tmp_path, slug):
    schema = pq.read_schema(f"{TEST_SF_DIR}/embeddings.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "embeddings.parquet")
    with pytest.raises(ValueError, match="vec_id = 0"):
        all_queries()[slug](spark, str(tmp_path))

"""Oracle parity for every query built on the sketch kernel
(functions/sketches.py): HyperLogLog registers, Count-Min cells and the
packed-word Bloom filter. Each query's rows equal its DuckDB oracle's at
sf0.001 by the verify_local comparison (rows sorted, exact values), so a
change to a shared recipe is caught in every query that uses it.
"""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE as SF
from data_ingestion_din_spark.plans import ORACLES, QUERIES

SKETCH_QUERIES = [
    "events_hll_distinct",
    "events_hll_precision_grid",
    "events_hll_sliding_merge",
    "streaming_hll_registers",
    "dq_completeness_hll_ab",
    "corpus_cms_heavy_hitters",
    "corpus_cms_width_grid",
    "streaming_cms_maintenance",
    "corpus_bloom_decontaminate",
    "streaming_bloom_gate",
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", SKETCH_QUERIES)
def test_sketch_query_matches_oracle(spark, duck, name):
    from scripts.verify_local import compare

    problems = compare(
        name,
        QUERIES[name](spark, SF).toPandas(),
        duck.execute(ORACLES[name]).fetchdf(),
    )
    assert not problems, problems

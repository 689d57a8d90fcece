"""Oracle parity for the six frozen-model admission gates and the batch
queries whose train and score code they call (the curation stages, the
quality classifier, DSIR, the temperature mixture, BPE training and the
bigram perplexity LM). Each query's rows equal its DuckDB oracle's at
sf0.001 by the verify_local comparison (rows sorted, exact values), so
a change to a shared recipe is caught on both the batch and the
at-ingest side.
"""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE as SF
from data_ingestion_din_spark.plans import ORACLES, QUERIES

TWIN_QUERIES = [
    "corpus_curation",
    "corpus_curation_funnel",
    "streaming_curation_funnel",
    "doc_quality_classifier",
    "streaming_quality_gate",
    "corpus_dsir_select",
    "streaming_dsir_gate",
    "corpus_temperature_mixture",
    "streaming_tmix_gate",
    "corpus_bpe_train",
    "streaming_bpe_gate",
    "doc_ngram_perplexity",
    "streaming_ppl_gate",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    return con


@pytest.mark.parametrize("name", TWIN_QUERIES)
def test_gate_twin_matches_oracle(spark, duck, name):
    from scripts.verify_local import compare

    problems = compare(
        name,
        QUERIES[name](spark, SF).toPandas(),
        duck.execute(ORACLES[name]).fetchdf(),
    )
    assert not problems, problems

"""Smoke tests: every registered query runs at sf0.001 and returns a
stable, non-degenerate result. (Full oracle parity runs in
scripts/verify_local.py at sf0.01 — this is the fast gate.)"""

from __future__ import annotations

import pytest

from data_ingestion_din_spark.plans import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"

EXPECT_NONEMPTY = {
    "q1_pricing_summary",
    "top_customers_per_nation",
    "customer_running_revenue",
    "late_shipment_orders",
    "q4_order_priority",
    "nation_customer_rollup",
    "segment_median_order",
    "events_tumbling_5min",
    "events_sessionized",
    "events_json_props",
    "doc_token_stats",
    "doc_fixed_chunks",
    "corpus_word_freq",
    "dedup_exact",
    "minhash_signatures",
    "similarity_topk",
    "embedding_label_centroids",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF)
    n = df.count()
    assert n >= 0
    if name in EXPECT_NONEMPTY:
        assert n > 0, f"{name} unexpectedly empty at sf0.001"


def test_every_oracle_has_a_query():
    assert set(ORACLES) == set(QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(E.oracle_sql()) <= set(E.queries())


def test_qna_best_match_seq_golden_vs_difflib(spark):
    """Driver-side golden check for the difflib-scored J6 variant
    (operator-level since r13 — demoted from the registry so every
    registered query is oracle-backed): recompute the argmax with
    plain-Python ``difflib.SequenceMatcher`` over the collected
    candidate set (small by construction — the F8 guard filters first)
    and pin the operator's (doc_id, score) to it bit-for-bit."""
    import difflib

    from data_ingestion_din_spark.plans.retrieval_queries import (
        QNA_QUERY,
        _qna_pairs,
    )
    from data_ingestion_din_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    cands = (
        _qna_pairs(docs)
        .filter(F.col("text").contains("table"))
        .select("doc_id", "question")
        .collect()
    )
    assert 0 < len(cands) <= 2000  # guard keeps the set small
    scored = [
        (difflib.SequenceMatcher(None, QNA_QUERY, r.question).ratio(), r.doc_id)
        for r in cands
    ]
    gated = [(s, d) for s, d in scored if s >= 0.75]
    expected = max(gated, key=lambda t: (t[0], -t[1])) if gated else None

    from data_ingestion_din_spark.plans.retrieval_queries import (
        qna_best_match_seq,
    )

    assert "qna_best_match_seq" not in QUERIES  # registry is 100% oracle-backed
    out = qna_best_match_seq(spark, sf).collect()
    if expected is None:
        assert out == []
    else:
        assert len(out) == 1
        assert out[0].doc_id == expected[1]
        assert out[0].score == pytest.approx(expected[0], abs=0.0)

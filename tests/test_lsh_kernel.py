"""The banded-LSH kernel of operators/dedup.py on hand-built frames
(the band equi-join, the MinHash band keys, the verifiers and the
incremental verdict), then oracle parity for every query built on it.

The parity cases compare each query's rows with its DuckDB oracle at
sf0.001 by the verify_local comparison (rows sorted, exact values), so
a change to a kernel step is caught in every query that uses it.
"""

from __future__ import annotations

import hashlib

import pytest

from conftest import SF_SMOKE as SF
from data_ingestion_din_spark.operators import dedup as D
from data_ingestion_din_spark.plans import ORACLES, QUERIES

BANDED = "doc_id bigint, band_key string"


def _pairs(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_self_pair_sharing_bands_appears_once_ordered(spark):
    rows = [(2, "k1"), (2, "k2"), (2, "k3"), (1, "k1"), (1, "k2"), (1, "k3"),
            (3, "k9")]
    cand = D.band_candidates(spark.createDataFrame(rows, BANDED))
    assert cand.columns == ["doc_a", "doc_b"]
    assert _pairs(cand) == [(1, 2)]


def test_self_join_carries_payload_per_side(spark):
    rows = [(5, "k", 50), (4, "k", 40)]
    cand = D.band_candidates(
        spark.createDataFrame(rows, BANDED + ", v int"), carry=["v"]
    )
    assert cand.columns == ["doc_a", "doc_b", "a_v", "b_v"]
    assert _pairs(cand) == [(4, 5, 40, 50)]


def test_probe_join_never_pairs_two_probe_rows(spark):
    probe = spark.createDataFrame(
        [(10, "k"), (10, "k2"), (11, "k")], BANDED
    )
    index = spark.createDataFrame([(1, "k"), (1, "k2"), (2, "x")], BANDED)
    cand = D.band_candidates(probe, index, pair=("batch_id", "corpus_id"))
    assert cand.columns == ["batch_id", "corpus_id"]
    assert _pairs(cand) == [(10, 1), (11, 1)]


def test_probe_join_on_column_list(spark):
    schema = "path string, bid int, bv int"
    probe = spark.createDataFrame([("p", 0, 7), ("p", 1, 9)], schema)
    index = spark.createDataFrame([("q", 0, 9), ("r", 1, 9)], schema)
    cand = D.band_candidates(probe, index, on=["bid", "bv"], id="path")
    assert _pairs(cand) == [("p", "r")]


def test_empty_side_gives_no_pairs(spark):
    rows = spark.createDataFrame([(1, "k"), (2, "k")], BANDED)
    empty = spark.createDataFrame([], BANDED)
    assert D.band_candidates(empty).count() == 0
    assert D.band_candidates(empty, rows).count() == 0
    assert D.band_candidates(rows, empty).count() == 0


def test_band_key_equals_hand_computed_md5(spark):
    vals = [11, 22, 33, 44, 55, 66, 77, 88]
    sig = spark.createDataFrame(
        [tuple(vals)], ", ".join(f"mh{i} bigint" for i in range(8))
    )
    for bands in (4, 2):
        r = 8 // bands
        want = [
            hashlib.md5(
                ",".join([f"b{j}", *map(str, vals[j * r:(j + 1) * r])]).encode()
            ).hexdigest()
            for j in range(bands)
        ]
        got = sig.select(D.minhash_band_keys(8, bands).alias("k")).first()[0]
        assert got == want


def test_bands_must_divide_n_hashes():
    with pytest.raises(ValueError, match="divide"):
        D.minhash_band_keys(8, 3)


def test_shingle_signatures_drop_docs_without_shingles(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "too short"), (3, "")], "doc_id bigint, text string"
    )
    sigs = D.shingle_signatures(docs, 4, 3)
    assert sigs.columns == ["doc_id", "sh", "mh0", "mh1", "mh2", "mh3"]
    assert [(r.doc_id, sorted(r.sh)) for r in sigs.collect()] == [
        (1, ["a b c", "b c d"])
    ]


def test_verifiers_on_looked_up_sides(spark):
    sides = spark.createDataFrame(
        [(1, ["x", "y"], 7, 8), (2, ["y", "z"], 7, 9)],
        "doc_id bigint, sh array<string>, mh0 bigint, mh1 bigint",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a bigint, doc_b bigint")
    joined = D.pair_sides(pairs, sides, cols=["sh", "mh0", "mh1"])
    row = D.slot_agreement(D.shingle_jaccard(joined), 2).first()
    assert row.jaccard == 1 / 3
    assert row.n_agree == 1


def test_nearest_match_ties_by_score_then_lower_id(spark):
    pairs = spark.createDataFrame(
        [(1, 20, 0.9), (1, 10, 0.9), (1, 5, 0.7), (3, 8, 0.6)],
        "batch_id bigint, corpus_id bigint, score double",
    )
    probes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")
    best = D.nearest_match(pairs, probes, "desc", "matched_doc")
    assert best.columns == ["doc_id", "is_dup", "matched_doc", "score"]
    assert _pairs(best) == [
        (1, True, 10, 0.9), (2, False, None, None), (3, True, 8, 0.6)
    ]
    low = D.nearest_match(pairs, probes, "asc", "matched_doc")
    assert _pairs(low)[0] == (1, True, 5, 0.7)


# Every query whose Spark side runs the kernel, plus the two bigram-LM
# audits that now share lm_queries' Stupid-Backoff code. None has an
# empty input or oracle result at sf0.001.
KERNEL_QUERIES = [
    "dedup_minhash_banded",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_cluster_size_hist",
    "corpus_leakage_safe_split",
    "corpus_dedup_funnel",
    "corpus_dedup_funnel_full",
    "dedup_incremental_batch",
    "dedup_minhash_estimate_audit",
    "dedup_minhash_br_grid",
    "dedup_simhash_near",
    "embedding_near_dup_lsh",
    "media_phash_near_dup",
    "media_phash_clusters",
    "media_phash_recall",
    "streaming_minhash_index",
    "streaming_phash_index",
    "corpus_doremi_step",
    "corpus_ccnet_buckets",
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


@pytest.mark.parametrize("name", KERNEL_QUERIES)
def test_kernel_query_matches_oracle(spark, duck, name):
    from scripts.verify_local import compare

    expected = duck.execute(ORACLES[name]).fetchdf()
    assert len(expected) > 0, name
    problems = compare(name, QUERIES[name](spark, SF).toPandas(), expected)
    assert not problems, problems

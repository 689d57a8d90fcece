"""Unit tests of the recall-audit skeleton in plans/similarity_queries —
the top-k cut, the exact-cosine probe rerank and the overlap rollup
every similarity recall query is built from — on hand-built frames (the
rerank reads a small four-dimension ``embeddings`` table written to
``tmp_path``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_din_spark.plans.similarity_queries import (
    _overlap_rollup,
    _probe_rerank,
    _rank_cut,
)
from data_ingestion_din_spark.sources.tables import load_table

PAIRS = "probe bigint, vec_id bigint"


def test_rollup_keeps_arms_without_overlap(spark):
    truth = spark.createDataFrame([(0, 1), (0, 2), (1, 3)], PAIRS)
    approx = spark.createDataFrame(
        [(0, 1, "hit"), (0, 2, "hit"), (1, 9, "miss")],
        "probe bigint, vec_id bigint, arm string",
    )
    rows = {
        r.arm: (r.n_truth, r.n_overlap)
        for r in _overlap_rollup(
            truth, approx, arm=["hit", "miss", "empty"]
        ).collect()
    }
    # "miss" has rows but none in the truth; "empty" has no rows at all
    assert rows == {"hit": (3, 2), "miss": (3, 0), "empty": (3, 0)}


def test_rollup_scores_each_arm_against_its_own_truth(spark):
    truth = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, 2), ("b", 0, 1)],
        "filter string, probe bigint, vec_id bigint",
    )
    approx = spark.createDataFrame(
        [("a", 0, 1, "x"), ("b", 0, 2, "x")],
        "filter string, probe bigint, vec_id bigint, arm string",
    )
    rows = {
        (r.filter, r.arm): (r.n_truth, r.n_overlap)
        for r in _overlap_rollup(
            truth,
            approx,
            keys=("filter", "probe", "vec_id"),
            filter=["a", "b", "c"],
            arm=["x"],
        ).collect()
    }
    assert rows == {("a", "x"): (2, 1), ("b", "x"): (1, 0), ("c", "x"): (0, 0)}


def test_rollup_untagged_on_vec_id(spark):
    truth = spark.createDataFrame([(1,), (2,), (3,)], "vec_id bigint")
    approx = spark.createDataFrame([(2,), (3,), (4,)], "vec_id bigint")
    (row,) = _overlap_rollup(truth, approx, keys=("vec_id",)).collect()
    assert (row.n_truth, row.n_overlap) == (3, 2)


def test_cut_is_per_arm_and_probe(spark):
    # two arms share probe 0: a per-probe cut would keep 10 of the 24
    # rows in total, the per-(arm, probe) cut keeps 10 of each arm's 12
    rows = [(0, v, arm, float(v)) for arm in ("a", "b") for v in range(12)]
    df = spark.createDataFrame(
        rows, "probe bigint, vec_id bigint, arm string, score double"
    )
    cut = _rank_cut(df, "score", "vec_id", tags=("arm",))
    got = sorted((r.arm, r.vec_id) for r in cut.collect())
    assert got == [(arm, v) for arm in ("a", "b") for v in range(10)]
    assert _rank_cut(df, "score", "vec_id").count() == 10


def _write_embeddings(spark, tmp_path) -> str:
    # probe 0 points along x; vec 200 is nearest, vecs 100..111 tie
    # behind it, vec 300 points away; probe 1 points along y
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows += [(200, [1.0, 0.1, 0.0, 0.0]), (300, [-1.0, 0.0, 0.0, 0.0])]
    # inserted highest id first, so row order cannot break the ties
    rows += [(v, [1.0, 1.0, 0.0, 0.0]) for v in range(111, 99, -1)]
    spark.createDataFrame(
        [(v, e, 0) for v, e in rows],
        "vec_id bigint, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_rerank_ties_keep_lower_vec_id(spark, tmp_path):
    sf = _write_embeddings(spark, tmp_path)
    shortlist = spark.createDataFrame(
        [(0, v) for v in [300, *range(111, 99, -1), 200]], PAIRS
    )
    top = _probe_rerank(spark, sf, shortlist).orderBy(
        F.desc("cos"), "vec_id"
    )
    # at the rank-10 boundary the equal scores keep the lower vec_ids
    assert [r.vec_id for r in top.collect()] == [200, *range(100, 109)]


def test_rerank_corpus_side_excludes_the_probe(spark, tmp_path):
    sf = _write_embeddings(spark, tmp_path)
    corpus = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    top = _probe_rerank(spark, sf, corpus).orderBy("probe", F.desc("cos"), "vec_id")
    by_probe: dict[int, list[int]] = {}
    for r in top.collect():
        by_probe.setdefault(r.probe, []).append(r.vec_id)
    # every corpus row is a candidate of every probe but itself (probe 0
    # would otherwise rank itself first at cos 1)
    assert by_probe == {0: [200, *range(100, 109)], 1: list(range(100, 110))}

"""Unit tests for the two iterative operators (connected components,
k-means) — the oracle gate checks them end to end on the fixtures; these
pin the iteration semantics on crafted graphs/point sets."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_din_spark.operators.dedup import connected_components
from data_ingestion_din_spark.operators.similarity import kmeans_train


def test_connected_components_chain_and_pair(spark):
    # chain 1-2-3 (transitive), isolated pair 8-9, crossing edge order
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (9, 8)], "doc_a long, doc_b long"
    )
    out = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_connected_components_long_chain_converges(spark):
    # path graph 0-1-2-...-9: diameter 9 needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    out = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == 10


def test_kmeans_separates_two_blobs(spark):
    # two tight 4-point blobs far apart in 64-d; k=2 must split them,
    # with cluster 1 seeded from the lowest vec_id (blob A)
    def vec(base):
        return [float(base)] * 64

    rows = [(i, vec(0.001 * i)) for i in range(4)] + [
        (10 + i, vec(5.0 + 0.001 * i)) for i in range(4)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.cluster for r in kmeans_train(emb, k=2, iters=2)[0].collect()}
    blob_a = {out[i] for i in range(4)}
    blob_b = {out[10 + i] for i in range(4)}
    assert blob_a == {1} and blob_b == {2}


def test_kmeans_deterministic_across_runs(spark):
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(
        (r.vec_id, r.cluster) for r in kmeans_train(emb, 4, 2)[0].collect()
    )
    b = sorted(
        (r.vec_id, r.cluster) for r in kmeans_train(emb, 4, 2)[0].collect()
    )
    assert a == b and len(a) > 0


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    # diameter-9 path cannot converge in 2 min-label+jump rounds — must
    # raise, not silently return wrong labels (ADVICE r3). cap=0 forces
    # the distributed path (driver union-find has no iteration limit).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, driver_cap_edges=0)


def test_connected_components_paths_agree(spark):
    # driver union-find and the distributed loop must produce identical
    # clusters — a chain, a triangle, an isolated pair, string node ids
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("p", "q"),
         ("q", "r"), ("r", "s")],
        "doc_a string, doc_b string",
    )
    drv = sorted(
        (r.node, r.cluster_id) for r in connected_components(pairs).collect()
    )
    dist = sorted(
        (r.node, r.cluster_id)
        for r in connected_components(pairs, driver_cap_edges=0).collect()
    )
    assert drv == dist
    assert dict(drv)["s"] == "p" and dict(drv)["c"] == "a"


def test_kmeans_raises_on_degenerate_input(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="kmeans_train: need at least k=2"):
        kmeans_train(empty, k=2, iters=1)[0]
    one = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="kmeans_train: need at least k=2"):
        kmeans_train(one, k=2, iters=1)[0]

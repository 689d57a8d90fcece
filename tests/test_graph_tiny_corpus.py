"""Tiny-corpus regression fixture for the graph family's empty-seed
convention.

``_beam_walk`` (plans/graph_queries.py) seeds each probe's beam at the
walk's start node. On a corpus small enough that a graph entry sits
INSIDE the probe set (n <= _SWEEP_N), seeding ``[(pdist[(p, entry)],
entry)]`` for the entry probe would raise ``KeyError((entry, entry))``
because the distance table excludes self-pairs; the kernel gives that
probe an EMPTY beam instead (mirroring the oracle's self-excluded seed
join). The standard fixtures never hit this path (sf0.001 already has
50 vectors > _SWEEP_N), so these tests drive every walk query through
the entry==probe path on a 16-vector corpus and compare each with its
DuckDB oracle there.
"""

from __future__ import annotations

import math
import os

import pytest

from data_ingestion_din_spark.plans import ORACLES, QUERIES
from data_ingestion_din_spark.plans.similarity_queries import _SWEEP_N

# Every registered query that walks a graph.
WALK_QUERIES = [
    "similarity_graph_greedy_search",
    "similarity_graph_nsw_grid",
    "similarity_graph_delete_repair",
    "similarity_graph_vamana_grid",
    "similarity_vamana_clustered_ab",
    "similarity_graph_search_grid",
    "similarity_graph_routed_insert",
    "similarity_graph_hnsw_entry",
    "similarity_graph_hnsw_layers",
]

N_TINY = 16  # <= _SWEEP_N so every node (incl. the max-id entry) probes


@pytest.fixture(scope="module")
def tiny_sf_dir(spark, tmp_path_factory):
    assert N_TINY <= _SWEEP_N
    out = str(tmp_path_factory.mktemp("tiny_graph"))
    rows = []
    for i in range(N_TINY):
        # deterministic, well-spread unit-ish vectors (no RNG: the
        # fixture must be stable across runs/engines)
        vec = [
            round(math.sin(0.7 * i + 0.13 * d) + 0.001 * ((i * 31 + d) % 7), 6)
            for d in range(64)
        ]
        rows.append((i, vec, i % 3))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return out


@pytest.mark.parametrize("name", WALK_QUERIES)
def test_walk_survives_entry_in_probe_set(spark, tiny_sf_dir, name):
    """Every beam-walk query completes (no KeyError) and returns rows
    when the graph entry is itself a probe."""
    df = QUERIES[name](spark, tiny_sf_dir)
    rows = df.collect()
    assert rows, f"{name} returned no rows on the tiny corpus"


@pytest.mark.parametrize("name", WALK_QUERIES)
def test_walk_matches_oracle_on_tiny_corpus(spark, tiny_sf_dir, name):
    """Spark rows equal the DuckDB oracle's on the tiny corpus, by the
    verify_local comparison (rows sorted, exact values)."""
    import duckdb

    from scripts.verify_local import compare

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tiny_sf_dir}/embeddings.parquet/*.parquet')"
    )
    problems = compare(
        name,
        QUERIES[name](spark, tiny_sf_dir).toPandas(),
        con.execute(ORACLES[name]).fetchdf(),
    )
    assert not problems, problems


def test_seed_beams_entry_probe_is_empty():
    """Unit pin of the convention itself: the entry probe's beam is
    empty; other probes seed at the entry."""
    from data_ingestion_din_spark.plans.graph_queries import _beam_walk

    pdist = {(0, 2): 5, (1, 2): 7}  # no self-pair (2, 2), like the real table
    beams = {p: _beam_walk({}, pdist, p, 2, 1, 0)[0][0] for p in (0, 1, 2)}
    assert beams[2] == []
    assert beams[0] == [(5, 2)] and beams[1] == [(7, 2)]

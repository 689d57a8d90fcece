"""JVM-free pins of ``_beam_walk``, the graph family's one beam kernel,
on a hand-built adjacency (probe 0, nodes 1..6)."""

from __future__ import annotations

from data_ingestion_din_spark.plans.graph_queries import _beam_walk

PROBE = 0
# probe→node distances; the self-pair is present here so that a walk
# which let the probe into its beam would rank it first (dist 0)
DIST = {0: 0, 1: 50, 2: 30, 3: 30, 4: 10, 5: 20, 6: 40}
PDIST = {(PROBE, n): d for n, d in DIST.items()}
ADJ = {1: [2, 3, 0], 2: [4, 0], 3: [5, 6], 4: [1], 5: [], 6: [4]}


def test_walk_frames_and_expanded_edges():
    frames, expanded = _beam_walk(ADJ, PDIST, PROBE, 1, 2, 3)
    assert frames == [
        [(50, 1)],  # step 0: the seed
        [(30, 2), (30, 3)],  # {1, 2, 3}: node 1 cut by width 2
        [(10, 4), (20, 5)],  # {2, 3, 4, 5, 6}
        [(10, 4), (20, 5)],  # {1, 4, 5}: monotone, the beam stays
    ]
    # cumulative out-degree of every expanded beam node: 3, +2+2, +1+0
    assert expanded == [0, 3, 7, 8]


def test_tie_break_is_lower_node_at_the_width_cut():
    frames, _ = _beam_walk(ADJ, PDIST, PROBE, 1, 1, 1)
    assert frames[1] == [(30, 2)]


def test_probe_never_enters_its_own_beam():
    for width in (1, 2, 7):
        frames, _ = _beam_walk(ADJ, PDIST, PROBE, 1, width, 4)
        assert all(n != PROBE for beam in frames for _, n in beam)
        assert all(len(beam) <= width for beam in frames)


def test_width_cut_keeps_the_best_width():
    frames, _ = _beam_walk(ADJ, PDIST, PROBE, 3, 3, 1)
    # {3, 5, 6} is all the candidates; width 3 keeps them in order
    assert frames[1] == [(20, 5), (30, 3), (40, 6)]
    frames, _ = _beam_walk(ADJ, PDIST, PROBE, 3, 2, 1)
    assert frames[1] == [(20, 5), (30, 3)]


def test_empty_seed_when_start_is_probe_or_none():
    for start in (PROBE, None):
        frames, expanded = _beam_walk(ADJ, PDIST, PROBE, start, 4, 3)
        assert frames == [[], [], [], []]
        assert expanded == [0, 0, 0, 0]

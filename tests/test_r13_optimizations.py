"""Equivalence pins for the r13 optimization round.

The r13 connected-components rewrite (operators/dedup.py) changed the
per-round shape — closed-neighborhood min via explicit self-loops
(one join + one aggregate per half-round instead of
join + aggregate + left-join-back), a single-explode symmetric edge
build, and initial labels served off the pinned edge relation — and
the star backend's per-round duplicate-subtree elimination (both
small-star output legs from one explode over the join). Components
must be bit-identical to a driver-independent union-find on random
graphs, path graphs (high diameter) and edgeless graphs. An edge that
reaches an id outside the vertex set fails the call instead of adding
that id to the output.
"""

from __future__ import annotations

import random

import pytest

from queryengine_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _union_find_components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    out: dict[int, int] = {}
    for members in groups.values():
        m = min(members)
        for i in members:
            out[i] = m
    return out


def _labels(df) -> dict[int, int]:
    return {r.id: r.component for r in df.collect()}


def _graph(spark, n: int, edges: list[tuple[int, int]]):
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long") if edges else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    return v, e


def test_cc_label_propagation_matches_union_find_random(spark):
    for seed, n, ne in [(7, 60, 45), (1, 100, 30), (2, 50, 200)]:
        rng = random.Random(seed)
        edges = [
            (a, b)
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(ne))
            if a != b
        ]
        v, e = _graph(spark, n, edges)
        got = _labels(connected_components(v, e, max_iterations=40))
        assert got == _union_find_components(n, edges)


def test_cc_star_matches_union_find_random(spark):
    rng = random.Random(11)
    n = 70
    edges = [
        (a, b)
        for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(60))
        if a != b
    ]
    v, e = _graph(spark, n, edges)
    got = _labels(connected_components_star(v, e, max_iterations=25))
    assert got == _union_find_components(n, edges)


def test_cc_edge_cases_path_and_edgeless(spark):
    # path graph: worst-case diameter for pointer jumping
    n = 64
    path = [(i, i + 1) for i in range(n - 1)]
    v, e = _graph(spark, n, path)
    assert _labels(connected_components(v, e, max_iterations=40)) == {
        i: 0 for i in range(n)
    }
    # edgeless graph: every vertex its own component (self-loop rows
    # must still produce one label per vertex)
    v0, e0 = _graph(spark, 17, [])
    assert _labels(connected_components(v0, e0, max_iterations=5)) == {
        i: i for i in range(17)
    }


def test_cc_duplicate_edges_and_both_directions(spark):
    # duplicate and reversed edge rows must not change components
    n = 10
    edges = [(1, 2), (2, 1), (1, 2), (5, 6), (6, 5), (5, 6), (2, 3)]
    v, e = _graph(spark, n, edges)
    want = _union_find_components(n, edges)
    assert _labels(connected_components(v, e, max_iterations=20)) == want
    assert _labels(connected_components_star(v, e, max_iterations=20)) == want


def test_cc_edge_to_a_non_vertex_raises(spark):
    v, e = _graph(spark, 4, [(0, 1), (2, 9)])
    with pytest.raises(ValueError, match="not in vertices"):
        connected_components(v, e).collect()


def test_cc_chain_of_two_non_vertices_raises(spark):
    v, e = _graph(spark, 4, [(0, 1), (3, 8), (8, 9)])
    with pytest.raises(ValueError, match="not in vertices"):
        connected_components(v, e).collect()


def test_cc_unreached_non_vertices_and_self_loops_are_dropped(spark):
    # a component of non-vertices only, and self-loop edges on a
    # vertex and on a non-vertex: no endpoint outside vertices is
    # reached, so the labels are the in-contract ones
    n = 6
    v, e = _graph(spark, n, [(0, 1), (1, 1), (7, 7), (8, 9), (3, 4)])
    assert _labels(connected_components(v, e)) == _union_find_components(
        n, [(0, 1), (3, 4)]
    )


"""Link-analysis over the near-dup candidate graph: fixed-iteration
PageRank in exact integer arithmetic — ranks documents by how
centrally they sit in the duplicate/similarity graph (a useful
curation signal: high-rank nodes are template/boilerplate hubs).

Spark shape: pure DataFrame power iteration — per round one
groupBy-sum of neighbor contributions and one left join back to the
vertex set; the frontier is localCheckpoint-ed to cut lineage
(iterative plans otherwise re-derive every prior round). Ranks and
contributions are BIGINT micro-units with explicit integer division
(``div``), so every round is exact and engine-portable — the DuckDB
oracle unrolls the same recurrence as chained CTEs and matches
bit-for-bit.

Recurrence (damping d = 0.85 = 17/20, base 1e6 per vertex):
  R0(v)   = 1_000_000
  S_t(v)  = sum over in-neighbors u of div(R_t(u), outdeg(u))
  R_t+1(v)= 150_000 + div(17 * S_t(v), 20)
Dangling mass is dropped (symmetric near-dup graphs have no dangling
nodes with edges; isolated vertices settle at 150_000), matching the
"weakly preferential" PageRank formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_BASE = 1_000_000
PR_TELEPORT = 150_000  # floor(0.15 * PR_BASE)


def _symmetric_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(src, dst) in both directions of every edge, distinct, pinned
    with a lazy localCheckpoint: the undirected graph every operator
    here walks."""
    return (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 5,
) -> DataFrame:
    """Fixed-``iterations`` integer PageRank over the UNDIRECTED
    graph induced by ``edges`` (each pair contributes both
    directions). Returns (id, rank) for every vertex."""
    sym = _symmetric_edges(edges, src_col, dst_col)
    outdeg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # (src, dst, deg): the contribution topology, constant per round
    topo = sym.join(outdeg, "src").localCheckpoint(eager=False)

    ranks = vertices.select(
        F.col(id_col).alias("id"), F.lit(PR_BASE).cast("bigint").alias("rank")
    ).localCheckpoint(eager=False)
    for _ in range(iterations):
        contrib = (
            topo.join(ranks, topo.src == ranks.id)
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.join(contrib, ranks.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit(PR_TELEPORT).cast("bigint")
                    + F.expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over the undirected graph induced by
    ``edges`` — the clustering-structure signal over the near-dup
    candidate graph (a node in many triangles sits inside a dense
    template cluster; a bridge node in none).

    Algorithm: degree-based edge orientation (Cohen 2009's MapReduce
    triangle counting / the "compact-forward" order): orient every
    edge from its (deg, id)-smaller endpoint to the larger, build
    wedges at the smallest vertex of each triangle (the only vertex
    with two out-edges into it), and close each wedge with one
    oriented-edge join — each triangle is produced EXACTLY once, and
    out-degrees after orientation are O(√m), which bounds the wedge
    relation by O(m^1.5) regardless of hub skew. That bound is the
    100 TB story: a naive wedge join at an unoriented hub of degree d
    makes d² wedges; orientation caps the hub's out-degree at √m.

    All joins are equi-joins on ids (shuffle-partitioned), the degree
    relation is id-keyed and reused via lazy checkpoint; no UDF, no
    driver state. Returns (id, n_tri) for nodes in ≥1 triangle."""
    sym = _symmetric_edges(edges, src_col, dst_col)
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .select(F.col("src").alias("id"), "deg")
        .localCheckpoint(eager=False)
    )
    d1 = deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_s"))
    d2 = deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_d"))
    oriented = (
        sym.join(d1, "src")
        .join(d2, "dst")
        .filter(
            (F.col("deg_s") < F.col("deg_d"))
            | ((F.col("deg_s") == F.col("deg_d")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    o1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("b"))
    o2 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("c"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    dc = deg.select(F.col("id").alias("c"), F.col("deg").alias("deg_c"))
    wedge = (
        o1.join(o2, "x")
        .filter(F.col("b") != F.col("c"))
        .join(db, "b")
        .join(dc, "c")
        .filter(
            (F.col("deg_b") < F.col("deg_c"))
            | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
        )
        .select("x", "b", "c")
    )
    closure = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedge.join(closure, ["b", "c"])
    nodes = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return nodes.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri")
    )


def bfs_hops(
    seeds: DataFrame,
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distance over the UNDIRECTED graph induced
    by ``edges``: (id, dist) for every vertex within ``max_hops`` of
    any seed (unreached vertices are absent). Fixed-round frontier
    relaxation — round i computes d_{i+1}(v) = min(d_i(v),
    1 + min_{(u,v)∈E} d_i(u)) — so the plan is ``max_hops`` bounded
    equi-join + min-aggregate stages, checkpointed per round to keep
    lineage flat (the same O(rounds) discipline as :func:`pagerank`
    and the star rounds of the CC operators). All-integer, so the result is
    bit-identical to the oracle's unrolled recurrence.

    Scale: each round shuffles (frontier ⋈ edges) + one min-combine —
    never materializes paths, only distances; at 100 TB the frontier
    join is an id-only equi-join exactly like the CC rounds.

    ``seeds`` must have one column named ``id``.
    """
    sym = _symmetric_edges(edges, src_col, dst_col)
    dist = seeds.select("id", F.lit(0).cast("bigint").alias("dist")).localCheckpoint(
        eager=False
    )
    for _ in range(max_hops):
        nbr = (
            sym.join(dist, sym.src == dist.id)
            .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist

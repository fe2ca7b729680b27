"""Distributed connected components + dedup clustering.

Pairwise near-dup detectors (operators/dedup.py, operators/similarity.py)
emit EDGES (id_1, id_2). Deduplicating a corpus needs the transitive
closure of those edges — duplicate CLUSTERS — plus one canonical survivor
per cluster. This module closes that gap with the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14), expressed purely in DataFrame ops.

Why this algorithm at 100 TB: naive min-label propagation needs
O(graph diameter) rounds; large-star/small-star converges in
O(log n) rounds, and every round is two shuffles (a groupBy-min and a
join on the center node) over the CURRENT edge set, which shrinks
monotonically toward one star per component. No vertex state lives on
the driver — the driver only compares a (count, checksum) pair per round
for the fixpoint test. Skewed high-degree nodes are exactly what
large-star handles: it rewires a hub's neighbors to the hub's minimum
without ever materializing the hub's neighborhood in one task.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (u < v) form, self-loops and
    duplicates removed."""
    u = F.least("u", "v").alias("u")
    v = F.greatest("u", "v").alias("v")
    return edges.select(u, v).where(F.col("u") != F.col("v")).distinct()


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to
    min(neighborhood ∪ {u}). Shrinks tall chains; safe on hubs (the
    hub's neighbors re-point in parallel, one row each)."""
    nbr = _symmetrize(edges)
    m = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least("u", "__mn").alias("m"))
    )
    return (
        nbr.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint (center); connect each
    smaller neighbor — and the center itself — to the center's
    minimum neighbor."""
    nbr = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = nbr.groupBy("u").agg(F.min("v").alias("m"))
    out = nbr.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    center = m.select(F.col("u"), F.col("m").alias("v"))
    return out.union(center)


# Edge-count ceiling for the window-based star rounds (below). A window
# partition holds one node's full symmetrized neighborhood in a single
# task, so the gate bounds worst-case task state: at the 4M default even
# a graph-spanning hub is ~4M (u, v, m) longs ≈ 100 MB in one task —
# safe; beyond it the hub-parallel join shape takes over. Tests
# monkeypatch it (0 forces the join path everywhere).
_CC_WINDOW_MAX_EDGES = 4_000_000


def _large_star_window(edges: DataFrame) -> DataFrame:
    """``_large_star`` computed with a single partition-window pass
    (one shuffle) instead of groupBy-min + join back (two shuffles +
    a join). Identical output by construction: m = least(u, min(v))
    over the same symmetrized neighborhood."""
    nbr = _symmetrize(edges)
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        nbr.select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star_window(edges: DataFrame) -> DataFrame:
    """``_small_star`` as one partition-window pass. Emits (v, m) and
    (u, m) per oriented edge via a 2-struct explode — the center row
    (u, m) repeats per neighbor, but the caller's ``_canonical``
    distinct collapses it, and the single-pass shape avoids both the
    groupBy+join and a two-branch union that would re-run the window
    per consumer. Identical post-distinct output to ``_small_star``."""
    nbr = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    aug = nbr.select(
        "u", "v", F.min("v").over(Window.partitionBy("u")).alias("m")
    )
    pairs = aug.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            )
        ).alias("e")
    )
    return pairs.select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))


def _star_round(edges: DataFrame, n_edges: int) -> DataFrame:
    """One large-star → small-star round, shape picked by edge count
    (known for free from the previous fixpoint fingerprint): window
    stars (2 shuffles/round, no joins) while the edge set is small
    enough that a single node's neighborhood is a safe task, join
    stars (hub-parallel, never materializes a neighborhood) above."""
    if n_edges <= _CC_WINDOW_MAX_EDGES:
        return _small_star_window(_large_star_window(edges))
    return _small_star(_large_star(edges))


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of a canonical edge set —
    the driver-side fixpoint test. Two actions over an already-small
    (and shrinking) edge set."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"])


def connected_components(
    pairs: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` is the minimum node id of the connected component.

    Iterates large-star → small-star → canonicalize until the canonical
    edge set reaches a fixpoint (all components collapsed to min-rooted
    stars), checked by count+checksum. ``max_iter`` is a guard far above
    the O(log n) bound (25 covers 2²⁵ nodes per component).
    """
    # localCheckpoint each round: an iterative DataFrame algorithm's
    # logical plan otherwise nests every prior round (cache does NOT
    # truncate lineage) and Catalyst compile cost grows exponentially
    # eager=False: the fingerprint collect right after is the round's ONE
    # materializing action (an eager checkpoint would add a second job)
    edges = _canonical(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=False)  # lineage: every round re-reads this frame
    prev = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        # truncates per-round lineage
        edges = _canonical(_star_round(edges, prev[0])).localCheckpoint(eager=False)
        cur = _fingerprint(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # fixpoint edges are min-rooted stars in canonical form: (root, member)
    comp = edges.select(F.col("v").alias("node"), F.col("u").alias("component")).union(
        edges.select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
    return comp.groupBy("node").agg(F.min("component").alias("component"))


def dedup_clusters(
    pairs: DataFrame, src: str = "id_1", dst: str = "id_2"
) -> DataFrame:
    """Near-dup pairs → per-document cluster assignment:
    (doc_id, cluster_id, is_kept) with cluster_id = min doc id of the
    duplicate cluster and is_kept marking the canonical survivor.
    Documents with no duplicate edges are not emitted (they keep
    themselves by definition — left-join this result and coalesce)."""
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


def integer_pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    init_mass: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank-style mass diffusion over an undirected
    graph in EXACT integer arithmetic: every node starts with
    ``init_mass``; each round a node keeps the teleport share
    ``init_mass - (init_mass*d_num)//d_den`` and receives
    ``(d_num * m(u)) // (d_den * deg(u))`` from each neighbor ``u``
    (floor division — all quantities stay BIGINT, so the result is
    bit-identical under any partitioning, join order, or engine; a
    float PageRank's shuffle-order double sums are not).

    Input ``edges``: (u, v) rows, any direction, duplicates/self-loops
    tolerated (canonicalized away). Returns (v, mass) for every node.

    Scale notes: the source degree is folded INTO the edge frame once
    (``und_d``, checkpointed), so each round is a single node-to-edge
    join (mass ⋈ und_d on the source) + groupBy(dst) with map-side
    partial sums — one edge-grain shuffle per round and no per-round
    node-grain degree join (r11: was 2 joins/round; A/B at sf0.1 on the
    customer-supplier graph 4.6 → 3.5 s solo, identical integer
    output). ``localCheckpoint`` truncates the per-round lineage
    exactly as ``connected_components`` does. High-degree hubs cost
    only their edge count — a hub's inbound sum is a partial-aggregated
    reduce, never a single-task neighborhood materialization. Fixed
    ``iters`` (vs convergence testing) keeps the job graph static — at
    100 TB you want the round count chosen, not data-dependent.
    """
    # lineage: every round re-reads this frame
    und = _symmetrize(_canonical(edges)).localCheckpoint(eager=False)
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    # lineage: every round re-reads this frame
    und_d = und.join(deg, "u").localCheckpoint(eager=False)
    teleport = init_mass - (init_mass * damping_num) // damping_den
    mass = deg.select(
        F.col("u").alias("v"), F.lit(init_mass).cast("long").alias("m")
    )
    for _ in range(iters):
        mass = (
            und_d.join(mass.select(F.col("v").alias("u"), "m"), "u")
            .select(
                "v",
                F.expr(
                    f"({damping_num} * m) DIV ({damping_den} * d)"
                ).alias("share"),
            )
            .groupBy("v")
            .agg((F.lit(teleport) + F.sum("share")).cast("long").alias("m"))
            .localCheckpoint(eager=False)  # truncates per-round lineage
        )
    return mass.select("v", F.col("m").alias("mass"))


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate the triangles of an undirected graph, each exactly
    once, as (x, y, z) rows with x < y < z — the degree-oriented
    wedge-join algorithm (Suri & Vassilvitskii, "Counting Triangles
    and the Curse of the Last Reducer", WWW'11).

    Input ``edges``: (u, v) rows, any direction; duplicates and
    self-loops tolerated (canonicalized away).

    Why degree orientation at 100 TB: each canonical edge is directed
    from its (degree, id)-smaller endpoint to the larger, so every
    node's OUT-degree is O(sqrt(m)) and the wedge stage enumerates at
    most O(m^1.5) candidate wedges total — a natural-id orientation
    lets one hub own almost all wedges (the "last reducer"). The plan
    is three shuffles: degree groupBy, the wedge self-join on the apex,
    and the closing equi-join back to the oriented edge set; no vertex
    neighborhood is ever materialized in a single task.
    """
    e = _canonical(edges)
    deg = _symmetrize(e).groupBy("u").agg(F.count("*").cast("long").alias("d"))
    da = deg.select(F.col("u").alias("__a"), F.col("d").alias("__da"))
    db = deg.select(F.col("u").alias("__b"), F.col("d").alias("__db"))
    ranked = e.join(da, e["u"] == F.col("__a")).join(db, e["v"] == F.col("__b"))
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("ddst"),
    )
    e1 = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("p"),
        F.col("ddst").alias("dp"),
    )
    e2 = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("q"),
        F.col("ddst").alias("dq"),
    )
    wedges = e1.join(e2, "apex").where(
        (F.col("dp") < F.col("dq"))
        | ((F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q")))
    )
    closing = oriented.select(
        F.col("src").alias("p"), F.col("dst").alias("q")
    )
    tri = wedges.join(closing, ["p", "q"]).select(
        F.array_sort(F.array("apex", "p", "q")).alias("t")
    )
    return tri.select(
        F.element_at("t", 1).alias("x"),
        F.element_at("t", 2).alias("y"),
        F.element_at("t", 3).alias("z"),
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling: each round drops every node whose
    CURRENT degree is below ``k`` (and all its edges), then returns the
    surviving nodes with their degrees in the peeled graph — the
    iterative vertex-filter shape (vs connected components' label
    propagation and PageRank's diffusion). Fixed ``rounds`` keeps the
    job graph static; the exact k-core is this loop run to fixpoint.

    Scale notes: each round is one degree groupBy plus two left-semi
    joins re-filtering the edge list — the edge set only ever shrinks,
    and the survivors frame is the degree aggregate (node-grain, far
    smaller than edges). ``localCheckpoint`` truncates per-round
    lineage exactly as ``connected_components`` does. A hub is never
    materialized in one task: its degree is a partial-aggregated count
    and its edges re-filter in parallel.
    """
    e = _canonical(edges).localCheckpoint(eager=False)  # lineage: every round re-reads this frame
    for _ in range(rounds):
        deg = _symmetrize(e).groupBy("u").agg(F.count("*").alias("d"))
        keep = deg.where(F.col("d") >= k).select(F.col("u").alias("__k"))
        e = (
            e.join(keep, e["u"] == keep["__k"], "left_semi")
            .join(keep, e["v"] == keep["__k"], "left_semi")
            .localCheckpoint(eager=False)  # truncates per-round lineage
        )
    final = _symmetrize(e).groupBy("u").agg(F.count("*").cast("long").alias("d"))
    return final.select(F.col("u").alias("v"), F.col("d").alias("degree"))


def bfs_depths(edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance
    (≤ ``max_depth``) from ANY seed node, over the undirected graph.
    ``seeds``: a (v) frame of source nodes. Returns (v, depth) with one
    row per reached node — exact integers, so the result is bit-stable
    under any partitioning or engine (the DuckDB oracle replays it as a
    depth-bounded recursive CTE).

    Scale notes: the textbook frontier expansion as joins — each round
    joins the CURRENT frontier (shrinking node-grain frame) to the edge
    list, dedups the neighbor set, and anti-joins the visited set; the
    per-round cost is degree(frontier), not the whole graph, and the
    anti-join keeps the frontier from re-expanding into settled nodes
    (without it a dense graph's frontier grows by the path count, not
    the node count). ``localCheckpoint`` truncates per-round lineage
    exactly as the other iterative operators here do. Fixed
    ``max_depth`` keeps the job graph static.
    """
    # lineage: every round re-reads this frame
    und = _symmetrize(_canonical(edges)).localCheckpoint(eager=False)
    visited = (
        seeds.select(F.col("v").cast("long").alias("v"))
        .distinct()
        .select("v", F.lit(0).cast("long").alias("depth"))
        .localCheckpoint(eager=False)  # lineage: every round re-reads this frame
    )
    frontier = visited.select("v")
    for d in range(1, max_depth + 1):
        nxt = (
            und.join(frontier.select(F.col("v").alias("u")), "u")
            .select("v")
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .select("v", F.lit(d).cast("long").alias("depth"))
            .localCheckpoint(eager=False)  # truncates per-round lineage
        )
        visited = visited.union(nxt).localCheckpoint(eager=False)  # truncates per-round lineage
        frontier = nxt.select("v")
    return visited

"""Iterative graph algorithms over edge lists (engine extension).

The reference's end product is a property graph in Neo4j
(`/root/reference/src/movie_etl/tasks/kg_task.py`, kg_scripts/*.cypher);
centrality over that graph is the canonical follow-on analytics the
store itself would run. Here the graph is an edge DataFrame and the
algorithm is join-based message passing — the BSP/Pregel shape: each
iteration is ONE shuffle (groupBy destination), the edge list is
computed once and persisted, and rank state stays co-partitioned with
the aggregation key, so an iteration costs one shuffle of the rank
table, not a rebuild of the graph.

Every loop cuts lineage once per iteration with a lazy
``localCheckpoint``: each reference of the loop state becomes a leaf,
so Catalyst plans one join/agg layer per iteration instead of
replaying every earlier iteration's subtree. The trade (ADVICE r18):
every iteration's state stays persisted (MEMORY_AND_DISK) for the
session, outside cache_tracked because local-checkpoint blocks cannot
be safely unpersisted, and the cut lineage is not fault-tolerant. On
``local[N]``, the only supported master, the executor is the driver
JVM, so there is no executor loss for a reliable checkpoint to
survive.

Arithmetic is FIXED-POINT INTEGER on purpose: float PageRank sums
neighbor contributions in a nondeterministic order, so two engines (or
two runs) disagree in the low bits and an exact-hash oracle would be
impossible. With ranks scaled to integers (1.0 == `scale`) and damping
as a rational (17/20 == 0.85), every operation is exact integer math —
`sum` is order-independent, `div` is truncating division on
non-negatives in both Spark and DuckDB — so the result is bit-stable
across engines, partitionings, and retries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_etl_spark.session import cache_tracked

def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 17,
    damp_den: int = 20,
    nodes: DataFrame | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    ``edges`` needs columns ``(src, dst)`` (long ids; symmetrize before
    calling for an undirected graph). By default the node universe is
    the set of sources (every node must appear as a ``src`` at least
    once — true for symmetrized graphs) and dangling-node mass is NOT
    redistributed. For graphs with sink nodes pass ``nodes`` (a
    one-column frame of all node ids, so zero-out-degree nodes get rank
    rows) and ``redistribute_dangling=True`` to split their rank mass
    evenly across all nodes each iteration — the standard correction
    that keeps total mass conserved. Returns ``(node_id, rank)`` where
    rank is fixed-point with 1.0 == ``scale``.

    Per iteration: contribution = ``rank div out_degree`` along each
    edge, summed at the destination, then ``rank' = (1-d)*scale +
    (damp_num * (incoming + dangling_share)) div damp_den`` where
    ``dangling_share = sum(rank over deg==0 nodes) div n_nodes`` (0
    when not redistributing). All integer ops — see module docstring.

    The per-edge invariant ``(src, dst, deg(src))`` is joined ONCE
    before the loop and persisted; each iteration is then one join
    (ranks onto edges) + one groupBy + one left join back onto the node
    table. (The r6 plan audit flagged the former in-loop re-join of the
    invariant degree table as gr1's avoidable cost.) The dangling sum
    is a 1-row aggregate attached by broadcast crossJoin — never a
    driver-side collect.

    Lineage: EVERY iteration cuts the chain (lazy ``localCheckpoint``)
    so planning stays linear in iterations — see the module docstring
    for the storage and fault-tolerance trade.
    """
    from pyspark.storagelevel import StorageLevel

    # Edge-sized invariants go DISK_ONLY (r13, from gr1's sf10 OOM):
    # deserialized in-memory cache blocks are protected from execution
    # eviction up to spark.memory.storageFraction, and at 100x scale
    # the two edge-sized frames pinned enough of the unified pool that
    # the per-iteration hash aggregate hit UNABLE_TO_ACQUIRE_MEMORY.
    # On disk the re-reads stream through the OS page cache while the
    # whole pool stays available to the iteration joins — the same
    # trade the g2 doc-corpus checkpoint adjudicated in r11. The
    # node-sized ``deg`` frame stays in memory (small, hit every
    # iteration).
    edges = cache_tracked(
        edges.select("src", "dst"), storage_level=StorageLevel.DISK_ONLY
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    if nodes is not None:
        node_ids = nodes.select(
            F.col(nodes.columns[0]).cast("long").alias("src")
        ).distinct()
        deg = cache_tracked(
            node_ids.join(out_deg, "src", "left").select(
                "src", F.coalesce("deg", F.lit(0)).cast("long").alias("deg")
            )
        )
    else:
        deg = cache_tracked(out_deg)
    # invariant per-edge state, computed once outside the loop
    edges_deg = cache_tracked(
        edges.join(deg, "src"), storage_level=StorageLevel.DISK_ONLY
    )
    base = (scale * (damp_den - damp_num)) // damp_den
    if redistribute_dangling:
        # Dangling-mass variant (r18 rework). The former shape re-joined
        # ``ranks`` onto ``deg`` every iteration just to see out-degrees
        # for the dangling sum, and referenced the rank frame TWICE per
        # iteration (contribution join + dangling aggregate) with no
        # lineage cut — so the logical plan doubled per iteration (gr2's
        # formatted plan: 277 Exchange nodes for 3 iterations, vs gr1's
        # 52; runtime exchange reuse deduped the execution but Catalyst
        # still planned every copy). Now the node state carries
        # ``(src, deg, rank)`` so the dangling aggregate is a plain
        # aggregate over the state (one join per iteration REMOVED), and
        # each iteration cuts lineage with a lazy localCheckpoint (the
        # connected_components_star pattern) so every reference of the
        # state is a leaf — plan growth is linear in iterations. All
        # arithmetic is unchanged (same exact integer recurrence).
        state = deg.select(
            "src", "deg", F.lit(scale).cast("long").alias("rank")
        )
        for _i in range(iterations):
            state = state.localCheckpoint(eager=False)
            incoming = (
                edges_deg.join(state.select("src", "rank"), "src")
                .select("dst", F.expr("rank div deg").alias("contrib"))
                .groupBy("dst")
                .agg(F.sum("contrib").alias("inc"))
            )
            dang = state.agg(
                F.coalesce(
                    F.sum(F.when(F.col("deg") == 0, F.col("rank"))), F.lit(0)
                ).cast("long").alias("dang_sum"),
                F.count("*").alias("n_nodes"),
            )
            cur = state.select("src", "deg")
            state = (
                cur.join(incoming, cur.src == incoming.dst, "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    cur.src,
                    "deg",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damp_num} * (coalesce(inc, 0)"
                            f" + dang_sum div n_nodes)) div {damp_den}"
                        )
                    ).cast("long").alias("rank"),
                )
            )
        return state.select(F.col("src").alias("node_id"), "rank")

    ranks = deg.select("src", F.lit(scale).cast("long").alias("rank"))
    for _i in range(iterations):
        # Per-iteration lazy lineage cut (r18): without it, iteration
        # i's logical plan embeds — and Catalyst RE-PLANS — every
        # earlier iteration's whole subtree, so planning work grows
        # quadratically with iterations (runtime exchange reuse deduped
        # the execution, never the planning). The cut makes each
        # iteration's plan a leaf + one join/agg layer, the same shape
        # the dangling variant, gr3's BFS, and connected_components_star
        # use.
        ranks = ranks.localCheckpoint(eager=False)
        incoming = (
            edges_deg.join(ranks, "src")
            .select("dst", F.expr("rank div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        joined = deg.join(incoming, deg.src == incoming.dst, "left")
        ranks = joined.select(
            deg.src,
            (
                F.lit(base)
                + F.expr(f"({damp_num} * coalesce(inc, 0)) div {damp_den}")
            ).cast("long").alias("rank"),
        )
    return ranks.select(F.col("src").alias("node_id"), "rank")


def connected_components_star(
    edges: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): converges in O(log^2 n) rounds on ANY graph
    diameter, vs O(diameter) for hash-min label propagation. It is
    dup_clusters' distributed path, used above its driver-side bound.

    ``edges`` needs long-id columns ``(src, dst)`` (undirected
    semantics; self-loops ignored). Returns ``(node_id, component_id)``
    with component_id = min id in the component, for every node that
    appears in an edge (callers add singletons, as dup_clusters does).

    Per round, two edge-set rewrites (each one groupBy + one join):

    - large-star: for each node u, connect every LARGER neighbor to
      m = min(neighbors(u) + {u});
    - small-star: orient edges toward the smaller endpoint, then for
      each node connect its smaller neighbors (and itself) to their
      minimum.

    Convergence = the edge set reaches a fixpoint (a star forest:
    every edge is (member, component_min)). The check is an exact
    set-equality probe (exceptAll both ways is overkill: star output
    is deduplicated, so equal counts + empty difference suffice).
    Raises ``RuntimeError`` when ``max_rounds`` rounds pass without a
    fixpoint: the edges left then are not (member, component_min)
    pairs, and returning them as component ids would be silently wrong.
    """
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _round in range(max_rounds):
        # large-star
        nbrs = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = nbrs.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            nbrs.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star over the large-star output
        pairs = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst")).distinct()
        mins2 = pairs.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            pairs.join(mins2, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins2.select("src", F.col("m").alias("dst")))
            .distinct()
        )
        small = small.localCheckpoint(eager=False)
        # exact fixpoint probe: both sets are distinct, so equal size +
        # empty one-sided difference == equality
        if (
            small.count() == e.count()
            and small.exceptAll(e).limit(1).count() == 0
        ):
            e = small
            break
        e = small
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_rounds} "
            "rounds; the edge set is not yet a star forest"
        )
    members = e.select(
        F.col("src").alias("node_id"), F.col("dst").alias("component_id")
    )
    roots = e.select(F.col("dst").alias("node_id")).distinct().withColumn(
        "component_id", F.col("node_id")
    )
    return members.unionByName(roots).distinct()


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS hop distances over a directed edge list.

    ``edges`` needs long-id columns ``(src, dst)``; ``seeds`` is a
    one-column frame of source node ids (distance 0). Returns
    ``(node_id, dist)`` for every node REACHED within ``max_hops``
    hops — unreached nodes get no row (callers left-join the node
    universe if they want NULL-distance rows).

    Shape: full-relaxation BSP, the same one-shuffle-per-iteration
    contract as :func:`pagerank_fixed_point` — per hop,
    ``dist' = min(dist, min over in-neighbors (dist+1))`` as one union
    + one groupBy-min. No frontier bookkeeping: a frontier
    optimization saves work on high-diameter graphs but adds a
    per-iteration anti-join; for bounded-hop queries over short-diameter
    graphs (the LSH-clique / bipartite-dim case here) the flat
    relaxation is one shuffle cheaper per hop and trivially
    deterministic. All-integer (hop counts), so results are bit-stable
    and an unrolled recursive-SQL oracle can hash-match exactly.

    The dist table is one row per *reached* node and stays
    co-partitioned with the groupBy key; each hop shuffles only that
    table plus the matched edges, never the full graph state.
    """
    e = cache_tracked(edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct())
    dist = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias("src")
    ).distinct().withColumn("dist", F.lit(0).cast("long"))
    for _hop in range(max_hops):
        # the dist frame is referenced TWICE per hop (relaxation join +
        # union), so without a cut the logical plan DOUBLES per hop —
        # 2^hops leaf copies that runtime exchange reuse dedupes but
        # Catalyst still plans (gr3's formatted plan: 68 Exchange nodes
        # for 3 hops; 18 after). The lazy per-hop localCheckpoint makes
        # every reference a leaf — linear plan growth, the same cut gr2
        # and connected_components_star use (r18).
        dist = dist.localCheckpoint(eager=False)
        relaxed = e.join(dist, "src").select(
            F.col("dst").alias("src"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("src")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(F.col("src").alias("node_id"), "dist")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW 2011 — the standard MapReduce formulation).

    ``edges`` needs long-id columns ``(src, dst)``, undirected
    semantics (self-loops and duplicate/reverse pairs are collapsed).
    Returns ``(node_id, triangles)`` for every node incident to at
    least one edge (zero rows included), where ``triangles`` is the
    number of distinct triangles containing the node.

    Why orientation matters at scale: counting wedges from EVERY node
    explodes on hubs (a degree-d node yields d^2/2 wedges). Orienting
    each edge from the endpoint with smaller (degree, id) to the larger
    bounds every node's out-degree by O(sqrt(m)), so the wedge join is
    O(m^1.5) total work regardless of skew — the hub's wedges are
    charged to its low-degree neighbors. The (deg, id) total order
    makes the orientation deterministic.

    Plan: one groupBy (degrees), one broadcast-or-shuffle join to
    attach (deg, id) ranks, one self-join on the wedge pivot, one
    semi-ish join against the oriented edge set to close wedges, then
    an explode of each triangle to its 3 corners + groupBy count.
    """
    und = (
        edges.select(
            F.least(F.col("src").cast("long"), F.col("dst").cast("long"))
            .alias("a"),
            F.greatest(F.col("src").cast("long"), F.col("dst").cast("long"))
            .alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = cache_tracked(und)
    nodes = und.select(F.col("a").alias("id")).unionByName(
        und.select(F.col("b").alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count("*").alias("deg"))
    # orient a->b iff (deg(a), a) < (deg(b), b)
    da, db = deg.alias("da"), deg.alias("db")
    oriented = cache_tracked(
        und.join(da, F.col("a") == F.col("da.id"))
        .join(db, F.col("b") == F.col("db.id"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg"))
                   & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    # wedges pivoting at u: (u, v, w) with v < w in the (deg, id) order
    # encoded by the orientation itself (both v and w are "larger" than
    # u; dedupe by v < w on ids after orientation? No — orientation is a
    # DAG, so distinct pairs of out-neighbors suffice; order by id to
    # emit each unordered pair once)
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("x") < F.col("y"))
    )
    # close the wedge against the canonical undirected edge set: both
    # sides carry (smaller-id, larger-id) pairs, so this is a pure
    # two-key equi-join (hash/sort-merge joinable — an OR-of-orderings
    # predicate here would have forced a nested-loop join)
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "inner").select(
        F.col("u").alias("n1"), F.col("x").alias("n2"), F.col("y").alias("n3")
    )
    corners = (
        tri.select(F.col("n1").alias("id"))
        .unionByName(tri.select(F.col("n2").alias("id")))
        .unionByName(tri.select(F.col("n3").alias("id")))
    )
    cnt = corners.groupBy("id").agg(F.count("*").alias("triangles"))
    return (
        deg.join(cnt, "id", "left")
        .select(
            F.col("id").alias("node_id"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
    )

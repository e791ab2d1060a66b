"""Unit tests for join/upsert/hierarchy operators (J1-J4, D1-D4, K7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_etl_spark.operators.joins import (
    build_edges,
    hierarchy_closure,
    keep_existing,
    keep_new,
)
from movie_etl_spark.operators.upsert import (
    assert_unique,
    dedup_by_key,
    insert_if_absent,
    rollback_key,
)


@pytest.fixture(scope="module")
def kv(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )


def test_keep_existing_and_new(spark, kv):
    probe = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    assert {r.k for r in keep_existing(kv, probe, ["k"]).collect()} == {2, 3}
    assert {r.k for r in keep_new(kv, probe, ["k"]).collect()} == {1}


def test_insert_if_absent_first_wins(spark, kv):
    new = spark.createDataFrame([(3, "x"), (4, "y"), (4, "z")], "k int, v string")
    out = insert_if_absent(kv, new, ["k"], order_col="v")
    rows = dict((r.k, r.v) for r in out.collect())
    assert rows == {1: "a", 2: "b", 3: "c", 4: "y"}
    assert_unique(out, ["k"])


def test_assert_unique_raises(spark):
    dupes = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    with pytest.raises(ValueError, match="uniqueness violation"):
        assert_unique(dupes, ["k"])


def test_dedup_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "z"), (1, "a"), (2, "m")], "k int, v string"
    )
    out = {(r.k, r.v) for r in dedup_by_key(df, ["k"], "v").collect()}
    assert out == {(1, "a"), (2, "m")}


def test_rollback_key(spark, kv):
    out = rollback_key(kv, "k", [1, 3])
    assert [r.k for r in out.collect()] == [2]


def test_rollback_key_keeps_null_keys(spark):
    """DELETE-by-id semantics: NULL-keyed rows are not TRUE matches of
    the delete predicate and must survive the cascade."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "k int, v string"
    )
    out = {(r.k, r.v) for r in rollback_key(df, "k", [1]).collect()}
    assert out == {(None, "b"), (2, "c")}


def test_rollback_key_rejects_null_in_values(spark):
    """A None inside the delete list would make ~isin NULL for every
    non-matching key (three-valued IN) and silently delete them all —
    reject it loudly instead."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    with pytest.raises(ValueError, match="None in values"):
        rollback_key(df, "k", [1, None])


def test_build_edges_referential_integrity(spark):
    edges = spark.createDataFrame(
        [(1, 10, 5.0), (1, 99, 6.0), (77, 10, 7.0)], "h int, t int, w double"
    )
    heads = spark.createDataFrame([(1,), (2,)], "h int")
    tails = spark.createDataFrame([(10,), (11,)], "t int")
    out = build_edges(edges, heads, tails, "h", "t", "REL", payload=["w"]).collect()
    # only the edge with BOTH endpoints present survives
    assert len(out) == 1
    r = out[0]
    assert (r.head_id, r.tail_id, r.rel_type, r.relationship_id, r.w) == (
        1, 10, "REL", "1-10", 5.0,
    )


def test_hierarchy_closure_resolves_chain(spark):
    nodes = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", None), ("solo", None)],
        "id string, parent string",
    )
    out = {r.id: (r.root_id, r.depth) for r in
           hierarchy_closure(nodes, "id", "parent").collect()}
    assert out == {
        "a": ("c", 2), "b": ("c", 1), "c": ("c", 0), "solo": ("solo", 0),
    }


def test_hierarchy_closure_cycle_strict_raises(spark):
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "id string, parent string"
    )
    with pytest.raises(ValueError, match="unresolved"):
        hierarchy_closure(cyc, "id", "parent", max_depth=4)


def test_hierarchy_closure_cycle_nonstrict_flags(spark):
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", None)], "id string, parent string"
    )
    out = {r.id: r.unresolved for r in
           hierarchy_closure(cyc, "id", "parent", max_depth=4, strict=False).collect()}
    assert out == {"a": True, "b": True, "c": False}


def test_salted_count_matches_plain(spark):
    from movie_etl_spark.operators.skew import salted_count

    df = spark.range(0, 10_000).selectExpr("CAST(id % 7 AS INT) AS k")
    # one hot key: 90% of rows
    hot = spark.range(0, 90_000).selectExpr("CAST(99 AS INT) AS k")
    all_rows = df.unionByName(hot)
    got = {(r.k, r["count"]) for r in salted_count(all_rows, ["k"]).collect()}
    want = {(r.k, r["count"]) for r in all_rows.groupBy("k").count().collect()}
    assert got == want


def test_salted_broadcast_join_matches_plain(spark):
    from movie_etl_spark.operators.skew import salted_broadcast_join

    facts = spark.range(0, 20_000).selectExpr(
        "CAST(CASE WHEN id % 10 = 0 THEN 1 ELSE id % 50 END AS INT) AS k",
        "id AS v",
    )
    dim = spark.range(0, 50).selectExpr("CAST(id AS INT) AS k", "concat('d', id) AS name")
    got = {(r.k, r.v, r.name) for r in salted_broadcast_join(facts, dim, "k").collect()}
    want = {(r.k, r.v, r.name) for r in facts.join(dim, "k").collect()}
    assert got == want


def test_pandas_udaf_median_matches_builtin(spark):
    """The applyInPandas UDAF path (§2.11 UDAF checklist row), demonstrated
    at bounded scale and checked against the built-in exact F.median that
    the registered catalog query (a4_group_median) uses. The built-in is
    the production plan — JVM-side, codegen, no per-group pandas frames;
    the UDAF is the template for statistics Spark genuinely lacks."""
    import pandas as pd

    df = spark.range(0, 5_000).selectExpr(
        "CAST(id % 37 AS LONG) AS k", "CAST(id * 1.5 AS DOUBLE) AS x"
    )

    def med(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "median_x": [float(pdf["x"].median())]}
        )

    udaf = df.groupBy("k").applyInPandas(med, schema="k long, median_x double")
    builtin = df.groupBy("k").agg(F.median("x").alias("median_x"))
    got = {(r.k, r.median_x) for r in udaf.collect()}
    want = {(r.k, r.median_x) for r in builtin.collect()}
    assert got == want


def test_bulk_load_nodes_from_csv(spark, tmp_path):
    from movie_etl_spark.plans.graph import bulk_load_nodes_from_csv
    from movie_etl_spark.sources.sinks import write_csv

    src = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "c")], "node_id int, name string"
    )
    path = str(tmp_path / "nodes_csv")
    write_csv(src, path)
    nodes = bulk_load_nodes_from_csv(spark, path, "node_id", order_col="name")
    assert {(r.node_id, r.name) for r in nodes.collect()} == {(1, "a"), (2, "c")}


def test_asof_join_semantics(spark):
    """Backward inclusive as-of: latest right row at-or-before each left
    ts; NULLs when none precedes; a right payload field that is itself
    NULL must still win (struct carry, not per-column skip)."""
    from movie_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "early"), (2, 10, "other")],
        "g int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, None), (2, 99, 9.9)],
        "g int, ts int, v double",
    )
    out = {r.tag: (r.r_ts, r.r_v) for r in
           asof_join(left, right, "ts", ["g"], ["ts", "v"]).collect()}
    assert out["early"] == (None, None)        # nothing precedes ts=5
    assert out["a"] == (10, 1.0)               # equality is inclusive
    assert out["b"] == (15, None)              # NULL payload still wins
    assert out["other"] == (None, None)        # group 2's right is later


def test_interval_join_boundaries_and_bucket_straddle(spark):
    """start inclusive, end exclusive; intervals longer than the bucket
    and straddling bucket boundaries must still match (the sequence
    explode covers every overlapped bucket)."""
    from datetime import datetime

    from movie_etl_spark.operators.joins import interval_join

    def t(s):
        return datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [
            (1, "at_start", t("2024-01-01 10:00:00")),
            (1, "inside", t("2024-01-01 11:30:00")),
            (1, "at_end", t("2024-01-01 12:00:00")),
            (1, "straddle", t("2024-01-01 23:59:00")),
            (2, "wrong_group", t("2024-01-01 11:00:00")),
        ],
        "g int, tag string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, "w1", t("2024-01-01 10:00:00"), t("2024-01-01 12:00:00")),
            (1, "w2", t("2024-01-01 23:00:00"), t("2024-01-02 01:00:00")),
        ],
        "g int, win string, start timestamp, end timestamp",
    )
    out = {(r.tag, r.win) for r in
           interval_join(left, right, ["g"], "ts", "start", "end",
                         bucket_seconds=3600).collect()}
    assert out == {("at_start", "w1"), ("inside", "w1"), ("straddle", "w2")}


def test_scd2_apply_full_matrix(spark):
    """SCD2: changed key closes + reopens; unchanged and update-less
    keys pass through; closed history is untouched; brand-new keys
    insert open; NULL attrs compare null-safely (NULL == NULL is NOT a
    change)."""
    from datetime import date

    from movie_etl_spark.operators.upsert import scd2_apply

    current = spark.createDataFrame(
        [
            (1, 10.0, date(2020, 1, 1), None),           # will change
            (2, 20.0, date(2020, 1, 1), None),           # same value in update
            (3, 30.0, date(2020, 1, 1), None),           # no update row
            (1, 5.0, date(2010, 1, 1), date(2020, 1, 1)),  # closed history
            (5, None, date(2020, 1, 1), None),           # NULL attr, NULL update
        ],
        "k int, v double, valid_from date, valid_to date",
    )
    updates = spark.createDataFrame(
        [
            (1, 11.0, date(2024, 6, 1)),
            (2, 20.0, date(2024, 6, 1)),
            (4, 40.0, date(2024, 6, 1)),  # brand-new key
            (5, None, date(2024, 6, 1)),  # NULL == NULL: no change
        ],
        "k int, v double, eff date",
    )
    out = {(r.k, r.v, r.valid_from, r.valid_to)
           for r in scd2_apply(current, updates, ["k"], ["v"]).collect()}
    assert out == {
        (1, 10.0, date(2020, 1, 1), date(2024, 6, 1)),   # closed now
        (1, 11.0, date(2024, 6, 1), None),               # reopened
        (2, 20.0, date(2020, 1, 1), None),               # unchanged
        (3, 30.0, date(2020, 1, 1), None),               # untouched
        (1, 5.0, date(2010, 1, 1), date(2020, 1, 1)),    # history kept
        (5, None, date(2020, 1, 1), None),               # null-safe: no churn
        (4, 40.0, date(2024, 6, 1), None),               # brand new
    }


def test_pagerank_fixed_point_hand_computed(spark):
    """Chain graph 1-2-3 (symmetric): one iteration's fixed-point values
    are hand-derivable. deg: {1:1, 2:2, 3:1}; contribs 1->2: 1e6,
    2->1: 5e5, 2->3: 5e5, 3->2: 1e6; rank' = 150000 + 17*inc//20."""
    from movie_etl_spark.operators.graph_algos import pagerank_fixed_point
    from movie_etl_spark.session import release_caches

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    one = {r.node_id: r.rank for r in pagerank_fixed_point(edges, 1).collect()}
    assert one == {1: 575000, 2: 1850000, 3: 575000}
    # fixed iterations are deterministic: same input -> identical ranks
    again = {r.node_id: r.rank for r in pagerank_fixed_point(edges, 3).collect()}
    again2 = {r.node_id: r.rank for r in pagerank_fixed_point(edges, 3).collect()}
    assert again == again2
    # total mass stays near n*scale (integer division only loses mass)
    assert 0.9 * 3_000_000 < sum(again.values()) <= 3_000_000
    release_caches()


def test_pagerank_deep_iterations_with_lineage_cut(spark):
    """12 iterations crosses the localCheckpoint boundary twice: ranks
    must stay deterministic across the cuts and converge toward the
    analytic stationary point (center of a chain holds the most mass)."""
    from movie_etl_spark.operators.graph_algos import pagerank_fixed_point
    from movie_etl_spark.session import release_caches

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    a = {r.node_id: r.rank for r in pagerank_fixed_point(edges, 12).collect()}
    b = {r.node_id: r.rank for r in pagerank_fixed_point(edges, 12).collect()}
    assert a == b
    assert a[2] > a[1] == a[3] > 0
    release_caches()


def test_pagerank_dangling_redistribution_vs_unrolled_oracle(spark):
    """Asymmetric graph with a sink (4 has no out-edges): with
    redistribute_dangling=True the Spark result must be bit-identical
    to this unrolled pure-Python evaluation of the exact integer
    recurrence — rank' = base + (17*(inc + dang_sum//n)) // 20."""
    from movie_etl_spark.operators.graph_algos import pagerank_fixed_point
    from movie_etl_spark.session import release_caches

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 4)]
    node_list = [1, 2, 3, 4]
    scale, iters = 1_000_000, 4
    deg = {n: sum(1 for s, _ in edge_list if s == n) for n in node_list}
    rank = {n: scale for n in node_list}
    base = (scale * 3) // 20
    for _ in range(iters):
        inc = {n: 0 for n in node_list}
        for s, d in edge_list:
            inc[d] += rank[s] // deg[s]
        dang = sum(rank[n] for n in node_list if deg[n] == 0)
        share = dang // len(node_list)
        rank = {n: base + (17 * (inc[n] + share)) // 20 for n in node_list}

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    nodes = spark.createDataFrame([(n,) for n in node_list], "node_id long")
    got = {
        r.node_id: r.rank
        for r in pagerank_fixed_point(
            edges, iters, nodes=nodes, redistribute_dangling=True
        ).collect()
    }
    assert got == rank
    # redistribution keeps total mass near n*scale (only integer
    # truncation leaks); without it the sink's mass would drain away
    assert 0.97 * len(node_list) * scale < sum(got.values())
    release_caches()


def test_pagerank_without_nodes_param_ignores_sinks(spark):
    """Default path on the same graph: node universe = sources only, so
    the sink never gets a rank row — the documented contract."""
    from movie_etl_spark.operators.graph_algos import pagerank_fixed_point
    from movie_etl_spark.session import release_caches

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.node_id for r in pagerank_fixed_point(edges, 1).collect()}
    assert got == {1, 2, 3}
    release_caches()


def test_pagerank_plan_has_two_joins_per_iteration(spark):
    """The invariant (src, dst, deg) join is hoisted out of the loop
    (r6 verdict): an iteration plans exactly TWO join nodes (ranks onto
    edges_deg + left join onto the node table), not three. Since the
    r18 per-iteration lineage cut, earlier iterations are checkpoint
    LEAVES (LogicalRDD) in the final frame's plan, so the observable
    contract is a CONSTANT two joins at any iteration count — a third
    join node, or any growth with iterations, means either the
    invariant join slid back into the loop or the lineage cut was
    lost."""
    from movie_etl_spark.operators.graph_algos import pagerank_fixed_point
    from movie_etl_spark.session import release_caches

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )

    def joins_and_leaves(iters: int) -> tuple[int, int]:
        # walk the optimized logical tree; InMemoryRelation (the cached
        # one-time edges+deg join) and LogicalRDD (the per-iteration
        # checkpoint) are LEAVES there, so only the last iteration's
        # joins are counted (embedded plans would pollute a string count)
        df = pagerank_fixed_point(edges, iters)
        joins = rdd_leaves = 0
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if "Join" in node.nodeName():
                joins += 1
            if "LogicalRDD" in node.nodeName():
                rdd_leaves += 1
            for i in range(node.children().length()):
                stack.append(node.children().apply(i))
        return joins, rdd_leaves

    for iters in (1, 3):
        joins, rdd_leaves = joins_and_leaves(iters)
        assert joins == 2, f"iters={iters}: {joins} joins planned, want 2"
        assert rdd_leaves >= 1, (
            f"iters={iters}: no checkpoint leaf — lineage cut lost"
        )
    release_caches()


def test_connected_components_star_on_long_chain(spark):
    """The case hash-min label propagation handles worst (rounds =
    diameter): a 300-node path must collapse to one component rooted at
    0 within the default O(log^2 n) round budget."""
    from movie_etl_spark.operators.graph_algos import (
        connected_components_star,
    )
    from movie_etl_spark.session import release_caches

    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r.node_id: r.component_id
        for r in connected_components_star(edges).collect()
    }
    assert got == {i: 0 for i in range(n)}
    release_caches()


def test_connected_components_star_raises_without_fixpoint(spark):
    """When the round budget runs out before the edge set is a star
    forest, star must fail loudly instead of returning the leftover
    edges as component ids."""
    from movie_etl_spark.operators.graph_algos import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components_star(edges, max_rounds=1)


def test_connected_components_star_matches_union_find(spark):
    """Random sparse graph vs a pure-Python union-find reference:
    identical (node -> min-id component) mapping, multiple components."""
    import random

    from movie_etl_spark.operators.graph_algos import (
        connected_components_star,
    )
    from movie_etl_spark.session import release_caches

    rng = random.Random(7)
    n = 400
    edge_list = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(250)
    }
    edge_list = [(a, b) for a, b in edge_list if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in edge_list:
        for v in (a, b):
            expected[v] = find(v)

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node_id: r.component_id
        for r in connected_components_star(edges).collect()
    }
    assert got == expected
    assert len({c for c in expected.values()}) > 1  # non-trivial graph
    release_caches()


def test_bfs_distances_hand_computed(spark):
    """K4 plus a pendant and a far chain: exact hop distances, bounded
    by max_hops, unreached nodes absent."""
    from movie_etl_spark.operators.graph_algos import bfs_distances

    E = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        E + [(b, a) for a, b in E], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.node_id: r.dist for r in bfs_distances(edges, seeds, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5, 6 beyond 3 hops
    # multi-source takes the minimum over seeds
    seeds2 = spark.createDataFrame([(1,), (6,)], "id long")
    got2 = {
        r.node_id: r.dist for r in bfs_distances(edges, seeds2, 2).collect()
    }
    assert got2 == {1: 0, 2: 1, 3: 2, 6: 0, 5: 1, 4: 2}


def test_bfs_seed_not_in_graph_keeps_distance_zero(spark):
    from movie_etl_spark.operators.graph_algos import bfs_distances

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "id long")
    got = {r.node_id: r.dist for r in bfs_distances(edges, seeds, 2).collect()}
    assert got == {99: 0}


def test_triangle_counts_hand_computed(spark):
    """K4 (4 triangles, 3 per node), a pendant, an isolated edge, and
    duplicate/reversed/self-loop edges that must be collapsed."""
    from movie_etl_spark.operators.graph_algos import triangle_counts

    E = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (5, 1),                                           # pendant
        (6, 7),                                           # isolated edge
        (2, 1), (3, 1), (4, 4),                           # dupes + loop
    ]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {r.node_id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}


def test_triangle_counts_two_sharing_an_edge(spark):
    """Bowtie-ish: triangles {1,2,3} and {2,3,4} share edge (2,3)."""
    from movie_etl_spark.operators.graph_algos import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {r.node_id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_apply_changelog_delete_resurrect_and_tiebreak(spark):
    from movie_etl_spark.operators.upsert import apply_changelog

    rows = [
        # key 1: upsert then tombstone -> gone
        (1, 10, False, "a"),
        (1, 20, True, "b"),
        # key 2: tombstone then upsert -> resurrected with latest value
        (2, 10, True, "c"),
        (2, 20, False, "d"),
        # key 3: same seq ts -> event_id tiebreaker wins (31 > 30)
        (3, 30, False, "e"),
        (3, 30, False, "f"),
    ]
    log = spark.createDataFrame(
        rows, "k long, seq long, _is_delete boolean, v string"
    )
    # duplicate seq needs the second ordering column: reuse v as the
    # tiebreaker for key 3 (f > e)
    out = {
        r.k: r.v
        for r in apply_changelog(log, ["k"], ["seq", "v"]).collect()
    }
    assert out == {2: "d", 3: "f"}


def test_apply_changelog_null_tombstone_flag_keeps_row(spark):
    """A NULL delete flag is "not a delete" (Debezium upsert-only
    convention), not three-valued-logic row loss — r7 ADVICE item."""
    from movie_etl_spark.operators.upsert import apply_changelog

    log = spark.createDataFrame(
        [(1, 10, None, "a"), (2, 10, None, "b"), (2, 20, True, "c")],
        "k long, seq long, _is_delete boolean, v string",
    )
    out = {
        r.k: r.v for r in apply_changelog(log, ["k"], ["seq", "v"]).collect()
    }
    assert out == {1: "a"}


def test_tfidf_top_terms_hand_computed(spark):
    """Rarer terms outrank common ones; ties break on term asc; tf
    scales the score; short tokens are dropped."""
    from movie_etl_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana banana common xx"),
            (2, "banana common common cherry"),
            (3, "common dates dates dates"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "text", "doc_id", top_k=2).collect()
    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df_docs) for r in out}
    # doc 1: apple df=1 tf=1 -> 3e6; banana df=2 tf=2 -> 3e6; tie ->
    # term asc puts apple first
    assert got[(1, 1)] == ("apple", 1, 1)
    assert got[(1, 2)] == ("banana", 2, 2)
    # doc 3: dates df=1 tf=3 -> 9e6 beats common df=3 tf=1 -> 1e6
    assert got[(3, 1)] == ("dates", 3, 1)
    assert got[(3, 2)] == ("common", 1, 3)
    # 'xx' (len 2) never appears
    assert all(r.term != "xx" for r in out)


def test_event_funnel_requires_ordered_steps(spark):
    """A click BEFORE the signup must not advance the funnel; steps
    chain strictly by timestamp."""
    from datetime import datetime as dt

    rows = [
        # user 1: full ordered funnel
        (1, "signup", dt(2024, 1, 1, 10)),
        (1, "click", dt(2024, 1, 1, 11)),
        (1, "purchase", dt(2024, 1, 1, 12)),
        # user 2: click precedes signup -> depth stays 1
        (2, "click", dt(2024, 1, 1, 9)),
        (2, "signup", dt(2024, 1, 1, 10)),
        # user 3: purchase before click-after-signup -> depth 2
        (3, "signup", dt(2024, 1, 1, 10)),
        (3, "purchase", dt(2024, 1, 1, 10, 30)),
        (3, "click", dt(2024, 1, 1, 11)),
        # user 4: never signed up -> depth 0
        (4, "purchase", dt(2024, 1, 1, 10)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        for t in ("region", "nation"):  # unused but loadable dir shape
            pass
        from movie_etl_spark.plans.catalog import QUERIES

        out = {
            r.user_id: r.funnel_depth
            for r in QUERIES["w5_event_funnel"].fn(spark, d).collect()
        }
    assert out == {1: 3, 2: 1, 3: 2, 4: 0}


def test_check_quality_rules_and_failure_counts(spark):
    from movie_etl_spark.operators.dq import check_quality

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (2, 50.0, None), (3, 999.0, "z")],
        "k long, v double, s string",
    )
    out = {r.rule_id: (r.passed, r.violations) for r in check_quality(df, [
        {"rule": "not_null", "col": "s"},
        {"rule": "unique", "cols": ["k"]},
        {"rule": "range", "col": "v", "min": 0, "max": 100},
        {"rule": "accepted_values", "col": "s", "values": ["a", "b"]},
        {"rule": "non_empty"},
    ]).collect()}
    assert out["not_null:s"] == (False, 1)
    assert out["unique:k"] == (False, 1)       # k=2 twice
    assert out["range:v"] == (False, 2)        # -5 and 999
    assert out["accepted_values:s"] == (False, 1)  # 'z' (NULL not counted)
    assert out["non_empty:"] == (True, 0)
    # empty frame: non_empty fails, everything else trivially passes
    empty = df.limit(0)
    out2 = {r.rule_id: r.passed for r in check_quality(empty, [
        {"rule": "non_empty"}, {"rule": "not_null", "col": "s"},
    ]).collect()}
    assert out2 == {"non_empty:": False, "not_null:s": True}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown quality rule"):
        check_quality(df, [{"rule": "nope"}])


def test_merge_partial_aggregates_matrix(spark):
    """Keys only in old, only in delta, and in both; sum/max/min
    combiners; result equals a from-scratch aggregate."""
    from movie_etl_spark.operators.upsert import merge_partial_aggregates

    old = spark.createDataFrame(
        [(1, 2, 10, 5), (2, 1, 7, 7)], "k long, n long, s long, mx long"
    )
    delta = spark.createDataFrame(
        [(2, 3, 5, 9), (3, 1, 1, 1)], "k long, n long, s long, mx long"
    )
    out = {
        r.k: (r.n, r.s, r.mx)
        for r in merge_partial_aggregates(
            old, delta, ["k"], {"n": "sum", "s": "sum", "mx": "max"}
        ).collect()
    }
    assert out == {1: (2, 10, 5), 2: (4, 12, 9), 3: (1, 1, 1)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown combiner"):
        merge_partial_aggregates(old, delta, ["k"], {"n": "avg"})


def test_spearman_corr_monotone_reverse_and_ties(spark):
    from movie_etl_spark.operators.stats import spearman_corr

    # strictly monotone -> exactly 1; reversed -> exactly -1
    up = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 21)], "a long, b long"
    )
    assert spearman_corr(up, "a", "b").collect()[0].spearman == 1.0
    down = spark.createDataFrame(
        [(i, -i) for i in range(1, 21)], "a long, b long"
    )
    assert spearman_corr(down, "a", "b").collect()[0].spearman == -1.0
    # hand-checked tie case: x=(1,2,2,3), y=(10,20,20,40)
    # avg ranks x: 1, 2.5, 2.5, 4; y: 1, 2.5, 2.5, 4 -> identical
    # rankings -> exactly 1 even with ties
    ties = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (3, 40)], "a long, b long"
    )
    r = spearman_corr(ties, "a", "b").collect()[0]
    assert r.n == 4 and r.spearman == 1.0
    # permuted with ties: x=(1,2,2,3) vs y=(40,20,20,10) -> exactly -1
    ties2 = spark.createDataFrame(
        [(1, 40), (2, 20), (2, 20), (3, 10)], "a long, b long"
    )
    assert spearman_corr(ties2, "a", "b").collect()[0].spearman == -1.0


def test_gap_fill_locf_fills_and_carries(spark):
    from movie_etl_spark.plans.catalog import QUERIES
    from datetime import datetime as dt
    import tempfile

    rows = [
        (1, dt(2024, 1, 2, 5), 10.0),   # day 2
        (1, dt(2024, 1, 5, 6), 20.0),   # day 5
        (2, dt(2024, 1, 1, 1), 7.0),    # day 1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        out = QUERIES["ts1_gap_fill_locf"].fn(spark, d).collect()
    u1 = {r.day.day: (r.n_events, r.sum_value_locf)
          for r in out if r.user_id == 1}
    assert u1[1] == (0, None)          # leading gap stays NULL
    assert u1[2] == (1, 10.0)
    assert u1[3] == (0, 10.0)          # carried forward
    assert u1[4] == (0, 10.0)
    assert u1[5] == (1, 20.0)
    assert u1[6] == (0, 20.0)
    assert len(u1) == 30               # full calendar grid

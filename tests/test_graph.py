"""Connected components (operators/graph.py): chain propagation over
multiple rounds, isolation, undirectedness, and the convergence guard."""

from __future__ import annotations

import pytest

from distgrep_spark.operators.graph import connected_components, dedup_clusters


def cc(spark, n_vertices, edge_list, **kw):
    v = spark.createDataFrame([(i,) for i in range(n_vertices)], "id long")
    e = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["id"]: r["comp"] for r in connected_components(v, e, **kw).collect()
    }


def test_chain_needs_multiple_rounds(spark):
    """0-1-2-3-4 chain: label 0 must walk 4 hops."""
    got = cc(spark, 6, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}


def test_edges_are_undirected(spark):
    """(4,0) written high-to-low must still pull 4 into component 0."""
    got = cc(spark, 5, [(4, 0), (3, 4)])
    assert got[3] == 0 and got[4] == 0


def test_two_components(spark):
    got = cc(spark, 6, [(0, 1), (2, 3), (3, 4)])
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 2, 5: 5}


def test_convergence_guard_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        cc(spark, 12, [(i, i + 1) for i in range(11)], max_iter=2)


def test_dedup_clusters_keep_one_per_cluster(spark):
    df = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y"), (3, "x"), (4, "z")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 3)], ["doc_a", "doc_b"])
    clusters = dedup_clusters(df, pairs)
    kept = clusters.where("doc_id = cluster_rep")
    assert {r["doc_id"] for r in kept.collect()} == {0, 2, 4}


# ---------------------------------------------------------------------------
# Degree-ordered orientation (degree_orient, used by graph_triangle_count)
# ---------------------------------------------------------------------------


def _orient_and_count(spark, eset):
    """Triangle count through degree_orient's source-keyed wedge join —
    the exact plan shape of graph_triangle_count's tri branch."""
    from pyspark.sql import functions as F

    from distgrep_spark.operators.graph import degree_orient

    edges = spark.createDataFrame(sorted(eset), "u long, v long")
    deg = (
        edges.selectExpr("u AS node")
        .unionAll(edges.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    o = degree_orient(edges, deg)
    p = o.select("s", F.col("t").alias("y"))
    q_ = o.select("s", F.col("t").alias("z"))
    e3 = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
    return (
        p.join(q_, "s").where("y <> z").join(e3, ["y", "z"]).count(),
        o,
    )


def _brute_triangles(eset):
    adj = {}
    for u, v in eset:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return sum(1 for u, v in eset for w in (adj[u] & adj[v]) if w > v)


def test_degree_orient_hub_graph_exact(spark):
    """Mid-id hub (the id-ordering worst case) + planted triangles:
    degree-ordered wedge join must count exactly the brute force."""
    hub = 50
    eset = {(min(hub, i), max(hub, i)) for i in range(30) if i != hub}
    eset |= {(100 + i, 100 + i + 1) for i in range(0, 20, 2)}
    eset |= {(0, 1), (1, 2), (0, 2), (0, 3), (2, 3)}  # triangles incl. hub spokes? no: ids 0-3
    eset |= {(5, hub), (6, hub), (5, 6)}  # triangle THROUGH the hub
    got, oriented = _orient_and_count(spark, eset)
    assert got == _brute_triangles(eset)
    # the hub has max degree, so (almost) all its edges point INTO it:
    # its out-degree is 0 and it emits no wedges — the scale property.
    hub_out = oriented.where(f"s = {hub}").count()
    assert hub_out == 0


def test_degree_orient_random_graph_exact(spark):
    import random

    rng = random.Random(7)
    eset = set()
    while len(eset) < 300:
        u, v = rng.randrange(60), rng.randrange(60)
        if u != v:
            eset.add((min(u, v), max(u, v)))
    got, oriented = _orient_and_count(spark, eset)
    assert got == _brute_triangles(eset)
    # orientation is a bijection on edges: every undirected edge appears
    # exactly once, in exactly one direction
    assert oriented.count() == len(eset)
    assert oriented.selectExpr("least(s,t) AS a", "greatest(s,t) AS b").distinct().count() == len(eset)


# ---------------------------------------------------------------------------
# Part co-purchase graph (part_baskets / copurchase_edges), the edge list
# of the graph_* queries, against a brute-force pair count.
# ---------------------------------------------------------------------------

_LINEITEM_SCHEMA = "l_orderkey long, l_partkey long, l_linenumber int"
# order -> its lines' part keys
_ORDERS = {
    1: [10, 10, 20],  # part 10 on two lines: must count once
    2: [30, 20, 10],
    3: [20, 10],
    4: [30, 40],  # (30, 40) co-bought once: dropped
    5: [30, 10],
    6: [50],  # single-part orders give no pairs
    7: [50],
}


def _lineitem(spark, orders):
    rows = [(o, p, i) for o, ps in orders.items() for i, p in enumerate(ps, 1)]
    return spark.createDataFrame(rows, _LINEITEM_SCHEMA)


def _brute_copurchase(orders):
    import itertools
    from collections import Counter

    c = Counter(
        pair
        for ps in orders.values()
        for pair in itertools.combinations(sorted(set(ps)), 2)
    )
    return {pair: w for pair, w in c.items() if w >= 2}


def test_part_baskets_are_sorted_and_distinct(spark):
    from distgrep_spark.operators.graph import part_baskets

    got = {r["l_orderkey"]: r["ps"] for r in part_baskets(_lineitem(spark, _ORDERS)).collect()}
    assert got == {o: sorted(set(ps)) for o, ps in _ORDERS.items()}


def test_copurchase_edges_match_brute_force(spark):
    from distgrep_spark.operators.graph import copurchase_edges

    want = _brute_copurchase(_ORDERS)
    # the fixture exercises both floors: w = 3 and w = 2 kept, w = 1 dropped
    assert want == {(10, 20): 3, (10, 30): 2}
    li = _lineitem(spark, _ORDERS)
    und = copurchase_edges(li)
    assert und.columns == ["u", "v", "w"]
    got = [(r["u"], r["v"], r["w"]) for r in und.collect()]
    assert sorted(got) == sorted((u, v, w) for (u, v), w in want.items())

    directed = copurchase_edges(li, directed=True)
    assert directed.columns == ["src", "dst", "w"]
    got = [(r["src"], r["dst"], r["w"]) for r in directed.collect()]
    mirrored = [(a, b, w) for (u, v), w in want.items() for a, b in ((u, v), (v, u))]
    assert sorted(got) == sorted(mirrored)


def test_copurchase_edges_empty_lineitem(spark):
    from distgrep_spark.operators.graph import copurchase_edges

    li = spark.createDataFrame([], _LINEITEM_SCHEMA)
    for directed, cols in ((False, ["u", "v", "w"]), (True, ["src", "dst", "w"])):
        out = copurchase_edges(li, directed=directed)
        assert out.columns == cols
        assert out.count() == 0


# ---------------------------------------------------------------------------
# Alternating large-star/small-star CC (round 9): the O(log n)-round
# kernel for chain-shaped graphs, validated against a union-find oracle.


def _uf_components(n, edges):
    p = list(range(n))

    def find(x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            p[max(ra, rb)] = min(ra, rb)
    roots = {}
    for i in range(n):
        roots.setdefault(find(i), []).append(i)
    return {i: min(mem) for mem in roots.values() for i in mem}


def _cc_star(spark, n, edges, **kw):
    from distgrep_spark.operators.graph import connected_components_star

    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    labels, rounds = connected_components_star(v, e, **kw)
    return {r["id"]: r["comp"] for r in labels.collect()}, rounds


def test_star_cc_matches_union_find_on_adversarial_shapes(spark):
    """Path / reversed path / star / clique / two components / isolated
    vertices — every labeling must equal the union-find ground truth."""
    import random

    cases = [
        (6, [(0, 1), (1, 2), (2, 3), (3, 4)]),
        (5, [(4, 0), (3, 4)]),
        (6, [(0, 1), (2, 3), (3, 4)]),
        (8, [(0, i) for i in range(1, 7)]),
        (5, [(a, b) for a in range(4) for b in range(a + 1, 4)]),
        (64, [(i + 1, i) for i in range(63)]),
    ]
    rng = random.Random(7)
    cases.append(
        (120, [(rng.randrange(120), rng.randrange(120)) for _ in range(100)])
    )
    for n, edges in cases:
        got, _ = _cc_star(spark, n, edges)
        assert got == _uf_components(n, edges)


def test_star_cc_rounds_are_logarithmic_on_a_path(spark):
    """THE reason this kernel exists: a 128-node path must converge in
    O(log n) rounds where min-label propagation needs 127. A regression
    to linear rounds fails loudly here instead of at a 10^6-node chain."""
    got, rounds = _cc_star(spark, 128, [(i, i + 1) for i in range(127)])
    assert got == {i: 0 for i in range(128)}
    assert rounds <= 12, f"star contraction took {rounds} rounds on a path-128"


def test_star_cc_convergence_guard_raises(spark):
    """pre_contract=False isolates the guard: with the local pass on, a
    path that fits one partition collapses to a star in round 0 and
    max_iter=1 legitimately suffices."""
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_star(
            spark, 40, [(i, i + 1) for i in range(39)],
            max_iter=1, pre_contract=False,
        )


def test_star_cc_precontract_matches_plain_on_all_shapes(spark):
    """The partition-local union-find pass is exact: labels with
    pre_contract on and off must both equal the union-find ground truth
    on every adversarial shape, and the pre-contracted run may never
    need MORE rounds."""
    import random

    rng = random.Random(11)
    cases = [
        (6, [(0, 1), (1, 2), (2, 3), (3, 4)]),
        (8, [(0, i) for i in range(1, 7)]),
        (64, [(i + 1, i) for i in range(63)]),
        (120, [(rng.randrange(120), rng.randrange(120)) for _ in range(100)]),
    ]
    for n, edges in cases:
        truth = _uf_components(n, edges)
        got_pre, rounds_pre = _cc_star(spark, n, edges, pre_contract=True)
        got_plain, rounds_plain = _cc_star(spark, n, edges, pre_contract=False)
        assert got_pre == truth
        assert got_plain == truth
        assert rounds_pre <= rounds_plain

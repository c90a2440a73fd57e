"""Connected components — the iterative-algorithm class (and the step
that turns near-dup PAIRS into dedup CLUSTERS: keep min-id per
component, drop the rest).

Min-label propagation: every vertex starts labeled with its own id; each
round it takes the min of its label and its neighbors' labels; fixpoint
= every vertex labeled with the least id reachable from it (= its
component representative). Deterministic, no RNG.

Scale notes: each round is one join + one groupBy on the edge list —
both shuffle on vertex id, so successive rounds reuse the same
partitioning. Rounds needed = graph diameter; duplicate clusters are
near-cliques (diameter ~1-2), so ``max_iter`` default 15 is generous.
``localCheckpoint`` truncates the lineage each round — without it the
plan doubles per iteration and the driver OOMs planning round ~20 long
before data size matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.pairs import list_pairs, postings

# Support floor of the part co-purchase graph: a pair is an edge only if
# it was co-bought in at least this many orders.
_COPURCHASE_MIN_ORDERS = 2


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 15,
) -> DataFrame:
    """(id, comp) for every vertex: comp = min vertex id in its
    component (isolated vertices keep their own id).

    Raises if the propagation hasn't converged after ``max_iter`` rounds
    — silent partial convergence would mislabel components.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    und = und.where(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=False)

    labels = vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp"))
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter)"
    )


def dedup_clusters(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster assignment from near-dup (doc_a, doc_b) pairs: every
    document labeled with its component's min doc id (``cluster_rep``).
    Downstream dedup keeps ``doc_id == cluster_rep`` rows only."""
    comps = connected_components(
        df.select("doc_id"), pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_rep"))


def part_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps): every order's parts as a ``functions/pairs``
    posting list, so a part listed on two lines of one order counts
    once and ``list_pairs`` over ``ps`` emits every co-bought pair
    exactly once, value-ordered (x < y)."""
    return postings(li, "l_orderkey", "l_partkey", "ps")


def copurchase_edges(li: DataFrame, *, directed: bool = False) -> DataFrame:
    """The part co-purchase graph of ``lineitem``: (u, v, w) for every
    part pair u < v co-bought in w >= 2 orders.

    The engine's map → shuffle → reduce with a map-side combine: pairs
    are emitted in the task that holds the basket (bounded k(k-1)/2 per
    order of k parts, never quadratic in the table), then rolled up per
    (u, v) with the support floor applied before anything downstream.

    ``directed=True`` returns (src, dst, w) with both orientations of
    every surviving edge and the same w. The rollup still runs on the
    u < v orientation only and the mirror happens on the survivors, so
    the shuffle carries half the rows and the mirror is graph-sized,
    not explode-sized. w is symmetric, so this equals rolling up both
    orientations.

    No checkpoint here: callers that read the edges more than once
    checkpoint their own projection."""
    edges = (
        part_baskets(li)
        .select(F.explode(F.expr(list_pairs("ps", "x AS u, y AS v"))).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= _COPURCHASE_MIN_ORDERS)
    )
    if not directed:
        return edges
    return edges.select(
        F.explode(
            F.expr(
                "array(struct(u AS src, v AS dst, w),"
                "      struct(v AS src, u AS dst, w))"
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")


def degree_orient(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient canonical undirected edges (u, v) from the lower-(degree,
    id) endpoint to the higher — Schank-Wagner compact-forward
    orientation, the degree-ordered scale path for triangle counting
    (queries/profiling.py graph_triangle_count).

    ``edges``: columns (u, v); ``deg``: columns (node, d). Returns
    (s, t, dt) with (d_s, s) < (d_t, t) lexicographically (dt = d_t,
    kept so wedge consumers can order the two targets without another
    degree join). Every triangle
    {a, b, c} in that total order carries s->t edges a->b, a->c, b->c,
    so the source-keyed wedge join finds it exactly once, and per-source
    wedge work is outdeg^2 <= O(arboricity^2) per vertex — a hub's
    edges all point INTO it, so the hub emits no wedges (the 100-TB
    property; hub soak measured in SCALE.md round 4). Two node-keyed
    equi-joins against the degree table (broadcast at fixture scale,
    linear shuffle joins at 100 TB); no shuffle is added to the
    downstream triangle join, which keys on the source column.

    Reference: massimostanzione/distgrep has no graph operators
    (worker.go:24-43 is grep-only); this is the brief's analytics
    extension surface.
    """
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # dt (the target's degree) rides along so the wedge join can keep
    # only the order-consistent (y, z) ordering — without it, both
    # orderings of every wedge reach the closing join and the
    # inconsistent half can never match an oriented e3 edge (round-4
    # advice: half the probe work was provably wasted).
    return (
        edges.join(du, "u")
        .join(dv, "v")
        .selectExpr(
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s",
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t",
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt",
        )
    )


def _precontract_local(edges: DataFrame) -> DataFrame:
    """Partition-LOCAL union-find contraction: one Arrow pass that
    rewrites the edge set as its flattened spanning forest (vertex →
    partition-local min root). Exact and connectivity-preserving — each
    input edge (u, v) is represented by u→r, v→r through the shared
    local root r, and a vertex seen in several partitions bridges them
    by appearing in each partition's forest — so the star rounds
    downstream compute the identical components.

    Why: the star kernel's cost model is rounds × fixed scheduler
    latency (SCALE.md, round-9: per-round cost is ~4 shuffle stages of
    task latency, not data). Rounds track log(diameter), and this pass
    collapses every path that lands inside one partition to diameter
    <= 2 BEFORE the first shuffle, the same move as a map-side combine:
    the sf0.1 order chains (one customer's chain is contiguous in the
    upstream window partitioning) contract to stars in round 0 and the
    distributed loop converges in 1-2 rounds instead of 5+ (A/B in
    SCALE.md). The 100-TB view: per-partition memory is one dict over
    the partition's vertices (~a few million for 128 MB of edges —
    bounded by input split size, never by graph size), work is
    linear-with-inverse-Ackermann, and the output never exceeds the
    input edge count.
    """

    dtypes = dict(edges.dtypes)
    schema = f"src {dtypes['src']}, dst {dtypes['dst']}"

    def contract(batches):
        import pandas as pd

        parent = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["src"], pdf["dst"]):
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru  # union-by-min: roots stay minima
        out_u, out_r = [], []
        for x in list(parent):
            r = find(x)
            if r != x:
                out_u.append(x)
                out_r.append(r)
        if out_u:
            yield pd.DataFrame({"src": out_u, "dst": out_r})

    return edges.mapInPandas(contract, schema)


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iter: int = 40,
    pre_contract: bool = True,
) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star contraction — the
    O(log n)-round connected components of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SoCC'14). ``vertices`` has
    ``id``, ``edges`` has ``(src, dst)``. Returns ((id, comp) labels,
    rounds used); comp = min vertex id in the component.

    Why a second CC kernel beside ``connected_components``: min-label
    propagation needs DIAMETER rounds — fine for near-clique dedup
    clusters (diameter 1-2), hopeless for chain-shaped graphs
    (sessionized event paths, SCD order chains), where a 10^6-node path
    would need 10^6 shuffles. Star contraction halves long paths every
    other round: each large-star hangs every node's larger neighbors
    off its current minimum, each small-star re-points the smaller ones,
    so label trees flatten geometrically (pytest pins a 512-node path to
    <= ~12 rounds; min-label would take 511).

    The 100-TB view: every round is two shuffles keyed on vertex id
    (groupBy min + re-emit), edge count never grows (each input edge
    maps to exactly one output edge per phase, dedup'd), and the edge
    set SHRINKS toward one star edge per non-root vertex, so late
    rounds are cheap. Round count is data-dependent (log of the largest
    component's diameter) with a constant per-round plan —
    ``localCheckpoint`` per round truncates lineage exactly like the
    min-label kernel. Convergence is VERIFIED (fixpoint edge set), not
    assumed; raises past ``max_iter``. ``pre_contract`` (default on)
    runs the exact partition-local union-find pass first
    (``_precontract_local``): identical labels, but the rounds start
    from per-partition diameter <= 2 — the round-10 answer to the
    per-round scheduler floor (A/B in SCALE.md).

    Reference: massimostanzione/distgrep has no graph operators
    (worker.go:24-43 is grep-only); this is the brief's analytics
    extension surface.
    """
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if pre_contract:
        # Round-0 local contraction (exact; see _precontract_local),
        # applied on the input's NATURAL partitioning and INSTEAD of the
        # initial distinct — union-find subsumes duplicate edges, and a
        # distinct-first order was measured NET NEGATIVE at x64 (48 s vs
        # 33 s baseline): its hash shuffle scatters each chain across
        # partitions, so the local pass finds nothing and still pays the
        # Python walk. Narrow ops only up to here, so upstream locality
        # (a window's partition-contiguous chains) reaches the pass.
        cur = _precontract_local(cur)
    else:
        cur = cur.distinct()
    cur = cur.localCheckpoint(eager=False)

    def _sig(df: DataFrame):
        # one aggregate job over the just-checkpointed edges: (count,
        # exact DECIMAL sum of per-edge xxhash64) — multiset equality
        # up to a hash-sum collision, which the monotone label descent
        # makes unobservable in practice. Replaces a count + a full
        # subtract shuffle per round (A/B: the subtract was the round's
        # single most expensive job on the x8 chain corpus). DECIMAL
        # sum because ANSI BIGINT sum of 2^63-scale hashes overflows.
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev_sig = _sig(cur)
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # LARGE-STAR: every node links its strictly-larger neighbors to
        # its current minimum (m <= u < v, so emitted edges point
        # bigger -> smaller from here on).
        und = cur.union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = und.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        # NOTE: large feeds both mins2 and the small-star join, but a
        # localCheckpoint here was A/B'd NET-NEUTRAL at sf0.1 (8.65 vs
        # 8.76 s) — the extra materialization job cancels the reuse
        # (rounds are scheduler-overhead-bound, not compute-bound), so
        # it stays lazy and unpinned.
        large = (
            und.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # SMALL-STAR: re-point each node's smaller neighbors (and
        # itself) at the minimum of that neighborhood.
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins2.select(F.col("src"), F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # fixpoint = identical edge set (labels only ever decrease)
        sig = _sig(small)
        cur = small
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    labels = (
        vertices.select("id")
        .join(cur.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce(F.col("dst"), F.col("id")).alias("comp"))
    )
    return labels, rounds

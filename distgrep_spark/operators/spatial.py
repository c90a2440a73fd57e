"""Grid-bucketed spatial near-neighbor self-join with hot-cell salting.

The geospatial near-neighbor join pattern (geohash/S2-cell joins are
this exact plan with a spherical cell function): each point lands in
ONE cell of edge r, the probe side explodes its 3x3 cell neighborhood,
the build side joins on exact cell id, and the exact L-infinity
predicate verifies. Because cells partition the plane, every
qualifying pair is found exactly once — no dropDuplicates shuffle.

Reference: massimostanzione/distgrep worker.go:33-34 (the reference's
only predicate is a substring filter); the spatial join is part of the
brief's analytics extension surface.

The 100-TB problem this module actually solves: the equi-join on cell
id sends EVERY row of a cell to ONE reduce task, and its pairing work
is quadratic in cell population — a hub cell (downtown Tokyo in
geodata; coincident coordinates in the SCALE.md 16x stress) turns into
a single straggler task doing |cell|^2 verifications while the rest of
the cluster idles. AQE's OptimizeSkewedJoin only engages for
sort-merge joins past ~256 MB partitions, so a CPU-bound hub cell in a
bytes-small shuffle never trips it (the same blind spot as AQE
coalescing of Python stages, functions/udtfs.py). The fix here is the
operators/skew.py salting idea made ADAPTIVE:

1. one map-side-combinable count per cell (shuffles cell-key rollups,
   not points — the CLAUDE.md sketch-from-rollup discipline);
2. only cells with population > hot_threshold enter a broadcast "hot
   list" carrying a split factor S = ceil(n / hot_threshold) (capped);
3. build rows in a hot cell are salted deterministically by
   xxhash64(point id) % S; probe rows targeting a hot cell replicate
   x S; everyone else keeps salt 0 and pays NOTHING;
4. the join key becomes (cell, salt): the hub cell's quadratic work is
   now spread over S tasks (each |cell| x |cell|/S verifications), and
   each qualifying pair still meets exactly once (a build row has
   exactly one salt; its probe partner carries every salt of that
   cell).

Cost model: the hot list is tiny by construction (only super-threshold
cells), so both enrichment joins broadcast; probe replication is
confined to hot-cell rows. With no hot cells the plan degenerates to
the plain grid join plus one cheap rollup.

Measured regimes (SCALE.md round 4, local[32], 200k points):

- SHUFFLE-join regime (autoBroadcastJoinThreshold=-1 — the 100-TB
  posture where neither side fits a broadcast): a 40k-point hub cell
  makes one reduce task emit all 800M hub pairs — 12.6 s wall while
  31 cores idle; salted (threshold 1024, S<=64) the same 800M pairs
  land in 3.4 s (3.7x), identical output, certified pair-exactly-once.
- BROADCAST regime (both sides small): there IS no straggler — the
  probe side streams through map tasks, hub work distributes for
  free — and salting strictly costs (the explode replication inflates
  the broadcast hash table xS: measured 5.7 s -> 10.2/13.3/17.0/20.3 s
  at S=8/16/32/256). Hence the high default threshold: a cell below
  ~1k points does <=~1M comparisons (~ms) and never needs splitting,
  so at fixture scale the hot list is empty and the broadcast plan is
  untouched, while a true hub (10^5-10^6-point cells at 100 TB, where
  the join is necessarily shuffle-based) still splits.
- Output-bound regime: when pair OUTPUT is itself quadratic
  (coincident coordinates, the SCALE.md 16x density stress whose
  ratio is 6.5x), the emissions are irreducible — salting spreads
  them across tasks but cannot shrink them; the fix there is upstream
  dedup of coincident points, not a join-layout change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_neighbor_pairs(
    pts: DataFrame,
    *,
    radius: int,
    hot_threshold: int | None = 1024,
    max_splits: int = 64,
) -> DataFrame:
    """All pairs of ``pts`` rows (k, x, y) with key_a < key_b within
    L-infinity ``radius`` in integer (x, y) space, as rows (key_a, key_b,
    dx, dy).

    ``hot_threshold``: cells with more points than this are split into
    ``ceil(n / hot_threshold)`` salt buckets (at most ``max_splits``) so
    no single reduce task owns a hub cell's quadratic pairing work;
    ``None`` disables salting (the plain grid join — kept for A/B and
    for the soak baseline). Results are identical either way; only the
    shuffle layout changes. Coordinates must be integers (exact cell
    arithmetic; ANSI-safe DIV).
    """
    r = int(radius)
    pts = pts.select("k", "x", "y")
    probe = pts.selectExpr(
        "k",
        "x",
        "y",
        f"explode(flatten(transform(sequence(-1, 1), dx ->"
        f" transform(sequence(-1, 1), dy ->"
        f" struct(x DIV {r} + dx AS cx, y DIV {r} + dy AS cy)))))"
        " AS cell",
    ).selectExpr("k AS ka", "x AS xa", "y AS ya", "cell.cx AS cx", "cell.cy AS cy")
    build = pts.selectExpr(
        "k AS kb",
        "x AS xb",
        "y AS yb",
        f"xb DIV {r} AS cx",
        f"yb DIV {r} AS cy",
    )
    if hot_threshold is not None and hot_threshold < 1:
        raise ValueError(
            f"hot_threshold must be >= 1 (got {hot_threshold}): 0 would "
            "ANSI-divide-by-zero inside the split-count expression at "
            "runtime; pass None to disable hot-cell salting"
        )
    if max_splits < 1:
        raise ValueError(f"max_splits must be >= 1 (got {max_splits})")
    if hot_threshold is None:
        joined = probe.join(build, ["cx", "cy"])
    else:
        # Hot list: (cell, splits) for super-threshold cells only.
        # ceil via integer arithmetic ((n - 1) DIV t + 1): ANSI-exact,
        # no float rounding at the boundary (CLAUDE.md DIV discipline).
        # localCheckpoint: the hot list feeds BOTH broadcast enrichment
        # joins below and ReusedExchange does not fire across branches
        # under AQE (CLAUDE.md) — without it the per-cell count
        # aggregation re-scans the points once per side, contradicting
        # the "one count per cell" cost model (round-4 review catch).
        # The materialized frame is tiny by construction (only
        # super-threshold cells).
        hot = (
            build.groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > hot_threshold)
            .selectExpr(
                "cx",
                "cy",
                f"CAST(least((n - 1) DIV {int(hot_threshold)} + 1,"
                f" {int(max_splits)}) AS INT) AS _splits",
            )
            .localCheckpoint(eager=False)
        )
        b = build.join(F.broadcast(hot), ["cx", "cy"], "left").withColumn(
            "_salt",
            F.when(F.col("_splits").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col("kb")), F.col("_splits")).cast("int")
            ),
        )
        p = probe.join(F.broadcast(hot), ["cx", "cy"], "left").withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("_splits"), F.lit(1)) - 1)
            ),
        )
        joined = p.drop("_splits").join(
            b.drop("_splits"), ["cx", "cy", "_salt"]
        )
    return joined.where(
        f"ka < kb AND abs(xa - xb) <= {r} AND abs(ya - yb) <= {r}"
    ).selectExpr("ka AS key_a", "kb AS key_b", "xb - xa AS dx", "yb - ya AS dy")

"""Preference kernels: one Bradley-Terry MM step and one MMR greedy.

Both turn pairwise evidence into an order. Each is written once here and
shared by the queries that use it (a registry lint keeps it so):

- ``match_matrix`` / ``mm_step``: the Hunter (2004) minorization step of
  the Bradley-Terry model over per-basket "matches" (the larger quantity
  wins, ties are skipped). ``orders_bradley_terry_step`` runs it over
  TPC-H brand baskets and ``rlhf_preference_curation`` over document
  sources; ``orders_bradley_terry_converged`` takes the matrix only and
  iterates in exact integers on the driver.
- ``mmr_pick``: the integer maximal-marginal-relevance greedy
  (Carbonell & Goldstein 1998) over a bounded candidate page, used by
  ``sim_mmr_diversify`` and ``rlhf_preference_curation``.

Cross-engine float discipline of the MM step: every per-term value is a
chain of IEEE correctly-rounded operations on identical operands (one
int/int divide, one add, one divide, one exact multiply by 2^20), so
Spark and the DuckDB twins compute bit-identical doubles. Each term is
floored to integer 2^-20 units, and the per-player denominator is an
exact BIGINT sum, so the engine's summation order never touches a float
accumulator. ``r0_i + r0_j > 0`` holds by construction: every counted
match has a winner, so two players that met cannot both be winless.

Tie rule of the greedy: scores are exact integers and ties go to the
lower id, so the trajectory is deterministic and a chained-CTE DuckDB
twin replays it.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.pairs import list_pairs


def match_matrix(baskets: DataFrame) -> DataFrame:
    """(bi, bj, n_ij, w_ij): per player pair bi < bj, the number of
    decided matches and bi's wins. ``baskets.bs`` is a sorted
    ``array<struct<b, q>>`` with one entry per player (a
    ``functions.pairs.postings`` list); in each basket the larger ``q``
    wins and equal ``q`` is a tie, skipped. Pairing is in-basket,
    k(k-1)/2 per basket; the rollup is |players|^2-bounded at any
    scale."""
    return (
        baskets.select(
            F.explode(F.expr(list_pairs("bs", "x.b AS bi, y.b AS bj, x.q AS qi, y.q AS qj")))
            .alias("m")
        )
        .where("m.qi <> m.qj")
        .groupBy("m.bi", "m.bj")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_ij"),
            F.expr("CAST(sum(CASE WHEN m.qi > m.qj THEN 1 ELSE 0 END) AS BIGINT) AS w_ij"),
        )
    )


def mm_step(pair: DataFrame) -> DataFrame:
    """(b, n_i, wins_i, r0, bt_strength): one MM step from the win rates
    r0_i = wins_i / n_i, w1_i = wins_i / sum_j n_ij / (r0_i + r0_j), in
    the float discipline of the module docstring; ``bt_strength`` is w1
    rounded to 6 places. ``pair`` is a ``match_matrix``, checkpointed
    by the caller, because the win-rate, term and denominator branches
    all read it; every join after it is a broadcast of a
    |players|-sized table."""
    dirs = pair.selectExpr("bi AS b", "bj AS o", "n_ij", "w_ij AS w").unionByName(
        pair.selectExpr("bj AS b", "bi AS o", "n_ij", "n_ij - w_ij AS w")
    )
    w0 = dirs.groupBy("b").agg(
        F.expr("CAST(sum(n_ij) AS BIGINT) AS n_i"),
        F.expr("CAST(sum(w) AS BIGINT) AS wins_i"),
    ).selectExpr("b", "n_i", "wins_i", "CAST(wins_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS r0")
    wi = w0.selectExpr("b AS _bi", "r0 AS _ri")
    wj = w0.selectExpr("b AS _bj", "r0 AS _rj")
    denom = (
        dirs.join(F.broadcast(wi), F.col("b") == F.col("_bi"))
        .join(F.broadcast(wj), F.col("o") == F.col("_bj"))
        .selectExpr(
            "b", "CAST(floor(CAST(n_ij AS DOUBLE) / (_ri + _rj) * 1048576 + 0.5) AS BIGINT) AS t"
        )
        .groupBy("b")
        .agg(F.expr("CAST(sum(t) AS BIGINT) AS den"))
        .selectExpr("b AS _bd", "den")
    )
    return w0.join(F.broadcast(denom), F.col("b") == F.col("_bd")).selectExpr(
        "b",
        "n_i",
        "wins_i",
        "r0",
        "round(CAST(wins_i AS DOUBLE) * 1048576 / CAST(den AS DOUBLE), 6) AS bt_strength",
    )


def mmr_pick(
    rel: Mapping[int, int], qv: Mapping[int, Sequence[int]], k: int, weight: int
) -> list[tuple[int, int, int]]:
    """[(pick_order, id, redundancy)] of the first ``k`` MMR picks.

    The first pick is the highest ``rel``, with redundancy 0. Each later
    pick maximises ``weight * rel[id] - redundancy``, where redundancy
    is the largest integer dot product of ``qv[id]`` with an earlier
    pick. Ties go to the lower id. The caller's score is
    ``weight * rel - redundancy``. Runs on the driver over a bounded
    page: O(k * |page|) dot products."""
    red: dict[int, int] = {}
    left = set(rel)
    picks: list[tuple[int, int, int]] = []
    while left and len(picks) < k:
        if picks:
            d = min(left, key=lambda x: (red[x] - weight * rel[x], x))
        else:
            d = min(left, key=lambda x: (-rel[x], x))
        picks.append((len(picks) + 1, d, red.get(d, 0)))
        left.discard(d)
        for x in left:
            s = sum(a * b for a, b in zip(qv[x], qv[d]))
            red[x] = max(red.get(x, s), s)
    return picks

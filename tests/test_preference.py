"""operators/preference: the Bradley-Terry MM step against a Hunter step
computed by hand, and the MMR greedy's pick and tie rules."""

from __future__ import annotations

import math
from fractions import Fraction

from distgrep_spark.functions.literals import local_table
from distgrep_spark.operators.preference import match_matrix, mm_step, mmr_pick

# Three brands. In each basket the larger quantity wins; the last basket
# is a tie and counts for nothing.
_BASKETS = [
    [("A", 5), ("B", 1), ("C", 2)],
    [("A", 5), ("B", 1)],
    [("A", 5), ("B", 1)],
    [("A", 1), ("B", 5), ("C", 9)],
    [("B", 7), ("C", 3)],
    [("A", 2), ("C", 2)],
]
# (bi, bj) -> (n_ij, w_ij), counted by hand from _BASKETS.
_MATRIX = {("A", "B"): (4, 3), ("A", "C"): (2, 1), ("B", "C"): (3, 1)}


def test_match_matrix_counts_decided_matches(spark):
    baskets = local_table(
        spark,
        [([{"b": b, "q": q} for b, q in bs],) for bs in _BASKETS],
        "bs array<struct<b: string, q: bigint>>",
    )
    got = {(r.bi, r.bj): (r.n_ij, r.w_ij) for r in match_matrix(baskets).collect()}
    assert got == _MATRIX


def test_mm_step_is_one_hunter_step(spark):
    pair = local_table(
        spark,
        [(bi, bj, n, w) for (bi, bj), (n, w) in _MATRIX.items()],
        "bi string, bj string, n_ij bigint, w_ij bigint",
    )
    got = {r.b: r for r in mm_step(pair).collect()}

    # By hand: A met B 4 times (3 wins) and C twice (1 win); B beat C
    # once in 3. So n = A 6, B 7, C 5 and wins = A 4, B 2, C 3.
    n = {"A": 6, "B": 7, "C": 5}
    wins = {"A": 4, "B": 2, "C": 3}
    meets = {"A": [("B", 4), ("C", 2)], "B": [("A", 4), ("C", 3)], "C": [("A", 2), ("B", 3)]}
    assert sorted(got) == ["A", "B", "C"]
    for b, r in got.items():
        assert (r.n_i, r.wins_i) == (n[b], wins[b])
        assert r.r0 == wins[b] / n[b]
        # Hunter (2004): w1_b = wins_b / sum_o n_bo / (r0_b + r0_o), in
        # exact rationals; the kernel floors each term to 2^-20 units.
        r0 = {x: Fraction(wins[x], n[x]) for x in n}
        hunter = wins[b] / sum(Fraction(m) / (r0[b] + r0[o]) for o, m in meets[b])
        assert math.isclose(r.bt_strength, float(hunter), abs_tol=2e-6)
        den = sum(
            math.floor(m / (wins[b] / n[b] + wins[o] / n[o]) * 1048576 + 0.5) for o, m in meets[b]
        )
        assert r.bt_strength == round(wins[b] * 1048576 / den, 6)


def test_mmr_first_pick_is_highest_rel_lower_id_on_ties():
    qv = {5: [1, 0], 2: [1, 0], 7: [0, 1]}
    assert mmr_pick({5: 10, 2: 10, 7: 3}, qv, 1, 1) == [(1, 2, 0)]
    assert mmr_pick({5: 10, 2: 10, 7: 3}, qv, 1, 9)[0][1] == 2


def test_mmr_later_ties_go_to_the_lower_id():
    # After 1, both 9 (5 - 1) and 4 (6 - 2) score 4.
    rel = {9: 5, 4: 6, 1: 10}
    qv = {1: [1, 0], 4: [2, 0], 9: [1, 0]}
    assert mmr_pick(rel, qv, 2, 1) == [(1, 1, 0), (2, 4, 2)]


def test_mmr_weight_scales_rel_not_redundancy():
    rel = {1: 10, 2: 8, 3: 5}
    qv = {1: [1, 0], 2: [4, 0], 3: [0, 1]}
    # weight 1: 8 - 4 < 5 - 0; weight 3: 24 - 4 > 15 - 0. Scaling the
    # redundancy too (3 * (8 - 4) = 12 < 15) would keep picking 3.
    assert mmr_pick(rel, qv, 2, 1) == [(1, 1, 0), (2, 3, 0)]
    assert mmr_pick(rel, qv, 2, 3) == [(1, 1, 0), (2, 2, 4)]


def test_mmr_redundancy_is_the_max_dot_over_all_picks():
    rel = {1: 100, 2: 90, 3: 80, 4: 1}
    qv = {1: [-1, 0], 2: [0, -1], 3: [2, 3], 4: [-5, -5]}
    # 3's dots with picks 1 and 2 are -2 and -3, so its redundancy is
    # -2, not 0; 4's dots are 5, 5 and -25, so its redundancy is 5.
    assert mmr_pick(rel, qv, 9, 1) == [(1, 1, 0), (2, 2, 0), (3, 3, -2), (4, 4, 5)]

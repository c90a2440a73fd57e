"""Hypothesis property test for functions/pairs.list_pairs, the one
in-list pairing fragment behind the posting-list rollups: on a sorted
array it must emit exactly itertools.combinations(arr, 2), in order,
including the empty, single-element and all-duplicate edge cases."""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distgrep_spark.functions.pairs import list_pairs

# A narrow value range forces duplicate and all-equal runs; the wide one
# gives mostly distinct values.
_ARR = st.one_of(
    st.lists(st.integers(0, 3), max_size=40),
    st.lists(st.integers(-(2**40), 2**40), max_size=40),
    st.builds(lambda v, k: [v] * k, st.integers(0, 9), st.integers(0, 40)),
).map(sorted)


def _pairs(spark, arrays):
    df = spark.createDataFrame(list(enumerate(arrays)), "id int, arr array<bigint>")
    got = df.selectExpr("id", f"{list_pairs('arr', 'x AS a, y AS b')} AS ps").collect()
    exploded = (
        df.selectExpr("id", f"explode({list_pairs('arr', 'x AS a, y AS b')}) AS p")
        .groupBy("id")
        .count()
        .collect()
    )
    return (
        {r["id"]: [(p["a"], p["b"]) for p in r["ps"]] for r in got},
        {r["id"]: r["count"] for r in exploded},
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(arrays=st.lists(_ARR, min_size=1, max_size=6))
def test_list_pairs_matches_combinations(spark, arrays):
    pairs, counts = _pairs(spark, arrays)
    for i, arr in enumerate(arrays):
        want = list(combinations(arr, 2))
        assert pairs[i] == want
        assert counts.get(i, 0) == len(want)


def test_list_pairs_empty_and_single(spark):
    pairs, counts = _pairs(spark, [[], [7]])
    assert pairs == {0: [], 1: []}
    assert counts == {}

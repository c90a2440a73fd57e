"""Hypothesis property tests for functions/pairs, the one posting-list
core: ``postings`` must build each key's sorted, distinct member list;
on a sorted array ``list_pairs`` must emit exactly
itertools.combinations(arr, 2), in order, including the empty,
single-element and all-duplicate edge cases; ``cross_pairs`` must emit
exactly itertools.product(a, b), in order."""

from __future__ import annotations

from itertools import combinations, product

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from distgrep_spark.functions.pairs import cross_pairs, list_pairs, postings

# A narrow value range forces duplicate and all-equal runs; the wide one
# gives mostly distinct values.
_ARR = st.one_of(
    st.lists(st.integers(0, 3), max_size=40),
    st.lists(st.integers(-(2**40), 2**40), max_size=40),
    st.builds(lambda v, k: [v] * k, st.integers(0, 9), st.integers(0, 40)),
).map(sorted)

_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


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


@_SETTINGS
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


@_SETTINGS
@example(rows=[])
@given(rows=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 6)), max_size=60))
def test_postings_is_sorted_distinct_members_per_key(spark, rows):
    df = spark.createDataFrame(rows, "k int, m bigint")
    got = {r["k"]: r["ms"] for r in postings(df, "k", "m", "ms").collect()}
    want = {k: sorted({m for kk, m in rows if kk == k}) for k, _ in rows}
    assert got == want


@_SETTINGS
@example(a=[], b=[3])
@example(a=[2], b=[])
@given(a=st.lists(st.integers(0, 5), max_size=12), b=st.lists(st.integers(0, 5), max_size=12))
def test_cross_pairs_matches_product(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<bigint>, b array<bigint>")
    (row,) = df.selectExpr(f"{cross_pairs('a', 'b', 'x AS l, y AS r')} AS ps").collect()
    assert [(p["l"], p["r"]) for p in row["ps"]] == list(product(a, b))

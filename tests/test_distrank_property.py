"""Property-based verification of the distributed order-statistic
machinery (operators/distrank.py): for ARBITRARY small inputs, the
bucketed two-pass forms must equal the plain global window — ties,
negatives, duplicates, NULL keys, empty inputs, and tiny bucket counts
(B=2..4 forces rows across bucket boundaries, the off-by-one surface).
The fixture oracles prove one dataset per query; these prove the
algebra that the twelve ``rank_buckets`` callers share."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distgrep_spark.operators.distrank import ntile_expr, rank_buckets

# boundary-hugging values: duplicates, negatives and NULLs on purpose
_KEYS = st.lists(
    st.sampled_from([None, -3, -1, 0, 0, 1, 2, 2, 2, 5, 7, 11]),
    min_size=0,
    max_size=12,
)


def _ranked(spark, keys, n_buckets, descending=False):
    """(bucketed, global) rows of rank and running sum per rid."""
    df = spark.createDataFrame(
        list(enumerate(keys)), "rid long, k long"
    ).localCheckpoint()
    b, offs, tot = rank_buckets(
        df,
        {"bk": "k"},
        {"cnt": ("sum", "1"), "s": ("sum", "k")},
        descending=descending,
        n_buckets=n_buckets,
    )
    order = "k DESC, rid" if descending else "k, rid"

    def windows(part):
        return (
            f"row_number() OVER ({part} ORDER BY {order}) AS rnk",
            f"sum(k) OVER ({part} ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
        )

    rnk, cum = windows("PARTITION BY bk")
    got = b.selectExpr(
        "rid", f"{offs['bk', 'cnt']} + {rnk}", f"{offs['bk', 's']} + {cum}"
    )
    want = df.selectExpr("rid", *windows(""))
    return (
        {r["rid"]: (r["rnk"], r["cum"]) for r in got.collect()},
        {r["rid"]: (r["rnk"], r["cum"]) for r in want.collect()},
        tot,
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS, n_buckets=st.sampled_from([2, 3, 4, 64]))
def test_bucketed_rank_and_cumsum_match_global(spark, keys, n_buckets):
    got, want, tot = _ranked(spark, keys, n_buckets)
    assert tot["cnt"] == len(keys)
    assert tot["s"] == sum(k for k in keys if k is not None)
    assert got == want, (keys, n_buckets)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS)
def test_bucketed_rank_descending(spark, keys):
    """Ranks only: NULL keys sort last, so a bucket may open with NULL
    summands, where a window sum reads NULL (rank_buckets docstring)."""
    got, want, _ = _ranked(spark, keys, 3, descending=True)
    assert {r: v[0] for r, v in got.items()} == {r: v[0] for r, v in want.items()}, keys


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS, n=st.integers(min_value=0, max_value=20), k=st.sampled_from([2, 4, 5]))
def test_ntile_expr_matches_sql_standard(spark, keys, n, k):
    """ntile arithmetic from a literal n: first n % k tiles carry
    n div k + 1 rows — checked against Spark's own ntile()."""
    if n == 0:
        return
    df = spark.range(1, n + 1).selectExpr("id AS rnk")
    got = df.selectExpr("rnk", f"{ntile_expr('rnk', n, k)} AS t").collect()
    want = {
        r["rnk"]: r["t"]
        for r in spark.range(1, n + 1)
        .selectExpr("id AS rnk", f"ntile({k}) OVER (ORDER BY id) AS t")
        .collect()
    }
    for r in got:
        assert r["t"] == want[r["rnk"]], (n, k)


def test_empty_input_degrades(spark):
    df = spark.createDataFrame([], "rid long, k long")
    b, offs, tot = rank_buckets(
        df, {"bk": "k"}, {"cnt": ("sum", "1"), "mx": ("max", "k")}
    )
    assert b.columns == ["rid", "k", "bk"] and b.count() == 0
    one = spark.range(1).selectExpr("0 AS bk").selectExpr(
        f"{offs['bk', 'cnt']} AS cnt", f"{offs['bk', 'mx']} AS mx"
    )
    assert one.first().asDict() == {"cnt": 0, "mx": None}
    assert tot == {"cnt": 0, "mx": None}

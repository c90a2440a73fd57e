"""Property-based verification of the distributed order-statistic
machinery (operators/distrank.py): for ARBITRARY small inputs, the
bucketed two-pass forms must equal the plain global window / Python
reference — ties, negatives, duplicates, empty inputs, and tiny bucket
counts (B=2..4 forces rows across bucket boundaries, the off-by-one
surface). The fixture oracles prove one dataset per query; these prove
the algebra the five rewritten queries and count_greater_join share."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import array_lit
from distgrep_spark.operators.distrank import (
    bucket_expr,
    exclusive_prefixes,
    ntile_expr,
    percentile_boundaries,
)

# boundary-hugging values: duplicates and negatives on purpose
_KEYS = st.lists(
    st.sampled_from([-3, -1, 0, 0, 1, 2, 2, 2, 5, 7, 11]),
    min_size=0,
    max_size=12,
)


def _ranked(spark, keys, n_buckets, descending=False):
    df = spark.createDataFrame(
        [(i, int(k)) for i, k in enumerate(keys)], "rid long, k long"
    ).localCheckpoint()
    bs = percentile_boundaries(df, "k", n_buckets, descending=descending)
    b = df.selectExpr(
        "rid", "k", f"{bucket_expr('k', bs, 'bigint', descending=descending)} AS bk"
    )
    pre, tot = exclusive_prefixes(
        b,
        "bk",
        {"cnt": "CAST(count(*) AS BIGINT)", "s": "CAST(sum(k) AS BIGINT)"},
        {"cnt": "sum", "s": "sum"},
    )
    order = "k DESC, rid" if descending else "k, rid"
    out = b.selectExpr(
        "rid",
        "k",
        f"element_at({array_lit(pre['cnt'], 'bigint')}, bk + 1) + "
        f"row_number() OVER (PARTITION BY bk ORDER BY {order}) AS rnk",
        f"element_at({array_lit(pre['s'], 'bigint')}, bk + 1) + "
        f"sum(k) OVER (PARTITION BY bk ORDER BY {order} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    ).collect()
    return out, tot


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS, n_buckets=st.sampled_from([2, 3, 4, 64]))
def test_bucketed_rank_and_cumsum_match_global(spark, keys, n_buckets):
    rows, tot = _ranked(spark, keys, n_buckets)
    # python reference: global order (k, rid)
    order = sorted(range(len(keys)), key=lambda i: (keys[i], i))
    want_rank = {rid: r + 1 for r, rid in enumerate(order)}
    want_cum, acc = {}, 0
    for rid in order:
        acc += keys[rid]
        want_cum[rid] = acc
    assert tot["cnt"] == len(keys)
    for r in rows:
        assert r["rnk"] == want_rank[r["rid"]], (keys, n_buckets)
        assert r["cum"] == want_cum[r["rid"]], (keys, n_buckets)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS)
def test_bucketed_rank_descending(spark, keys):
    rows, _ = _ranked(spark, keys, 3, descending=True)
    order = sorted(range(len(keys)), key=lambda i: (-keys[i], i))
    want = {rid: r + 1 for r, rid in enumerate(order)}
    for r in rows:
        assert r["rnk"] == want[r["rid"]], keys


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
    bs = percentile_boundaries(df, "k", 64)
    assert bs == []
    assert bucket_expr("k", bs, "bigint") == "CAST(0 AS INT)"
    pre, tot = exclusive_prefixes(
        df.selectExpr("rid", "k", "0 AS bk"),
        "bk",
        {"cnt": "CAST(count(*) AS BIGINT)"},
        {"cnt": "sum"},
    )
    assert pre == {"cnt": [0]} and tot == {"cnt": 0}

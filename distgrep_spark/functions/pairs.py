"""Posting lists and the pairs inside and across them.

The registry's posting-list pattern (group into a list, emit every pair
inside the list, roll the pairs up) is the engine's map → shuffle →
reduce with a map-side combine: the pairs are generated in the task that
holds the list, never by a same-lineage self-join, which re-executes its
input once per side. Every such list is built by ``postings`` and
expanded only by ``list_pairs`` (inside one list) or ``cross_pairs``
(across two). At 100 TB a hub list of length d emits d(d-1)/2 rows, so
``postings`` is where a hot-list cap belongs: it is the one place that
sees every list's size before any pair is emitted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def postings(df: DataFrame, key: str | Column, member: str | Column, name: str) -> DataFrame:
    """``(key, name)``: one row per key, ``name`` holding the key's
    members as a sorted, distinct array (``sort_array(collect_set(...))``).

    Sorted and distinct is what ``list_pairs`` needs to emit each
    unordered pair once, value-ordered (x < y) and never (v, v). One
    key-partitioned shuffle; the partial sets are the map-side combine,
    so a member listed twice under one key counts once."""
    return df.groupBy(key).agg(F.sort_array(F.collect_set(member)).alias(name))


def postings_sql(member: str) -> str:
    """SQL fragment: the ``postings`` list of ``member`` as an aggregate,
    for ``spark.sql`` text that groups by the key itself."""
    return f"sort_array(collect_set({member}))"


def list_pairs(arr: str, fields: str) -> str:
    """SQL fragment: ``array<struct<fields>>`` of every ordered pair
    (x, y) with x at a lower index than y in ``arr``.

    ``fields`` is the struct body over the lambda variables ``x`` and
    ``y``, e.g. ``"x AS doc_a, y AS doc_b"``. On a sorted array the pairs
    come out in ``itertools.combinations`` order; arrays of size 0 or 1
    give an empty array. Wrap it in ``explode(...)`` (or ``LATERAL VIEW
    explode(...)`` inside ``spark.sql`` text) to get one row per pair.

    Two conditions callers must know:

    - ``slice`` is 1-indexed and ``transform``'s index is 0-based, so
      element i's successors start at position ``i + 2``;
    - ``arr`` must be a column name, not an expression: HOF lambdas
      inline their argument, so an expression would be re-evaluated
      once per element (materialize it in a prior select).
    """
    return (
        f"flatten(transform({arr}, (x, i) ->"
        f" transform(slice({arr}, i + 2, size({arr})), y -> struct({fields}))))"
    )


def cross_pairs(a: str, b: str, fields: str) -> str:
    """SQL fragment: ``array<struct<fields>>`` of every pair (x in ``a``,
    y in ``b``), in ``itertools.product(a, b)`` order; an empty side
    gives an empty array.

    ``fields`` is the struct body over ``x`` and ``y``, as for
    ``list_pairs``, and ``a`` and ``b`` must likewise be column names."""
    return f"flatten(transform({a}, x -> transform({b}, y -> struct({fields}))))"

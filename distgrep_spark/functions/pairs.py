"""In-list pairing: every i<j pair inside one materialized array.

The registry's posting-list pattern (group into a list, emit every pair
inside the list, roll the pairs up) is the engine's map → shuffle →
reduce with a map-side combine: the pairs are generated in the task that
holds the list, never by a same-lineage self-join, which re-executes its
input once per side. At 100 TB a hub list of length d emits d(d-1)/2
rows, so this fragment is where a hot-list cap belongs.

Two other in-list pair explodes remain and a cap must reach them too:
``operators/dedup.minhash_lsh_pairs`` pairs a value-ordered
``filter(ids, y -> y > x)`` over an unsorted ``collect_list``, and
``text_shingle_containment``'s same-profile explode
(``queries/analytics.py``) emits both orientations.
"""

from __future__ import annotations


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

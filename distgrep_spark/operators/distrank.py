"""Distributed exact order statistics: global rank / cumsum / prefix-max
without a single-partition window.

The problem (round-4 verdict, "What's wrong #1"): ``row_number() OVER
(ORDER BY k)`` with no PARTITION BY compiles to ``Exchange
SinglePartition -> Sort -> Window`` — the whole relation funnels through
ONE task. Fine over a 25-row dimension; a scale-killer over a 10^8-row
customer rollup at 100 TB.

The fix is the classic two-pass bucketed rank, kept EXACT so the DuckDB
oracles (which use plain global windows) are unchanged. ``rank_buckets``
owns the whole recipe; its contract, step by step:

1. **Boundary pass** — one ``approx_percentile(key, B-1 fractions)`` per
   key, all keys in ONE aggregate job over the (localCheckpoint'ed)
   input; <= B-1 cut points per key reach the driver. This is the same
   bounded-collect pattern as the k-means centroid / PQ codebook pulls
   (operators/clustering.py): O(B) scalars, never rows.
2. **Map-side bucket assignment** — ``bucket = sum_i CAST(key > b_i)``
   as a flat comparison sum over the boundaries, one bucket column per
   key. Equal keys always land in the same bucket, and the bucket index
   is monotone along the target order, so per-bucket windows +
   per-bucket offsets reconstruct the EXACT global result regardless of
   how approximate the boundaries are — boundary quality only affects
   balance, never values. A NULL key goes where Spark's window ordering
   puts it: bucket 0 ascending (NULLS FIRST), the last bucket
   descending (NULLS LAST).
3. **Offset pass** — the named per-bucket aggregates (``sum`` or
   ``max`` folds) of every key, grouped by the optional partition
   column too, in ONE groupBy job; <= B rows per key and partition
   value reach the driver and fold into *exclusive* prefix arrays, each
   re-shipped as one ``functions.literals.array_lit`` constant.
4. **What the caller writes** — its own ``row_number() / sum() / max()
   OVER (PARTITION BY bucket ORDER BY ...)`` added to the returned
   offset text ``element_at(offsets, bucket + 1)``. The window is
   hash-partitioned by bucket: distributed, AQE-splittable, no
   ``Exchange SinglePartition`` anywhere over unbounded input
   (tools/plan_audit.py counts them; tests/test_plans.py pins zero).

At 100 TB: B scales with the cluster (e.g. 4096 buckets over 10^9 rollup
rows = ~250k rows/task) and the boundary sketch is one mergeable
``approx_percentile`` pass — this is exactly how range partitioning in a
distributed sort works (Spark's own RangePartitioner samples the same
way), but with the offsets made explicit so downstream arithmetic
(ntile / Gini rank products / cumulative shares / token cumsum) stays
exact instead of approximate.

Callers should ``localCheckpoint()`` the rollup first so the passes
share one materialization (and so boundary/offset passes see the same
bytes the final plan reads); per-query ``gc.collect()`` in the
long-session harnesses releases the checkpoint blocks (CLAUDE.md). A
registry lint keeps the fraction sweep, the offset lookup and the
literal spelling in this module.

Reference parity note: the reference (massimostanzione/distgrep) has no
order statistics at all — this module exists for the SURVEY §2.2 window
/ analytics surface's 100-TB posture.
"""

from __future__ import annotations

import operator
from collections import defaultdict
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import array_lit

__all__ = ["BUCKETS", "ntile_expr", "rank_buckets"]

BUCKETS = 64
"""Buckets per key: at most 63 boundaries and 64 offset rows per key
and partition value travel to the driver."""

_FOLDS = {"sum": operator.add, "max": max}


def rank_buckets(
    df: DataFrame,
    keys: dict[str, str],
    aggs: dict[str, tuple[str, str]],
    *,
    descending: bool = False,
    by: str | None = None,
    n_buckets: int = BUCKETS,
) -> tuple[DataFrame, dict[tuple[str, str], str], dict[str, Any]]:
    """Bucket ``df`` for exact global windows and fold the offsets.

    ``keys``: bucket column -> key column (the target order is the key
    ascending, or descending when ``descending``). ``aggs``: name ->
    ``(fold, expr)`` with fold ``"sum"`` or ``"max"`` over the integer
    ``expr`` (``("sum", "1")`` counts rows). ``by``: an integer column
    whose values rank separately (``PARTITION BY by, bucket`` windows).

    Returns ``(bucketed, offsets, totals)``: ``df`` plus one bucket
    column per key; ``offsets[bucket column, name]``, the BIGINT SQL
    text of the fold of ``name`` over the row's earlier buckets
    (``element_at(<array>, bk + 1)``; a ``CASE`` over the ``by`` values;
    NULL for a ``max`` with no earlier value); ``totals[name]``, the
    fold over all rows (with ``by``, a dict per ``by`` value). A window
    ``sum`` restarts at NULL when a bucket's leading summands are NULL,
    so sum non-null expressions.

    Two jobs whatever the number of keys: the boundary ``first()`` pulls
    at most ``n_buckets - 1`` scalars per key and the offset
    ``collect()`` at most ``n_buckets`` rows per key and ``by`` value.
    Empty input keeps one bucket with the fold's initial value (0, or
    NULL for ``max``), so ``element_at(arr, bk + 1)`` stays in range
    (tests/test_empty_inputs.py sweeps this)."""
    bounds = _boundaries(df, list(keys.values()), n_buckets, descending)
    bucketed = df.selectExpr(
        "*",
        *[
            f"{_bucket_sql(key, bs, descending)} AS {bk}"
            for (bk, key), bs in zip(keys.items(), bounds)
        ],
    )
    offsets, totals = _fold(bucketed, list(keys), aggs, by)
    return bucketed, offsets, totals


def _sql_literal(v: Any) -> str:
    """Exact SQL literal typed by the value's Python type: ``L`` bigint
    for an int; otherwise the ``D``-suffixed shortest-round-trip repr of
    the double (Spark parses it correctly rounded — a bare decimal
    literal would type as DECIMAL)."""
    return f"{v}L" if isinstance(v, int) else repr(float(v)) + "D"


def _boundaries(
    df: DataFrame, keys: list[str], n_buckets: int, descending: bool
) -> list[list[Any]]:
    """Cut points per key: <= n_buckets-1 approximate percentiles,
    deduped, sorted in bucket order. One aggregate job for all keys;
    an empty input gives [] (single bucket 0)."""
    if n_buckets < 2:
        return [[] for _ in keys]
    fracs = ", ".join(_sql_literal(i / n_buckets) for i in range(1, n_buckets))
    row = df.agg(
        *[F.expr(f"approx_percentile({k}, array({fracs}), 10000)") for k in keys]
    ).first()
    return [
        sorted({b for b in row[i] or [] if b is not None}, reverse=descending)
        for i in range(len(keys))
    ]


def _bucket_sql(key: str, bounds: list[Any], descending: bool) -> str:
    """Map-side bucket index, monotone non-decreasing along the target
    order: ``sum_i CAST(key > b_i)`` (ascending; ``<`` over DESC-sorted
    boundaries for descending). Equal keys -> equal bucket, always; a
    NULL key -> bucket 0 ascending, the last bucket descending.

    Emitted as a FLAT comparison sum (<= 63 codegen'd compares), not an
    ``aggregate()`` HOF over a boundary array: a captured-column HOF
    lambda on BOTH sides of a join makes Catalyst mis-bind the outer
    reference across branches at execution
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, measured round 5 in
    count_greater_join — the probe-side lambda was bound against the
    value side; uniquifying lambda variable names did NOT fix it). The
    flat form has no lambda scope at all, costs one expr string (zero
    py4j), and whole-stage codegen folds it tighter than the array
    loop. ``key`` should be a plain column reference — it is inlined
    once per boundary.
    """
    if not bounds:
        return "CAST(0 AS INT)"
    cmp = "<" if descending else ">"
    terms = " + ".join(
        f"CAST(({key}) {cmp} {_sql_literal(b)} AS INT)" for b in bounds
    )
    return f"coalesce(({terms}), {len(bounds) if descending else 0})"


def _fold(
    bucketed: DataFrame,
    buckets: list[str],
    aggs: dict[str, tuple[str, str]],
    by: str | None,
) -> tuple[dict[tuple[str, str], str], dict[str, Any]]:
    """The offset pass: every key's per-bucket aggregates in one groupBy
    job, folded into exclusive prefix arrays per key and ``by`` value."""
    cells = ", ".join(
        f"struct({i} AS _rank_key, {bk} AS _rank_bucket)" for i, bk in enumerate(buckets)
    )
    rows = (
        bucketed.selectExpr("*", f"inline(array({cells}))")
        .groupBy(*([by] if by else []), "_rank_key", "_rank_bucket")
        .agg(
            *[
                F.expr(f"CAST({fold}({expr}) AS BIGINT)").alias(n)
                for n, (fold, expr) in aggs.items()
            ]
        )
        .collect()
    )
    by_cell: dict = defaultdict(dict)  # (by value, key index) -> {bucket: row}
    for r in rows:
        by_cell[r[by] if by else None, r["_rank_key"]][r["_rank_bucket"]] = r
    groups = sorted({g for g, _ in by_cell}) or [None]
    offsets: dict[tuple[str, str], str] = {}
    totals: dict[str, Any] = {}
    for n, (fold, _) in aggs.items():
        for i, bk in enumerate(buckets):
            folded = {g: _prefix(by_cell[g, i], n, fold) for g in groups}
            lookups = [
                f"element_at({array_lit(pre, 'bigint')}, {bk} + 1)"
                for pre, _ in folded.values()
            ]
            whens = " ".join(
                f"WHEN {by} = {g} THEN {e}" for g, e in zip(groups, lookups[:-1])
            )
            offsets[bk, n] = f"CASE {whens} ELSE {lookups[-1]} END" if whens else lookups[0]
        # every row sits in one bucket of each key: any key's fold is the total
        total = {g: acc for g, (_, acc) in folded.items()}
        totals[n] = total if by else total[None]
    return offsets, totals


def _prefix(per_bucket: dict[int, Any], name: str, fold: str) -> tuple[list[Any], Any]:
    """Exclusive prefix array of aggregate ``name`` over buckets
    0..max (a missing bucket adds nothing) and its fold over all."""
    pre, acc = [], 0 if fold == "sum" else None
    for b in range(max(per_bucket, default=0) + 1):
        pre.append(acc)
        v = per_bucket[b][name] if b in per_bucket else None
        if v is not None:
            acc = v if acc is None else _FOLDS[fold](acc, v)
    return pre, acc


def ntile_expr(rank_sql: str, n: int, k: int) -> str:
    """Exact SQL-standard ``ntile(k)`` from a global 1-based rank over
    ``n`` rows: the first ``n % k`` tiles take ``n div k + 1`` rows. The
    fold totals make ``n`` a plan literal, so this is pure per-row
    integer arithmetic — no window at all. ``max(small, 1)`` guards the
    unreachable ELSE against ANSI divide-by-zero when ``n < k``."""
    q, r = divmod(n, k)
    big, small = q + 1, max(q, 1)
    return (
        f"CASE WHEN ({rank_sql}) <= {r * big} "
        f"THEN (({rank_sql}) - 1) DIV {big} + 1 "
        f"ELSE {r} + (({rank_sql}) - {r * big} - 1) DIV {small} + 1 END"
    )

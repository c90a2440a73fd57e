"""Interval algebra over (key, start, end) rows — overlap-merge
(union coverage) and sweep-line peak concurrency.

Neither is a single built-in op in Spark, but both reduce to the same
scalable composition: ONE hash exchange on the entity key, one
per-partition sort, window arithmetic, and a per-key rollup that rides
the window's partitioning. No self-join, no explode of the covered
range — the state per row is one running integer/BIGINT, which is why
the shape survives 100 TB per-entity timelines (ad-attribution windows,
on-call coverage, machine-utilization billing, max-concurrent-streams).

Input rows are ``(user_id, s, e)``, plus ``event_id`` for
``interval_union``. Semantics are half-open ``[s, e)`` in exact integer
units (callers convert timestamps via the tz-free ``timestampdiff``
MICROSECOND idiom — never fractional-seconds epochs, whose
double-vs-truncation behavior differs across engines; CLAUDE.md).

Determinism: ``interval_union`` orders by (s, event_id), a total order;
``peak_concurrency`` orders by (t, delta) so closes process before opens
at the same instant, and tied identical rows permute only INTERMEDIATE
prefix sums, never the multiset of prefix values, so the per-key max
needs no further tie-break.

No reference counterpart (the reference's only operator surface is
grep, worker.go:24-43); these extend the north-star analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_union(df: DataFrame) -> DataFrame:
    """Merge overlapping ``[s, e)`` intervals per ``user_id``; returns
    one row per user with ``n_islands`` (disjoint merged ranges) and
    ``covered`` (total union length, exact integer units).

    Novel-coverage clip: sorted by (s, event_id) within the user, each
    interval contributes ``max(0, e - max(s, prev_max_e))`` and opens an
    island iff it starts past the running ``max(e)`` over preceding rows
    — correct even when a long interval swallows later shorter ones (the
    case a lag-gap sessionizer gets wrong)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pe = F.max("e").over(w)
    novel = F.when(pe.isNull(), F.col("e") - F.col("s")).otherwise(
        F.greatest(F.lit(0).cast("bigint"), F.col("e") - F.greatest(F.col("s"), pe))
    )
    island = F.when(pe.isNull() | (F.col("s") > pe), 1).otherwise(0)
    return (
        df.select("user_id", novel.alias("_novel"), island.alias("_isl"))
        .groupBy("user_id")
        .agg(
            F.sum("_isl").cast("bigint").alias("n_islands"),
            F.sum("_novel").cast("bigint").alias("covered"),
        )
    )


def peak_concurrency(df: DataFrame) -> DataFrame:
    """Maximum number of simultaneously-open ``[s, e)`` intervals per
    ``user_id`` (the sweep line): +1 at each start, -1 at each end,
    running sum ordered by (t, delta) — closes before opens at equal
    instants, the half-open convention — then max per user. Returns one
    row per user with ``peak_concurrency`` and ``n_intervals``."""
    deltas = df.select(
        "user_id", F.col("s").alias("_t"), F.lit(1).alias("_delta")
    ).unionByName(df.select("user_id", F.col("e").alias("_t"), F.lit(-1).alias("_delta")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("_t", "_delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.select("user_id", F.sum("_delta").over(w).alias("_conc"))
    return running.groupBy("user_id").agg(
        F.max("_conc").cast("bigint").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
    )

"""Cross-engine-deterministic numeric aggregation.

Summing doubles is order-dependent, and Spark's and DuckDB's parallel
summation orders differ, so a raw ``sum(double)`` (or a ``round`` of it —
half-rounding rules also differ between engines on knife-edge values) can
flip the driver's value hash. The deterministic discipline:

- **per-row arithmetic**: leave unrounded — the same IEEE expression tree
  evaluates bit-identically in both engines;
- **aggregates over doubles**: accumulate exactly in ``DECIMAL(25,6)``
  (source values are ≤2-dp money / ≤6-dp products, so the cast recovers
  the exact decimal value), then cast the exact total back to DOUBLE.
  Same exact decimal → same double, regardless of summation order.

This is also the right call at 100 TB: decimal aggregation is
whole-stage-codegen'd JVM arithmetic, and exact money totals beat
accumulated float error across billions of rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,6)"
_SQL_DEC = "DECIMAL(25,6)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dsum(c: Column | str, alias: str | None = None) -> Column:
    """Order-independent exact sum of a (≤6-dp) double column → double."""
    out = F.sum(_col(c).cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(c: Column | str, alias: str | None = None) -> Column:
    """Order-independent avg: exact decimal sum / count, in double."""
    col = _col(c)
    out = F.sum(col.cast(DEC)).cast("double") / F.count(col)
    return out.alias(alias) if alias else out


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(sum(CAST({expr} AS {_SQL_DEC})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(sum(CAST({expr} AS {_SQL_DEC})) AS DOUBLE) / count({expr}) AS {alias}"


def sorted_sum(expr: str) -> str:
    """Order-stable double sum of ``expr`` over a group, as a Spark SQL
    aggregate expression: a sequential fold over the group's values in
    ascending order. Double addition isn't associative, so a partial-
    aggregated ``sum`` depends on partitioning; folding in canonical
    order makes Spark and DuckDB run the identical sequence of IEEE
    additions (use it where the values aren't ≤6-dp decimals, so
    :func:`dsum` doesn't apply).

    Memory bound: ``collect_list`` holds the WHOLE group in one array on
    one task before the fold, so a group must fit in executor memory
    (no partial aggregation, no spill). Fine for per-dimension or
    per-vector groups of a fixture-sized table; at 100 TB a group of
    billions of rows needs the two-pass exact form or :func:`dsum`."""
    return f"aggregate(sort_array(collect_list({expr})), 0.0D, (a, x) -> a + x)"

"""distgrep — the reference's whole query surface, Spark-first.

Reference semantics (massimostanzione/distgrep):

    distgrep(file, substr) = for every DISTINCT line of `file` that
    contains `substr` (case-sensitive plain substring — worker.go:33),
    emit (line, number of times that exact line occurs in the file).

Key subtleties preserved (SURVEY.md §0):

- substring, NOT regex (no ``regexp`` import exists in the reference;
  worker.go:33 uses ``strings.Count``). ``mode="regex"`` is our superset,
  closing the gap the reference README itself acknowledges (README.md:6).
- a line containing the pattern N>1 times still counts ONCE — the
  occurrence count is used only as a boolean (worker.go:34-37).
- output order is unspecified (README.md:34); we add no orderBy unless the
  caller asks, so no global sort is paid at scale.

Physical plan (automatic, no hand-scheduling): FileScan/parquet scan →
Filter(Contains) → HashAggregate(partial) → Exchange hashpartitioning →
HashAggregate(final). Stage 1 = the reference's Map phase (worker.go:24-43,
including its hand-rolled map-side combine, README.md:13); the Exchange =
its server-side shuffle (server.go:176-191); stage 2 = its Reduce
(worker.go:46-62). Catalyst emits the partial/final split by itself —
``tests/test_plans.py`` asserts this shape.

Scale notes: the filter is pushed into the scan for parquet sources
(`PushedFilters: [StringContains(...)]`), the aggregation's shuffle volume
is bounded by distinct-matching-lines-per-partition (map-side combine), and
skewed hot lines (the reference's repeated-line fixture, README.md:25) are
split by AQE skew handling on the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["distgrep", "match_predicate", "grep_lines", "highlight"]


def match_predicate(
    line: Column,
    pattern: str,
    *,
    mode: str = "contains",
    case_sensitive: bool = True,
) -> Column:
    """Boolean match column.

    ``mode="contains"``: plain substring, the reference's semantics
    (worker.go:33). ``mode="regex"``: Java regex via ``rlike`` — the
    superset the reference's assignment asked for (README.md:6).

    Pattern "" matches every line, matching Go's
    ``strings.Count(s, "") > 0 == true`` (documented in FIXTURES.md §5).

    Case-insensitive regex uses ``(?iu)`` on the raw line: Java's bare
    ``(?i)`` folds ASCII only, and regex mode must find what contains
    mode finds ("ÉCOLE" matches "École").
    """
    if not case_sensitive:
        if mode == "contains":
            line = F.lower(line)
            pattern = pattern.lower()
        else:
            pattern = f"(?iu){pattern}"
    if mode == "contains":
        if pattern == "":
            return F.lit(True)
        return line.contains(pattern)
    if mode == "regex":
        return line.rlike(pattern)
    raise ValueError(f"mode must be 'contains' or 'regex', got {mode!r}")


def grep_lines(
    df: DataFrame,
    pattern: str,
    *,
    column: str = "value",
    mode: str = "contains",
    case_sensitive: bool = True,
) -> DataFrame:
    """Just the filter half: every matching line, duplicates preserved.

    Equivalent of plain ``grep`` (no counting). One narrow stage, no
    shuffle; on parquet the predicate reaches the scan as a pushed filter.
    """
    return df.where(match_predicate(F.col(column), pattern, mode=mode, case_sensitive=case_sensitive))


def distgrep(
    df: DataFrame,
    pattern: str,
    *,
    column: str = "value",
    mode: str = "contains",
    case_sensitive: bool = True,
    ordered: bool = False,
) -> DataFrame:
    """The reference's one query: DataFrame[(line, freq)].

    ``df`` is any DataFrame with a string column ``column`` — e.g. the
    output of ``sources.read_lines`` (value) or the ``documents`` fixture
    (text). Returns one row per distinct matching line with its whole-input
    frequency.

    ``ordered=False`` by default: the reference's output order is
    nondeterministic (README.md:32-34) and a global sort at 100 TB is a
    needless extra exchange. Pass ``ordered=True`` for stable display.
    """
    out = (
        grep_lines(df, pattern, column=column, mode=mode, case_sensitive=case_sensitive)
        .groupBy(F.col(column).alias("line"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if ordered:
        out = out.orderBy(F.col("freq").desc(), F.col("line"))
    return out


def highlight(
    df: DataFrame,
    pattern: str,
    *,
    column: str = "line",
    style: str = "asterisks",
    case_sensitive: bool = True,
) -> DataFrame:
    """Presentation-layer highlight (reference client.go:17-21, 69-79).

    ``classic`` wraps matches in ANSI bold-red, ``asterisks`` in ``*..*``,
    ``none`` is identity — same three modes as the reference client. Kept
    engine-side as a cheap ``replace`` projection (no UDF, no shuffle).

    ``case_sensitive=False`` highlights what ``distgrep(...,
    case_sensitive=False)`` found: a ``(?iu)`` regex over the quoted
    literal pattern, wrapping each match as ``pre$0post`` so the line
    keeps its own casing.
    """
    styles = {
        "classic": ("\x1b[1;31m", "\x1b[0m"),
        "asterisks": ("*", "*"),
        "none": ("", ""),
    }
    if style not in styles:
        raise ValueError(f"style must be one of {sorted(styles)}, got {style!r}")
    pre, post = styles[style]
    if style == "none" or pattern == "":
        return df
    if not case_sensitive:
        # Java's Pattern.quote: the pattern matches as a literal.
        quoted = "\\Q" + pattern.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        return df.withColumn(
            column, F.regexp_replace(F.col(column), f"(?iu){quoted}", f"{pre}$0{post}")
        )
    return df.withColumn(
        column, F.replace(F.col(column), F.lit(pattern), F.lit(f"{pre}{pattern}{post}"))
    )

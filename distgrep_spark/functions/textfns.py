"""Text column builders shared by text-analysis and dedup operators.

All pure Column expressions (JVM built-ins / higher-order functions) — no
Python UDFs anywhere in the tokenize/shingle path, so the hot loops stay
inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer shared with the DuckDB oracles
# (string_split_regex(trim(x), '\s+')).
WS = r"\s+"

# BPE-ish fallback token pattern: letter runs, digit runs, single symbols.
BPE_ISH = r"[a-z]+|[A-Z]+|[0-9]+|[^\sa-zA-Z0-9]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of a text column (trimmed first so edge
    whitespace doesn't produce empty tokens)."""
    return F.split(F.trim(col), WS)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_count(col: Column) -> Column:
    """Sub-word-ish token count via regexp (a cheap stand-in for a real
    BPE tokenizer; counts letter runs, digit runs, and symbols)."""
    return F.regexp_count(col, F.lit(BPE_ISH))


def ngrams_of_tokens(t: Column, n: int) -> Column:
    """Space-joined n-grams of an ALREADY-MATERIALIZED token-array column.

    ``t`` must be a column reference (not an inline ``split`` expression):
    higher-order-function lambdas inline their argument expression into
    every use site, so an inline split would re-run the regex tokenizer
    n times per gram instead of once per row (measured 9s vs 0.5s on a
    260k-shingle corpus)."""
    if n == 1:
        return t
    # size(t) < n must yield an EMPTY array, not sequence(1, 0): Spark's
    # sequence generates DESCENDING [1, 0] when start > stop, and the
    # resulting element_at(t, 0)/out-of-range indexes throw under Spark 4
    # ANSI mode for any doc shorter than n tokens.
    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        # 1-based element_at; `starts` is empty when the text is too short
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )


def stopword_ratio(col: Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of whitespace tokens that are stopwords (double)."""
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return hits * F.lit(1.0) / F.size(t)


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x)
    return total * F.lit(1.0) / F.size(t)

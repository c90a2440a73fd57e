"""Text column builders shared by text-analysis and dedup operators.

The token rule lives here and nowhere else: a document's tokens are its
maximal runs of non-whitespace, where whitespace is Unicode
``White_Space`` (25 code points: TAB..CR, space, NEL, NBSP, U+1680,
U+2000..U+200A, the line/paragraph separators, U+202F, U+205F, U+3000).
A blank or all-whitespace document has zero tokens. It is spelled once
per engine, and the two spellings mark exactly the same code points
(checked over every non-surrogate code point):

- Spark: ``regexp_extract_all(col, '(?U)\\S+', 0)``. ``(?U)`` is Java's
  UNICODE_CHARACTER_CLASS; without it ``\\s`` is ASCII-only and NBSP or
  U+3000 glue two words into one token. ``tokens`` (Column) and
  ``tokens_sql`` (selectExpr / spark.sql) are built from one regex.
- DuckDB (oracle twins): ``TOKENS_DUCK``. RE2's ``\\s`` is ASCII-only
  and has no Unicode mode, so the class (``_WS_DUCK``) is spelled out as
  TAB..CR, space, NEL and ``\\p{Z}``. The same class as a code-point
  list in Spark measured ~6x slower than ``(?U)`` (tokenize-only, 200k
  sf0.1 docs on 4 vCPUs: 15.4 s vs 2.6 s).

The old rule split the trimmed text on ASCII ``\\s+``, and ``trim`` strips
only U+0020: ``"\\nhello"`` gave a leading empty token and ``"\\t"`` two.

All pure Column expressions (JVM built-ins / higher-order functions) — no
Python UDFs anywhere in the tokenize/shingle path, so the hot loops stay
inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_RX = r"(?U)\S+"
_TOKEN_RX_SQL = _TOKEN_RX.replace("\\", "\\\\")  # SQL literals unescape
_WS_DUCK = r"\t-\r \x{85}\p{Z}"  # RE2 class body: Unicode White_Space
TOKENS_DUCK = f"regexp_extract_all(text, '[^{_WS_DUCK}]+')"

# BPE-ish fallback token pattern: letter runs, digit runs, single symbols
# (a symbol is any other non-whitespace code point, per the token rule).
BPE_ISH = r"(?U)[a-z]+|[A-Z]+|[0-9]+|[^\sa-zA-Z0-9]"
BPE_ISH_DUCK = f"[a-z]+|[A-Z]+|[0-9]+|[^{_WS_DUCK}a-zA-Z0-9]"


def tokens(col: Column) -> Column:
    """Tokens of a text column: the maximal runs of non-Unicode-whitespace
    (module docstring). Never an empty token; ``[]`` for a blank doc, so
    a per-doc division by the token count must use ``try_divide``."""
    return F.regexp_extract_all(col, F.lit(_TOKEN_RX), 0)


def tokens_sql() -> str:
    """``tokens`` of the ``text`` column as a Spark SQL fragment, for
    selectExpr / spark.sql."""
    return f"regexp_extract_all(text, '{_TOKEN_RX_SQL}', 0)"


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
    """Fraction of tokens that are stopwords (double; NULL for a blank doc)."""
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return F.try_divide(hits * F.lit(1.0), F.size(t))


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x)
    return F.try_divide(total * F.lit(1.0), F.size(t))

"""Reference-parity tests for the distgrep operator (SURVEY.md §5.2).

The portable oracle is Python's collections.Counter over
``line for line in lines if substr in line`` — the exact restatement of
the reference's Map (worker.go:33-37) + Reduce (worker.go:46-62)
semantics.
"""

from __future__ import annotations

from collections import Counter

import pytest

from distgrep_spark.operators.grep import distgrep, grep_lines, highlight
from distgrep_spark.sources.readers import read_lines

# A miniature of the reference fixture's load-bearing properties
# (FIXTURES.md §5): repeated lines, multiple in-line occurrences,
# case-differing lines, non-ASCII, a line equal to the pattern.
LINES = [
    "il re de' prodi Atride e il divo Achille.",
    "il re de' prodi Atride e il divo Achille.",
    "il re de' prodi Atride e il divo Achille.",
    "Achille Achille Achille",  # 3 occurrences, must count ONCE
    "achille lowercase",  # case-sensitivity check
    "Achille",  # line == pattern
    "Cantami, o Diva, del Pelìde Achille",
    "no match here",
    "",
]


def py_oracle(lines, substr):
    return Counter(line for line in lines if substr in line)


@pytest.fixture(scope="module")
def lines_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("grep") / "iliad.txt"
    # trailing "\n" makes the final "" entry a real empty line
    p.write_text("\n".join(LINES) + "\n", encoding="utf-8")
    return read_lines(spark, str(p))


def as_dict(df):
    return {r["line"]: r["freq"] for r in df.collect()}


def test_parity_counter_oracle(lines_df):
    got = as_dict(distgrep(lines_df, "Achille"))
    assert got == dict(py_oracle(LINES, "Achille"))


def test_counts_line_frequency_not_occurrences(lines_df):
    got = as_dict(distgrep(lines_df, "Achille"))
    # 3 occurrences in one line => freq 1 (worker.go:34-37 semantics)
    assert got["Achille Achille Achille"] == 1
    assert got["il re de' prodi Atride e il divo Achille."] == 3


def test_case_sensitive_default(lines_df):
    got = as_dict(distgrep(lines_df, "Achille"))
    assert "achille lowercase" not in got
    insensitive = as_dict(distgrep(lines_df, "ACHILLE", case_sensitive=False))
    assert "achille lowercase" in insensitive


def test_regex_mode(lines_df):
    got = as_dict(distgrep(lines_df, r"^Achille$", mode="regex"))
    assert got == {"Achille": 1}


@pytest.mark.parametrize("pattern", ["ÉCOLE", "école", "σοφ"])
def test_ignore_case_regex_folds_non_ascii(spark, tmp_path, pattern):
    # Java's bare (?i) folds ASCII only; regex mode must find the same
    # rows as contains mode, which lowercases both sides.
    lines = ["École normale", "ÉCOLE", "ecole", "ΣΟΦΙΑ"]
    p = tmp_path / "unicode.txt"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    df = read_lines(spark, str(p))
    regex = as_dict(distgrep(df, pattern, mode="regex", case_sensitive=False))
    contains = as_dict(distgrep(df, pattern, case_sensitive=False))
    assert contains
    assert regex == contains


def test_empty_pattern_matches_all(lines_df):
    # strings.Count(s, "") > 0 is true in Go → pattern "" matches every line.
    got = as_dict(distgrep(lines_df, ""))
    assert sum(got.values()) == len(LINES)


def test_zero_matches_empty_result(lines_df):
    assert distgrep(lines_df, "xyzzy").count() == 0


def test_empty_input(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("", encoding="utf-8")
    assert distgrep(read_lines(spark, str(p)), "x").count() == 0


def test_fewer_lines_than_partitions(spark, tmp_path):
    # server.go:107-115 analog: N lines < N workers is fine.
    p = tmp_path / "two.txt"
    p.write_text("a\na\n", encoding="utf-8")
    df = read_lines(spark, str(p)).repartition(16)
    assert as_dict(distgrep(df, "a")) == {"a": 2}


def test_grep_lines_keeps_duplicates(lines_df):
    assert grep_lines(lines_df, "Achille").count() == 6


def test_highlight_styles(lines_df):
    df = distgrep(lines_df, "Achille")
    starred = {r["line"] for r in highlight(df, "Achille", style="asterisks").collect()}
    assert "*Achille*" in starred
    assert any("*Achille*." in line for line in starred)
    classic = {r["line"] for r in highlight(df, "Achille", style="classic").collect()}
    assert any("\x1b[1;31mAchille\x1b[0m" in line for line in classic)
    plain = {r["line"] for r in highlight(df, "Achille", style="none").collect()}
    assert "Achille" in plain


def test_highlight_ignore_case_keeps_line_casing(spark):
    # -i finds lines in any casing; the highlight must wrap those same
    # matches in place, not only the literal pattern's casing.
    def starred(lines, pattern):
        df = spark.createDataFrame([(s,) for s in lines], "line string")
        out = highlight(df, pattern, style="asterisks", case_sensitive=False)
        return sorted(r["line"] for r in out.collect())

    found = distgrep(
        spark.createDataFrame([("Achille piè veloce",), ("ACHILLE",), ("Ettore",)], "value string"),
        "achille",
        case_sensitive=False,
    )
    got = highlight(found, "achille", style="asterisks", case_sensitive=False)
    assert sorted(r["line"] for r in got.collect()) == ["*ACHILLE*", "*Achille* piè veloce"]
    assert starred(["École normale"], "ÉCOLE") == ["*École* normale"]
    # the pattern is a literal, not a regex
    assert starred(["axb", "A.B"], "a.b") == ["*A.B*", "axb"]


# ---------------------------------------------------------------------------
# Property-based parity (hypothesis): arbitrary line multisets + patterns
# ---------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _LINE = st.text(alphabet=list("abA *"), max_size=8)

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(lines=st.lists(_LINE, max_size=25), pattern=st.text(alphabet=list("abA"), max_size=3))
    def test_distgrep_matches_counter_on_arbitrary_input(spark, lines, pattern):
        """For ANY line multiset and pattern, distgrep == Counter over
        the matching lines (the portable restatement of the reference's
        worker.go:33-37 + reduce semantics; '' matches everything like
        Go strings.Count)."""
        df = spark.createDataFrame([(line,) for line in lines], "value string")
        got = {(r["line"], r["freq"]) for r in distgrep(df, pattern).collect()}
        want = set(Counter(line for line in lines if pattern in line).items())
        assert got == want

except ImportError:  # pragma: no cover - hypothesis is baked in, but gate anyway
    pass

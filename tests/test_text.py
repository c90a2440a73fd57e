"""Text-analysis operator tests (python oracles for the pieces DuckDB
doesn't cover: rolling fingerprint order-sensitivity, quality bounds)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from distgrep_spark.functions.textfns import TOKENS_DUCK, tokens, tokens_sql
from distgrep_spark.operators.text import (
    STOPWORDS,
    fingerprints,
    lang_guess,
    quality_score,
    text_stats,
    token_counts_by,
)

DOCS = [
    (0, "the quick brown fox", "en"),
    (1, "a a a the the of", "en"),
    (2, "fox brown quick the", "en"),  # reordering of 0
    (3, "word", "de"),
]


# Hand-written token rule: maximal runs of non-White_Space code points.
TOKEN_CASES = [
    ("hello world", ["hello", "world"]),
    ("\nhello world", ["hello", "world"]),
    ("\t", []),
    ("", []),
    ("  a  b  ", ["a", "b"]),
    ("a\u00a0b", ["a", "b"]),  # NBSP
    ("x\u3000y", ["x", "y"]),  # ideographic space
    ("a\u000bb", ["a", "b"]),  # vertical tab
    ("a\u0085b", ["a", "b"]),  # NEL
    ("a\u2028b", ["a", "b"]),  # line separator
    ("École\tnormale", ["École", "normale"]),
]


def test_tokens_hand_written_cases_on_both_engines(spark):
    """tokens(), tokens_sql() and the DuckDB fragment all split exactly
    at Unicode whitespace and never emit an empty token."""
    want = [w for _, w in TOKEN_CASES]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(TOKEN_CASES)], "i INT, text STRING"
    ).orderBy("i")
    col_rows = df.select(tokens(F.col("text")).alias("t")).collect()
    sql_rows = df.selectExpr(f"{tokens_sql()} AS t").collect()
    assert [r["t"] for r in col_rows] == want
    assert [r["t"] for r in sql_rows] == want
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INT, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)", [(i, t) for i, (t, _) in enumerate(TOKEN_CASES)]
    )
    duck = con.execute(f"SELECT {TOKENS_DUCK} FROM d ORDER BY i").fetchall()
    assert [r[0] for r in duck] == want


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])


def test_text_stats_python_oracle(docs_df):
    rows = {r["doc_id"]: r for r in text_stats(docs_df).collect()}
    for doc_id, text, _ in DOCS:
        toks = text.split()
        r = rows[doc_id]
        assert r["n_chars_calc"] == len(text)
        assert r["n_tokens"] == len(toks)
        assert r["avg_token_len"] == pytest.approx(sum(map(len, toks)) / len(toks))
        assert r["stop_ratio"] == pytest.approx(
            sum(t in STOPWORDS for t in toks) / len(toks)
        )


def test_quality_bounds(docs_df):
    for r in quality_score(docs_df).collect():
        assert 0.0 <= r["quality"] <= 1.0


def test_lang_guess_rule(docs_df):
    got = {r["doc_id"]: r["lang_guess"] for r in lang_guess(docs_df).collect()}
    assert got[1] == "en_like"  # stopword-dense
    assert got[3] == "other"  # no stopwords


def test_fingerprint_order_sensitive(docs_df):
    fps = {r["doc_id"]: r for r in fingerprints(docs_df).collect()}
    # doc 2 is a token reordering of doc 0: rolling hash differs, md5 differs
    assert fps[0]["fp_rolling"] != fps[2]["fp_rolling"]
    assert fps[0]["fp_md5"] != fps[2]["fp_md5"]
    # determinism across runs
    again = {r["doc_id"]: r for r in fingerprints(docs_df).collect()}
    assert fps[0]["fp_rolling"] == again[0]["fp_rolling"]


def test_token_counts_by_lang(docs_df):
    got = {r["lang"]: r for r in token_counts_by(docs_df, "lang").collect()}
    assert got["en"]["n_docs"] == 3
    assert got["en"]["ws_tokens"] == 4 + 6 + 4
    assert got["de"]["ws_tokens"] == 1
    assert got["en"]["total_chars"] == sum(len(t) for _, t, lang in DOCS if lang == "en")


# ---------------------------------------------------------------------------
# Corpus assembly (round 3): split determinism, repetition bounds, mixing
# ---------------------------------------------------------------------------


def test_corpus_split_is_deterministic_and_duplicate_consistent(spark):
    """The md5-prefix split is a pure function of text: duplicates land
    in the same split, and the three buckets partition the corpus."""
    from distgrep_spark import queries as q

    out = q.QUERIES["corpus_split_assign"](spark, "/root/testdata/sf0.001")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(rows.values()) <= {"train", "val", "test"}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    by_text: dict[str, set] = {}
    for r in docs.select("doc_id", "text").collect():
        by_text.setdefault(r["text"], set()).add(rows[r["doc_id"]])
    # every exact-duplicate group maps to exactly one split
    assert all(len(s) == 1 for s in by_text.values())
    # and a second run agrees exactly (no RNG anywhere)
    again = {r["doc_id"]: r["split"]
             for r in q.QUERIES["corpus_split_assign"](spark, "/root/testdata/sf0.001").collect()}
    assert again == rows


def test_repetition_score_bounds_and_detects_repeats(spark):
    """rep_ratio in (0, 1]; a document that is one phrase repeated must
    score far below distinct prose."""
    from distgrep_spark.functions.textfns import ngrams_of_tokens, tokens
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "spam and spam and spam and spam and spam and spam"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    toks = df.select("doc_id", tokens(F.col("text")).alias("_t")).where(F.size("_t") >= 3)
    g = toks.select("doc_id", ngrams_of_tokens(F.col("_t"), 3).alias("_g"))
    out = {
        r["doc_id"]: (r["n_grams"], r["n_distinct"])
        for r in g.select(
            "doc_id",
            F.size("_g").alias("n_grams"),
            F.size(F.array_distinct("_g")).alias("n_distinct"),
        ).collect()
    }
    assert 3 not in out  # two tokens -> no trigram row
    n1, d1 = out[1]
    n2, d2 = out[2]
    assert d1 == n1  # distinct prose: every trigram unique
    assert d2 / n2 < 0.5 < d1 / n1  # the repeated doc scores low


def test_mix_domain_weights_flattens_mixture(spark):
    """uniform_weight * share must equal 1/n_sources for every source —
    i.e. applying the weights yields an exactly uniform mixture."""
    from distgrep_spark import queries as q

    rows = q.QUERIES["mix_domain_weights"](spark, "/root/testdata/sf0.001").collect()
    n_sources = len(rows)
    assert n_sources > 1
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert abs(r["uniform_weight"] * r["share"] - 1.0 / n_sources) < 1e-9


def test_sessionize_partitions_events_and_respects_gap(spark):
    """Sessions partition the event set; inside a session every
    consecutive gap is <= 12h, and session boundaries are > 12h."""
    from distgrep_spark import queries as q

    sf = "/root/testdata/sf0.001"
    sessions = q.QUERIES["sessionize_events"](spark, sf).collect()
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert sum(r["n_events"] for r in sessions) == n_events
    by_user: dict[int, list] = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_seq"])
        assert [r["session_seq"] for r in rows] == list(range(1, len(rows) + 1))
        for a, b in zip(rows, rows[1:]):
            assert a["session_end"] < b["session_start"]
            gap = (b["session_start"] - a["session_end"]).total_seconds()
            assert gap > 12 * 3600


def test_quantize_error_bounded_by_half_step(spark):
    """Where nothing saturates, |dequant - x| <= scale/2 (+ float eps)."""
    from distgrep_spark import queries as q

    rows = q.QUERIES["embed_quantize_int8"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        if r["n_sat"] == 0:
            assert r["max_err"] <= r["scale"] / 2 + 1e-12
        assert r["scale"] > 0


def test_rebalance_keeps_subset_and_flattens(spark):
    """Kept set is a per-lang subset, deterministic, and every lang
    lands within binomial noise of the rarest lang's count."""
    from distgrep_spark import queries as q

    sf = "/root/testdata/sf0.01"
    kept = q.QUERIES["sample_rebalance_lang"](spark, sf).collect()
    again = q.QUERIES["sample_rebalance_lang"](spark, sf).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)
    orig = {
        r["lang"]: r["cnt"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    target = min(orig.values())
    got: dict[str, int] = {}
    for r in kept:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    for lang, n in got.items():
        assert n <= orig[lang]
        # expected `target` keeps; allow 5-sigma binomial slack
        sigma = (target * (1 - target / orig[lang])) ** 0.5
        assert abs(n - target) <= 5 * sigma + 1


def test_exact_substr_scrub_removes_cross_doc_spans(spark):
    """Planted corpus: the shared trigram 'x y z' must be scrubbed from
    both carriers (plus the tokens it covers), a unique doc stays
    intact, a short (<3-token) doc produces no grams and stays intact,
    and coincident duplicate docs scrub to '' but STILL emit rows."""
    from distgrep_spark.operators.text import exact_substr_scrub

    docs = spark.createDataFrame(
        [
            (1, "x y z w"),
            (2, "x y z q"),
            (3, "a b c d e"),
            (4, "p q"),
            (5, "dup dup dup dup"),
            (6, "dup dup dup dup"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in exact_substr_scrub(docs).collect()
    }
    assert got[1] == ("w", 1, 3)
    assert got[2] == ("q", 1, 3)
    assert got[3] == ("a b c d e", 5, 0)
    assert got[4] == ("p q", 2, 0)
    # full-duplicate pair: every trigram has df=2, everything scrubbed
    assert got[5] == ("", 0, 4)
    assert got[6] == ("", 0, 4)


def test_doremi_step_weights_sum_to_one_and_clip(spark):
    """Planted two-domain corpus: the long-doc domain carries positive
    excess, the short one clips to zero; smoothed weights must sum to 1
    and keep every domain above the 1% uniform floor."""
    from distgrep_spark import queries as q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(i, "w " * 50 + "w", "en", "long", 101) for i in range(4)]
        + [(10 + i, "a b", "en", "short", 3) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["source"]: r
            for r in q.QUERIES["mix_doremi_step"](spark, d).collect()
        }
    assert out["short"]["excess_mtok"] == 0
    assert out["long"]["excess_mtok"] > 0
    total = out["long"]["alpha"] + out["short"]["alpha"]
    assert abs(total - 1.0) < 1e-12
    assert out["long"]["alpha"] > out["short"]["alpha"]
    assert out["short"]["alpha"] >= 0.01 / 2  # uniform smoothing floor


def test_bpe_step_expr_survives_quoted_tokens(spark):
    """Round-10 advice: corpus tokens containing single quotes or
    backslashes ("don't", Windows paths) must survive interpolation
    into the selectExpr merge rewrite — _sql_str escapes them. Merge
    ("don't", "pa\\th") over a doc that contains the pair twice."""
    from distgrep_spark.queries.llm import _bpe_step_expr

    df = spark.createDataFrame(
        [(1, ["don't", "pa\\th", "x", "don't", "pa\\th"]),
         (2, ["don't", "don't", "pa\\th"])],
        "doc_id bigint, t array<string>",
    )
    out = {
        r["doc_id"]: r["t"]
        for r in df.selectExpr(
            "doc_id", _bpe_step_expr("don't", "pa\\th")
        ).collect()
    }
    fused = "don't+pa\\th"
    assert out[1] == [fused, "x", fused]
    assert out[2] == ["don't", fused]

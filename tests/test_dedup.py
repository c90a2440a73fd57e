"""Dedup operator tests: exact pytest oracles for the hash-sketch ops the
DuckDB gate can't cover (MinHash-LSH, SimHash), plus exact-dedup
determinism."""

from __future__ import annotations

import itertools

import pytest

from distgrep_spark.operators.dedup import (
    dedup_by_hash,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
DOCS = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
    (3, "completely different text about spark query engines and shuffles here now"),
    (4, "completely different text about spark query engines and shuffles here today"),  # near dup of 3
    (5, "unrelated short doc"),
    (6, "another unrelated document talking about databases and storage formats entirely"),
]


def py_trigram_jaccard(a: str, b: str) -> float:
    def grams(s):
        t = s.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_min_survivor(docs_df):
    rows = {r["text"]: (r["doc_id"], r["n_copies"]) for r in dedup_exact(docs_df).collect()}
    assert rows[BASE] == (0, 2)  # min-id survivor, both copies counted
    assert len(rows) == 6


def test_dedup_hash_matches_exact(docs_df):
    assert dedup_by_hash(docs_df).count() == dedup_exact(docs_df).count()


def test_ngram_jaccard_matches_python_oracle(docs_df):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, n=3, threshold=0.3).collect()
    }
    want = {
        (a, b): py_trigram_jaccard(ta, tb)
        for (a, ta), (b, tb) in itertools.combinations(DOCS, 2)
        if py_trigram_jaccard(ta, tb) >= 0.3
    }
    assert set(got) == set(want)
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j)


def test_ngram_jaccard_max_df_prunes(docs_df):
    # max_df=1 keeps only shingles unique to one doc -> no common shingles
    assert ngram_jaccard_pairs(docs_df, n=3, threshold=0.1, max_df=1).count() == 0


def test_minhash_lsh_finds_planted_pairs(docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs_df, min_est_jaccard=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup
    assert (3, 4) in pairs
    # dissimilar docs must not appear
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_recall_on_fixture(spark):
    """On the sf0.01 corpus, banded LSH at est>=0.5 must recover every
    exact-Jaccard>=0.5 pair (the planted near-dups sit at j~0.99, far
    above the band threshold)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, min_est_jaccard=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    assert exact <= approx or len(exact - approx) / len(exact) < 0.1


def test_simhash_pairs(spark):
    """SimHash needs long documents: a 1-word edit in an n-token doc flips
    a bit only where the per-bit ±1 sum sits within ±2 of zero, so flips
    shrink as n grows. 150-token docs with a 1-word edit land within a few
    bits; short docs (like DOCS above) legitimately do not."""
    words = [f"w{i % 37}x{i % 11}" for i in range(150)]
    base = " ".join(words)
    edited = " ".join(["CHANGED" if i == 75 else w for i, w in enumerate(words)])
    other = " ".join(f"z{i % 41}q{i % 13}" for i in range(150))
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, edited), (3, other)], ["doc_id", "text"]
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=8).collect()
    }
    assert pairs[(0, 1)] == 0  # identical docs -> identical fingerprints
    assert (0, 2) in pairs and pairs[(0, 2)] <= 8  # 1-word edit stays close
    assert not any(3 in p for p in pairs)  # unrelated doc excluded


def test_short_docs_do_not_crash_ansi(spark):
    """Docs with fewer than n tokens (incl. empty string) must produce
    zero n-grams, not an ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT crash:
    sequence(1, 0) is DESCENDING [1, 0] in Spark, so the gram index
    column must be explicitly guarded for size(tokens) < n."""
    from pyspark.sql import functions as F

    from distgrep_spark.functions.textfns import ngrams_of_tokens, tokens

    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "now three tokens"),
         (4, "the quick brown fox jumps")],
        ["doc_id", "text"],
    )
    grams = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", ngrams_of_tokens(F.col("toks"), 3).alias("g"))
        .collect()
    }
    assert grams[0] == [] and grams[1] == [] and grams[2] == []
    assert grams[3] == ["now three tokens"]
    assert len(grams[4]) == 3
    # the full sketch pipelines must survive a corpus of short docs
    assert ngram_jaccard_pairs(df, n=3, threshold=0.1).count() == 0
    assert minhash_lsh_pairs(df, min_est_jaccard=0.9).count() == 0
    assert simhash_pairs(df, max_hamming=3).collect() is not None


def test_sketches_deterministic(docs_df):
    a = sorted(map(tuple, minhash_lsh_pairs(docs_df, min_est_jaccard=0.3).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(docs_df, min_est_jaccard=0.3).collect()))
    assert a == b


def test_minhash_rejects_indivisible_bands(docs_df):
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs_df, num_hashes=64, bands=10)


def test_salted_join_rejects_right_preserving(spark):
    from distgrep_spark.operators.skew import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    other = spark.range(4).withColumnRenamed("id", "j")
    for bad in ("full_outer", "fullouter", "outer", "right", "rightouter", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, other, left_on="k", right_on="j", how=bad)
    # Every Spark alias of a left-preserving join is accepted.
    for ok in ("inner", "left", "leftouter", "left_outer", "semi",
               "leftsemi", "left_semi", "anti", "leftanti", "left_anti"):
        salted_join(df, other, left_on="k", right_on="j", how=ok)


def test_minhash_estimate_invariants(spark):
    """Sketch invariants: identical docs estimate 1.0; estimates stay in
    [0, 1]; pair orientation is canonical (doc_a < doc_b)."""
    df = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "a b c d e f g"), (2, "a b c d e f x"),
         (3, "q r s t u v w")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(df, n=2, min_est_jaccard=None).collect()
    assert pairs, "identical docs must collide in some band"
    by_pair = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}
    assert by_pair[(0, 1)] == 1.0
    for (a, b), est in by_pair.items():
        assert a < b
        assert 0.0 <= est <= 1.0


def test_simhash_radius_report_matches_bruteforce(spark, tmp_path):
    """Pigeonhole EXACTNESS: the block-index radius join must find the
    same d<=2 pair mass as an all-pairs brute force computed with the
    identical md5-nibble signature rule — on a corpus engineered to
    have coincident gram profiles (d=0), near signatures, and far ones."""
    import hashlib
    import itertools

    import distgrep_spark.queries as q

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "alpha beta gamma delta epsilon zeta kappa iota",
        "one two three four five six seven eight nine",
        "one two three four five six seven eight ten",
        "red blue green yellow purple orange pink black",
    ]
    texts = []
    for t in base:
        texts.append(t)
        texts.append(t)  # exact copy -> identical profile (d=0 mass)
    # CROSS-PROFILE d=0 collision (the round-8 fix): different gram sets,
    # identical 64-bit simhash. For a 2-gram profile the majority rule
    # (ties -> 1) degenerates to OR, so sig({g1,g2}) == sig({g1}) exactly
    # when bits(md5(g2)[:16]) is a subset of bits(md5(g1)[:16]). The token
    # suffixes below were found by direct search over md5 (g1 popcount 50,
    # g2 subset — verified again by the brute force underneath).
    texts.append("w51377 qq zz")         # gram set {g1}
    texts.append("w51377 qq zz v5940")   # gram set {g1, g2}
    rows = [
        (i, t, "en", "src0", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # pure-Python reference with the same signature rule
    def grams_of(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    def sig_of(grams):
        n = len(grams)
        counts = [0] * 64
        for g in grams:
            h = hashlib.md5(g.encode()).hexdigest()
            for j in range(64):
                nib = int(h[j // 4], 16)
                bit = (nib >> (3 - j % 4)) & 1
                counts[j] += bit
        return tuple(1 if 2 * c >= n else 0 for c in counts)

    sigs = [sig_of(grams_of(t)) for t in texts]
    # the planted pair really is a cross-profile signature collision
    assert grams_of(texts[-2]) != grams_of(texts[-1])
    assert sigs[-2] == sigs[-1]
    expected = {0: 0, 1: 0, 2: 0}
    for a, b in itertools.combinations(range(len(texts)), 2):
        d = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if d <= 2:
            expected[d] += 1

    out = {
        r["hamming"]: r["n_pairs"]
        for r in q.QUERIES["dedup_simhash_radius_report"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == expected, (out, expected)
    assert expected[0] >= 6, "fixture must exercise the d=0 tier"

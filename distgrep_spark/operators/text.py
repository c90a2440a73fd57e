"""Text analysis operators: stats, quality, language heuristic,
fingerprints (north-star extensions; BASELINE.json).

Everything is built-in column expressions — the whole module is UDF-free,
so at 100 TB these run inside whole-stage codegen with no Python round
trip. The per-document functions (stats, quality, fingerprints, chunking)
are shuffle-free projections; the two corpus-level operators at the end
(dup_span_fraction, remove_dup_sentences) shuffle exactly the keys their
docstrings state — gram/sentence frequencies and the doc id — never
document payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.textfns import (
    avg_token_len,
    bpe_ish_count,
    ngrams_of_tokens,
    stopword_ratio,
    token_count,
    tokens,
    tokens_sql,
)

# Stopword probe set shared with the DuckDB oracles. The fixture vocabulary
# is lowercase ASCII; a production build would swap in per-language lists.
STOPWORDS = ("the", "a", "of", "and")

# Content-addressed train/val/test split rule (~80/10/10 via md5-prefix
# thresholds 'cc'/'e6' = 204/26/26 of 256). THE single source of truth:
# corpus_split_assign, dq_split_leakage, dq_split_leakage_neardup and
# corpus_curation_pipeline all format this string (Spark SQL and DuckDB
# produce identical lowercase-hex md5, so the fragment is portable
# verbatim to both engines' SQL). Keying on content — not row position —
# is the 100 TB property: the split survives resharding and appends, and
# exact duplicates land in one split by construction.
SPLIT_CASE = (
    "CASE WHEN substr(md5({c}), 1, 2) < 'cc' THEN 'train'"
    " WHEN substr(md5({c}), 1, 2) < 'e6' THEN 'val'"
    " ELSE 'test' END"
)


def text_stats(df: DataFrame) -> DataFrame:
    """Per-document stats: chars, tokens, avg token length, stopword ratio."""
    c = F.col("text")
    return df.select(
        "doc_id",
        F.length(c).alias("n_chars_calc"),
        token_count(c).alias("n_tokens"),
        avg_token_len(c).alias("avg_token_len"),
        stopword_ratio(c, STOPWORDS).alias("stop_ratio"),
    )


def quality_expr() -> "F.Column":
    """The composite quality score in [0,1] as a COLUMN expression
    (length saturation + stopword signal + char saturation), so callers
    can project it alongside other columns without a self-join back to
    the source table. Fixed IEEE evaluation order: the DuckDB oracle is
    bit-identical."""
    c = F.col("text")
    nt = token_count(c)
    return (
        F.lit(0.4) * F.least(F.lit(1.0), nt / F.lit(100.0))
        + F.lit(0.3) * stopword_ratio(c, STOPWORDS)
        + F.lit(0.3) * F.least(F.lit(1.0), F.length(c) / F.lit(500.0))
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality score per doc (the standard cheap pre-filter
    before expensive LLM-pipeline stages); see ``quality_expr``."""
    return df.select("doc_id", quality_expr().alias("quality"))


def lang_guess(df: DataFrame) -> DataFrame:
    """Heuristic language ID: stopword-density n-gram-free classifier.

    The fixture corpus shares one vocabulary across its `lang` labels, so
    this is exercised as a deterministic two-way rule (en-like vs other);
    swapping in per-language stopword tables turns it into a real
    classifier without touching the plan shape."""
    c = F.col("text")
    guess = F.when(stopword_ratio(c, STOPWORDS) > 0.05, "en_like").otherwise("other")
    return df.select("doc_id", guess.alias("lang_guess"))


def fingerprint_md5(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lower(trim(text)).
    Stable across engines (DuckDB md5 matches) and runs."""
    return F.md5(F.lower(F.trim(col)))


def fingerprint_rolling(col: Column) -> Column:
    """Rolling (order-sensitive) hash over whitespace tokens:
    ``h = fold(tokens, 0, xxhash64(h, token))`` — hash chaining instead of
    the classic ``h*31 + x`` polynomial, which overflows under ANSI mode.

    Order-sensitive (unlike a bag-of-tokens hash) so reordered text gets a
    different fingerprint; xxhash64 is Spark-deterministic, so this column
    is stable across runs but has no cross-engine oracle (rows-only)."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(acc, t),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    c = F.col("text")
    return df.select(
        "doc_id",
        fingerprint_md5(c).alias("fp_md5"),
        fingerprint_rolling(c).alias("fp_rolling"),
    )


def token_counts_by(df: DataFrame, group_col: str) -> DataFrame:
    """Corpus token accounting per group (integer sums → exact)."""
    c = F.col("text")
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(c)).alias("ws_tokens"),
        F.sum(bpe_ish_count(c)).alias("bpe_ish_tokens"),
        F.sum(F.length(c)).alias("total_chars"),
    )


def tfidf_top_terms(df: DataFrame, *, k: int = 3) -> DataFrame:
    """Top-k tokens per document by tf-idf.

    Scoring uses the rational form tf * N / df instead of tf * ln(N/df):
    every step (integer products < 2^53, one correctly-rounded double
    division) is bit-identical across engines, so the oracle can check
    exact values — a transcendental ln could differ in the last ulp
    between libm implementations. Ranking (which is what tf-idf is FOR)
    is identical under either form since ln is monotonic.

    Dataflow: one explode, tf = groupBy(doc, token), df = groupBy(token)
    over the tf rows (already distinct doc-token pairs), broadcast-join
    the token df back, window top-k per doc. At 100 TB both aggregations
    are partial-final with small value payloads; the token-df side is
    vocabulary-sized (broadcastable, or bucketed for web-scale vocab).
    """
    from pyspark.sql import Window

    # N as a broadcast 1-row aggregate crossJoined in, NOT df.count():
    # count() is a separate driver-blocking job — a second full pass over
    # the corpus at 100 TB. As a plan-side scalar it runs in the same job
    # and the single-row side broadcasts for free.
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf").cast("double") * F.col("_n_docs") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return scored.select(
        "doc_id", "tok", "score", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= k)


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the context
    -window preprocessing step of every LLM training pipeline. Returns
    (id, chunk_id, chunk_text, n_tokens), chunk_id 0-based; chunks start
    every (chunk_tokens - overlap) tokens, the last chunk may be short,
    and a document shorter than one chunk yields exactly one chunk.

    Pure array expressions (tokenize once into a materialized column,
    then slice per chunk start): map-side, no shuffle, no Python — at
    100 TB chunking is a projection, not a job."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = df.select("doc_id", tokens(F.col("text")).alias("_toks"))
    # chunk starts: 1, 1+stride, ... while start <= max(n - overlap, 1)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_toks") - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    return (
        toks.select(
            "doc_id",
            F.posexplode(starts).alias("chunk_id", "_start"),
            F.col("_toks"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(" ", F.slice("_toks", F.col("_start"), chunk_tokens)).alias(
                "chunk_text"
            ),
            F.size(F.slice("_toks", F.col("_start"), chunk_tokens)).alias("n_tokens"),
        )
    )


def dup_span_fraction(df: DataFrame, *, n: int = 5) -> DataFrame:
    """Per-document fraction of n-gram shingles shared with ANY other
    document — the RefinedWeb/Gopher-style cross-document repetition
    signal (high fraction = boilerplate / near-dup material worth
    down-weighting before training). Documents shorter than n tokens
    emit no row.

    Plan: tokenize once (materialized token array — see
    ngrams_of_tokens' inlining gotcha), explode distinct (doc, gram)
    pairs, ONE shuffle on gram for document frequency, ONE shuffle back
    on the doc id for the per-doc ratio. Same tokenizer and gram
    construction as the Jaccard dedup pass, so at 100 TB the inverted
    index is shareable between the two (and the gram key would be its
    8-byte xxhash64, exactly like dedup_hash vs dedup_exact)."""

    toks = df.select("doc_id", tokens(F.col("text")).alias("_t"))
    grams = toks.select(
        "doc_id", F.explode(ngrams_of_tokens(F.col("_t"), n)).alias("gram")
    ).distinct()
    dfreq = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("ndocs") >= 2, 1)).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (F.col("n_dup_grams") * F.lit(1.0) / F.col("n_grams")).alias("dup_frac"),
        )
    )


def remove_dup_sentences(df: DataFrame) -> DataFrame:
    """Drop every sentence ('. '-separated, the udtf_split_sentences
    convention) that appears in MORE than one document, then reassemble
    the survivors in original order — C4/RefinedWeb's exact line-dedup
    pass. Documents made entirely of boilerplate come back with
    ``clean_text = ''`` rather than vanishing (silently dropping them
    would corrupt downstream joins).

    Plan: posexplode the sentence array, ONE shuffle on the sentence for
    global document frequency, join back, ONE shuffle on the doc id
    where collect_list + array_sort on (pos, sentence) structs rebuilds
    the text deterministically (pos is unique per doc, so the struct
    sort is total). At 100 TB the frequency key would be the sentence's
    xxhash64 — shuffle 8-byte keys, not prose — with an identical plan
    shape."""
    s = df.select(
        "doc_id", F.posexplode(F.split("text", r"\. ")).alias("pos", "sentence")
    ).where(F.col("sentence") != "")
    freq = s.groupBy("sentence").agg(F.countDistinct("doc_id").alias("ndocs"))
    kept = s.join(freq, "sentence").where(F.col("ndocs") == 1)
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, sentence))),"
                " p -> p.sentence)"
            ),
            ". ",
        ).alias("clean_text"),
    )
    tot = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sents"))
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        "n_sents",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def cdc_chunk_hashes(df: DataFrame) -> DataFrame:
    r"""Content-defined chunking: cut each document's token stream at
    positions where the rolling 3-gram hash lands in a 1/8 band, and
    return one row per chunk with its md5 content hash.

    The defining CDC property (LBFS, Muthitacharoen et al. SOSP'01):
    boundaries depend only on a LOCAL window of content, so an edit —
    e.g. tokens inserted at the front — perturbs chunking only until
    the next boundary, after which all chunks re-synchronize and hash
    identically to the unedited document's. Fixed-width blocking loses
    every block after the edit. ``tests/test_text_property.py`` pins
    exactly that resynchronization invariant.

    Plan shape: posexplode -> two lag() windows for the rolling hash
    (never a per-position HOF fold — the nested-HOF codegen cliff) ->
    boundary flag -> running-sum chunk index (gaps-and-islands) ->
    chunk reassembly ordered by pos. All three windows and the rollup
    ride ONE doc_id-keyed exchange; the output carries 16-byte md5
    digests plus token counts, never text.

    Returns columns: ``(doc_id, source, chunk_idx, chunk_hash, n_toks)``.
    """
    toks = df.selectExpr(
        "doc_id",
        "source",
        f"posexplode({tokens_sql()}) AS (pos0, tok)",
    ).selectExpr("doc_id", "source", "tok", "pos0 + 1 AS pos")
    flags = toks.selectExpr(
        "doc_id",
        "source",
        "tok",
        "pos",
        "CASE WHEN pos >= 3"
        " AND substr(md5("
        "   lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||"
        "   lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||"
        "   tok), 1, 1) < '2'"
        " THEN 1 ELSE 0 END AS boundary",
    )
    assigned = flags.selectExpr(
        "doc_id",
        "source",
        "tok",
        "pos",
        "sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx",
    )
    return assigned.groupBy("doc_id", "source", "chunk_idx").agg(
        F.expr(
            "md5(concat_ws(' ',"
            " transform(array_sort(collect_list(struct(pos, tok))),"
            "           s -> s.tok))) AS chunk_hash"
        ),
        F.expr("count(*) AS n_toks"),
    )


# exact_substr_scrub's span rule: a token is scrubbed when a
# SCRUB_N-gram covering it occurs in >= SCRUB_MIN_DF distinct documents.
# 2 is the canonical cross-document rule ("appears in any other
# document"), which holds at every scale where an absolute df cut would
# encode a fixture size. text_exact_substr_scrub's DuckDB twin spells the
# same trigram and 2.
SCRUB_N = 3
SCRUB_MIN_DF = 2


def exact_substr_scrub(df: DataFrame) -> DataFrame:
    """ExactSubstr-style duplicated-span SCRUBBING (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4.1,
    token-level approximation): remove every token covered by an n-gram
    (n = ``SCRUB_N``) that occurs in >= ``SCRUB_MIN_DF`` distinct
    documents, and emit the
    cleaned text plus kept/removed counts. Where dup_span_fraction
    MEASURES cross-document repetition, this one ACTS on it — the
    pre-training pass that deletes boilerplate spans instead of whole
    documents.

    Plan (all JVM-side): tokenize once, explode (doc, gram-position)
    pairs, ONE gram-keyed shuffle for the distinct-doc frequency,
    semi-join hot grams back to positions, expand each hot gram to its
    n covered token positions, anti-join tokens against the coverage
    set, and reassemble kept tokens in position order. Docs fully
    scrubbed (or shorter than n tokens with a hot... none) still emit a
    row with clean_text='' via the LEFT join — the oracle-universe
    lesson from corpus_curation_pipeline.

    The 100-TB view: work is linear in token count; the only wide
    shuffles key on gram and doc_id. At real scale the gram string
    would be xxhash64'd to one long before the shuffle (equal grams
    always collide, strays are 2^-64 — the LSH band-key lesson); kept
    as strings here for cross-engine oracle parity. Short docs
    (< n tokens) produce no grams via an explicit CASE — Spark's
    sequence(a, b) auto-steps DOWNWARD when a > b (CLAUDE.md gotcha).

    Reference: massimostanzione/distgrep is grep-only (worker.go:24-43);
    LLM-pipeline extension surface per SURVEY.md §2.2.
    """
    n = SCRUB_N
    toks = df.selectExpr("doc_id", f"{tokens_sql()} AS t").localCheckpoint(eager=False)
    # r11: toks fans out to THREE consumers (grams, pos, the n_tokens
    # projection) and re-tokenized the corpus per branch; the lazy
    # checkpoint materializes it once (interleaved x5 A/B at sf0.1:
    # 3.17 -> 2.86 s). Checkpointing GRAMS instead was measured
    # net-negative (position-exploded table is ~n_tokens rows — the
    # materialization costs more than the recompute it saves).
    grams = toks.selectExpr(
        "doc_id",
        f"explode(CASE WHEN size(t) >= {n} THEN sequence(0, size(t) - {n}) "
        "ELSE array() END) AS gp",
        "t",
    ).selectExpr("doc_id", "gp", f"concat_ws(' ', slice(t, gp + 1, {n})) AS gram")
    hot = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .count()
        .where(F.col("count") >= SCRUB_MIN_DF)
        .select("gram")
    )
    cov = (
        grams.join(hot, "gram")
        .selectExpr("doc_id", f"explode(sequence(gp, gp + {n - 1})) AS p0")
        .distinct()
    )
    pos = toks.selectExpr("doc_id", "posexplode(t) AS (p0, tok)")
    kept = (
        pos.join(cov, ["doc_id", "p0"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list("
                "struct(p0, tok))), x -> x.tok)) AS clean_text"
            ),
            F.expr("CAST(count(*) AS BIGINT) AS n_kept"),
        )
    )
    return (
        toks.selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS n_tokens")
        .join(kept, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(clean_text, '') AS clean_text",
            "coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept",
            "n_tokens - coalesce(n_kept, CAST(0 AS BIGINT)) AS n_removed",
        )
    )

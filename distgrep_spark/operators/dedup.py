"""Deduplication operators: exact, hash, n-gram Jaccard, MinHash-LSH,
SimHash (north-star extensions; BASELINE.json).

Scale design notes (the 100 TB view):

- **exact / hash**: one shuffle on the (hashed) content key. Hashing first
  (``dedup_by_hash``) shuffles 16-byte digests instead of document bodies —
  at 100 TB that is the difference between shuffling 100 TB and ~1 TB.
- **n-gram Jaccard**: inverted-index self-join on shingles. The classic
  blow-up is hub shingles (a shingle shared by k docs contributes k² pair
  rows); ``max_df`` prunes shingles above a document-frequency cap before
  the join — standard prefix/frequency filtering. Skewed residual buckets
  are split by AQE skew-join handling.
- **MinHash-LSH**: linear-cost signatures (k hash mins per doc), then a
  band-bucket equi-join — candidate pairs only where a band collides, so
  the quadratic term collapses to per-bucket sizes. All hashing is
  ``xxhash64`` (seeded, deterministic run-to-run); no sampling, no RNG.
- **SimHash**: 64-bit signed-sum sketch; near-dup candidates via band
  equality on fingerprint quarters (any pair within Hamming distance 3
  shares at least one of 4 bands — pigeonhole), verified by exact
  Hamming distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.pairs import cross_pairs, list_pairs, postings
from distgrep_spark.functions.textfns import ngrams_of_tokens, tokens

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame) -> DataFrame:
    """One row per distinct text: the min-id representative + copy count.

    ``min(id)`` (not ``dropDuplicates``) so the survivor is deterministic —
    dropDuplicates keeps an arbitrary partition-order-dependent row, which
    would be irreproducible run to run."""
    return df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def dedup_by_hash(df: DataFrame) -> DataFrame:
    """Exact dedup keyed on md5(text): shuffles digests, not documents."""
    return (
        df.select("doc_id", F.md5(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact near-dup)
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame,
    n: int = 3,
    *,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram rows (id, gram) — the inverted-index input.

    Tokenizes into a materialized column first so the regex split runs
    once per document, not once per gram element (ngrams_of_tokens
    docstring). ``distinct=False`` skips the dedup shuffle for consumers
    that are invariant to repeated shingles (MinHash: min over a multiset
    equals min over its support)."""
    toks = df.select("doc_id", tokens(F.col("text")).alias("_toks"))
    g = toks.select("doc_id", F.explode(ngrams_of_tokens(F.col("_toks"), n)).alias("gram"))
    return g.distinct() if distinct else g


def shingle_profiles(
    df: DataFrame,
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """PROFILE COLLAPSE + posting-list intersection counts: the shared
    front half of the uncapped Jaccard and the containment scorers.

    Returns ``(prof, scored)``:

    - ``prof`` (pid, gs, members, n): one row per DISTINCT gram set
      ``gs`` of size ``n``; ``members`` are the sorted ids sharing it and
      ``pid = members[0]`` (min id: stable, collision-free);
    - ``scored`` (pb, pa, c, ma, na, mb, nb): every profile pair
      ``pa < pb`` sharing ``c >= 1`` grams, with both sides' members and
      sizes joined on — scorers work on scalars, then expand members.

    Docs are grouped by identical gram SET first, so coincident copies
    (the densified mass; at 100 TB the mirrored/boilerplate mass) share
    ONE profile and the pair algorithm runs on the deduplicated problem;
    only the final member expansion is output-bound. The former
    doc-level inverted-index self-join was quadratic in duplicate
    multiplicity: the x64 key-shifted corpus (64 coincident copies per
    doc) spilled >40 GB of shuffle before the round-8 full-registry
    sweep killed it at the disk wall. Grouping by the sorted array is
    one corpus-sized shuffle; arrays as a GROUP key are fine (the
    never-join-on-arrays lesson is about join compares). The
    intersection count comes straight from the posting-list C(df,2)
    explode over profile grams — the LSH rollup pattern."""
    g = shingles(df, n=n)
    doc_grams = postings(g, "doc_id", "gram", "gs")
    # prof fans out to 3 consumers (posting build, size/member
    # slices, same-profile expansion) — checkpoint the fan-out
    # point, not every stage (a mid-pipeline checkpoint serializes
    # branches that would otherwise run concurrently).
    prof = (
        postings(doc_grams, "gs", "doc_id", "members")
        .selectExpr("members[0] AS pid", "gs", "members", "size(gs) AS n")
        .localCheckpoint(eager=False)
    )
    canon = (
        postings(prof.select("pid", F.explode("gs").alias("gram")), "gram", "pid", "ps")
        .where(F.size("ps") >= 2)
        .selectExpr(f"explode({list_pairs('ps', 'x AS pa, y AS pb')}) AS p")
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pa = prof.selectExpr("pid AS pa", "members AS ma", "n AS na")
    pb = prof.selectExpr("pid AS pb", "members AS mb", "n AS nb")
    return prof, canon.join(pa, "pa").join(pb, "pb")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted index.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold. ``max_df`` drops shingles whose document
    frequency exceeds the cap before the self-join (at 100 TB a hub
    shingle with df=10⁶ would otherwise emit 10¹² pair rows; docs whose
    every shingle is a hub can only lose recall, which is the standard,
    documented trade).

    Without ``max_df`` the result is EXACT over the full vocabulary,
    computed as profile collapse (docs grouped by identical gram set)
    + posting-list C(df,2) counting over the distinct profiles — the
    densification-immune principle of this family's DuckDB
    certification oracle, re-expressed in DataFrame ops (round 8; the
    previous inverted-index self-join was quadratic in
    coincident-duplicate multiplicity and died at the x64 sweep's disk
    wall; an AllPairs-prefix variant was A/B-rejected, see the branch
    comment). Only the final member expansion is output-bound."""
    if max_df is not None:
        g = shingles(df, n=n)
        # Posting-list plan: the per-gram doc list is built ONLY for
        # sub-cap grams, and pairs explode in-list (bounded by
        # max_df^2 per gram — the market_basket_lift pattern). The df
        # pre-filter is load-bearing for the boundedness claim: a
        # map-side-combinable count rollup (16-byte gram keys + longs)
        # picks the rare vocabulary FIRST, so no aggregation buffer
        # ever materializes a hub gram's 10^6-doc posting list just to
        # throw it away (the round-4 review catch — a post-hoc
        # size() filter bounds what survives, not what is collected).
        # The collect groupBy rides the join's gram partitioning
        # (hashpartitioning(gram) satisfies it — no extra exchange,
        # verified in the plan), so this still replaces the old
        # rollup + join-back + SELF-JOIN lineage's 15 shuffles.
        rare = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("gram")
        )
        # localCheckpoint: posts feeds BOTH the size rollup and the
        # pair explode, and ReusedExchange does not fire across
        # branches — without it the rollup+join lineage re-runs per
        # consumer (measured: the shuffle count doubles back to the
        # old plan's 15). Rows are (gram, <=max_df ids): the bounded
        # working set of the algorithm.
        posts = postings(g.join(rare, "gram"), "gram", "doc_id", "ds").localCheckpoint(
            eager=False
        )
        sizes = (
            posts.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"))
        )
        common = (
            posts.selectExpr(f"explode({list_pairs('ds', 'x AS doc_a, y AS doc_b')}) AS p")
            .select("p.doc_a", "p.doc_b")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        # Uncapped EXACT path: shingle_profiles (PROFILE COLLAPSE +
        # posting-list counting — the densification-immune algorithm of
        # this family's DuckDB twin, as the engine plan), then score.
        # A first cut used rarest-first AllPairs prefix filtering +
        # array verify (Bayardo 2007, the twin's shape); A/B at sf0.1
        # measured it 4x slower (6.5 s vs ~2 s): the ordering/verify
        # stages are pure overhead when c is countable map-side, and
        # candidate pruning for hub grams is the max_df variant's job
        # (a hub gram's C(df,2) explode is exactly what the cap exists
        # to bound; an uncapped EXACT baseline must pay it in any
        # algorithm).
        prof, scored = shingle_profiles(df, n)
        # score at the PROFILE level, then expand members carrying the
        # scalar jaccard (the dedup_embedding_cosine lesson: the
        # expansion shuffle moves scalars, never arrays).
        pair = cross_pairs("ma", "mb", "least(x, y) AS doc_a, greatest(x, y) AS doc_b")
        cross = (
            scored.select(
                "ma",
                "mb",
                (
                    F.col("c") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("c"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
            .selectExpr(f"explode({pair}) AS d", "jaccard")
            .select("d.doc_a", "d.doc_b", "jaccard")
        )
        # same-profile members are identical gram sets: J = 1.0 by
        # construction, C(m,2) pairs in-list.
        same = (
            prof.where(F.size("members") >= 2)
            .selectExpr(
                f"explode({list_pairs('members', 'x AS doc_a, y AS doc_b')}) AS d",
                "CAST(1.0 AS DOUBLE) AS jaccard",
            )
            .select("d.doc_a", "d.doc_b", "jaccard")
        )
        return cross.unionByName(same)
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("c") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("c"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate near-dup at scale)
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of
    xxhash64(seed=i, xxhash64(gram)). TWO-LEVEL hashing (round 4): the
    gram STRING is hashed once per row and the k family members re-hash
    the resulting 8-byte long — k long-hashes instead of k UTF8
    traversals of a ~30-byte gram, measured 1.1 s -> 0.7 s warm for the
    sf0.1 signature build (~35%). Statistically the derived family is
    as good: distinct grams collide in the inner hash (and hence in ALL
    k signatures at once) with probability 2^-64 — negligible against
    the sketch's own 1/k estimation error. One explode + one shuffle
    (the groupBy); the k mins are k codegen'd min-aggregates, not k
    passes. Shingles are NOT deduplicated first: min() is
    multiset-invariant, so skipping the distinct saves a whole shuffle
    of the gram rows. Built from ``expr`` strings: k per-Column builder
    calls cost ~2 s of py4j round trips at plan time for k=64
    (measured), SQL strings cost milliseconds. Seeds stay plain int
    literals (CLAUDE.md xxhash64 seed-type gotcha); signatures remain
    deterministic and partition-layout-independent."""
    g = shingles(df, n=n, distinct=False)
    gh = g.select("doc_id", F.expr("xxhash64(gram) AS gh"))
    mins = gh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64({i}, gh)) AS h{i}") for i in range(num_hashes)]
    )
    sig = ", ".join(f"h{i}" for i in range(num_hashes))
    return mins.selectExpr("doc_id", f"array({sig}) AS sig")


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    min_est_jaccard: float | None = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    bands=16 × rows=4 over 64 hashes → collision probability
    1-(1-j⁴)¹⁶ (≈0.99 at j=0.8, ≈0.04 at j=0.2). Pairs colliding in ≥1
    band are candidates; ``min_est_jaccard`` then filters on the
    signature-estimated Jaccard (fraction of equal minhashes), so the
    output is (doc_a, doc_b, est_jaccard) without touching raw text
    again — at 100 TB the verify step reads 64 longs per doc, not the
    documents.

    RUN EXACT DEDUP FIRST at scale: every member of an exact-duplicate
    cluster shares every band, so the candidate join emits |cluster|²
    pairs — measured 55+ GB of shuffle spill on a 2M-doc corpus with
    grown dup clusters, vs seconds on its exact-dedup survivors
    (SCALE.md). This operator keeps identical-pair output (the fixture
    oracles depend on it); the PIPELINE is responsible for the order."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): the "
            "trailing num_hashes % bands hashes would be silently dropped "
            "from banding while est_jaccard still divides by the full "
            "count, biasing estimates low"
        )
    r = num_hashes // bands
    # localCheckpoint: the signature table is read three times (banding,
    # sig_a join-back, sig_b join-back) and ReusedExchange does not fire
    # across branches; materializing |docs| x (k longs) (~10 MB at
    # sf0.1) beats re-running the shingle explode + 64 min-aggregates
    # per branch.
    sigs = minhash_signatures(df, n=n, num_hashes=num_hashes).localCheckpoint(eager=False)
    # The band join carries ONLY (id, bkey): routing the 64-long
    # signature array through the banding explode would replicate it
    # x16 per side into the join shuffle (~8 KB/doc, measured round 4);
    # instead the deduped candidate pairs (narrow id rows) join the
    # signature table back twice for the estimate — candidates are the
    # near-dup survivors, orders of magnitude fewer than band rows, and
    # each pair is scored ONCE instead of once per shared band.
    #
    # bkey is ONE xxhash64 long over (band, r-long slice), not the
    # (band, array<bigint>) composite the operator shipped through
    # round 4: joining 15.8M band rows on an ARRAY key measured 44 s at
    # 1M docs — array hashing + element-wise sort-merge comparisons
    # dominate the whole pipeline — vs ~3 s on the single long (round-5
    # A/B). Hashing the key is sound here: equal slices always collide
    # (no false negatives), and a 2^-64 stray collision only creates a
    # spurious CANDIDATE that the est_jaccard scorer (or the recall
    # gate's exact side) filters — the same argument as the two-level
    # gram hashing above. Deterministic and layout-independent.
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(b, F.slice("sig", b * r + 1, r)),
            )
        ).alias("bkey"),
    )
    # Posting-list pairing, not a two-sided self-join: ONE shuffle of
    # the band rows (groupBy bkey), buckets of size 1 — the vast
    # majority — vanish before any pairing, and in-bucket ordered pairs
    # explode from the id set; bkey hashes the band index, so a doc
    # sits in a bucket once (round-5 A/B at 1M docs: ~2x over the
    # bkey self-join, which itself was ~5x over the array-key join).
    # The per-bucket m^2 blowup shares the operator's documented
    # RUN-EXACT-DEDUP-FIRST precondition: after exact dedup, bucket
    # membership = near-dup cluster size; a bucket that breaks the
    # list-aggregate would have broken the join's pair output worse.
    cand = (
        postings(banded, "bkey", "doc_id", "ids")
        .where(F.size("ids") > 1)
        .selectExpr(f"explode({list_pairs('ids', 'x AS doc_a, y AS doc_b')}) AS p")
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a",
        "doc_b",
        (
            F.size(
                F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
            )
            * F.lit(1.0)
            / F.lit(num_hashes)
        ).alias("est_jaccard"),
    )
    if min_est_jaccard is not None:
        est = est.where(F.col("est_jaccard") >= min_est_jaccard)
    return est


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash as a single LONG (bit i = sign of per-bit sum).

    Per token: xxhash64 → ±1 per bit; per doc: elementwise sum over
    tokens; fingerprint bit = sign. Instead of 64 per-bit sum-aggregates
    (the naive formulation: 64 IF+shift ops per token row and a
    64-column codegen'd aggregate), the per-bit set-counts are packed
    into 16 SIMD-within-a-register words: word ``w_j = sum(shiftright
    (h, j) & 0x0001000100010001)`` carries four 16-bit lanes counting
    bits ``j, j+16, j+32, j+48``. Safety bound: lanes can't carry into
    each other below 65,536 tokens per doc, but the BINDING bound under
    Spark 4 ANSI mode is tighter — the lane-48 term makes the 64-bit
    word sum itself approach 2^63 first, overflowing (and throwing) at
    32,768 same-bit tokens per doc worst case. Chunk documents to
    ≤2^15 tokens before fingerprinting (text_chunk_documents already
    emits far smaller chunks), or widen the 16 word sums to
    DECIMAL(38,0) if unchunked mega-docs ever reach this path.
    Bit i of the fingerprint is then ``2*count_i > n`` (sign of
    ``#set - #unset``). This is 4× less per-token work and a 4× smaller
    generated aggregate — measured 4.6 s → 3.2 s cold at sf0.1, and the
    per-row saving is what matters on a 100 TB corpus where the token
    explode dominates. Bit-identical to the naive form (verified over
    the full fixture). Still one shuffle keyed on the doc id; Hamming
    distance downstream stays one ``bit_count(xor)``. Built from
    ``expr`` strings — 64 per-Column builder chains cost ~2 s of py4j
    round trips at plan time (measured), SQL strings don't."""
    mask = 0x0001000100010001
    tok = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    sums = (
        tok.selectExpr("doc_id", "xxhash64(tok) AS h")
        .groupBy("doc_id")
        .agg(
            F.expr("count(*) AS n"),
            *[F.expr(f"sum(shiftright(h, {j}) & {mask}) AS w{j}") for j in range(16)],
        )
    )
    fp = " | ".join(
        f"shiftleft(CAST(2 * (shiftright(w{i % 16}, {16 * (i // 16)}) & 65535) > n"
        f" AS BIGINT), {i})"
        for i in range(64)
    )
    return sums.selectExpr("doc_id", f"({fp}) AS simhash")


def simhash_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming``.

    Banding on 4 fingerprint quarters: any pair at distance ≤3 agrees on
    ≥1 quarter (pigeonhole), so the equi-join on (band, quarter) finds all
    such pairs; the exact Hamming distance then verifies. No quadratic
    pass, no RNG."""
    # r11: sh is the fan-out point — the quarter table feeds BOTH sides
    # of the band equi-join, and AQE reuses no exchange across branches,
    # so without the checkpoint the tokenize-explode + 16-word signature
    # aggregate (the expensive part) executes twice. Materialized form is
    # 16 bytes/row (doc_id, simhash).
    sh = simhash(df).localCheckpoint(eager=False)
    quarters = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        # 16-bit slice of the fingerprint; unsigned shift so
                        # the long's sign bit doesn't smear into band 3
                        F.shiftrightunsigned(F.col("simhash"), bnd * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for bnd in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = quarters.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "key")
    b = quarters.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "key")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        # filter on the cheap bit_count BEFORE the dedup shuffle: at hub
        # buckets (exact-dup clusters) this drops ~99% of candidate rows
        # so the dropDuplicates exchange carries survivors only
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )

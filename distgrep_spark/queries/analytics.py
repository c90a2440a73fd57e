"""Round-3 batch 5: bitmap-exact distinct, fuzzy record linkage, product
quantization, RFM segmentation, and shingle containment.

The 100-TB rationale per query:

- ``agg_bitmap_distinct``: exact COUNT(DISTINCT) via a two-level bitmap
  rollup — ``(group, key DIV 32) -> bit_or(1 << key % 32)`` then
  ``sum(bit_count(word))``. Unlike a raw count-distinct (which shuffles
  every key occurrence), the word rollup is map-side combinable and the
  second stage shuffles ONE 8-byte word per populated 32-key block —
  the roaring-bitmap trick expressed in pure Catalyst aggregates, and
  the words themselves are a mergeable exact-distinct sketch (bit_or is
  associative/commutative/idempotent, so partial bitmaps union across
  partitions, days, or incremental loads without recount).
- ``join_fuzzy_blocked``: record linkage as blocked candidate
  generation + bounded verify. The block key (3-char prefix) turns the
  quadratic fuzzy match into an equi-join Catalyst hash-partitions;
  ``levenshtein`` runs only inside blocks. At 100 TB the block-size
  distribution is the whole game: cap hub blocks exactly like
  ``ngram_jaccard_pairs``'s ``max_df`` (a block with 10^6 members is
  10^12 candidate pairs), and pick block keys that survive the expected
  corruption model (here: a single substitution outside the prefix).
- ``embed_pq_assign``: product-quantization codebook assignment — the
  compression layer between ``embed_quantize_int8`` (scalar int8) and
  the IVF/LSH indexes: 64 dims become M=4 one-byte codes (16x on top of
  int8). All arithmetic is INTEGER (vectors are globally quantized to
  int8 grid first), so subspace L2 distances are exact BIGINTs and the
  argmin is bit-stable across engines and partition layouts — float
  argmin near-ties are the classic nondeterminism trap in distributed
  PQ builds. Centroids broadcast (M x k rows); assignment is map-side.
- ``orders_rfm_segments``: recency/frequency/monetary quintile
  segmentation. Tested with exact global ntile (deterministic
  tie-break by key); the docstring's 100-TB form replaces the global
  sort with approx-quantile boundary broadcast — same output schema,
  no total order.
- ``text_shingle_containment``: asymmetric containment
  |S(a) ∩ S(b)| / |S(a)| over the shingle inverted index — catches the
  sub/superset near-dups (quote inflation, boilerplate wrapping) that
  symmetric Jaccard structurally misses: a 100-word doc embedded
  verbatim in a 10k-word doc has Jaccard ~0.01 but containment 1.0.
  Same single-shuffle inverted-index plan as ``dedup_ngram_jaccard``;
  the threshold is applied as an integer cross-multiplication so no
  float comparison sits on the candidate-pair knife edge.

No reference counterpart (the reference's only query is grep,
worker.go:24-43); these extend the training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import local_table
from distgrep_spark.functions.numeric import dsum, sorted_sum
from distgrep_spark.functions.pairs import cross_pairs, list_pairs, postings
from distgrep_spark.functions.textfns import (
    TOKENS_DUCK,
    ngrams_of_tokens,
    tokens,
    tokens_sql,
)
from distgrep_spark.operators.dedup import shingle_profiles
from distgrep_spark.operators.graph import copurchase_edges
from distgrep_spark.operators.preference import mmr_pick
from distgrep_spark.operators.similarity import (
    INT8_GRID,
    PQ_D,
    PQ_K,
    PQ_M,
    int_l2sq,
    pq_scored,
)
from distgrep_spark.operators.sketches import bitmap_build, bitmap_count
from distgrep_spark.operators.spatial import grid_neighbor_pairs
from distgrep_spark.queries.registry import query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Bitmap-exact distinct (mergeable exact count-distinct)
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH o AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_custkey AS ck
      FROM orders
    ),
    words AS (
      SELECT month, ck // 32 AS word,
             bit_or(1::BIGINT << CAST(ck % 32 AS INT)) AS w
      FROM o GROUP BY month, ck // 32
    ),
    bm AS (
      SELECT month, CAST(sum(bit_count(w)) AS BIGINT) AS n_distinct_bitmap
      FROM words GROUP BY month
    ),
    ex AS (
      SELECT month, count(DISTINCT ck) AS n_distinct_exact
      FROM o GROUP BY month
    )
    SELECT month, n_distinct_bitmap, n_distinct_exact,
           n_distinct_bitmap = n_distinct_exact AS bitmap_matches_exact
    FROM bm JOIN ex USING (month)
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order month via a 32-key/word bitmap
    rollup, gated against the direct COUNT(DISTINCT). The bitmap path is
    the one that scales: stage 1 (``bit_or`` per (month, word)) is
    map-side combinable and idempotent under duplicate keys, stage 2
    shuffles one BIGINT per populated word — at 10^9 customers that is
    ~32x fewer shuffled bytes than the raw distinct, and the word table
    is a reusable, mergeable exact-distinct index (union = ``bit_or``).
    Integer division via DIV on both engines (CAST(double) rounds in
    DuckDB but truncates in Spark — CLAUDE.md)."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "date_trunc('month', o_orderdate) AS month",
        "o_custkey AS ck",
    )
    words = bitmap_build(o, key="ck", groups=["month"])
    bm = bitmap_count(words, groups=["month"]).withColumnRenamed(
        "n_distinct", "n_distinct_bitmap"
    )
    ex = o.groupBy("month").agg(
        F.countDistinct("ck").alias("n_distinct_exact")
    )
    return bm.join(ex, "month").select(
        "month",
        "n_distinct_bitmap",
        "n_distinct_exact",
        (F.col("n_distinct_bitmap") == F.col("n_distinct_exact")).alias(
            "bitmap_matches_exact"
        ),
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage: blocked candidates + levenshtein verify
# ---------------------------------------------------------------------------


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name FROM part),
    dirty AS (
      SELECT p_partkey AS probe_key,
             substring(p_name, 1, 3) || 'X' || substring(p_name, 5)
               AS probe_name
      FROM p WHERE p_partkey % 37 = 0
    )
    SELECT d.probe_key, p.p_partkey AS matched_key,
           CAST(levenshtein(d.probe_name, p.p_name) AS BIGINT) AS lev_dist
    FROM dirty d
      JOIN p ON substring(d.probe_name, 1, 3) = substring(p.p_name, 1, 3)
    WHERE levenshtein(d.probe_name, p.p_name) <= 2
    """,
)
def q_join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: a deterministic corruption (substitute the
    4th character) of every 37th part name is re-linked to the clean
    catalog by blocking on the 3-char prefix and verifying with
    ``levenshtein <= 2``. Both engines implement unit-cost Wagner–
    Fischer, so distances are identical integers.

    The 100-TB shape: candidate generation is an EQUI-join on the block
    key (hash shuffle, co-located blocks), and the O(len^2) edit-distance
    DP runs only on within-block pairs — never all-pairs. The block key
    is (3-char prefix, length band): each probe explodes into its five
    admissible target lengths, which is SOUND — ``|len(a) - len(b)| <= 2``
    is a necessary condition for ``levenshtein <= 2``, so the result set
    is provably identical to prefix-only blocking while the DP runs on
    ~len-fold fewer pairs (measured at sf0.1, with the 1/37 probe set:
    prefix-only blocking 14.3 s -> banded 2.1 s warm).

    PROFILE COLLAPSE (round 9; the round-8 densification rule applied
    here after the full-registry ladder flagged the direct form at
    exponent 1.45): coincident name copies multiply BOTH sides of every
    block, so the within-block DP count grows with copy multiplicity
    SQUARED even though the distinct-name pair set is constant. The DP
    therefore runs on DISTINCT (probe_name, p_name) profiles only, and
    keys re-expand through two equi-joins afterwards — the output pair
    set is quadratic in multiplicity by DEFINITION (every dirty copy
    truly matches every clean copy), but row expansion is join
    throughput, not O(len^2) DP (A/B at the x64 key-shifted corpus:
    220 s direct -> 6.3 s collapsed, identical 2.2M-pair result; ladder
    re-fit below the flag line). Production hardening stays block-size
    capping (max_df, as in ngram_jaccard_pairs) and multi-pass blocking
    on independent keys (prefix, suffix, phonetic) unioned."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    dirty = p.where(F.col("p_partkey") % 37 == 0).selectExpr(
        "p_partkey AS probe_key",
        "concat(substring(p_name, 1, 3), 'X', substring(p_name, 5)) AS probe_name",
    )
    probe_prof = dirty.select("probe_name").distinct().selectExpr(
        "probe_name",
        "substring(probe_name, 1, 3) AS blk",
        "explode(sequence(length(probe_name) - 2, length(probe_name) + 2))"
        " AS lband",
    )
    clean_prof = p.select("p_name").distinct().selectExpr(
        "p_name",
        "substring(p_name, 1, 3) AS blk",
        "length(p_name) AS lband",
    )
    pair_prof = (
        probe_prof.join(clean_prof, ["blk", "lband"])
        .selectExpr(
            "probe_name",
            "p_name",
            "CAST(levenshtein(probe_name, p_name) AS BIGINT) AS lev_dist",
        )
        .where(F.col("lev_dist") <= 2)
    )
    # The fixture's names are densely similar (~300 lev<=2 matches per
    # probe at sf0.1 scale), so the expanded pair set is output-bound —
    # 650M rows at x64. The profile intermediates are tiny, so AQE
    # coalesces them to ONE task and the whole expansion serializes;
    # the explicit numPartitions repartition is REPARTITION_BY_NUM,
    # which AQE never coalesces, pinning the output fan-out parallelism
    # (the inverse of the blanket-repartition rule: spread only inside
    # the op that provably needs it). Fan-out width scales with the
    # cluster (2x cores) with a 64 floor: at x128 (2.6B output rows)
    # the width, not the join, is the wall.
    fan_out = max(64, spark.sparkContext.defaultParallelism * 2)
    return (
        dirty.join(pair_prof, "probe_name")
        .repartition(fan_out, "p_name")
        .join(p, "p_name")
        .selectExpr("probe_key", "p_partkey AS matched_key", "lev_dist")
    )


# ---------------------------------------------------------------------------
# Entity resolution: block -> verify -> cluster -> canonicalize
# ---------------------------------------------------------------------------

_ER_RECS_SQL = """
    SELECT c_custkey * 4 AS rec_id,
           substr(md5(CAST(c_custkey AS {str_t})), 1, 16) AS name
    FROM {customer}
    UNION ALL
    SELECT c_custkey * 4 + 1,
           concat(substr(h, 1, 8), 'z', substr(h, 10))
    FROM (SELECT c_custkey,
                 substr(md5(CAST(c_custkey AS {str_t})), 1, 16) AS h
          FROM {customer} WHERE c_custkey % 7 = 0)
    UNION ALL
    SELECT c_custkey * 4 + 2,
           concat(substr(h, 1, 12), substr(h, 14))
    FROM (SELECT c_custkey,
                 substr(md5(CAST(c_custkey AS {str_t})), 1, 16) AS h
          FROM {customer} WHERE c_custkey % 13 = 0)
"""


@query(
    "er_resolve_customers",
    oracle=f"""
    WITH recs AS ({_ER_RECS_SQL.format(str_t="VARCHAR", customer="customer")}),
    b AS (SELECT rec_id, name, substr(name, 1, 6) AS blk FROM recs),
    edges AS (
      SELECT a.rec_id AS ra, b2.rec_id AS rb
      FROM b a JOIN b b2 ON a.blk = b2.blk AND a.rec_id < b2.rec_id
      WHERE levenshtein(a.name, b2.name) <= 2
    ),
    und AS (SELECT ra AS x, rb AS y FROM edges
            UNION ALL SELECT rb, ra FROM edges),
    comp AS (
      SELECT r.rec_id,
             least(r.rec_id, coalesce(min(u.y), r.rec_id)) AS cluster_id
      FROM b r LEFT JOIN und u ON u.x = r.rec_id
      GROUP BY r.rec_id
    )
    SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           r2.name AS canonical_name
    FROM comp c JOIN b r2 ON r2.rec_id = c.cluster_id
    GROUP BY c.cluster_id, r2.name
    """,
)
def q_er_resolve_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked candidate generation ->
    edit-distance verify -> connected-components clustering -> canonical
    record election. The missing step past join_fuzzy_blocked (which
    re-links 1:1): real ER must MERGE, because one entity can surface
    under several corrupted spellings and the match relation is not
    transitive-by-construction — the cluster step makes it so.

    Corpus: a deterministic synthetic directory derived from customer —
    each entity's surface form is a 16-hex md5-prefix name; every 7th
    entity also appears with a substituted character (pos 9) and every
    13th with a deleted character (pos 13). md5 and unit-cost
    levenshtein are bit-identical across engines.

    Pipeline: block on the 6-char name prefix (both corruptions are
    beyond it — the block key must survive the corruption model), verify
    within-block pairs at levenshtein <= 2, cluster with the iterative
    min-label fixpoint (operators/graph.py), elect min rec_id (the clean
    record by id construction) as canonical. The oracle twin replaces
    the fixpoint with a one-hop neighbor min, exact here because every
    verified component is a same-entity clique (diameter 1) — measured
    across sf0.001/0.01/0.1: 0 cross-entity edges, while sf0.1 carries 5
    cross-entity block collisions that the verifier rejects (blocking
    over-generates, verification decides — the division of labor that
    matters at scale).

    The 100-TB shape: candidates come from an EQUI-join on the block key
    (hash shuffle, co-located blocks), never all-pairs; the O(len^2) DP
    runs only within blocks. Block-size capping (max_df, as in
    ngram_jaccard_pairs) and multi-key blocking union are the production
    hardening; CC shuffles only the verified-edge graph — a few edges
    per entity, not the corpus. Reference: the grep pipeline's
    group-then-reduce shape (server.go:176-191) applied to identity keys
    instead of match lines."""
    from distgrep_spark.operators.graph import connected_components

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    recs = spark.sql(
        _ER_RECS_SQL.format(str_t="STRING", customer="customer")
    ).localCheckpoint(eager=False)
    b = recs.selectExpr("rec_id", "name", "substr(name, 1, 6) AS blk")
    left = b.selectExpr("rec_id AS ra", "name AS na", "blk")
    right = b.selectExpr("rec_id AS rb", "name AS nb", "blk")
    edges = (
        left.join(right, "blk")
        .where(F.col("ra") < F.col("rb"))
        .where(F.levenshtein(F.col("na"), F.col("nb")) <= 2)
        .select("ra", "rb")
    )
    comps = connected_components(
        recs.select("rec_id"), edges, id_col="rec_id", src_col="ra", dst_col="rb"
    )
    canon = recs.selectExpr("rec_id AS cluster_id", "name AS canonical_name")
    return (
        comps.groupBy(F.col("comp").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(canon, "cluster_id")
        .select("cluster_id", "n_members", "canonical_name")
    )


# ---------------------------------------------------------------------------
# Product quantization: integer codebook assignment
# ---------------------------------------------------------------------------

@query(
    "embed_pq_assign",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(greatest(-127.0, least(127.0,
                           floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m, qv[{PQ_D}*m+1 : {PQ_D}*m+{PQ_D}] AS sub
      FROM q, (SELECT unnest(range({PQ_M})) AS m)
    ),
    cents AS (
      SELECT vec_id AS cid, m, sub AS cvec FROM subs WHERE vec_id < {PQ_K}
    ),
    scored AS (
      SELECT s.vec_id, s.m, c.cid,
             CAST(list_sum(list_transform(list_zip(s.sub, c.cvec),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM subs s JOIN cents c ON s.m = c.m
    ),
    best AS (
      SELECT vec_id, m, min(dist * {PQ_K} + cid) AS enc
      FROM scored GROUP BY vec_id, m
    )
    SELECT vec_id,
           CAST(max(CASE WHEN m = 0 THEN enc % {PQ_K} END) AS BIGINT) AS code_0,
           CAST(max(CASE WHEN m = 1 THEN enc % {PQ_K} END) AS BIGINT) AS code_1,
           CAST(max(CASE WHEN m = 2 THEN enc % {PQ_K} END) AS BIGINT) AS code_2,
           CAST(max(CASE WHEN m = 3 THEN enc % {PQ_K} END) AS BIGINT) AS code_3,
           CAST(sum(enc // {PQ_K}) AS BIGINT) AS total_dist
    FROM best GROUP BY vec_id
    """,
)
def q_embed_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment: 64-dim vectors on a GLOBAL int8
    grid (fixed scale 1/200 — a per-vector scale would put subvectors of
    different vectors in incomparable spaces), split into M=4 subspaces
    of 16 dims; each subvector takes the id of its nearest of k=8
    codebook entries (subvectors of ``vec_id < 8``, the same
    predicate on both engines per the kmeans_assign_step convention).

    Every distance is an exact BIGINT (max 16*254^2 ≈ 1.03e6, no ANSI
    overflow), and the argmin is the integer ``min(dist*k + cid)`` — so
    assignment is bit-stable under any partition layout or engine, where
    a float argmin would be one ulp from flipping codes on near-ties.
    Plan shape: one scan; the M-way subvector explode is narrow (16
    BIGINTs per row); the codebook (M*k = 32 rows) broadcasts; argmin is
    a map-side-combinable min. Output: 4 one-byte codes/vector — with
    k=256 in production this is 16x compression ON TOP of int8, and
    ANN scans precompute a (M x k) query-to-centroid table then score
    candidates by 4 table lookups, never touching raw floats."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = pq_scored(emb.selectExpr("vec_id", f"{INT8_GRID} AS qv"))
    best = scored.groupBy("vec_id", "m").agg(
        F.expr(f"min(dist * {PQ_K} + cid)").alias("enc")
    )
    return best.groupBy("vec_id").agg(
        *[
            F.expr(
                f"CAST(max(CASE WHEN m = {m} THEN enc % {PQ_K} END) AS BIGINT)"
            ).alias(f"code_{m}")
            for m in range(PQ_M)
        ],
        F.expr(f"CAST(sum(enc DIV {PQ_K}) AS BIGINT)").alias("total_dist"),
    )


@query(
    "sim_ann_pq_adc",
    oracle=f"""
    WITH q8 AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(greatest(-127.0, least(127.0,
                           floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m, qv[{PQ_D}*m+1 : {PQ_D}*m+{PQ_D}] AS sub
      FROM q8, (SELECT unnest(range({PQ_M})) AS m)
    ),
    cents AS (
      SELECT vec_id AS cid, m, sub AS cvec FROM subs WHERE vec_id < {PQ_K}
    ),
    scored AS (
      SELECT s.vec_id, s.m, c.cid,
             CAST(list_sum(list_transform(list_zip(s.sub, c.cvec),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM subs s JOIN cents c ON s.m = c.m
    ),
    codes AS (
      SELECT vec_id, m, min(dist * {PQ_K} + cid) % {PQ_K} AS code
      FROM scored GROUP BY vec_id, m
    ),
    lut AS (
      SELECT vec_id AS query_id, m, cid, dist FROM scored WHERE vec_id < 5
    ),
    adc AS (
      SELECT l.query_id, c.vec_id, CAST(sum(l.dist) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
      WHERE c.vec_id <> l.query_id
      GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 10
    """,
)
def q_sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (ADC) — the search half of the
    IVF-PQ production ANN stack on top of embed_pq_assign's codes: each
    query precomputes an (M x k) lookup table of exact squared L2
    distances from its OWN subvectors (asymmetric — the query is never
    quantized) to every codebook centroid, then every corpus vector is
    scored by M table lookups on its one-byte codes, never touching raw
    floats. Top-10 per query, rank tie-broken by vec_id.

    Exactness: the int8 grid, codebook (subvectors of vec_id < 8), code
    argmin (``min(dist*k + cid)``), LUT entries, and the ADC sum are ALL
    integer arithmetic, so the ranking — normally the float-ulp trap in
    distributed ANN — is bit-stable across engines and layouts, and the
    query carries a full DuckDB oracle where hash-sketch ANN variants
    (sim_ann_lsh/ivf) can only certify recall.

    The 100-TB shape: the codes table IS the index (M bytes per vector —
    with production M=16, k=256 a 64-dim float corpus compresses 16x on
    top of int8); the LUT (Q x M x k rows) broadcasts; scoring is a
    map-side broadcast join + map-side-combined sum, so the only shuffle
    is the per-query top-k. At scale, top-k merges two-level (
    per-partition top-k, then k x P rows to the final heap — the
    TakeOrderedAndProject shape) and IVF probe lists (sim_ann_ivf)
    bound the candidate set per query before ADC scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = pq_scored(emb.selectExpr("vec_id", f"{INT8_GRID} AS qv"))
    # codes and lut both descend from `scored`: rename the join keys on
    # each side so the equi-join binds across branches, not to itself
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.expr(f"min(dist * {PQ_K} + cid) % {PQ_K}").alias("code"))
        .selectExpr("vec_id", "m AS cm", "code")
    )
    lut = scored.where(F.col("vec_id") < 5).selectExpr(
        "vec_id AS query_id", "m AS lm", "cid", "dist"
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("cm") == F.col("lm")) & (F.col("code") == F.col("cid")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dist").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@query(
    "orders_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                            DATE '1998-12-01') AS BIGINT) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT o_custkey, monetary,
             ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m
      FROM rfm
    )
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           count(*) AS n_customers,
           CAST(sum(CAST(monetary AS DECIMAL(25,6))) AS DOUBLE)
             AS sum_monetary
    FROM tiled GROUP BY 1
    """,
)
def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days to a fixed anchor —
    a literal, not max-over-the-data, so the branches stay independent),
    frequency, and exact-decimal monetary, each cut into EXACT quintiles
    with the customer key as the deterministic tie-break (both engines
    distribute remainder rows to the leading tiles per the SQL
    standard). Segment totals re-aggregate the 2-dp monetary through
    DECIMAL so the double is order-independent.

    Round 5: the three global ``ntile(5)`` sorts (Exchange
    SinglePartition — the round-4 scale-killer class) are replaced by
    the distributed exact-rank plan of ``operators/distrank.py``: one
    approx_percentile pass yields 3×63 bucket boundaries, tiles come
    from ``offset[bucket] + row_number() OVER (PARTITION BY bucket)``
    plus the exact ntile arithmetic — bit-identical to the global
    window (the unchanged oracle certifies that), but every window is
    hash-partitioned. At 100 TB only the bucket count changes.
    Companion ``orders_rfm_quartiles`` keeps the approximate-boundary
    map-side-assignment variant (no rank at all)."""
    from distgrep_spark.operators.distrank import ntile_expr, rank_buckets

    o = load_table(spark, sf_dir, "orders")
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(datediff(DATE '1998-12-01', CAST(max(o_orderdate) AS"
                " DATE)) AS BIGINT)"
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
        .localCheckpoint(eager=False)
    )
    # ONE boundary job and ONE offsets job for all three dimensions
    # (x16 soak: the per-pass cost scales with the entity count, so
    # pass-count is the x1 overhead knob).
    dims = {"r": "recency_days", "f": "frequency", "m": "monetary"}
    bucketed, offs, tot = rank_buckets(
        rfm, {f"{d}_bk": key for d, key in dims.items()}, {"n": ("sum", "1")}
    )
    n = tot["n"]
    ranked = bucketed.selectExpr(
        "o_custkey",
        "monetary",
        *[
            f"{offs[f'{d}_bk', 'n']} + row_number() OVER "
            f"(PARTITION BY {d}_bk ORDER BY {key}, o_custkey) AS {d}_rnk"
            for d, key in dims.items()
        ],
    )
    tiled = ranked.selectExpr(
        "o_custkey",
        "monetary",
        *[f"{ntile_expr(f'{d}_rnk', n, 5)} AS {d}" for d in dims],
    )
    return tiled.groupBy(
        F.concat(
            F.lit("R"), F.col("r"), F.lit("F"), F.col("f"), F.lit("M"), F.col("m")
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("monetary", "sum_monetary"),
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment (sub/superset near-dup)
# ---------------------------------------------------------------------------


@query(
    "text_shingle_containment",
    # Round 8: profile-collapse twin (the same rewrite as the engine —
    # the doc-level posting self-join is quadratic in coincident-copy
    # multiplicity and died at the x64 sweep's disk wall on BOTH
    # engines). Equality vs the retired brute form is pinned at sf0.01
    # by tests/test_oracle_twins.py. MATERIALIZED throughout per the
    # CTE-inlining rules (re-execution + cross-product estimates).
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
        AS u(i)
    ),
    dg AS MATERIALIZED (
      SELECT doc_id, list(gram ORDER BY gram) AS gs FROM grams GROUP BY doc_id
    ),
    prof AS MATERIALIZED (
      SELECT min(doc_id) AS pid, gs,
             list(doc_id ORDER BY doc_id) AS members,
             CAST(len(gs) AS BIGINT) AS n
      FROM dg GROUP BY gs
    ),
    posting AS MATERIALIZED (
      SELECT gram, list(pid ORDER BY pid) AS ps
      FROM (SELECT pid, unnest(gs) AS gram FROM prof)
      GROUP BY gram HAVING count(*) >= 2
    ),
    canon AS MATERIALIZED (
      SELECT pa, pb, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT ps[i] AS pa, ps[j] AS pb FROM posting,
          LATERAL unnest(generate_series(1, len(ps) - 1)) AS u(i),
          LATERAL unnest(generate_series(i + 1, len(ps))) AS v(j)
      ) GROUP BY 1, 2
    ),
    scored AS MATERIALIZED (
      SELECT c, a.members AS ma, a.n AS na, b.members AS mb, b.n AS nb
      FROM canon JOIN prof a ON pa = a.pid JOIN prof b ON pb = b.pid
    )
    -- filter INSIDE the derived table: DuckDB does not push a WHERE on
    -- scored columns below the LATERAL unnests, so the unfiltered form
    -- cross-expanded all 1.13M profile pairs x |ma|x|mb| members before
    -- filtering (x64: ~4.6e9 rows, spilled past the disk; filtered
    -- first it is 13.9 s / 22.3M rows).
    SELECT x AS doc_a, y AS doc_b, c AS n_common, c * 1.0 / na AS containment
    FROM (SELECT * FROM scored WHERE 5 * c >= 4 * na) s,
      LATERAL unnest(ma) AS ux(x), LATERAL unnest(mb) AS uy(y)
    UNION ALL
    SELECT x, y, c, c * 1.0 / nb
    FROM (SELECT * FROM scored WHERE 5 * c >= 4 * nb) s,
      LATERAL unnest(mb) AS ux(x), LATERAL unnest(ma) AS uy(y)
    UNION ALL
    SELECT m[i], m[j], n, n * 1.0 / n
    FROM (SELECT members AS m, n FROM prof WHERE len(members) >= 2),
      LATERAL unnest(generate_series(1, len(m))) AS u(i),
      LATERAL unnest(generate_series(1, len(m))) AS v(j)
    WHERE i <> j
    """,
)
def q_text_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment |S(a) ∩ S(b)| / |S(a)| ≥ 0.8 — the
    sub/superset near-dup detector symmetric Jaccard misses (a short doc
    quoted wholesale inside a long one scores Jaccard ≈ |a|/|b| but
    containment 1.0). Same profile-collapsed posting plan as
    ``ngram_jaccard_pairs`` (``operators/dedup.shingle_profiles``), kept
    directional (a ≠ b, not a < b) since containment is asymmetric. The
    0.8 threshold is the integer test ``5*n_common >= 4*n_a`` — no float
    on the keep/drop edge — and the emitted ratio is a single exact
    division of small ints, bit-identical on both engines. At 100 TB the
    gram strings become xxhash64 keys (shuffle 8-byte digests, as
    dedup_hash does vs dedup_exact) and hub shingles get the ``max_df``
    cap; the plan shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    # Containment is scored at the PROFILE level so the member
    # expansion shuffles 3 scalars, never gram arrays.
    prof, scored = shingle_profiles(docs, n=3)
    # directional emission from the symmetric intersection count: both
    # orientations of a cross-profile pair, then every ordered pair
    # within a profile (identical gram sets: containment exactly 1.0).
    fwd = scored.where(5 * F.col("c") >= 4 * F.col("na")).selectExpr(
        f"explode({cross_pairs('ma', 'mb', 'x AS doc_a, y AS doc_b')}) AS d",
        "c AS n_common",
        "CAST(c AS DOUBLE) / CAST(na AS DOUBLE) AS containment",
    )
    rev = scored.where(5 * F.col("c") >= 4 * F.col("nb")).selectExpr(
        f"explode({cross_pairs('mb', 'ma', 'x AS doc_a, y AS doc_b')}) AS d",
        "c AS n_common",
        "CAST(c AS DOUBLE) / CAST(nb AS DOUBLE) AS containment",
    )
    same = prof.where(F.size("members") >= 2).selectExpr(
        "explode(concat("
        f" {list_pairs('members', 'x AS doc_a, y AS doc_b')},"
        f" {list_pairs('members', 'y AS doc_a, x AS doc_b')})) AS d",
        "CAST(n AS BIGINT) AS n_common",
        "CAST(1.0 AS DOUBLE) AS containment",
    )
    return (
        fwd.unionByName(rev)
        .unionByName(same)
        .select("d.doc_a", "d.doc_b", "n_common", "containment")
    )


# ---------------------------------------------------------------------------
# Deterministic per-key reservoir sample (rank-by-hash)
# ---------------------------------------------------------------------------


@query(
    "sample_reservoir_per_key",
    oracle="""
    SELECT priority, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
      SELECT o_orderpriority AS priority, o_orderkey,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k=3-per-key sample via rank-by-hash: every row draws the
    deterministic pseudo-random key ``md5(order key)`` and each group
    keeps its k smallest — exactly a per-key reservoir sample, but
    stateless and re-runnable (same rows on every run, engine, and
    partition layout, which seeded ``rand()`` cannot promise across
    engines). md5 is the portable hash here (DuckDB lacks xxhash64;
    both engines agree byte-for-byte on md5 hex of the decimal string).

    The 100-TB shape: one hash shuffle on the group key, per-partition
    top-k heap — no global sort. With millions of rows per key, replace
    ``row_number`` with a two-phase top-k (per-partition k-heap via
    window over map-side partitions, then re-rank the k*P survivors) or
    pre-filter on a hash-prefix band so only ~k*log expected candidates
    reach the shuffle; the rank-by-hash semantics (and this oracle) stay
    identical."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "o_orderkey",
        "md5(CAST(o_orderkey AS STRING)) AS rk",
    )
    w = Window.partitionBy("priority").orderBy("rk", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("priority", "o_orderkey", "rn")
    )


# ---------------------------------------------------------------------------
# Bounded-window EWMA (dyadic weights, cross-engine exact)
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8  # weights 2^-k, k = 0..7


def _ewma_terms() -> tuple[str, str]:
    """(numerator, denominator) SQL over lag columns l0..l7 — an explicit
    left-associated chain so both engines evaluate the identical IEEE
    expression tree. Weights are powers of two (exponent shifts, exact
    for any double); missing leading history drops out of BOTH sums."""
    num = "l0 * 128.0"
    den = "128.0"
    for k in range(1, _EWMA_LAGS):
        wgt = 128 >> k
        num += f" + coalesce(l{k}, 0.0) * {wgt}.0"
        den += f" + (CASE WHEN l{k} IS NULL THEN 0.0 ELSE {wgt}.0 END)"
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@query(
    "events_ewma_smooth",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, event_id, value AS l0,
             {", ".join(
                 f"lag(value, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{k}"
                 for k in range(1, _EWMA_LAGS))}
      FROM events
    )
    SELECT user_id, event_id,
           ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
    FROM lagged
    """,
)
def q_events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over each user's last 8
    events (half-life = 1 step). EWMA's textbook form is a recursive
    scan — hostile to both distribution and cross-engine determinism —
    so this is the bounded-window reformulation: 8 ``lag`` columns off
    ONE window pass, folded by an explicit left-associated chain of
    power-of-two weights. Multiplying a double by 2^-k is exact (pure
    exponent shift) and the identical operand-by-operand expression
    tree evaluates bit-identically on both engines — no list_sum /
    HOF-fold whose summation order an engine may choose freely.

    At 100 TB: per-entity state never leaves one partition (single hash
    exchange on user_id); the 8-step truncation bounds both memory and
    the error (weight tail < 0.8% of total) — the same truncation
    Structured Streaming's stateful EWMA would apply via TTL."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("l0"),
        *[F.lag("value", k).over(w).alias(f"l{k}") for k in range(1, _EWMA_LAGS)],
    )
    return lagged.selectExpr(
        "user_id", "event_id", f"({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma"
    )


# ---------------------------------------------------------------------------
# RFM via broadcast quartile boundaries (the no-global-sort form)
# ---------------------------------------------------------------------------


@query(
    "orders_rfm_quartiles",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                            DATE '1998-12-01') AS BIGINT) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    bounds AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(frequency,    [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(monetary,     [0.25, 0.5, 0.75]) AS mq
      FROM rfm
    ),
    tiled AS (
      SELECT o_custkey, monetary,
             1 + CAST(recency_days > rq[1] AS INT)
               + CAST(recency_days > rq[2] AS INT)
               + CAST(recency_days > rq[3] AS INT) AS r,
             1 + CAST(frequency > fq[1] AS INT)
               + CAST(frequency > fq[2] AS INT)
               + CAST(frequency > fq[3] AS INT) AS f,
             1 + CAST(monetary > mq[1] AS INT)
               + CAST(monetary > mq[2] AS INT)
               + CAST(monetary > mq[3] AS INT) AS m
      FROM rfm CROSS JOIN bounds
    )
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           count(*) AS n_customers,
           CAST(sum(CAST(monetary AS DECIMAL(25,6))) AS DOUBLE)
             AS sum_monetary
    FROM tiled GROUP BY 1
    """,
)
def q_orders_rfm_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of RFM segmentation ``orders_rfm_segments``'s
    docstring promises: NO global sort. Quartile cut points (exact
    ``percentile`` at the dyadic fractions 0.25/0.5/0.75 — the fractions
    where Spark and DuckDB interpolate bit-identically, CLAUDE.md) are
    computed once, broadcast as a single row, and every customer is
    assigned its tile map-side by three comparisons per dimension.

    At 100 TB the exact percentile becomes ``approx_percentile`` (one
    mergeable sketch pass) and nothing else changes — the assignment
    stage is already the broadcast-join shape. Segment totals
    re-aggregate 2-dp money through DECIMAL for order-independence."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(datediff(DATE '1998-12-01', CAST(max(o_orderdate) AS DATE))"
            " AS BIGINT)"
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice", "monetary"),
    )
    bounds = rfm.agg(
        F.expr("percentile(recency_days, array(0.25D, 0.5D, 0.75D))").alias("rq"),
        F.expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").alias("fq"),
        F.expr("percentile(monetary, array(0.25D, 0.5D, 0.75D))").alias("mq"),
    )
    tiled = rfm.crossJoin(F.broadcast(bounds)).selectExpr(
        "o_custkey",
        "monetary",
        "1 + CAST(recency_days > rq[0] AS INT) + CAST(recency_days > rq[1] AS INT)"
        " + CAST(recency_days > rq[2] AS INT) AS r",
        "1 + CAST(frequency > fq[0] AS INT) + CAST(frequency > fq[1] AS INT)"
        " + CAST(frequency > fq[2] AS INT) AS f",
        "1 + CAST(monetary > mq[0] AS INT) + CAST(monetary > mq[1] AS INT)"
        " + CAST(monetary > mq[2] AS INT) AS m",
    )
    return tiled.groupBy(
        F.concat(
            F.lit("R"), F.col("r"), F.lit("F"), F.col("f"), F.lit("M"), F.col("m")
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("monetary", "sum_monetary"),
    )


# ---------------------------------------------------------------------------
# Link prediction over the co-purchase graph (common neighbors)
# ---------------------------------------------------------------------------


@query(
    "graph_link_prediction",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- MATERIALIZED: multi-referenced CTEs both re-execute when inlined
    -- AND collapse DuckDB's cardinality estimates to ~1 on parquet
    -- views, flipping equi-joins to CROSS_PRODUCT join orders (round-8
    -- x64 sweep; see market_basket_lift and CLAUDE.md).
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS MATERIALIZED (SELECT u AS s, v AS d FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS MATERIALIZED (SELECT s AS node, CAST(count(*) AS BIGINT) AS dg
            FROM adj GROUP BY s),
    two_hop AS (
      SELECT x.s AS part_a, y.d AS part_b, count(*) AS common_neighbors
      FROM adj x JOIN adj y ON x.d = y.s AND x.s < y.d
      GROUP BY 1, 2
    )
    SELECT t.part_a, t.part_b, t.common_neighbors,
           da.dg * db.dg AS pref_attach
    FROM two_hop t
      JOIN deg da ON t.part_a = da.node
      JOIN deg db ON t.part_b = db.node
    WHERE t.common_neighbors >= 2
      AND NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.u = t.part_a AND e.v = t.part_b)
    """,
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for node pairs at
    distance exactly 2 (share a neighbor, no direct edge), score by
    common-neighbor count and preferential attachment deg(a)*deg(b) —
    both exact integers, so the ranking is bit-stable where the
    Adamic–Adar ``1/log(deg)`` variant would hang on transcendental
    last-ulp ties (the CLAUDE.md ranking-key rule). Fixture-vacuity
    boundary (round-8 x64 sweep): non-vacuous at the scored sf0.01
    (74 rows); at sf0.1 and its key-shifted multiples the w>=2-floored
    co-purchase graph is too sparse for distance-exactly-2 pairs with
    >=2 common neighbors — 0 rows, parity still holds (0 == 0). Canonical a < b
    pairs count each shared neighbor exactly once from the
    both-direction adjacency list.

    Plan: the same weight-floored (w >= 2) edge list as
    graph_triangle_count, localCheckpoint'ed once and reused by all
    three branches (adjacency x2, degree, anti-join); the two-hop join
    cost is Σ deg² over shared nodes — at 100 TB, hub nodes get the
    degree cap / orientation treatment exactly as in the triangle
    kernel, and the anti-join of candidates against existing edges is a
    shuffle on the canonical pair key."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("s"), F.col("v").alias("d")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )
    # Posting-list rollup instead of the two-sided adjacency self-join
    # (r11, the LSH lesson): collect each node's sorted neighbor set
    # ONCE, emit its C(d,2) canonical pairs map-side, and count — the
    # old x.join(y, "via") shuffled adj twice and sort-merge-compared
    # |adj|x|adj| probes; this is one exchange to build the lists and
    # one map-side-combined pair rollup. deg = size(ns) falls out of
    # the same rollup (adj rows are distinct), so adj executes once
    # instead of three times; nbrs carries the fan-out checkpoint.
    nbrs = postings(adj, F.col("s").alias("via"), "d", "ns").localCheckpoint(eager=False)
    deg = nbrs.select(
        F.col("via").alias("node"), F.expr("CAST(size(ns) AS BIGINT) AS dg")
    )
    two_hop = (
        nbrs.select(
            F.explode(F.expr(list_pairs("ns", "x AS part_a, y AS part_b"))).alias("e")
        )
        .select("e.part_a", "e.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .where(F.col("common_neighbors") >= 2)
    )
    cand = two_hop.join(
        edges,
        (two_hop["part_a"] == edges["u"]) & (two_hop["part_b"] == edges["v"]),
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("node").alias("part_a"), F.col("dg").alias("da")), "part_a")
        .join(deg.select(F.col("node").alias("part_b"), F.col("dg").alias("db")), "part_b")
        .select(
            "part_a",
            "part_b",
            "common_neighbors",
            (F.col("da") * F.col("db")).alias("pref_attach"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint screen (prefix-sum minus running-min)
# ---------------------------------------------------------------------------


@query(
    "events_cusum_drift",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) - 5000 AS d
      FROM events
    ),
    p AS (
      SELECT user_id, event_id, ts,
             sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix
      FROM c
    )
    SELECT user_id, event_id,
           CAST(prefix - least(0, min(prefix) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
             AS cusum_cents,
           prefix - least(0, min(prefix) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) > 15000
             AS flagged
    FROM p
    """,
)
def q_events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector over each user's event values —
    the changepoint kernel behind data-quality burn-in alarms. The
    textbook recursion ``S_i = max(0, S_{i-1} + d_i)`` is hostile to
    both distribution and cross-engine checking, so this uses the exact
    closed form: ``S_i = prefix_i - min(0, min_{k<=i} prefix_k)`` — a
    prefix sum and a running minimum, two frames over ONE window pass.
    All arithmetic is integer cents (2-dp fixture values are exact under
    ``floor(v*100 + 0.5)``), so the running sums are order-proof exact
    BIGINTs — a float prefix sum would depend on the engine's window
    accumulation scheme (DuckDB segment-trees vs Spark running fold).

    Both frames order by the same (ts, event_id) key, so the running
    min ranges over the true time-prefix and Catalyst fuses the two
    aggregates into one Window operator over one sort.
    At 100 TB: one hash exchange on user_id, per-user state is one
    running pair — the same per-entity-timeline invariant as the
    interval and EWMA kernels."""
    ev = load_table(spark, sf_dir, "events")
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = ev.selectExpr(
        "user_id",
        "event_id",
        "ts",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) - 5000 AS d",
    )
    p = c.select(
        "user_id", "event_id", "ts", F.sum("d").over(w1).alias("prefix")
    )
    cusum = (
        F.col("prefix") - F.least(F.lit(0), F.min("prefix").over(w2))
    )
    return p.select(
        "user_id",
        "event_id",
        cusum.cast("bigint").alias("cusum_cents"),
        (cusum > 15000).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint selection (Schleimer et al., MOSS)
# ---------------------------------------------------------------------------


@query(
    "text_winnowing_select",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    hashed AS (
      SELECT doc_id, i,
             CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                  1, 8)) AS BIGINT) AS h
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
        AS u(i)
    ),
    n AS (SELECT doc_id, count(*) AS n_grams FROM hashed GROUP BY doc_id),
    wins AS (
      SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM hashed
    ),
    sel AS (
      SELECT DISTINCT w.doc_id, w.wmin
      FROM wins w JOIN n USING (doc_id)
      WHERE w.i <= n.n_grams - 3
    )
    SELECT s.doc_id, n.n_grams,
           CAST(count(*) AS BIGINT) AS n_selected,
           count(*) * 1.0 / n.n_grams AS density
    FROM sel s JOIN n ON s.doc_id = n.doc_id
    GROUP BY s.doc_id, n.n_grams
    """,
)
def q_text_winnowing_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every positional trigram, slide a w=4 window
    over the hash sequence, keep each window's minimum, dedupe — the
    selected set is the document's fingerprint, with the winnowing
    guarantee (every match of length >= w+2 grams shares a fingerprint)
    at expected density 2/(w+1). Positions are per-document sequence
    numbers, so the window min is an ORDER-ed frame over integers
    derived from md5 — bit-stable across engines (same digest, same
    ints). Docs with fewer than w grams have no complete window and are
    excluded on both sides.

    This is the selection layer the fingerprint-based dedup family
    (text_fingerprints / text_fingerprint_gate) samples from: at 100 TB
    you store ~2/(w+1) of the gram hashes per document instead of all
    of them, posting-list style, and near-dup candidate generation
    joins on the winnowed set only. One window pass per doc inside the
    doc_id partition; the fingerprint table shuffles 8-byte ints."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    hashed = toks.select(
        "doc_id",
        F.posexplode(ngrams_of_tokens(F.col("t"), 3)).alias("i", "gram"),
    ).selectExpr(
        "doc_id",
        "i",
        "CAST(conv(substr(md5(gram), 1, 8), 16, 10) AS BIGINT) AS h",
    )
    n = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, 3)
    )
    wins = hashed.select("doc_id", "i", F.min("h").over(w).alias("wmin"))
    sel = (
        wins.join(n, "doc_id")
        .where(F.col("i") <= F.col("n_grams") - 4)  # 0-based: full windows
        .select("doc_id", "wmin")
        .distinct()
    )
    return (
        sel.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_selected"))
        .join(n, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_selected",
            (F.col("n_selected") * F.lit(1.0) / F.col("n_grams")).alias(
                "density"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal patch-grid planner (decode-free ViT patchify)
# ---------------------------------------------------------------------------


@query(
    "multimodal_patch_grid",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(doc_id % 640 + 64 AS INT) AS width,
             CAST(doc_id % 480 + 48 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT doc_id, width, height,
             (width + 63) // 64 AS nx, (height + 63) // 64 AS ny
      FROM meta
    ),
    patches AS (
      SELECT g.doc_id, g.width, g.height, px.px, py.py,
             least(g.width,  px.px * 64 + 64) - px.px * 64 AS pw,
             least(g.height, py.py * 64 + 64) - py.py * 64 AS ph
      FROM grid g,
        LATERAL unnest(generate_series(0, g.nx - 1)) AS px(px),
        LATERAL unnest(generate_series(0, g.ny - 1)) AS py(py)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_patches,
           CAST(count(*) FILTER (WHERE pw < 64 OR ph < 64) AS BIGINT)
             AS n_edge_patches,
           CAST(sum(pw * ph) AS BIGINT) = CAST(any_value(width) AS BIGINT)
             * any_value(height) AS covers_exactly
    FROM patches GROUP BY doc_id
    """,
)
def q_multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchify PLANNER over image metadata only (the fake
    640x480-bounded dims of multimodal_metadata,
    operators/multimodal.py): 64x64 patch grid per image with edge
    clipping, rolled up to patch counts and an exact-coverage gate
    (sum of clipped patch areas == width*height — an integer identity
    that breaks if the grid math off-by-ones). No payload is touched:
    this is the 100-TB order of operations, where the patch plan
    (hence decode batch shape, token count, and GPU memory) is computed
    from metadata columns and only the selected images ever reach the
    Arrow-batched decode UDF. Pure integer arithmetic and a bounded
    explode (nx*ny <= 11*9); entirely map-side before the final
    per-doc rollup."""
    docs = load_table(spark, sf_dir, "documents")
    grid = docs.selectExpr(
        "doc_id",
        "CAST(doc_id % 640 + 64 AS INT) AS width",
        "CAST(doc_id % 480 + 48 AS INT) AS height",
    ).selectExpr(
        "doc_id",
        "width",
        "height",
        "(width + 63) DIV 64 AS nx",
        "(height + 63) DIV 64 AS ny",
    )
    patches = grid.selectExpr(
        "doc_id",
        "width",
        "height",
        "explode(sequence(0, nx - 1)) AS px",
        "ny",
    ).selectExpr(
        "doc_id",
        "width",
        "height",
        "px",
        "explode(sequence(0, ny - 1)) AS py",
    ).selectExpr(
        "doc_id",
        "width",
        "height",
        "least(width, px * 64 + 64) - px * 64 AS pw",
        "least(height, py * 64 + 64) - py * 64 AS ph",
    )
    return patches.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_patches"),
        F.sum(
            F.when((F.col("pw") < 64) | (F.col("ph") < 64), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_edge_patches"),
        (
            F.sum(F.col("pw") * F.col("ph")).cast("bigint")
            == (
                F.any_value(F.col("width")).cast("bigint")
                * F.any_value(F.col("height"))
            )
        ).alias("covers_exactly"),
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value matrix
# ---------------------------------------------------------------------------


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH om AS (
      SELECT o_custkey, o_totalprice,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx
      FROM orders
    ),
    first AS (SELECT o_custkey, min(midx) AS cohort FROM om GROUP BY o_custkey),
    cell AS (
      SELECT f.cohort, om.midx - f.cohort AS k,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(om.o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS revenue
      FROM om JOIN first f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT cohort, k, n_orders, revenue,
           CAST(sum(CAST(revenue AS DECIMAL(25,6))) OVER (
             PARTITION BY cohort ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_revenue
    FROM cell
    """,
)
def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers are grouped by the month
    of their FIRST order (an integer month index, ``year*12 + month`` —
    no float months_between, no timezone), and each (cohort, months
    since first order) cell aggregates order count and exact-decimal
    revenue; a per-cohort ordered window then accumulates the running
    LTV curve. The revenue-based twin of ``events_user_retention``
    (user-count cohorts). The cumulative sum re-casts each cell's 2-dp
    double through DECIMAL so the running total is order-proof.

    The 100-TB shape: the first-order table is a per-customer min
    (map-side combinable), the fact-to-cohort join shuffles on the
    customer key both sides already group by, and the final window
    partitions by cohort — ~100 cohorts x ~80 offsets stay tiny no
    matter how many orders feed them. The matrix is the standard input
    to LTV forecasting and cohort-quality triage in a curation loop."""
    o = load_table(spark, sf_dir, "orders")
    om = o.selectExpr(
        "o_custkey",
        "o_totalprice",
        "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS midx",
    )
    first = om.groupBy("o_custkey").agg(F.min("midx").alias("cohort"))
    cell = (
        om.join(first, "o_custkey")
        .groupBy("cohort", (F.col("midx") - F.col("cohort")).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort",
        "k",
        "n_orders",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto front) via integer RANGE frames
# ---------------------------------------------------------------------------


@query(
    "part_skyline_pareto",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    scored AS (
      SELECT p_partkey, cents, size,
             max(size) OVER (ORDER BY cents
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS best_cheaper,
             max(size) OVER (PARTITION BY cents) AS best_same_price
      FROM p
    )
    SELECT p_partkey, cents, size
    FROM scored
    WHERE (best_cheaper IS NULL OR best_cheaper < size)
      AND best_same_price = size
    """,
)
def q_part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): parts not dominated on (price low,
    size high) — q dominates p iff q is no worse on both dims and
    strictly better on one. Instead of the naive O(n^2) dominance
    anti-join, a part survives iff no strictly-cheaper price level has
    max-size >= its size (a running max over the per-price rollup;
    price in integer cents) and no same-price part has > size. Equal
    (price, size) duplicates do not dominate each other and all
    survive, per the standard strict-dominance definition. All keys
    are exact integers.

    Round 5 (the global-RANGE-frame was the round-4 single-partition
    class): the dominance test needs only the per-price max size, so the
    plan rolls up ``max(size) GROUP BY cents`` first (map-side
    combinable), then runs the strictly-cheaper running max over that
    rollup with ``operators/distrank.py``'s bucketed prefix-MAX — a
    ``ROWS 1 PRECEDING`` running max per bucket (distinct cents make
    RANGE == ROWS) combined via ``greatest`` with the exclusive
    per-bucket max offsets (NULL = no cheaper bucket; Spark ``greatest``
    skips nulls). Survivors come from an equi-join of parts back to
    their price row — at 100 TB the price rollup is bounded by the
    distinct-price count and the join broadcasts; no single-partition
    window anywhere. Exactness is boundary-independent (the unchanged
    quadratic-free oracle certifies it)."""
    from distgrep_spark.operators.distrank import rank_buckets

    p = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents",
        "CAST(p_size AS BIGINT) AS size",
    )
    m = (
        p.groupBy("cents")
        .agg(F.expr("CAST(max(size) AS BIGINT)").alias("msize"))
        .localCheckpoint(eager=False)
    )
    mb, offs, _ = rank_buckets(m, {"bk": "cents"}, {"mx": ("max", "msize")})
    scored = mb.selectExpr(
        "cents",
        "msize AS best_same_price",
        f"greatest({offs['bk', 'mx']}, "
        "max(msize) OVER (PARTITION BY bk ORDER BY cents "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS best_cheaper",
    )
    return (
        p.join(scored, "cents")
        .where(
            "(best_cheaper IS NULL OR best_cheaper < size)"
            " AND best_same_price = size"
        )
        .select("p_partkey", "cents", "size")
    )


# ---------------------------------------------------------------------------
# Round-3 batch 10: grid-bucketed spatial join, two-sample KS test,
# RAKE keyword extraction
# ---------------------------------------------------------------------------

_GRID_R = 2  # L-infinity radius in grid units; cell edge == radius


@query(
    "join_spatial_grid",
    # Round 6 (verdict ask #3): the oracle is now the cell decomposition
    # itself — each point probes its cell and the 8 neighbors (cell size
    # = radius, so |cell delta| <= 1 whenever |coord delta| <= R; a pair
    # matches at exactly ONE offset, so no dedup is needed). Linear in
    # points x 9 plus per-cell products ~ output size, where the previous
    # honest-quadratic form was ~5e10 comparisons at x16 (DuckDB pinned a
    # core >30 min). Equality vs the brute-force SQL is pinned at sf0.01
    # by tests/test_oracle_twins.py.
    oracle=f"""
    WITH pts AS (
      SELECT p_partkey AS k, CAST(p_size AS BIGINT) AS x,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 10 AS y
      FROM part
    ),
    g AS (SELECT k, x, y, x // {_GRID_R} AS cx, y // {_GRID_R} AS cy FROM pts),
    probe AS (
      SELECT k, x, y, cx + ox AS ncx, cy + oy AS ncy
      FROM g, LATERAL unnest([-1, 0, 1]) AS t1(ox),
              LATERAL unnest([-1, 0, 1]) AS t2(oy)
    )
    SELECT a.k AS key_a, b.k AS key_b,
           b.x - a.x AS dx, b.y - a.y AS dy
    FROM probe a JOIN g b ON a.ncx = b.cx AND a.ncy = b.cy
    WHERE a.k < b.k
      AND abs(a.x - b.x) <= {_GRID_R}
      AND abs(a.y - b.y) <= {_GRID_R}
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D spatial self-join via grid bucketing: all part pairs within
    L∞ distance 2 in (size, price-dime) space — the geospatial
    near-neighbor join pattern, now through
    ``operators/spatial.grid_neighbor_pairs`` WITH adaptive hot-cell
    salting wired on (round-4 verdict ask): per-cell counts feed a
    broadcast hot list, cells past 1024 points split into
    ceil(n/1024) deterministic xxhash64 salt buckets (<=64), so a hub
    cell (coincident coordinates, downtown-Tokyo geodata) never
    serializes its quadratic pairing work into one reduce task —
    measured 12.6 s -> 3.4 s on a 40k-point hub under the shuffle-join
    regime (SCALE.md round 4). Every qualifying pair is still found
    exactly once (a build row carries one salt, its probe partner all
    salts of the cell) — the oracle, the honest quadratic, certifies
    that. At fixture scale the grid is near-uniform (~0.4 points/cell),
    the hot list is empty, and the plan degenerates to the plain cell
    equi-join plus one cheap cell-key rollup — deliberately, since in
    the broadcast-join regime salting strictly costs (it inflates the
    broadcast hash table xS; measured in operators/spatial.py)."""
    part = load_table(spark, sf_dir, "part")
    pts = part.selectExpr(
        "p_partkey AS k",
        "CAST(p_size AS BIGINT) AS x",
        "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) DIV 10 AS y",
    )
    return grid_neighbor_pairs(pts, radius=_GRID_R)


@query(
    "stats_ks_two_sample",
    oracle="""
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100000 AS v,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS grp
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    cnt AS (
      SELECT v,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM o GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM cnt
    ),
    cum AS (
      SELECT n1, n2,
             CAST(sum(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS f1,
             CAST(sum(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS f2
      FROM cnt, tot
    )
    SELECT n1, n2,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             > 1.3581015157406195
               * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
             AS reject_95
    FROM cum GROUP BY n1, n2
    """,
)
def q_stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: order-value distribution,
    BUILDING vs MACHINERY customers. D = max|F1 - F2| is computed on
    the cross-multiplied INTEGER lattice — ``max|f1·n2 - f2·n1|`` over
    the $1000-bucket value rollup — so the supremum is exact (no float
    CDF subtraction ordered by engine whim), and the single division
    plus the sqrt threshold compare are correctly-rounded IEEE ops
    (deterministic boolean, same discipline as stats_ab_ztest). The
    heavy work is one broadcast dim join + a map-side histogram; the
    cumulative window runs over the ~400-row bucket table
    (rollup-then-window, chi2 precedent). Completes the hypothesis-test
    trio: z (proportions), chi2 (categorical), KS (distributional)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").where(
        "c_mktsegment IN ('BUILDING', 'MACHINERY')"
    )
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    ).selectExpr(
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100000 AS v",
        "CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END AS grp",
    )
    cnt = o.groupBy("v").agg(
        F.expr("CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1"),
        F.expr("CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2"),
    )
    tot = cnt.agg(
        F.expr("CAST(sum(c1) AS BIGINT) AS n1"),
        F.expr("CAST(sum(c2) AS BIGINT) AS n2"),
    )
    cum = cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "n1",
        "n2",
        "CAST(sum(c1) OVER (ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1",
        "CAST(sum(c2) OVER (ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2",
    )
    return cum.groupBy("n1", "n2").agg(
        F.expr("CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled"),
        F.expr(
            "CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat"
        ),
        F.expr(
            "CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            " > 1.3581015157406195"
            "   * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
            "          / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
            " AS reject_95"
        ),
    )


@query(
    "text_rake_keywords",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    idx AS (
      SELECT doc_id, i, lower(t[i]) AS tok,
             CASE WHEN lower(t[i]) IN ('the', 'a', 'of', 'and')
                  THEN 1 ELSE 0 END AS is_stop
      FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
    ),
    marked AS (
      SELECT doc_id, i, tok, is_stop,
             CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS phrase_id
      FROM idx
    ),
    phrase_len AS (
      SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
      FROM marked WHERE is_stop = 0 GROUP BY doc_id, phrase_id
    ),
    words AS (
      SELECT m.tok, p.plen
      FROM marked m JOIN phrase_len p
        ON m.doc_id = p.doc_id AND m.phrase_id = p.phrase_id
      WHERE m.is_stop = 0
    ),
    scored AS (
      SELECT tok AS word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree,
             CAST(sum(plen) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
               AS score_scaled
      FROM words GROUP BY tok
    )
    SELECT word, freq, degree, score_scaled
    FROM scored
    ORDER BY score_scaled DESC, word
    LIMIT 20
    """,
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): split each document
    into candidate phrases at stopword boundaries, then rank words by
    degree/frequency — degree counts each occurrence's full phrase
    length, so words that live in long multiword phrases outrank
    bare-frequency terms. The ratio is integer-scaled
    (``degree·1e6 DIV freq``) so ranking and the top-20 cut are exact
    on both engines (the integer-division discipline, CLAUDE.md — a
    float score would put ranks one ulp from flipping). Phrase
    segmentation is gaps-and-islands on the stopword marks (one doc_id
    exchange shared by the window and the phrase rollup); the final
    top-20 is TakeOrdered with a total-order tie-break. At 100 TB the
    word table is vocabulary-sized — the per-document work never
    leaves the mapper beyond the doc-keyed phrase window."""
    docs = load_table(spark, sf_dir, "documents")
    idx = docs.selectExpr(
        "doc_id",
        f"posexplode({tokens_sql()}) AS (i, rawtok)",
    ).selectExpr(
        "doc_id",
        "i",
        "lower(rawtok) AS tok",
        "CASE WHEN lower(rawtok) IN ('the', 'a', 'of', 'and')"
        " THEN 1 ELSE 0 END AS is_stop",
    )
    marked = idx.selectExpr(
        "doc_id",
        "tok",
        "is_stop",
        "CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS phrase_id",
    )
    nonstop = marked.where("is_stop = 0")
    phrase_len = nonstop.groupBy("doc_id", "phrase_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS plen")
    )
    words = nonstop.join(phrase_len, ["doc_id", "phrase_id"]).select("tok", "plen")
    scored = words.groupBy(F.col("tok").alias("word")).agg(
        F.expr("CAST(count(*) AS BIGINT) AS freq"),
        F.expr("CAST(sum(plen) AS BIGINT) AS degree"),
        F.expr(
            "CAST(sum(plen) AS BIGINT) * 1000000 DIV CAST(count(*) AS BIGINT)"
            " AS score_scaled"
        ),
    )
    return scored.orderBy(
        F.col("score_scaled").desc(), F.col("word")
    ).limit(20)


# ---------------------------------------------------------------------------
# Round-3 batch 11: max drawdown, behavioral bot screen, weighted median
# ---------------------------------------------------------------------------


@query(
    "window_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT c_mktsegment AS seg,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    dd AS (
      SELECT seg, d, rev,
             CAST(max(rev) OVER (PARTITION BY seg ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peak
      FROM daily
    ),
    enc AS (
      SELECT seg,
             CAST(max((peak - rev) * 32768 + (32767 - d)) AS BIGINT) AS e
      FROM dd GROUP BY seg
    )
    SELECT seg AS c_mktsegment,
           e // 32768 AS max_drawdown_cents,
           32767 - (e % 32768) AS drawdown_day
    FROM enc
    """,
)
def q_window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each market segment's daily-revenue series —
    the classic running-peak-minus-value risk kernel. The running peak
    is a per-segment window (partitioned — never the global-window
    antipattern); the argmax day rides the proven integer-encoding
    trick (``dd * 32768 + (32767 - day)``: max picks the largest
    drawdown, then the EARLIEST day on ties — same family as
    embed_pq_assign's argmin encoding, epoch days < 32768 through
    2059). Everything is exact BIGINT cents; the drawdown in a
    peak-to-trough sense is bounded by the running peak (~1e9 cents at
    sf0.1, 1e5 headroom under the encoder). One segment-keyed exchange
    serves the rollup, the window, and the final argmax."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .selectExpr(
            "c_mktsegment AS seg",
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("seg", "d")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) AS rev"))
    )
    dd = daily.selectExpr(
        "seg",
        "d",
        "rev",
        "CAST(max(rev) OVER (PARTITION BY seg ORDER BY d"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak",
    )
    return (
        dd.groupBy("seg")
        .agg(F.expr("CAST(max((peak - rev) * 32768 + (32767 - d)) AS BIGINT) AS e"))
        .selectExpr(
            "seg AS c_mktsegment",
            "e DIV 32768 AS max_drawdown_cents",
            "32767 - (e % 32768) AS drawdown_day",
        )
    )


@query(
    "events_bot_score_panel",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) // 60000000 AS minute,
             epoch_us(ts) // 1000000  AS sec
      FROM events
    ),
    bursts AS (
      SELECT user_id, CAST(max(c) AS BIGINT) AS max_per_minute
      FROM (SELECT user_id, minute, count(*) AS c FROM base GROUP BY 1, 2)
      GROUP BY user_id
    ),
    gaps AS (
      SELECT user_id,
             sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS g
      FROM base
    ),
    gstats AS (
      SELECT user_id,
             CAST(count(g) AS BIGINT)     AS n_gaps,
             CAST(sum(g) AS BIGINT)       AS sg,
             CAST(sum(g * g) AS BIGINT)   AS sgg
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    )
    SELECT b.user_id, b.max_per_minute, g.n_gaps,
           CAST(g.n_gaps * g.sgg - g.sg * g.sg AS DOUBLE)
             / (CAST(g.n_gaps AS DOUBLE) * CAST(g.n_gaps - 1 AS DOUBLE))
             AS gap_var_sec2,
           b.max_per_minute >= 2 AS burst_flag,
           CAST(g.n_gaps * g.sgg - g.sg * g.sg AS DOUBLE)
             / (CAST(g.n_gaps AS DOUBLE) * CAST(g.n_gaps - 1 AS DOUBLE))
             < 500000000.0 AS metronome_flag
    FROM bursts b JOIN gstats g ON b.user_id = g.user_id
    """,
)
def q_events_bot_score_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screen per user: burst rate (max events within
    one wall-clock minute) and inter-arrival regularity (sample
    variance of the gap series — metronomic traffic has near-zero
    variance; humans are bursty). Gaps are exact integer SECONDS
    (microsecond gaps square past BIGINT over a month-long window —
    seconds keep Σg² under 1e15 at fixture scale), the variance is the
    cross-multiplied integer numerator over one IEEE division
    (two-decimal-sum variance discipline), and both flags compare
    exact-arithmetic values, so the booleans are engine-identical. One
    user_id exchange serves the minute rollup, the lag window, and the
    gap rollup. The 100-TB shape: this panel is THE pre-filter before
    expensive behavioral models — map-side except the user exchange."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 60000000 AS minute",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 1000000 AS sec",
    )
    bursts = (
        base.groupBy("user_id", "minute")
        .agg(F.expr("count(*) AS c"))
        .groupBy("user_id")
        .agg(F.expr("CAST(max(c) AS BIGINT) AS max_per_minute"))
    )
    gaps = base.selectExpr(
        "user_id",
        "sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g",
    )
    gstats = (
        gaps.where("g IS NOT NULL")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(count(g) AS BIGINT)   AS n_gaps"),
            F.expr("CAST(sum(g) AS BIGINT)     AS sg"),
            F.expr("CAST(sum(g * g) AS BIGINT) AS sgg"),
        )
    )
    var_expr = (
        "CAST(n_gaps * sgg - sg * sg AS DOUBLE)"
        " / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps - 1 AS DOUBLE))"
    )
    return bursts.join(gstats, "user_id").selectExpr(
        "user_id",
        "max_per_minute",
        "n_gaps",
        f"{var_expr} AS gap_var_sec2",
        "max_per_minute >= 2 AS burst_flag",
        f"{var_expr} < 500000000.0 AS metronome_flag",
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT p_brand,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 10 AS v,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS wt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT p_brand, v, wt,
             CAST(sum(wt) OVER (PARTITION BY p_brand ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cw,
             CAST(sum(wt) OVER (PARTITION BY p_brand) AS BIGINT) AS tw
      FROM w
    )
    SELECT p_brand, tw AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
             AS weighted_median_dimes
    FROM cum GROUP BY p_brand, tw
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median part price per brand — the weighted
    order statistic (lower weighted median: smallest value whose
    cumulative weight reaches half the total). Pure integer plan:
    price dimes × total shipped quantity per (brand, price) rolls up
    map-side, the cumulative weight is a per-brand window over the
    small value table, and the median is a conditional min — no
    percentile interpolation, no float compare. Contrast
    agg_percentiles (unweighted, interpolating): the weighted form is
    what pricing/abuse analyses actually need and is exact at any
    scale. One brand-keyed exchange for rollup + both windows +
    final min."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    w = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .selectExpr(
            "p_brand",
            "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) DIV 10 AS v",
            "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q",
        )
        .groupBy("p_brand", "v")
        .agg(F.expr("CAST(sum(q) AS BIGINT) AS wt"))
    )
    cum = w.selectExpr(
        "p_brand",
        "v",
        "wt",
        "CAST(sum(wt) OVER (PARTITION BY p_brand ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw",
        "CAST(sum(wt) OVER (PARTITION BY p_brand) AS BIGINT) AS tw",
    )
    return (
        cum.groupBy("p_brand", "tw")
        .agg(F.expr("CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)"
                    " AS weighted_median_dimes"))
        .selectExpr("p_brand", "tw AS total_weight", "weighted_median_dimes")
    )


# ---------------------------------------------------------------------------
# Round-3 batch 12: Johnson-Lindenstrauss integer sketch projection
# ---------------------------------------------------------------------------

# Deterministic pseudo-random sign for plane (i, j): multiplicative hash
# on exact BIGINTs, identical in both engines. i is the 0-based input
# dim, j the 0-based output dim.
# Portable in both dialects (%, *, >= only — DIV is Spark-only, // is
# DuckDB-only) and NONLINEAR: an affine hash mod 2^k leaves the sign
# matrix on a lattice whose cross-dim correlations bias E[proj_d2]
# (measured mean ratio 1.57); the middle-square step breaks the lattice
# (measured mean 0.99, std 0.34 ~ sqrt(2/k)).
_JL_SIGN = (
    "(CASE WHEN (((CAST(i AS BIGINT) - 1) * 1103515245"
    " + CAST(j AS BIGINT) * 2654435761) % 1048576)"
    " * (((CAST(i AS BIGINT) - 1) * 1103515245"
    " + CAST(j AS BIGINT) * 2654435761) % 1048576)"
    " % 2048 >= 1024 THEN -1 ELSE 1 END)"
)
_JL_K = 16


@query(
    "embed_jl_projection_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x * 127 + 0.5) AS BIGINT)) AS qa
      FROM embeddings WHERE vec_id < 20
    ),
    p AS (
      SELECT vec_id, qa,
             list_transform(generate_series(0, {_JL_K - 1}), j ->
               list_sum(list_transform(generate_series(1, 64), i ->
                 {_JL_SIGN} * qa[i]))) AS pr
      FROM q
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(generate_series(1, 64),
                i -> (a.qa[i] - b.qa[i]) * (a.qa[i] - b.qa[i]))) AS BIGINT)
             AS orig_d2,
           CAST(list_sum(list_transform(generate_series(1, {_JL_K}),
                i -> (a.pr[i] - b.pr[i]) * (a.pr[i] - b.pr[i]))) AS BIGINT)
             AS proj_d2,
           CAST(list_sum(list_transform(generate_series(1, {_JL_K}),
                i -> (a.pr[i] - b.pr[i]) * (a.pr[i] - b.pr[i]))) AS DOUBLE)
             / ({_JL_K}.0 * CAST(list_sum(list_transform(generate_series(1, 64),
                i -> (a.qa[i] - b.qa[i]) * (a.qa[i] - b.qa[i]))) AS DOUBLE))
             AS jl_ratio
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    """,
)
def q_embed_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch: project int-quantized 64-d
    embeddings to 16 dims with a ±1 (Rademacher/Achlioptas) plane
    matrix and audit pairwise distance preservation — E[proj_d²] =
    k·orig_d², so jl_ratio concentrates around 1 with variance ~2/k.
    The dimensionality-reduction layer between raw embeddings and the
    ANN indexes: at 100 TB you project once map-side (64→16 integer
    ops per vector, no shuffle) and every downstream distance costs
    4x less. Determinism discipline: vectors quantize to an integer
    grid first (embed_pq_assign precedent — float matmul folds in
    engine order), the sign matrix is a multiplicative-hash parity on
    exact BIGINTs (no constant table to ship), and every dot product
    is an integer HOF fold — order-free because integer addition is
    associative, unlike the float folds CLAUDE.md bans. The audit
    joins the 20-vector head (190 bounded pairs); the oracle's
    1-based list index vs Spark's 0-based is normalized by hashing
    ``i - 1``."""
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 20")
    q_df = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(floor(x * 127 + 0.5) AS BIGINT)) AS qa",
    )
    p = q_df.selectExpr(
        "vec_id",
        "qa",
        f"transform(sequence(0, {_JL_K - 1}), j ->"
        f" aggregate(sequence(1, 64), 0L, (acc, i) ->"
        f" acc + {_JL_SIGN} * element_at(qa, i))) AS pr",
    )
    a = p.selectExpr("vec_id AS vec_a", "qa AS qa_a", "pr AS pr_a")
    b = p.selectExpr("vec_id AS vec_b", "qa AS qa_b", "pr AS pr_b")
    pairs = a.join(F.broadcast(b), F.expr("vec_a < vec_b")).selectExpr(
        "vec_a",
        "vec_b",
        "CAST(aggregate(sequence(1, 64), 0L, (acc, i) ->"
        " acc + (element_at(qa_a, i) - element_at(qa_b, i))"
        "     * (element_at(qa_a, i) - element_at(qa_b, i))) AS BIGINT)"
        " AS orig_d2",
        f"CAST(aggregate(sequence(1, {_JL_K}), 0L, (acc, i) ->"
        " acc + (element_at(pr_a, i) - element_at(pr_b, i))"
        "     * (element_at(pr_a, i) - element_at(pr_b, i))) AS BIGINT)"
        " AS proj_d2",
    )
    return pairs.selectExpr(
        "vec_a",
        "vec_b",
        "orig_d2",
        "proj_d2",
        f"CAST(proj_d2 AS DOUBLE) / ({_JL_K}.0 * CAST(orig_d2 AS DOUBLE))"
        " AS jl_ratio",
    )


# ---------------------------------------------------------------------------
# Round-3 batch 14 (cont.): price/volume BI decomposition
# ---------------------------------------------------------------------------


@query(
    "orders_price_volume_decomposition",
    oracle="""
    WITH base AS (
      SELECT p_brand,
             CASE WHEN year(l_shipdate) = 1996 THEN 0 ELSE 1 END AS period,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) IN (1996, 1997)
    ),
    agg AS (
      SELECT p_brand,
             CAST(sum(CASE WHEN period = 0 THEN q ELSE 0 END) AS BIGINT)     AS q0,
             CAST(sum(CASE WHEN period = 0 THEN cents ELSE 0 END) AS BIGINT) AS r0,
             CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT)     AS q1,
             CAST(sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS r1
      FROM base GROUP BY p_brand
    )
    SELECT p_brand, q0, r0, q1, r1,
           CAST(r1 - r0 AS BIGINT) AS delta_cents,
           (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
             * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS volume_effect,
           CAST(q1 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS price_effect
    FROM agg WHERE q0 > 0 AND q1 > 0
    """,
)
def q_orders_price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume decomposition of year-over-year revenue change per
    brand (1996→1997): Δrevenue = volume effect (quantity change at
    old unit price) + price effect (new volume × unit-price change) —
    the standard BI bridge chart, and the two effects sum to
    delta_cents exactly in exact arithmetic (asserted in pytest up to
    one ulp of the IEEE tree). Both periods pivot out of ONE scan via
    conditional sums (the drift_tv pattern); unit prices are single
    IEEE divisions of exact BIGINT cents/quantities, so every output
    is engine-identical. One brand exchange, 25 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.where("year(l_shipdate) IN (1996, 1997)")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .selectExpr(
            "p_brand",
            "CASE WHEN year(l_shipdate) = 1996 THEN 0 ELSE 1 END AS period",
            "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q",
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
        )
    )
    agg = base.groupBy("p_brand").agg(
        F.expr("CAST(sum(CASE WHEN period = 0 THEN q ELSE 0 END) AS BIGINT) AS q0"),
        F.expr(
            "CAST(sum(CASE WHEN period = 0 THEN cents ELSE 0 END) AS BIGINT) AS r0"
        ),
        F.expr("CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT) AS q1"),
        F.expr(
            "CAST(sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS r1"
        ),
    )
    return agg.where("q0 > 0 AND q1 > 0").selectExpr(
        "p_brand",
        "q0",
        "r0",
        "q1",
        "r1",
        "CAST(r1 - r0 AS BIGINT) AS delta_cents",
        "(CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))"
        " * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS volume_effect",
        "CAST(q1 AS DOUBLE)"
        " * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)"
        "    - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS price_effect",
    )


@query(
    "part_abc_xyz_classification",
    oracle="""
    WITH monthly AS (
      SELECT l_partkey,
             date_trunc('month', l_shipdate) AS m,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(cents) AS BIGINT) AS revenue_cents,
             CAST(count(*) AS BIGINT)   AS n_months,
             CAST(sum(q) AS BIGINT)     AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2
      FROM monthly GROUP BY 1
    ),
    ranked AS (
      SELECT *,
             CAST(sum(revenue_cents) OVER (ORDER BY revenue_cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_rev,
             CAST(sum(revenue_cents) OVER () AS BIGINT) AS total_rev
      FROM per_part
    )
    SELECT l_partkey, revenue_cents, n_months,
           CASE WHEN cum_rev * 100 <= total_rev * 80 THEN 'A'
                WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CASE WHEN 4 * n_months * s2 < 5 * s1 * s1 THEN 'X'
                WHEN n_months * s2 < 2 * s1 * s1 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM ranked
    """,
)
def q_part_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory segmentation: parts classed by revenue
    concentration (A = first 80% of cumulative revenue, B = next 15%,
    C = tail) × demand variability (X/Y/Z via the coefficient of
    variation of monthly shipped quantity). Every boundary is an exact
    integer cross-multiplication — ``cum·100 ≤ total·80`` for ABC and
    ``4·n·Σq² < 5·(Σq)²`` for cv² < 0.25 — so no class flips on a
    float ulp (the knife-edge discipline behind every classification
    query here). Round 5: the cumulative-revenue ranking over the
    part-level rollup (20k rows at sf0.1, 10^8 at catalog scale — the
    same unbounded-entity class as orders_gini_spend) runs through
    ``operators/distrank.py``'s bucketed prefix sums: descending
    revenue boundaries, per-bucket running sum + driver-folded
    exclusive offsets, total revenue as a fold literal instead of a
    ``sum() OVER ()``. One partkey exchange for both rollups; no
    Exchange SinglePartition; the unchanged global-window oracle
    certifies exactness."""
    from distgrep_spark.operators.distrank import rank_buckets
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.selectExpr(
            "l_partkey",
            "date_trunc('month', l_shipdate) AS m",
            "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q",
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("l_partkey", "m")
        .agg(
            F.expr("CAST(sum(q) AS BIGINT) AS q"),
            F.expr("CAST(sum(cents) AS BIGINT) AS cents"),
        )
    )
    per_part = (
        monthly.groupBy("l_partkey")
        .agg(
            F.expr("CAST(sum(cents) AS BIGINT) AS revenue_cents"),
            F.expr("CAST(count(*) AS BIGINT)   AS n_months"),
            F.expr("CAST(sum(q) AS BIGINT)     AS s1"),
            F.expr("CAST(sum(q * q) AS BIGINT) AS s2"),
        )
        .localCheckpoint(eager=False)
    )
    pb, offs, tot = rank_buckets(
        per_part,
        {"bk": "revenue_cents"},
        {"s": ("sum", "revenue_cents")},
        descending=True,
    )
    total_rev = tot["s"]
    ranked = pb.selectExpr(
        "*",
        f"CAST({offs['bk', 's']} + "
        "sum(revenue_cents) OVER (PARTITION BY bk "
        "ORDER BY revenue_cents DESC, l_partkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS cum_rev",
    )
    return ranked.selectExpr(
        "l_partkey",
        "revenue_cents",
        "n_months",
        f"CASE WHEN cum_rev * 100 <= {total_rev} * CAST(80 AS BIGINT) THEN 'A'"
        f" WHEN cum_rev * 100 <= {total_rev} * CAST(95 AS BIGINT) THEN 'B'"
        " ELSE 'C' END AS abc_class",
        "CASE WHEN 4 * n_months * s2 < 5 * s1 * s1 THEN 'X'"
        " WHEN n_months * s2 < 2 * s1 * s1 THEN 'Y'"
        " ELSE 'Z' END AS xyz_class",
    )


# ---------------------------------------------------------------------------
# Round-3 flagship 3: end-to-end behavioral analytics pipeline
# ---------------------------------------------------------------------------


@query(
    "events_behavior_pipeline",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             epoch_us(ts) // 1000000 AS sec,
             epoch_us(ts) // 60000000 AS minute
      FROM events
    ),
    bots AS (
      SELECT user_id FROM (
        SELECT user_id, minute, count(*) AS c FROM base GROUP BY 1, 2
      ) GROUP BY user_id HAVING CAST(max(c) AS BIGINT) >= 3
    ),
    clean AS (
      SELECT b.* FROM base b ANTI JOIN bots USING (user_id)
    ),
    flagged AS (
      SELECT user_id, ts, event_id, event_type, sec,
             CASE WHEN sec - lag(sec) OVER w > 1800 OR
                       lag(sec) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM clean
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, sec,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS has_purchase,
             CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS has_view,
             CASE WHEN min(CASE WHEN event_type = 'view' THEN sec END)
                       < max(CASE WHEN event_type = 'purchase' THEN sec END)
                  THEN 1 ELSE 0 END AS view_then_purchase
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id % 2 AS cohort,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_session_events,
           CAST(sum(duration_sec) AS BIGINT) AS total_duration_sec,
           CAST(sum(has_purchase) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS purchase_session_share,
           CAST(sum(view_then_purchase) AS BIGINT) AS funnel_sessions
    FROM per_session
    GROUP BY user_id % 2
    """,
)
def q_events_behavior_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition 3 — the event-analytics pipeline end to
    end, one DataFrame plan: behavioral bot exclusion (per-minute
    burst ≥ 3, the events_bot_score_panel screen as an anti join) →
    30-minute-gap sessionization (lag + running flag sum, the
    sessionize_events kernel) → per-session facts (length, duration,
    purchase/view flags, in-session view→purchase ordering) → cohort
    report. Demonstrates the single-partitioning discipline at
    pipeline scope: the bot rollup, both sessionization windows, and
    the session rollup all key on user_id, so Catalyst runs the whole
    pipeline on ONE user exchange (plan-asserted); the final 2-row
    cohort aggregate is the only other shuffle. All counters exact
    BIGINTs off tz-free integer seconds; shares are single IEEE
    divisions. At 100 TB this is the nightly product-analytics job —
    filter, sessionize, measure — and it rides the same per-entity
    timeline partitioning as every other kernel here."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 1000000 AS sec",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 60000000 AS minute",
    )
    bots = (
        base.groupBy("user_id", "minute")
        .agg(F.expr("count(*) AS c"))
        .groupBy("user_id")
        .agg(F.expr("CAST(max(c) AS BIGINT) AS mx"))
        .where("mx >= 3")
        .select("user_id")
    )
    clean = base.join(bots, "user_id", "left_anti")
    flagged = clean.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "sec",
        "CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id) > 1800 OR"
        " lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL"
        " THEN 1 ELSE 0 END AS new_s",
    )
    sess = flagged.selectExpr(
        "user_id",
        "event_type",
        "sec",
        "CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS session_id",
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_events"),
        F.expr("CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT) AS has_purchase"
        ),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
            " AS BIGINT) AS has_view"
        ),
        F.expr(
            "CASE WHEN min(CASE WHEN event_type = 'view' THEN sec END)"
            " < max(CASE WHEN event_type = 'purchase' THEN sec END)"
            " THEN 1 ELSE 0 END AS view_then_purchase"
        ),
    )
    return per_session.groupBy(F.expr("user_id % 2").alias("cohort")).agg(
        F.expr("CAST(count(DISTINCT user_id) AS BIGINT) AS n_users"),
        F.expr("CAST(count(*) AS BIGINT) AS n_sessions"),
        F.expr("CAST(sum(n_events) AS BIGINT) AS n_events"),
        F.expr(
            "CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
            " AS mean_session_events"
        ),
        F.expr("CAST(sum(duration_sec) AS BIGINT) AS total_duration_sec"),
        F.expr(
            "CAST(sum(has_purchase) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
            " AS purchase_session_share"
        ),
        F.expr("CAST(sum(view_then_purchase) AS BIGINT) AS funnel_sessions"),
    )


# ---------------------------------------------------------------------------
# Round-3 batch 16: token-budget apportionment, modularity audit
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000


@query(
    "corpus_token_budget_allocation",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(sum(len({TOKENS_DUCK})) AS BIGINT)
               AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per_source),
    quota AS (
      SELECT source, tokens, total,
             tokens * {_BUDGET_TOKENS} // total AS floor_alloc,
             tokens * {_BUDGET_TOKENS} % total  AS remainder
      FROM per_source, tot
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY remainder DESC, source) AS rem_rank,
             CAST({_BUDGET_TOKENS} - sum(floor_alloc) OVER () AS BIGINT)
               AS leftover
      FROM quota
    )
    SELECT source, tokens, floor_alloc,
           CAST(floor_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def q_corpus_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1M-token training
    budget across corpus sources, proportional to their token counts —
    the exact integer kernel behind every mixture-weighted sampling run
    ('give domain X its fair share of the token budget, and make the
    shares sum EXACTLY to the budget'). Floor quotas via integer
    division, the shortfall goes +1 each to the largest remainders
    (deterministic (remainder DESC, source) tie-break), so
    Σalloc == budget identically — no float shares that sum to
    0.9999... The window runs over the source table (a handful of
    rows); the only fact-scale work is the token-count rollup, which is
    map-side-combinable. Same family as mix_domain_weights but
    integer-exact end-to-end — the form you actually ship to a sampler
    at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.selectExpr(
            "source",
            f"size({tokens_sql()}) AS n_tok",
        )
        .groupBy("source")
        .agg(F.expr("CAST(sum(n_tok) AS BIGINT) AS tokens"))
    )
    tot = per_source.agg(F.expr("CAST(sum(tokens) AS BIGINT) AS total"))
    quota = per_source.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "tokens",
        "total",
        f"tokens * {_BUDGET_TOKENS} DIV total AS floor_alloc",
        f"tokens * {_BUDGET_TOKENS} % total  AS remainder",
    )
    ranked = quota.selectExpr(
        "*",
        "row_number() OVER (ORDER BY remainder DESC, source) AS rem_rank",
        f"CAST({_BUDGET_TOKENS} - sum(floor_alloc) OVER () AS BIGINT) AS leftover",
    )
    return ranked.selectExpr(
        "source",
        "tokens",
        "floor_alloc",
        "CAST(floor_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END"
        " AS BIGINT) AS alloc_tokens",
    )


@query(
    "graph_modularity_by_brand",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- MATERIALIZED: multi-referenced CTEs both re-execute when inlined
    -- AND collapse DuckDB's cardinality estimates to ~1 on parquet
    -- views, flipping equi-joins to CROSS_PRODUCT join orders (round-8
    -- x64 sweep; see market_basket_lift and CLAUDE.md).
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    labeled AS MATERIALIZED (
      SELECT e.u, e.v, pu.p_brand AS bu, pv.p_brand AS bv
      FROM edges e
        JOIN part pu ON e.u = pu.p_partkey
        JOIN part pv ON e.v = pv.p_partkey
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM labeled),
    deg AS (
      SELECT brand, CAST(sum(d) AS BIGINT) AS d_c FROM (
        SELECT bu AS brand, count(*) AS d FROM labeled GROUP BY bu
        UNION ALL
        SELECT bv, count(*) FROM labeled GROUP BY bv
      ) GROUP BY brand
    ),
    intra AS (
      SELECT bu AS brand, CAST(count(*) AS BIGINT) AS e_c
      FROM labeled WHERE bu = bv GROUP BY bu
    )
    SELECT d.brand, coalesce(i.e_c, CAST(0 AS BIGINT)) AS intra_edges,
           d.d_c AS degree_sum, m.n_edges,
           CAST(coalesce(i.e_c, 0) AS DOUBLE) / CAST(m.n_edges AS DOUBLE)
             - (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.n_edges AS DOUBLE)))
               * (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.n_edges AS DOUBLE)))
             AS modularity_term
    FROM deg d LEFT JOIN intra i ON d.brand = i.brand, m
    """,
)
def q_graph_modularity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition over the co-purchase
    graph: per community c, Q_c = e_c/m - (d_c/2m)² — the audit that
    tells you whether an attribute (here p_brand) explains the graph's
    edge structure (ΣQ_c near 0 ⇒ it doesn't; the metric every
    community-detection run is judged by). Counts are exact BIGINTs off
    the localCheckpointed edge list (triangle/k-core build); each term
    is a fixed IEEE tree so the 25-row report is engine-identical. At
    100 TB: edges dominate, and e_c/d_c are one map-side-combined
    rollup each — modularity is CHEAPER than one label-propagation
    step, which is why you audit before you iterate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    pu = part.selectExpr("p_partkey AS u", "p_brand AS bu")
    pv = part.selectExpr("p_partkey AS v", "p_brand AS bv")
    labeled = edges.join(F.broadcast(pu), "u").join(F.broadcast(pv), "v")
    # Cell collapse (r11, the evalqa pattern): m/deg/intra each
    # re-executed the labeled edge pass (three branches, no cross-
    # branch exchange reuse under AQE). ONE map-side-combined rollup
    # to <= |brands|² (bu, bv) cells carries all three — the same
    # exact BIGINT counts derive from the checkpointed cells table.
    cells = (
        labeled.groupBy("bu", "bv")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
        .localCheckpoint(eager=False)
    )
    m = cells.agg(F.expr("CAST(sum(n) AS BIGINT) AS n_edges"))
    deg = (
        cells.selectExpr("bu AS brand", "n")
        .unionAll(cells.selectExpr("bv AS brand", "n"))
        .groupBy("brand")
        .agg(F.expr("CAST(sum(n) AS BIGINT) AS d_c"))
    )
    intra = (
        cells.where("bu = bv")
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.expr("CAST(sum(n) AS BIGINT) AS e_c"))
    )
    return (
        deg.join(intra, "brand", "left")
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "brand",
            "coalesce(e_c, 0L) AS intra_edges",
            "d_c AS degree_sum",
            "n_edges",
            "CAST(coalesce(e_c, 0L) AS DOUBLE) / CAST(n_edges AS DOUBLE)"
            " - (CAST(d_c AS DOUBLE) / (2.0 * CAST(n_edges AS DOUBLE)))"
            "   * (CAST(d_c AS DOUBLE) / (2.0 * CAST(n_edges AS DOUBLE)))"
            " AS modularity_term",
        )
    )


# ---------------------------------------------------------------------------
# Round-3 batch 17: assortativity, padding-efficiency planner,
# cross-table reconciliation
# ---------------------------------------------------------------------------


@query(
    "graph_assortativity_degree",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- MATERIALIZED: multi-referenced CTEs both re-execute when inlined
    -- AND collapse DuckDB's cardinality estimates to ~1 on parquet
    -- views, flipping equi-joins to CROSS_PRODUCT join orders (round-8
    -- x64 sweep; see market_basket_lift and CLAUDE.md).
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
      UNION ALL
      SELECT dv.d, du.d
      FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ends
    )
    SELECT n AS n_edge_ends,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
    FROM s
    """,
)
def q_graph_assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Pearson
    correlation of endpoint degrees over (symmetrized) edges, the
    Newman metric that separates hub-attracts-hub networks (r>0,
    social) from hub-and-spoke ones (r<0, technological): it predicts
    how the graph will shatter under the k-core peel and how skewed
    the join on it will be. Machinery is the stats_ols_trend /
    autocorr sufficient-statistics kernel: exact BIGINT moments over
    the edge-end pairs (degrees ~1e2, products far inside BIGINT),
    one correctly-rounded IEEE sqrt tree. The edge list is the same
    localCheckpointed build as triangles/k-core/modularity — at 100 TB
    this whole graph-audit family shares one materialized edge
    artifact."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    deg = (
        edges.selectExpr("u AS node")
        .unionAll(edges.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS d"))
        .localCheckpoint(eager=False)
    )
    du = deg.selectExpr("node AS u", "d AS du")
    dv = deg.selectExpr("node AS v", "d AS dv")
    both = edges.join(du, "u").join(dv, "v")
    # Symmetrization folded algebraically (r11): the old form unioned
    # both(x=du,y=dv) with its swap, re-executing the joined lineage
    # on each branch (AQE reuses no exchange across union branches —
    # the self-join lesson). Over ends = both ∪ swap(both) the moments
    # are exactly n = 2E, sx = sy = Σ(du+dv), sxx = syy = Σ(du²+dv²),
    # sxy = Σ 2·du·dv — same BIGINTs, one pass, no union. deg is the
    # remaining fan-out (du and dv) and carries the lazy checkpoint.
    s = both.agg(
        F.expr("CAST(2 * count(*) AS BIGINT)        AS n"),
        F.expr("CAST(sum(du + dv) AS BIGINT)        AS sx"),
        F.expr("CAST(sum(du + dv) AS BIGINT)        AS sy"),
        F.expr("CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx"),
        F.expr("CAST(sum(2 * du * dv) AS BIGINT)    AS sxy"),
        F.expr("CAST(sum(du * du + dv * dv) AS BIGINT) AS syy"),
    )
    return s.selectExpr(
        "n AS n_edge_ends",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity",
    )


@query(
    "text_batch_padding_plan",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id,
             CAST(len({TOKENS_DUCK}) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tok, n_tok // 64 AS len_bucket,
             CAST(row_number() OVER (PARTITION BY n_tok // 64
                    ORDER BY n_tok, doc_id) - 1 AS BIGINT) // 8 AS batch_id
      FROM lens
    ),
    batches AS (
      SELECT len_bucket, batch_id,
             CAST(count(*) AS BIGINT)   AS batch_size,
             CAST(max(n_tok) AS BIGINT) AS batch_maxlen,
             CAST(sum(n_tok) AS BIGINT) AS batch_tokens
      FROM bucketed GROUP BY len_bucket, batch_id
    )
    SELECT len_bucket,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(batch_size) AS BIGINT) AS n_docs,
           CAST(sum(batch_tokens) AS BIGINT) AS real_tokens,
           CAST(sum(batch_size * batch_maxlen - batch_tokens) AS BIGINT)
             AS padding_tokens,
           CAST(sum(batch_size * batch_maxlen - batch_tokens) AS DOUBLE)
             / CAST(sum(batch_size * batch_maxlen) AS DOUBLE)
             AS padding_waste_share
    FROM batches GROUP BY len_bucket
    """,
)
def q_text_batch_padding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch-padding planner: group documents into
    64-token length buckets, cut deterministic batches of 8 inside
    each (row_number on (n_tok, doc_id) — total order), and report the
    padding waste ``Σ(batch_size·max_len - Σlen)`` per bucket — the
    dynamic-batching efficiency audit every training loader runs
    (padding share ≈ GPU cycles burned on pad tokens; bucketing is THE
    fix, and this query quantifies what it buys). All integer token
    counts; the per-bucket window partitions by len_bucket so the sort
    is distributed. Companion to pack_token_budget (greedy packing) —
    this is the fixed-batch-size variant with the waste metric."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.selectExpr(
        "doc_id", f"CAST(size({tokens_sql()}) AS BIGINT) AS n_tok"
    )
    bucketed = lens.selectExpr(
        "doc_id",
        "n_tok",
        "n_tok DIV 64 AS len_bucket",
        "CAST(row_number() OVER (PARTITION BY n_tok DIV 64"
        " ORDER BY n_tok, doc_id) - 1 AS BIGINT) DIV 8 AS batch_id",
    )
    batches = bucketed.groupBy("len_bucket", "batch_id").agg(
        F.expr("CAST(count(*) AS BIGINT)   AS batch_size"),
        F.expr("CAST(max(n_tok) AS BIGINT) AS batch_maxlen"),
        F.expr("CAST(sum(n_tok) AS BIGINT) AS batch_tokens"),
    )
    return batches.groupBy("len_bucket").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_batches"),
        F.expr("CAST(sum(batch_size) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(batch_tokens) AS BIGINT) AS real_tokens"),
        F.expr(
            "CAST(sum(batch_size * batch_maxlen - batch_tokens) AS BIGINT)"
            " AS padding_tokens"
        ),
        F.expr(
            "CAST(sum(batch_size * batch_maxlen - batch_tokens) AS DOUBLE)"
            " / CAST(sum(batch_size * batch_maxlen) AS DOUBLE)"
            " AS padding_waste_share"
        ),
    )


@query(
    "dq_order_total_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
             coalesce(li.line_cents, CAST(0 AS BIGINT)) AS line_cents,
             li.l_orderkey IS NULL AS headerless
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ),
    classed AS (
      SELECT *,
             CASE WHEN headerless THEN 'no_lines'
                  WHEN header_cents = line_cents THEN 'exact'
                  WHEN abs(header_cents - line_cents) * 100
                       <= 5 * greatest(header_cents, line_cents) THEN 'near_5pct'
                  ELSE 'mismatch' END AS recon_class
      FROM j
    )
    SELECT recon_class,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(abs(header_cents - line_cents)) AS BIGINT)
             AS total_abs_gap_cents,
           CAST(max(abs(header_cents - line_cents)) AS BIGINT)
             AS worst_gap_cents
    FROM classed GROUP BY recon_class
    """,
)
def q_dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: order-header totals against the sum
    of their line items — the header-vs-detail consistency report every
    finance/warehouse pipeline runs after load (the complement of
    dq_constraint_checks' within-table rules and
    snapshot_diff_classify's across-time diff). Exact integer cents on
    both sides, tolerance classes via cross-multiplied integers (|Δ|·100
    ≤ 5·max — never a float ratio on the class boundary), left join so
    line-less orders surface as their own class instead of vanishing.
    One orderkey rollup + one join that at 100 TB co-partitions on the
    key both tables are naturally bucketed by."""
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_orderkey", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c"
        )
        .groupBy("l_orderkey")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS line_cents"))
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "left").selectExpr(
        "o_orderkey",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents",
        "coalesce(line_cents, 0L) AS line_cents",
        "l_orderkey IS NULL AS headerless",
    )
    classed = j.selectExpr(
        "*",
        "CASE WHEN headerless THEN 'no_lines'"
        " WHEN header_cents = line_cents THEN 'exact'"
        " WHEN abs(header_cents - line_cents) * 100"
        "      <= 5 * greatest(header_cents, line_cents) THEN 'near_5pct'"
        " ELSE 'mismatch' END AS recon_class",
    )
    return classed.groupBy("recon_class").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_orders"),
        F.expr(
            "CAST(sum(abs(header_cents - line_cents)) AS BIGINT)"
            " AS total_abs_gap_cents"
        ),
        F.expr(
            "CAST(max(abs(header_cents - line_cents)) AS BIGINT)"
            " AS worst_gap_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Round-3 batch 18: Gini, churn labels, feature-norm stats, aspect buckets
# ---------------------------------------------------------------------------


@query(
    "orders_gini_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rnk
      FROM spend
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS total,
             sum(CAST(rnk AS HUGEINT) * cents) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers, total AS total_cents,
           (2.0 * CAST(weighted AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM s
    """,
)
def q_orders_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the scalar inequality
    complement to events_pareto_concentration's decile curve, via the
    rank formula G = 2·Σ(i·x_(i))/(n·Σx) - (n+1)/n. Rank, count, and
    Σx are exact BIGINTs; Σ(i·x) grows ~n² (3e16 at sf0.1, ~2.8e19 at
    the x64 corpus — past int64, caught by the round-8 x64 sweep) so it
    accumulates in DECIMAL(38,0) (DuckDB: HUGEINT), 19 decimal orders
    of headroom; the G expression is one fixed IEEE tree over
    correctly-rounded DOUBLE casts. Round 5: the
    rank runs over the customer rollup through
    ``operators/distrank.py``'s bucketed exact rank — hash-partitioned
    windows plus driver-folded bucket offsets — with a deterministic
    (cents, custkey) total order so tied spends don't make G
    layout-dependent; no Exchange SinglePartition over the rollup. The
    unchanged global-window oracle certifies exactness."""
    from distgrep_spark.operators.distrank import rank_buckets

    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.selectExpr(
            "o_custkey", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c"
        )
        .groupBy("o_custkey")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS cents"))
        .localCheckpoint(eager=False)
    )
    sb, offs, _ = rank_buckets(spend, {"bk": "cents"}, {"cnt": ("sum", "1")})
    ranked = sb.selectExpr(
        "cents",
        f"{offs['bk', 'cnt']} + row_number() OVER "
        "(PARTITION BY bk ORDER BY cents, o_custkey) AS rnk",
    )
    s = ranked.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(cents) AS BIGINT) AS total"),
        # DECIMAL(38,0), not BIGINT: sum(rnk*cents) is ~3e16 at sf0.1 but
        # scales with n^2 (rank grows with n), so the x64 corpus puts it
        # at ~2.8e19 — past int64 (the sweep caught the ANSI overflow).
        # DuckDB twin uses HUGEINT; both are internal and cast to DOUBLE
        # in the gini expression, which rounds correctly from either
        # (CLAUDE.md: DECIMAL(38,0)/HUGEINT -> DOUBLE both IEEE-correct).
        F.expr("sum(CAST(rnk AS DECIMAL(38,0)) * cents) AS weighted"),
    )
    return s.selectExpr(
        "n AS n_customers",
        "total AS total_cents",
        "(2.0 * CAST(weighted AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))"
        " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini",
    )


@query(
    "orders_churn_labels",
    oracle="""
    WITH pre AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents,
             CAST(DATE '2000-01-01' - max(CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2000-01-01'
      GROUP BY o_custkey
    ),
    post AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
        AND CAST(o_orderdate AS DATE) <  DATE '2001-01-01'
    )
    SELECT pre.o_custkey, pre.recency_days, pre.frequency, pre.monetary_cents,
           post.o_custkey IS NULL AS churned
    FROM pre LEFT JOIN post ON pre.o_custkey = post.o_custkey
    """,
)
def q_orders_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-label construction for churn modeling: features are
    computed STRICTLY before the 2000-01-01 cutoff (RFM as of that
    date — the leak-free discipline that makes or breaks a label
    build), the label is 'no order in the following 12 months' via a
    left anti-style join to the post-window customer set. Exact
    integer features (days/counts/cents); one custkey rollup and one
    co-keyed join. This is the training-set builder every churn/LTV
    model starts from, and the SQL-oracled version doubles as the
    leakage audit: any feature touching post-cutoff data would break
    the hash."""
    orders = load_table(spark, sf_dir, "orders")
    pre = (
        orders.where("CAST(o_orderdate AS DATE) < DATE '2000-01-01'")
        .selectExpr(
            "o_custkey",
            "CAST(o_orderdate AS DATE) AS d",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("o_custkey")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS frequency"),
            F.expr("CAST(sum(cents) AS BIGINT) AS monetary_cents"),
            F.expr(
                "CAST(datediff(DATE '2000-01-01', max(d)) AS BIGINT)"
                " AS recency_days"
            ),
        )
    )
    post = (
        orders.where(
            "CAST(o_orderdate AS DATE) >= DATE '2000-01-01'"
            " AND CAST(o_orderdate AS DATE) < DATE '2001-01-01'"
        )
        .select("o_custkey")
        .distinct()
        .withColumnRenamed("o_custkey", "post_key")
    )
    return pre.join(post, pre.o_custkey == post.post_key, "left").selectExpr(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "post_key IS NULL AS churned",
    )


@query(
    "embed_feature_norm_stats",
    oracle="""
    SELECT i - 1 AS dim,
           CAST(count(*) AS BIGINT) AS n,
           list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
             / count(*) AS mean_val,
           list_aggregate(list_sort(list(embedding[i]::DOUBLE
                                         * embedding[i]::DOUBLE)), 'sum')
             / count(*)
             - (list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
                / count(*))
               * (list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
                  / count(*)) AS var_val,
           min(embedding[i]::DOUBLE) AS min_val,
           max(embedding[i]::DOUBLE) AS max_val
    FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
    GROUP BY i - 1
    """,
)
def q_embed_feature_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension normalization statistics (mean/var/min/max) — the
    StandardScaler/whitening FIT step every embedding pipeline runs
    before indexing. Means and second moments are sequential folds over
    SORTED values (the embed_centroids_by_label discipline: double
    addition isn't associative, so canonical ascending order makes both
    engines execute the identical IEEE sequence; the checker's
    1e-9-relative NEAR tolerance absorbs the last ulp); min/max are
    order-free. 64 output rows; at 100 TB the sorted fold becomes the
    two-pass exact form (sum then compensated residual) or the decimal
    trick — the per-dim rollup shape is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = emb.select(
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "dim", "v"
        )
    )
    v_sorted, v2_sorted = sorted_sum("v"), sorted_sum("v * v")
    return per_dim.groupBy("dim").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr(f"{v_sorted} / count(*) AS mean_val"),
        F.expr(
            f"{v2_sorted} / count(*)"
            f" - ({v_sorted} / count(*)) * ({v_sorted} / count(*)) AS var_val"
        ),
        F.expr("min(v) AS min_val"),
        F.expr("max(v) AS max_val"),
    )


# Aspect ladder (p, q) = width:height; scores compare |w·q - h·p|
# normalized by L/q with L = lcm of the q's (exact integers).
_ASPECT_LADDER = [("square_1_1", 1, 1), ("land_4_3", 4, 3), ("port_3_4", 3, 4),
                  ("land_16_9", 16, 9), ("port_9_16", 9, 16)]
_ASPECT_L = 144  # lcm(1, 3, 4, 9, 16)


def _aspect_case() -> str:
    scores = [
        f"abs(width * {q} - height * {p}) * {_ASPECT_L // q} * 8 + {i}"
        for i, (_, p, q) in enumerate(_ASPECT_LADDER)
    ]
    least = "least(" + ", ".join(scores) + ")"
    names = " ".join(
        f"WHEN {i} THEN '{name}'" for i, (name, _, _) in enumerate(_ASPECT_LADDER)
    )
    return f"CASE {least} % 8 {names} END"


@query(
    "multimodal_aspect_buckets",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(doc_id % 640 + 64 AS INT) AS width,
             CAST(doc_id % 480 + 48 AS INT) AS height
      FROM documents
    )
    SELECT {_aspect_case()} AS bucket,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(width * 1000 // height) AS BIGINT) AS min_aspect_milli,
           CAST(max(width * 1000 // height) AS BIGINT) AS max_aspect_milli
    FROM meta GROUP BY 1
    """,
)
def q_multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for image batching (the SDXL-style
    trick: batches must share a shape, so snap each image to the
    nearest of a fixed aspect ladder instead of square-cropping
    everything). Nearest-aspect is an exact integer argmin:
    |w/h - p/q| ∝ |w·q - h·p|·(L/q) with L = lcm of ladder
    denominators, and the ``·8 + i`` encoding folds the deterministic
    tie-break into one ``least()`` (the embed_pq_assign discipline —
    float aspect math would flip buckets on a ulp). Metadata-speed:
    uses the same deterministic fake (width, height) attach as
    multimodal_metadata (operators/multimodal.attach_fake_payload —
    a real pipeline reads actual headers), no decode, map-side
    except the ~5-row rollup."""
    from distgrep_spark.operators.multimodal import attach_fake_payload

    docs = load_table(spark, sf_dir, "documents")
    meta = attach_fake_payload(docs).selectExpr(
        "doc_id", "media_meta.width AS width", "media_meta.height AS height"
    )
    return meta.groupBy(F.expr(_aspect_case()).alias("bucket")).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_images"),
        F.expr("CAST(min(width * 1000 DIV height) AS BIGINT) AS min_aspect_milli"),
        F.expr("CAST(max(width * 1000 DIV height) AS BIGINT) AS max_aspect_milli"),
    )


# ---------------------------------------------------------------------------
# Round-3 batch 19: market-concentration HHI, Mahalanobis outlier screen
# ---------------------------------------------------------------------------


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH s AS (
      SELECT n_name,
             l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, l_suppkey
    ),
    m AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS market_cents,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS sumsq,
             CAST(max(cents) AS BIGINT) AS top_cents
      FROM s GROUP BY n_name
    )
    SELECT n_name, n_suppliers, market_cents,
           sumsq / (CAST(market_cents AS DOUBLE) * CAST(market_cents AS DOUBLE))
             AS hhi,
           CAST(top_cents AS DOUBLE) / CAST(market_cents AS DOUBLE)
             AS top_share
    FROM m
    """,
)
def q_supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation — HHI = Σ share² (1/n = perfect competition, 1 =
    monopoly), the antitrust-standard concentration scalar and the
    supply-chain-risk complement to orders_gini_spend's inequality
    curve. Squares of per-supplier cents exceed BIGINT (~3.6e21 at
    sf0.1), so the sum of squares runs in DECIMAL(38,0)/HUGEINT (the
    stats_ols_trend widening discipline) with ONE cast to DOUBLE;
    shares are never materialized per supplier — the identity
    Σ(s/S)² = (Σs²)/S² keeps the whole metric two exact aggregates
    and one IEEE division. Dimension joins broadcast; one
    (nation, supplier) rollup then a 25-row nation rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .selectExpr(
            "n_name",
            "l_suppkey",
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c",
        )
        .groupBy("n_name", "l_suppkey")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS cents"))
    )
    m = s.groupBy("n_name").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_suppliers"),
        F.expr("CAST(sum(cents) AS BIGINT) AS market_cents"),
        F.expr("CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE) AS sumsq"),
        F.expr("CAST(max(cents) AS BIGINT) AS top_cents"),
    )
    return m.selectExpr(
        "n_name",
        "n_suppliers",
        "market_cents",
        "sumsq / (CAST(market_cents AS DOUBLE) * CAST(market_cents AS DOUBLE))"
        " AS hhi",
        "CAST(top_cents AS DOUBLE) / CAST(market_cents AS DOUBLE) AS top_share",
    )


@query(
    "embed_mahalanobis_screen",
    oracle="""
    WITH stats AS (
      SELECT i AS dim1,
             list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
               / count(*) AS mu,
             list_aggregate(list_sort(list(embedding[i]::DOUBLE
                                           * embedding[i]::DOUBLE)), 'sum')
               / count(*)
               - (list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
                  / count(*))
                 * (list_aggregate(list_sort(list(embedding[i]::DOUBLE)), 'sum')
                    / count(*)) AS var
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
      GROUP BY i
    ),
    terms AS (
      SELECT e.vec_id,
             (e.embedding[s.dim1]::DOUBLE - s.mu)
               * (e.embedding[s.dim1]::DOUBLE - s.mu) / s.var AS t,
             s.dim1
      FROM embeddings e, stats s
    ),
    folded AS (
      SELECT vec_id,
             list_aggregate(list_transform(list_sort(list({'d': dim1, 't': t})),
                                           r -> r.t), 'sum') AS d2
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, d2 AS mahalanobis_sq FROM folded
    """,
)
def q_embed_mahalanobis_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Mahalanobis distance² per embedding — the
    multivariate outlier screen that consumes
    embed_feature_norm_stats' fit (per-dim μ/σ² broadcast back over
    the corpus): d² = Σ_d (x_d - μ_d)²/σ²_d, E[d²] = n_dims for
    in-distribution vectors. The per-vector sum folds terms in
    canonical DIM ORDER on both engines (the list is sorted by dim
    before folding — double addition isn't associative, CLAUDE.md);
    μ/σ² themselves are the sorted-fold stats, so the whole chain is
    last-ulp stable and the checker's NEAR tolerance covers it. At
    100 TB the 64-row stats table broadcasts and the screen is
    map-side — the fit/transform split every feature pipeline uses."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = emb.select(
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "dim0", "v"
        )
    )
    v_sorted, v2_sorted = sorted_sum("v"), sorted_sum("v * v")
    stats = per_dim.groupBy("dim0").agg(
        F.expr(f"{v_sorted} / count(*) AS mu"),
        F.expr(
            f"{v2_sorted} / count(*)"
            f" - ({v_sorted} / count(*)) * ({v_sorted} / count(*)) AS var"
        ),
    )
    terms = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ).alias("dim0", "x"),
        )
        .join(F.broadcast(stats), "dim0")
        .selectExpr("vec_id", "dim0", "(x - mu) * (x - mu) / var AS t")
    )
    return (
        terms.groupBy("vec_id")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(dim0, t))),"
                " r -> r.t), 0.0D, (a, x) -> a + x) AS mahalanobis_sq"
            )
        )
        .selectExpr("vec_id", "mahalanobis_sq")
    )


# ---------------------------------------------------------------------------
# Round-3 batch 23: k-means++ seeding step (exact integer argmax)
# ---------------------------------------------------------------------------

_QUANT_DUCK = (
    "list_transform(embedding, v -> CAST(greatest(-127.0, least(127.0,"
    " floor(v::DOUBLE * 200 + 0.5))) AS BIGINT))"
)


@query(
    "kmeans_pp_seed_step",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QUANT_DUCK} AS qv FROM embeddings),
    seeds AS (SELECT vec_id AS sid, qv AS sv FROM q WHERE vec_id < 2),
    dmin AS (
      SELECT q.vec_id,
             CAST(min(list_sum(list_transform(generate_series(1, 64),
                  i -> (q.qv[i] - s.sv[i]) * (q.qv[i] - s.sv[i])))) AS BIGINT)
               AS min_d2
      FROM q CROSS JOIN seeds s
      WHERE q.vec_id >= 2
      GROUP BY q.vec_id
    )
    SELECT vec_id AS next_seed, min_d2 FROM (
      SELECT vec_id, min_d2,
             row_number() OVER (ORDER BY min_d2 DESC, vec_id) AS rn
      FROM dmin
    ) WHERE rn = 1
    """,
)
def q_kmeans_pp_seed_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means++ (greedy/farthest-point variant) seeding step: with
    seeds {vec 0, vec 1} chosen, the next seed is the vector maximizing
    its min squared distance to the current seed set — the
    initialization kernel that makes Lloyd iterations converge in few
    rounds, here DERANDOMIZED to the farthest-point rule (classic
    k-center 2-approximation; the sampled k-means++ draws proportional
    to these same min_d2 values, so this step computes exactly the
    distribution's support weights). All arithmetic on the global int8
    grid (embed_pq_assign discipline): distances are exact BIGINTs,
    the argmax carries a (min_d2 DESC, vec_id) total order, and the
    broadcast seed set keeps the scan map-side — per round at 100 TB:
    one pass, k×dim broadcast, no shuffle but the 1-row argmax. The
    argmax itself is orderBy+limit(1) — TakeOrderedAndProject keeps a
    1-row heap per map partition and merges ≤#partitions rows on the
    driver side of the exchange; the round-6 lint caught the previous
    global row_number() form, whose unpartitioned WindowExec would
    sort the full per-vector table on one task at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_df = emb.selectExpr("vec_id", f"{INT8_GRID} AS qv")
    seeds = q_df.where("vec_id < 2").selectExpr("vec_id AS sid", "qv AS sv")
    dmin = (
        q_df.where("vec_id >= 2")
        .crossJoin(F.broadcast(seeds))
        .selectExpr(
            "vec_id",
            "aggregate(sequence(1, 64), 0L, (acc, i) ->"
            " acc + (element_at(qv, i) - element_at(sv, i))"
            "     * (element_at(qv, i) - element_at(sv, i))) AS d2",
        )
        .groupBy("vec_id")
        .agg(F.expr("CAST(min(d2) AS BIGINT) AS min_d2"))
    )
    return (
        dmin.orderBy(F.desc("min_d2"), "vec_id")
        .limit(1)
        .selectExpr("vec_id AS next_seed", "min_d2")
    )


# ---------------------------------------------------------------------------
# Round-3 batch 24: duplicate-payment audit, difference-in-differences
# ---------------------------------------------------------------------------


@query(
    "dq_duplicate_payment_screen",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 10000 AS amt,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      FROM orders
    ),
    seq AS (
      SELECT o_orderkey, o_custkey, amt, d,
             lag(d) OVER w AS prev_d,
             lag(o_orderkey) OVER w AS prev_key
      FROM o
      WINDOW w AS (PARTITION BY o_custkey, amt ORDER BY d, o_orderkey)
    )
    SELECT o_custkey, amt AS amount_hundreds,
           prev_key AS first_orderkey, o_orderkey AS second_orderkey,
           CAST(d - prev_d AS BIGINT) AS gap_days
    FROM seq
    WHERE prev_d IS NOT NULL AND d - prev_d <= 90
    """,
)
def q_dq_duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: same customer, same $100 amount band,
    within 90 days — the accounts-payable double-charge screen every
    finance pipeline runs (exact-key + time-window duplication, the
    structured sibling of join_fuzzy_blocked's string fuzz). One
    window over (custkey, cents) partitions — the candidate space IS
    the partition key, so there's no pair join at all: CONSECUTIVE
    same-amount orders meet in the lag (adjacent pairs, not all pairs
    within the window — a chain of three flags two pairs), and only
    ≤90-day gaps survive. Exact integer cents/days end to end. At
    100 TB this
    beats the self-join formulation by never materializing
    candidates — the partition carries them."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.selectExpr(
        "o_orderkey",
        "o_custkey",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 10000 AS amt",
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
    )
    seq = o.selectExpr(
        "o_orderkey",
        "o_custkey",
        "amt",
        "d",
        "lag(d) OVER (PARTITION BY o_custkey, amt ORDER BY d, o_orderkey)"
        " AS prev_d",
        "lag(o_orderkey) OVER (PARTITION BY o_custkey, amt"
        " ORDER BY d, o_orderkey) AS prev_key",
    )
    return seq.where("prev_d IS NOT NULL AND d - prev_d <= 90").selectExpr(
        "o_custkey",
        "amt AS amount_hundreds",
        "prev_key AS first_orderkey",
        "o_orderkey AS second_orderkey",
        "CAST(d - prev_d AS BIGINT) AS gap_days",
    )


@query(
    "stats_diff_in_diff",
    oracle="""
    WITH base AS (
      SELECT user_id % 2 AS cohort,
             CASE WHEN epoch_us(ts) // 86400000000 - 19723 < 15
                  THEN 0 ELSE 1 END AS period,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      FROM events
    ),
    users AS (
      SELECT cohort, period, CAST(count(DISTINCT 0) AS BIGINT) AS dummy,
             CAST(sum(p) AS BIGINT) AS purchases,
             CAST(count(*) AS BIGINT) AS n_events
      FROM base GROUP BY cohort, period
    ),
    piv AS (
      SELECT
        max(CASE WHEN cohort = 1 AND period = 0 THEN purchases END) AS t0,
        max(CASE WHEN cohort = 1 AND period = 1 THEN purchases END) AS t1,
        max(CASE WHEN cohort = 0 AND period = 0 THEN purchases END) AS c0,
        max(CASE WHEN cohort = 0 AND period = 1 THEN purchases END) AS c1,
        max(CASE WHEN cohort = 1 AND period = 0 THEN n_events END) AS nt0,
        max(CASE WHEN cohort = 1 AND period = 1 THEN n_events END) AS nt1,
        max(CASE WHEN cohort = 0 AND period = 0 THEN n_events END) AS nc0,
        max(CASE WHEN cohort = 0 AND period = 1 THEN n_events END) AS nc1
      FROM users
    )
    SELECT t0, t1, c0, c1, nt0, nt1, nc0, nc1,
           (CAST(t1 AS DOUBLE) / CAST(nt1 AS DOUBLE)
            - CAST(t0 AS DOUBLE) / CAST(nt0 AS DOUBLE))
           - (CAST(c1 AS DOUBLE) / CAST(nc1 AS DOUBLE)
              - CAST(c0 AS DOUBLE) / CAST(nc0 AS DOUBLE)) AS did_estimate
    FROM piv
    """,
)
def q_stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: change in purchase share for the
    'treated' cohort (odd user_id) minus the change for the control
    (even), across the month's two halves — the workhorse
    causal-inference readout when randomization isn't available (the
    parallel-trends counterfactual). Day index is tz-free exact
    integer epoch days (19723 = 2024-01-01); the 2x2 cell counts are
    one map-side rollup, the estimate is a fixed IEEE tree over exact
    integers — engine-identical with no rounding, same discipline as
    stats_ab_ztest. Completes the causal/hypothesis family:
    z (levels), DiD (changes), KS (distributions), chi2
    (association)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.selectExpr(
        "user_id % 2 AS cohort",
        "CASE WHEN timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) DIV 86400000000 - 19723 < 15"
        " THEN 0 ELSE 1 END AS period",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p",
    )
    cells = base.groupBy("cohort", "period").agg(
        F.expr("CAST(sum(p) AS BIGINT) AS purchases"),
        F.expr("CAST(count(*) AS BIGINT) AS n_events"),
    )
    piv = cells.agg(
        F.expr("max(CASE WHEN cohort = 1 AND period = 0 THEN purchases END) AS t0"),
        F.expr("max(CASE WHEN cohort = 1 AND period = 1 THEN purchases END) AS t1"),
        F.expr("max(CASE WHEN cohort = 0 AND period = 0 THEN purchases END) AS c0"),
        F.expr("max(CASE WHEN cohort = 0 AND period = 1 THEN purchases END) AS c1"),
        F.expr("max(CASE WHEN cohort = 1 AND period = 0 THEN n_events END) AS nt0"),
        F.expr("max(CASE WHEN cohort = 1 AND period = 1 THEN n_events END) AS nt1"),
        F.expr("max(CASE WHEN cohort = 0 AND period = 0 THEN n_events END) AS nc0"),
        F.expr("max(CASE WHEN cohort = 0 AND period = 1 THEN n_events END) AS nc1"),
    )
    return piv.selectExpr(
        "t0", "t1", "c0", "c1", "nt0", "nt1", "nc0", "nc1",
        "(CAST(t1 AS DOUBLE) / CAST(nt1 AS DOUBLE)"
        " - CAST(t0 AS DOUBLE) / CAST(nt0 AS DOUBLE))"
        " - (CAST(c1 AS DOUBLE) / CAST(nc1 AS DOUBLE)"
        "    - CAST(c0 AS DOUBLE) / CAST(nc0 AS DOUBLE)) AS did_estimate",
    )


@query(
    "stats_standardized_rate",
    oracle="""
    WITH o AS (
      SELECT c_mktsegment AS seg, c_custkey % 2 AS cohort,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cells AS (
      SELECT seg, cohort,
             CAST(sum(urgent) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY seg, cohort
    ),
    strata AS (
      SELECT seg, CAST(sum(n) AS BIGINT) AS n_s FROM cells GROUP BY seg
    ),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM strata),
    terms AS (
      SELECT c.cohort, c.seg,
             CAST(c.x AS DOUBLE) / CAST(c.n AS DOUBLE)
               * (CAST(s.n_s AS DOUBLE) / CAST(t.n_tot AS DOUBLE)) AS term,
             c.x, c.n
      FROM cells c JOIN strata s ON c.seg = s.seg, tot t
    ),
    piv AS (
      SELECT cohort,
             CAST(sum(x) AS BIGINT) AS x_tot,
             CAST(sum(n) AS BIGINT) AS n_cohort,
             max(CASE WHEN seg = 'AUTOMOBILE' THEN term END) AS t1,
             max(CASE WHEN seg = 'BUILDING'   THEN term END) AS t2,
             max(CASE WHEN seg = 'FURNITURE'  THEN term END) AS t3,
             max(CASE WHEN seg = 'HOUSEHOLD'  THEN term END) AS t4,
             max(CASE WHEN seg = 'MACHINERY'  THEN term END) AS t5
      FROM terms GROUP BY cohort
    )
    SELECT cohort,
           CAST(x_tot AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS crude_rate,
           (((t1 + t2) + t3) + t4) + t5 AS standardized_rate
    FROM piv
    """,
)
def q_stats_standardized_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization: each cohort's urgent-order rate
    re-weighted to the OVERALL market-segment mix — the
    epidemiology/BI adjustment that removes composition effects before
    comparing groups (the non-causal complement of
    stats_diff_in_diff; Simpson's-paradox insurance). Per-stratum
    terms are single IEEE ratios of exact integers; the five-term sum
    is an EXPLICIT left-associated literal tree over pivoted columns
    (never a float aggregate in engine partition order — the
    events_ewma_smooth fold discipline applied to a weighted mean),
    so both engines execute the identical addition sequence. One
    broadcast dim join + one (seg, cohort) rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).selectExpr(
        "c_mktsegment AS seg",
        "c_custkey % 2 AS cohort",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent",
    )
    # cells (<= |segs| x 2 rows) is the fan-out point: terms, strata,
    # and tot all descend from it, so un-checkpointed the fact join +
    # rollup executed 3x (6 scans in the round-11 audit -> 0).
    cells = (
        o.groupBy("seg", "cohort")
        .agg(
            F.expr("CAST(sum(urgent) AS BIGINT) AS x"),
            F.expr("CAST(count(*) AS BIGINT) AS n"),
        )
        .localCheckpoint(eager=False)
    )
    strata = cells.groupBy("seg").agg(F.expr("CAST(sum(n) AS BIGINT) AS n_s"))
    tot = strata.agg(F.expr("CAST(sum(n_s) AS BIGINT) AS n_tot"))
    terms = (
        cells.join(strata, "seg")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "cohort",
            "seg",
            "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)"
            " * (CAST(n_s AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS term",
            "x",
            "n",
        )
    )
    piv = terms.groupBy("cohort").agg(
        F.expr("CAST(sum(x) AS BIGINT) AS x_tot"),
        F.expr("CAST(sum(n) AS BIGINT) AS n_cohort"),
        F.expr("max(CASE WHEN seg = 'AUTOMOBILE' THEN term END) AS t1"),
        F.expr("max(CASE WHEN seg = 'BUILDING'   THEN term END) AS t2"),
        F.expr("max(CASE WHEN seg = 'FURNITURE'  THEN term END) AS t3"),
        F.expr("max(CASE WHEN seg = 'HOUSEHOLD'  THEN term END) AS t4"),
        F.expr("max(CASE WHEN seg = 'MACHINERY'  THEN term END) AS t5"),
    )
    return piv.selectExpr(
        "cohort",
        "CAST(x_tot AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS crude_rate",
        "(((t1 + t2) + t3) + t4) + t5 AS standardized_rate",
    )


@query(
    "orders_cohort_ltv_curve",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) AS mk,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), cohorts AS (
      SELECT o_custkey, min(mk) AS cohort_mk FROM o GROUP BY 1
    ), sized AS (
      SELECT cohort_mk, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohorts GROUP BY 1
    ), cells AS (
      SELECT c.cohort_mk, o.mk - c.cohort_mk AS age,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             CAST(sum(o.cents) AS BIGINT) AS rev_cents
      FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
      GROUP BY 1, 2
    )
    SELECT cells.cohort_mk AS cohort_mk,
           CAST(age AS BIGINT) AS age,
           n_active, rev_cents,
           CAST(sum(rev_cents)
                  OVER (PARTITION BY cells.cohort_mk ORDER BY age)
                AS BIGINT) AS cum_rev_cents,
           cohort_size,
           CAST(sum(rev_cents)
                  OVER (PARTITION BY cells.cohort_mk ORDER BY age) AS DOUBLE)
             / CAST(cohort_size AS DOUBLE) AS cum_ltv_cents
    FROM cells JOIN sized ON cells.cohort_mk = sized.cohort_mk
    """,
)
def q_orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the MONETARY twin of
    events_user_retention's activity triangle: customers grouped by
    first-order month, then cumulative revenue per cohort by month-age,
    normalized per cohort member (including members inactive at that
    age — the standard LTV denominator, which is why cohort_size comes
    from the cohort roster, not the active-cell count). The readout
    every acquisition-spend and data-retention decision reads.

    Exactness: month keys are ``year*12 + month`` integers (never a
    months_between float), revenue is integer cents, the running total
    is a window over the per-cohort cell rollup partitioned by
    cohort month (~decades x 12 rows per cohort — bounded by the
    calendar, not the data), and the only DOUBLE is the final
    per-member division of two exact BIGINTs.

    The 100-TB shape: one custkey exchange builds the cohort roster,
    the same partitioning serves the roster join (orders are already
    custkey-keyed), and the window runs on the (cohort, age) rollup —
    thousands of cells at any corpus size. n_active's count-distinct
    is the one expensive aggregate; it rides the same cell rollup."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.selectExpr(
        "o_custkey",
        "year(CAST(o_orderdate AS DATE)) * 12"
        " + month(CAST(o_orderdate AS DATE)) AS mk",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    cohorts = o.groupBy("o_custkey").agg(F.expr("min(mk) AS cohort_mk"))
    sized = cohorts.groupBy("cohort_mk").agg(
        F.expr("CAST(count(*) AS BIGINT) AS cohort_size")
    )
    cells = (
        o.join(cohorts, "o_custkey")
        .selectExpr("cohort_mk", "mk - cohort_mk AS age", "o_custkey", "cents")
        .groupBy("cohort_mk", "age")
        .agg(
            F.expr("CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active"),
            F.expr("CAST(sum(cents) AS BIGINT) AS rev_cents"),
        )
    )
    return cells.join(sized, "cohort_mk").selectExpr(
        "cohort_mk",
        "CAST(age AS BIGINT) AS age",
        "n_active",
        "rev_cents",
        "CAST(sum(rev_cents) OVER (PARTITION BY cohort_mk ORDER BY age)"
        " AS BIGINT) AS cum_rev_cents",
        "cohort_size",
        "CAST(sum(rev_cents) OVER (PARTITION BY cohort_mk ORDER BY age)"
        " AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS cum_ltv_cents",
    )


_IVFPQ_COARSE_K = 16  # coarse lists (vec_id < 16 as centroids, both engines)
_IVFPQ_NPROBE = 4


@query(
    "sim_ann_ivfpq",
    oracle=f"""
    WITH q8 AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(greatest(-127.0, least(127.0,
                           floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    coarse AS (
      SELECT vec_id AS ccid, qv AS cvec FROM q8
      WHERE vec_id < {_IVFPQ_COARSE_K}
    ),
    cscored AS (
      SELECT q.vec_id, c.ccid,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cvec),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS cdist
      FROM q8 q CROSS JOIN coarse c
    ),
    assign AS (
      SELECT vec_id,
             min(cdist * {_IVFPQ_COARSE_K} + ccid) % {_IVFPQ_COARSE_K}
               AS list_id
      FROM cscored GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, ccid AS list_id FROM (
        SELECT vec_id, ccid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cdist, ccid) AS pr
        FROM cscored WHERE vec_id < 5
      ) WHERE pr <= {_IVFPQ_NPROBE}
    ),
    subs AS (
      SELECT vec_id, m, qv[{PQ_D}*m+1 : {PQ_D}*m+{PQ_D}] AS sub
      FROM q8, (SELECT unnest(range({PQ_M})) AS m)
    ),
    cents AS (
      SELECT vec_id AS cid, m, sub AS cvec FROM subs WHERE vec_id < {PQ_K}
    ),
    scored AS (
      SELECT s.vec_id, s.m, c.cid,
             CAST(list_sum(list_transform(list_zip(s.sub, c.cvec),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM subs s JOIN cents c ON s.m = c.m
    ),
    codes AS (
      SELECT vec_id, m, min(dist * {PQ_K} + cid) % {PQ_K} AS code
      FROM scored GROUP BY vec_id, m
    ),
    lut AS (
      SELECT vec_id AS query_id, m, cid, dist FROM scored WHERE vec_id < 5
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assign a JOIN probes p ON a.list_id = p.list_id
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT n.query_id, n.vec_id, CAST(sum(l.dist) AS BIGINT) AS adc_dist
      FROM cand n
      JOIN codes c ON n.vec_id = c.vec_id
      JOIN lut l ON l.query_id = n.query_id
               AND l.m = c.m AND l.cid = c.code
      GROUP BY n.query_id, n.vec_id
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 10
    """,
)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN search — the canonical billion-scale index
    (Jégou et al. 2011, FAISS IndexIVFPQ) assembled from this repo's
    two oracled halves: the coarse quantizer bounds WHICH vectors get
    scored (each corpus vector lives in the inverted list of its
    nearest of 16 coarse centroids; a query probes only its nprobe=4
    nearest lists), and PQ asymmetric distance decides their ORDER
    (per-query integer LUT, M one-byte code lookups per candidate —
    sim_ann_pq_adc's kernel verbatim). Candidate work per query drops
    from |corpus| to ~nprobe/K of it while staying exact INTEGER
    arithmetic end to end (int8 grid, integer argmin ``min(dist*K +
    id)``, BIGINT LUT sums) — so unlike hash-sketch ANN, the ENTIRE
    pruned ranking carries a full DuckDB oracle, probe selection
    included. Production IVFPQ encodes residuals (v - coarse centroid)
    for tighter cells; plain codes keep the composition of the two
    certified kernels honest here — the plumbing is identical.

    The 100-TB shape: coarse centroids and the per-query LUT are
    broadcasts (16 rows / Q x M x k cells); list assignment is a
    map-side bounded-16 argmin; the probe semi-join prunes map-side
    against the broadcast probe list; the only shuffles are the code
    rollup and the per-query top-k (TakeOrdered two-level merge). The
    inverted-list layout IS the partitioning: at scale you
    repartition codes by list_id so each probe touches nprobe
    partitions — the layout_zorder_sort argument applied to ANN."""
    emb = load_table(spark, sf_dir, "embeddings")
    # q8 is the plan's fan-out point: the full-corpus quantize fed the
    # coarse-assign branch AND the subs/codes branch as separate
    # executions (8 scans in the round-11 audit; the filter-pushdown
    # consumers — coarse, cents, probes, lut — were already cheap).
    # Lazy checkpoint: quantize once, scans 8 -> 0, walls flat at
    # sf0.1 (A/B x6 interleaved, results identical).
    q8 = emb.selectExpr("vec_id", f"{INT8_GRID} AS qv").localCheckpoint(eager=False)
    coarse = q8.where(F.col("vec_id") < _IVFPQ_COARSE_K).selectExpr(
        "vec_id AS ccid", "qv AS cvec"
    )
    cscored = q8.crossJoin(F.broadcast(coarse)).selectExpr(
        "vec_id",
        "ccid",
        f"{int_l2sq('qv', 'cvec')} AS cdist",
    )
    assign = cscored.groupBy("vec_id").agg(
        F.expr(
            f"min(cdist * {_IVFPQ_COARSE_K} + ccid) % {_IVFPQ_COARSE_K}"
        ).alias("list_id")
    )
    wp = Window.partitionBy("vec_id").orderBy("cdist", "ccid")
    probes = (
        cscored.where(F.col("vec_id") < 5)
        .withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= _IVFPQ_NPROBE)
        .selectExpr("vec_id AS query_id", "ccid AS list_id")
    )
    scored = pq_scored(q8)
    # every frame below descends from q8: rename join keys per side so
    # equi-joins bind across branches (the sim_ann_pq_adc convention)
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.expr(f"min(dist * {PQ_K} + cid) % {PQ_K}").alias("code"))
        .selectExpr("vec_id AS code_vec", "m AS cm", "code")
    )
    lut = scored.where(F.col("vec_id") < 5).selectExpr(
        "vec_id AS lut_query", "m AS lm", "cid", "dist"
    )
    cand = (
        assign.selectExpr("vec_id AS cand_vec", "list_id AS cand_list")
        .join(
            F.broadcast(probes),
            F.col("cand_list") == F.col("list_id"),
        )
        .where(F.col("cand_vec") != F.col("query_id"))
        .select("query_id", "cand_vec")
    )
    adc = (
        cand.join(codes, F.col("cand_vec") == F.col("code_vec"))
        .join(
            F.broadcast(lut),
            (F.col("lut_query") == F.col("query_id"))
            & (F.col("lm") == F.col("cm"))
            & (F.col("cid") == F.col("code")),
        )
        .groupBy("query_id", F.col("cand_vec").alias("vec_id"))
        .agg(F.sum("dist").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# Residual vector quantization (two-stage additive codebook)
# ---------------------------------------------------------------------------


@query(
    "embed_rvq_assign",
    oracle=f"""
    WITH q8 AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(greatest(-127.0, least(127.0,
                           floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    cb1 AS (SELECT vec_id AS cid1, qv AS cvec1 FROM q8 WHERE vec_id < 8),
    s1 AS (
      SELECT q.vec_id, c.cid1, q.qv, c.cvec1,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cvec1),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d1
      FROM q8 q CROSS JOIN cb1 c
    ),
    win1 AS (
      SELECT vec_id, cid1 AS c1, d1 AS e1,
             list_transform(list_zip(qv, cvec1), p -> p[1] - p[2]) AS r
      FROM (SELECT *, min(d1 * 8 + cid1) OVER (PARTITION BY vec_id) AS m
            FROM s1)
      WHERE d1 * 8 + cid1 = m
    ),
    cb2 AS (SELECT vec_id - 8 AS cid2, r AS cvec2
            FROM win1 WHERE vec_id >= 8 AND vec_id < 16),
    s2 AS (
      SELECT w.vec_id, w.c1, w.e1, c.cid2,
             CAST(list_sum(list_transform(list_zip(w.r, c.cvec2),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
      FROM win1 w CROSS JOIN cb2 c
    ),
    enc AS (
      SELECT vec_id, c1, e1, min(d2 * 8 + cid2) AS enc2
      FROM s2 GROUP BY 1, 2, 3
    )
    SELECT CAST(c1 AS BIGINT) AS c1, CAST(enc2 % 8 AS BIGINT) AS c2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(e1) AS BIGINT) AS e1_sum,
           CAST(sum(enc2 // 8) AS BIGINT) AS e2_sum,
           CAST(sum(e1) - sum(enc2 // 8) AS DOUBLE)
             / CAST(greatest(sum(e1), 1) AS DOUBLE) AS reduction
    FROM enc GROUP BY 1, 2
    """,
)
def q_embed_rvq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual vector quantization (two-stage additive codebook — the
    RVQ used by modern retrieval/codec stacks, e.g. SoundStream and
    additive-quantizer ANN): stage 1 snaps each vector to the nearest
    of 8 FULL-vector codewords; stage 2 quantizes the RESIDUAL against
    a second 8-codeword book, so the reconstruction c1 + c2 refines
    additively. Complements embed_pq_assign, which decomposes the
    SPACE into subvectors — RVQ decomposes the ERROR into stages; IVF
    is exactly stage 1 of this construction.

    Exactness: the int8 grid makes every distance, residual component,
    and the two argmins (``min(dist*8 + cid)`` — tie-break embedded in
    the encoding, the embed_pq_assign discipline) pure BIGINT; the
    winning codeword row is selected by an equality filter against a
    per-vector window MIN, so the residual is taken against exactly
    the argmin codeword on both engines. Output: per (c1, c2) cell
    counts and the stage-2 error reduction as one exact-integer
    division (greatest(·,1) guards the all-codeword cell where stage-1
    error is already 0).

    The 100-TB shape: both codebooks are bounded broadcasts (8 rows;
    the stage-2 book derives from 8 designated training rows — the
    codebook-pull pattern of operators/clustering.py); both scoring
    passes are map-side broadcast joins; the per-vector argmin windows
    hash-partition by vec_id; the report rollup is <= 64 cells. A
    trained RVQ swaps the codebook selection predicates for k-means
    iterates (kmeans_assign_step) — the assignment plan is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q8 = emb.selectExpr("vec_id", f"{INT8_GRID} AS qv")
    cb1 = q8.where(F.col("vec_id") < 8).selectExpr(
        "vec_id AS cid1", "qv AS cvec1"
    )
    s1 = q8.crossJoin(F.broadcast(cb1)).selectExpr(
        "vec_id",
        "cid1",
        "qv",
        "cvec1",
        f"{int_l2sq('qv', 'cvec1')} AS d1",
    )
    win1 = (
        s1.selectExpr(
            "vec_id",
            "cid1",
            "d1",
            "qv",
            "cvec1",
            "min(d1 * 8 + cid1) OVER (PARTITION BY vec_id) AS m",
        )
        .where("d1 * 8 + cid1 = m")
        .selectExpr(
            "vec_id",
            "cid1 AS c1",
            "d1 AS e1",
            "zip_with(qv, cvec1, (a, b) -> a - b) AS r",
        )
        .localCheckpoint(eager=False)
    )
    cb2 = win1.where("vec_id >= 8 AND vec_id < 16").selectExpr(
        "vec_id - 8 AS cid2", "r AS cvec2"
    )
    s2 = win1.crossJoin(F.broadcast(cb2)).selectExpr(
        "vec_id",
        "c1",
        "e1",
        "cid2",
        f"{int_l2sq('r', 'cvec2')} AS d2",
    )
    enc = s2.groupBy("vec_id", "c1", "e1").agg(
        F.expr("min(d2 * 8 + cid2) AS enc2")
    )
    return enc.groupBy(
        F.expr("CAST(c1 AS BIGINT)").alias("c1"),
        F.expr("CAST(enc2 % 8 AS BIGINT)").alias("c2"),
    ).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(e1) AS BIGINT) AS e1_sum"),
        F.expr("CAST(sum(enc2 DIV 8) AS BIGINT) AS e2_sum"),
        F.expr(
            "CAST(sum(e1) - sum(enc2 DIV 8) AS DOUBLE)"
            " / CAST(greatest(sum(e1), 1) AS DOUBLE) AS reduction"
        ),
    )


# ---------------------------------------------------------------------------
# ABC segment migration matrix (period-over-period, distributed exact rank)
# ---------------------------------------------------------------------------

_ABC_P1 = ("1995-01-01", "1998-01-01")
_ABC_P2 = ("1998-01-01", "2002-01-01")


def _abc_class_sql(table: str) -> str:
    """Oracle-side ABC classes from a (o_custkey, cents) rollup via the
    classic cumulative-revenue cut: A carries the top 80% of revenue,
    B to 95%, C the tail. Cross-multiplied integers — no float shares."""
    return f"""
      SELECT o_custkey,
             CASE WHEN cum * 100 <= total * 80 THEN 'A'
                  WHEN cum * 100 <= total * 95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM (
        SELECT o_custkey, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum,
               CAST(sum(cents) OVER () AS BIGINT) AS total
        FROM {table}
      )
    """


@query(
    "orders_abc_migration",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    r1 AS (
      SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS cents FROM o
      WHERE o_orderdate >= TIMESTAMP '{_ABC_P1[0]}'
        AND o_orderdate <  TIMESTAMP '{_ABC_P1[1]}'
      GROUP BY o_custkey
    ),
    r2 AS (
      SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS cents FROM o
      WHERE o_orderdate >= TIMESTAMP '{_ABC_P2[0]}'
        AND o_orderdate <  TIMESTAMP '{_ABC_P2[1]}'
      GROUP BY o_custkey
    ),
    c1 AS ({_abc_class_sql("r1")}),
    c2 AS ({_abc_class_sql("r2")})
    SELECT coalesce(c1.cls, 'NEW') AS class_p1,
           coalesce(c2.cls, 'GONE') AS class_p2,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM c1 FULL JOIN c2 ON c1.o_custkey = c2.o_custkey
    GROUP BY 1, 2
    """,
)
def q_orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC segment MIGRATION matrix — which revenue class each customer
    occupied in 1995-97 vs 1998-2001, with NEW (no early history) and
    GONE (no late orders) as first-class states: the
    period-over-period twin of part_abc_xyz_classification's snapshot,
    and the report behind retention/upsell targeting (an A→C cell is
    the churn-risk list).

    Class cuts are the classic cumulative-revenue thresholds (A = top
    80% of revenue, B to 95%) applied per period, compared by exact
    integer cross-multiplication (cum·100 vs total·80 — no float
    shares). The cumulative revenue itself is a DESCENDING global
    order statistic over each period's customer rollup — in the
    engine it runs through ``operators/distrank.py`` (descending
    boundaries, per-bucket exclusive cents prefixes, windows
    hash-partitioned by bucket; no Exchange SinglePartition over the
    rollup), while the oracle keeps the plain global window. Total
    order (cents DESC, custkey) makes tied revenues deterministic.

    The 100-TB shape: two period rollups off one scan lineage (the
    date filters push to the same parquet scan), distrank's bounded
    driver passes per period, and a key-partitioned full-outer join —
    nothing funnels through one task as customers grow."""
    from distgrep_spark.operators.distrank import rank_buckets

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderdate",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )

    def classes(lo: str, hi: str, out_key: str, out_cls: str) -> DataFrame:
        r = (
            o.where(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(F.expr("CAST(sum(cents) AS BIGINT) AS cents"))
            .localCheckpoint(eager=False)
        )
        rb, offs, tot = rank_buckets(
            r, {"bk": "cents"}, {"c": ("sum", "cents")}, descending=True
        )
        cum = (
            f"({offs['bk', 'c']}"
            " + sum(cents) OVER (PARTITION BY bk ORDER BY cents DESC,"
            " o_custkey ROWS UNBOUNDED PRECEDING))"
        )
        return rb.selectExpr(
            f"o_custkey AS {out_key}",
            f"CASE WHEN {cum} * 100"
            f" <= CAST({tot['c']} AS BIGINT) * 80 THEN 'A'"
            f" WHEN {cum} * 100"
            f" <= CAST({tot['c']} AS BIGINT) * 95 THEN 'B'"
            f" ELSE 'C' END AS {out_cls}",
        )

    c1 = classes(_ABC_P1[0], _ABC_P1[1], "k1", "cls1")
    c2 = classes(_ABC_P2[0], _ABC_P2[1], "k2", "cls2")
    return (
        c1.join(c2, F.col("k1") == F.col("k2"), "full_outer")
        .selectExpr(
            "coalesce(cls1, 'NEW') AS class_p1",
            "coalesce(cls2, 'GONE') AS class_p2",
        )
        .groupBy("class_p1", "class_p2")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_customers"))
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (2 channels, closed form, exact)
# ---------------------------------------------------------------------------


@query(
    "events_shapley_attribution_2ch",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_buy,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ),
    ex AS (
      SELECT u.user_id, u.conv,
             CAST(max(CASE WHEN e.event_type = 'click'
                       AND (u.first_buy IS NULL
                            OR epoch_us(e.ts) < u.first_buy)
                      THEN 1 ELSE 0 END) AS BIGINT) AS ec,
             CAST(max(CASE WHEN e.event_type = 'view'
                       AND (u.first_buy IS NULL
                            OR epoch_us(e.ts) < u.first_buy)
                      THEN 1 ELSE 0 END) AS BIGINT) AS ev
      FROM u JOIN events e ON u.user_id = e.user_id
      GROUP BY u.user_id, u.conv
    ),
    v AS (
      SELECT
        CAST(sum(CASE WHEN ec = 0 AND ev = 0 THEN conv ELSE 0 END)
             AS BIGINT) AS v_none,
        CAST(sum(CASE WHEN ev = 0 THEN conv ELSE 0 END) AS BIGINT) AS v_c,
        CAST(sum(CASE WHEN ec = 0 THEN conv ELSE 0 END) AS BIGINT) AS v_v,
        CAST(sum(conv) AS BIGINT) AS v_full
      FROM ex
    )
    SELECT channel, marginal_alone, marginal_joint, shapley_x2,
           CAST(shapley_x2 AS DOUBLE) / 2.0 AS shapley
    FROM (
      SELECT 'click' AS channel,
             v_c - v_none AS marginal_alone,
             v_full - v_v AS marginal_joint,
             (v_c - v_none) + (v_full - v_v) AS shapley_x2
      FROM v
      UNION ALL
      SELECT 'view', v_v - v_none, v_full - v_c,
             (v_v - v_none) + (v_full - v_c)
      FROM v
    )
    """,
)
def q_events_shapley_attribution_2ch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution, exact closed form for two
    channels — the game-theoretic alternative to
    events_attribution_last_touch (last-touch gives the final click
    everything; Shapley splits each conversion over the channels whose
    PRESENCE actually moved it, averaging marginal contributions over
    both arrival orders): phi_ch = ½[v({ch}) − v(∅)] + ½[v(both) −
    v(other)], with the coalition value v(S) = conversions among users
    whose pre-first-purchase exposure set ⊆ S. Two channels make the
    permutation average a CLOSED FORM — no sampling, no factorial
    blowup — which is exactly the regime where exact Shapley is the
    production method (3-4 channels enumerate the same way; beyond
    that, production samples permutations).

    Exactness: exposures are exact epoch-micros comparisons against
    the user's first purchase (tz-free idiom), coalition values are
    integer conversion counts, marginals are integer differences, and
    the ½ weights make shapley_x2 the exact integer with the DOUBLE a
    lossless /2 (dyadic — no rounding anywhere). Efficiency axiom
    holds by construction: Σ shapley = v(full) − v(∅).

    The 100-TB shape: one user rollup for first-purchase, one
    co-partitioned join back for exposure bits (both on user_id — a
    single exchange lineage), then a 1-row coalition table; the
    channel rows unpivot from it. 2^k coalition columns for k
    channels, all in the same two passes."""
    ev = load_table(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    u = ev.groupBy("user_id").agg(
        F.expr(
            f"min(CASE WHEN event_type = 'purchase' THEN {us} END)"
            " AS first_buy"
        ),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT) AS conv"
        ),
    ).selectExpr("user_id AS uk", "first_buy", "conv")
    us_e = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    ex = (
        u.join(ev, F.col("uk") == F.col("user_id"))
        .groupBy("uk", "conv")
        .agg(
            F.expr(
                f"CAST(max(CASE WHEN event_type = 'click'"
                f" AND (first_buy IS NULL OR {us_e} < first_buy)"
                " THEN 1 ELSE 0 END) AS BIGINT) AS ec"
            ),
            F.expr(
                f"CAST(max(CASE WHEN event_type = 'view'"
                f" AND (first_buy IS NULL OR {us_e} < first_buy)"
                " THEN 1 ELSE 0 END) AS BIGINT) AS ev"
            ),
        )
    )
    v = ex.agg(
        F.expr(
            "CAST(sum(CASE WHEN ec = 0 AND ev = 0 THEN conv ELSE 0 END)"
            " AS BIGINT) AS v_none"
        ),
        F.expr("CAST(sum(CASE WHEN ev = 0 THEN conv ELSE 0 END) AS BIGINT)"
               " AS v_c"),
        F.expr("CAST(sum(CASE WHEN ec = 0 THEN conv ELSE 0 END) AS BIGINT)"
               " AS v_v"),
        F.expr("CAST(sum(conv) AS BIGINT) AS v_full"),
    )
    return v.selectExpr(
        "explode(array("
        " struct('click' AS channel,"
        "        v_c - v_none AS marginal_alone,"
        "        v_full - v_v AS marginal_joint,"
        "        (v_c - v_none) + (v_full - v_v) AS shapley_x2),"
        " struct('view' AS channel,"
        "        v_v - v_none AS marginal_alone,"
        "        v_full - v_c AS marginal_joint,"
        "        (v_v - v_none) + (v_full - v_c) AS shapley_x2)"
        ")) AS r"
    ).selectExpr(
        "r.channel",
        "r.marginal_alone",
        "r.marginal_joint",
        "r.shapley_x2",
        "CAST(r.shapley_x2 AS DOUBLE) / 2.0 AS shapley",
    )


# ---------------------------------------------------------------------------
# Round-6 batch 51: MMR diversified re-ranking (retrieval post-processing)
# ---------------------------------------------------------------------------

# Greedy chain shared by the Spark side and the DuckDB oracle: 5
# selection steps over the materialized (cand, sims) tables. {cand} and
# {sims} are replaced per engine with the view/CTE names.
_MMR_GREEDY = """
    s1 AS (SELECT vec_id, rel FROM {cand}
           ORDER BY rel DESC, vec_id LIMIT 1),
    p2 AS (
      SELECT c.vec_id, c.rel, max(s.s) AS red
      FROM {cand} c JOIN {sims} s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM s1)
        AND c.vec_id NOT IN (SELECT vec_id FROM s1)
      GROUP BY c.vec_id, c.rel
    ),
    s2 AS (SELECT vec_id, rel, red FROM p2
           ORDER BY 3 * rel - red DESC, vec_id LIMIT 1),
    p3 AS (
      SELECT c.vec_id, c.rel, max(s.s) AS red
      FROM {cand} c JOIN {sims} s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2)
        AND c.vec_id NOT IN (SELECT vec_id FROM s1
                             UNION ALL SELECT vec_id FROM s2)
      GROUP BY c.vec_id, c.rel
    ),
    s3 AS (SELECT vec_id, rel, red FROM p3
           ORDER BY 3 * rel - red DESC, vec_id LIMIT 1),
    p4 AS (
      SELECT c.vec_id, c.rel, max(s.s) AS red
      FROM {cand} c JOIN {sims} s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
                     UNION ALL SELECT vec_id FROM s3)
        AND c.vec_id NOT IN (SELECT vec_id FROM s1
                             UNION ALL SELECT vec_id FROM s2
                             UNION ALL SELECT vec_id FROM s3)
      GROUP BY c.vec_id, c.rel
    ),
    s4 AS (SELECT vec_id, rel, red FROM p4
           ORDER BY 3 * rel - red DESC, vec_id LIMIT 1),
    p5 AS (
      SELECT c.vec_id, c.rel, max(s.s) AS red
      FROM {cand} c JOIN {sims} s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
                     UNION ALL SELECT vec_id FROM s3
                     UNION ALL SELECT vec_id FROM s4)
        AND c.vec_id NOT IN (SELECT vec_id FROM s1
                             UNION ALL SELECT vec_id FROM s2
                             UNION ALL SELECT vec_id FROM s3
                             UNION ALL SELECT vec_id FROM s4)
      GROUP BY c.vec_id, c.rel
    ),
    s5 AS (SELECT vec_id, rel, red FROM p5
           ORDER BY 3 * rel - red DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS pick_order, vec_id, rel,
           CAST(0 AS BIGINT) AS redundancy,
           CAST(3 AS BIGINT) * rel AS mmr_score
    FROM s1
    UNION ALL SELECT 2, vec_id, rel, red, 3 * rel - red FROM s2
    UNION ALL SELECT 3, vec_id, rel, red, 3 * rel - red FROM s3
    UNION ALL SELECT 4, vec_id, rel, red, 3 * rel - red FROM s4
    UNION ALL SELECT 5, vec_id, rel, red, 3 * rel - red FROM s5
"""

_MMR_DOT_DUCK = (
    "(SELECT CAST(sum(a.qv[u.i] * b.qv[u.i]) AS BIGINT)"
    " FROM unnest(generate_series(1, 64)) AS u(i))"
)


@query(
    "sim_mmr_diversify",
    oracle=f"""
    WITH qv0 AS (
      SELECT {_QUANT_DUCK} AS qv FROM embeddings WHERE vec_id = 0
    ),
    c0 AS (
      SELECT vec_id, {_QUANT_DUCK} AS qv FROM embeddings WHERE vec_id <> 0
    ),
    -- MATERIALIZED (round 8): cand is referenced by sims (twice) and by
    -- every greedy selection step; inlined, the corpus-wide dot scan
    -- re-executed per reference and the twin spilled past the disk at
    -- x64. Materializing the 20-row page kills the whole chain.
    cand AS MATERIALIZED (
      SELECT vec_id, rel, qv FROM (
        SELECT c0.vec_id, c0.qv,
               (SELECT CAST(sum(c0.qv[u.i] * qv0.qv[u.i]) AS BIGINT)
                FROM unnest(generate_series(1, 64)) AS u(i)) AS rel
        FROM c0 CROSS JOIN qv0
      ) ORDER BY rel DESC, vec_id LIMIT 20
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_MMR_DOT_DUCK} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    {_MMR_GREEDY.format(cand="cand", sims="sims")}
    """,
)
def q_sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversification pass retrieval pipelines run AFTER ANN:
    from the top-20 candidates by exact int8-grid dot-product relevance
    to query vector 0, greedily pick k=5 items maximizing
    3*rel - max_sim_to_already_picked (lambda = 0.75 with integer
    weights — scores stay exact BIGINTs, ties broken on vec_id, so the
    greedy trajectory is fully deterministic on both engines; no float
    ever crosses).

    Plan shape: relevance is one scan + broadcast of the 1-row query
    vector with a TakeOrdered top-20; the greedy itself
    (operators/preference.mmr_pick, weight 3) then runs on the DRIVER
    over the collected 20-row candidate page (the bounded
    codebook-pull precedent — operators/distrank.py, clustering.py:
    pools of constant size move to the driver, never data). This is
    also where production rerankers run MMR: on the retrieved page,
    client-side. A fully in-plan SQL chain (five scalar-subquery
    selection steps) was A/B-measured at 4.36 s sf0.1 — ~30 tiny
    scheduled jobs of pure overhead — vs ~1.3 s for retrieve+collect;
    the DuckDB oracle keeps the chained-CTE form, so the Python greedy
    is value-pinned against an independent SQL implementation on every
    run. All scores are exact BIGINTs (int8-grid dots, 3*rel - maxsim),
    ties broken on vec_id: the greedy trajectory is fully deterministic
    in both implementations. At 100 TB only the top-20 retrieval
    touches data; MMR is O(k * pool) = O(100) dots everywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("mmr_emb_v")
    dot = (
        "aggregate(sequence(1, 64), 0L, (acc, i) ->"
        " acc + element_at(aqv, i) * element_at(bqv, i))"
    )
    cand_rows = spark.sql(
        f"""
        SELECT vec_id, rel, aqv AS qv FROM (
          SELECT c.vec_id, c.aqv, {dot} AS rel
          FROM (SELECT vec_id, {INT8_GRID} AS aqv FROM mmr_emb_v
                WHERE vec_id <> 0) c
          CROSS JOIN (SELECT {INT8_GRID} AS bqv FROM mmr_emb_v
                      WHERE vec_id = 0) q
        ) ORDER BY rel DESC, vec_id LIMIT 20
        """
    ).collect()
    rel = {r["vec_id"]: r["rel"] for r in cand_rows}
    qv = {r["vec_id"]: r["qv"] for r in cand_rows}
    out = [(o, v, rel[v], red, 3 * rel[v] - red) for o, v, red in mmr_pick(rel, qv, 5, 3)]
    return local_table(
        spark,
        out,
        "pick_order bigint, vec_id bigint, rel bigint,"
        " redundancy bigint, mmr_score bigint",
    )


# ---------------------------------------------------------------------------
# Round-7 batch 59: period-over-period segment migration matrix
# ---------------------------------------------------------------------------


@query(
    "orders_fsegment_migration",
    oracle="""
    WITH span AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS d0,
             max(CAST(o_orderdate AS DATE)) AS d1 FROM orders
    ),
    fc AS (
      SELECT CASE WHEN CAST(o_orderdate AS DATE) <= d0
                       + CAST(date_diff('day', d0, d1) // 2 AS INTEGER)
                  THEN 1 ELSE 2 END AS h,
             o_custkey,
             CAST(count(*) AS BIGINT) AS freq
      FROM orders CROSS JOIN span
      GROUP BY 1, 2
    ),
    tiled AS (
      SELECT h, o_custkey,
             ntile(5) OVER (PARTITION BY h ORDER BY freq, o_custkey) AS f
      FROM fc
    ),
    h1 AS (SELECT o_custkey, f FROM tiled WHERE h = 1),
    h2 AS (SELECT o_custkey, f FROM tiled WHERE h = 2)
    SELECT CAST(coalesce(h1.f, 0) AS BIGINT) AS f_from,
           CAST(coalesce(h2.f, 0) AS BIGINT) AS f_to,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM h1 FULL JOIN h2 USING (o_custkey)
    GROUP BY 1, 2
    """,
)
def q_orders_fsegment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period frequency-segment MIGRATION matrix — the
    lifecycle readout behind every retention program ('which quintile
    did last period's champions land in?'): split the order history at
    its date midpoint (data-derived integer-day arithmetic, exact on
    both engines), cut each half's customers into exact frequency
    quintiles, and cross-tabulate the per-customer transition, with
    tile 0 standing for 'absent that half' (the FULL-JOIN new/churned
    tiers — an inner join would silently drop exactly the customers a
    retention program exists to see; the empty-group-universe rule).

    Exactness: the quintiles are SQL-standard ntile(5) with (freq,
    custkey) total order, computed WITHOUT per-half global sorts: one
    shared boundary pull buckets BOTH halves (boundaries only partition
    work — distrank's exactness argument), ranks come from
    offset[h][bucket] + row_number() OVER (PARTITION BY h, bucket), and
    the ntile arithmetic is operators/distrank.ntile_expr — the plan
    stays hash-partitioned at any customer count while the DuckDB twin
    keeps the plain per-half global window (the orders_rfm_segments
    certificate pattern).

    The 100-TB shape: one fact rollup to (half, customer) rows, one
    bounded boundary/offsets pull (<= 2 x 64 scalars), one
    co-partitioned self-join on customer for the matrix; output is
    <= 36 cells."""
    from distgrep_spark.operators.distrank import ntile_expr, rank_buckets

    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.expr("min(CAST(o_orderdate AS DATE)) AS d0"),
        F.expr("max(CAST(o_orderdate AS DATE)) AS d1"),
    )
    fc = (
        o.crossJoin(F.broadcast(span))
        .selectExpr(
            "CASE WHEN CAST(o_orderdate AS DATE) <= date_add(d0,"
            " CAST(datediff(d1, d0) DIV 2 AS INT)) THEN 1 ELSE 2 END AS h",
            "o_custkey",
        )
        .groupBy("h", "o_custkey")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS freq"))
        .localCheckpoint(eager=False)
    )
    fb, offs, tot = rank_buckets(fc, {"bk": "freq"}, {"n": ("sum", "1")}, by="h")
    n_h = tot["n"]
    ranked = fb.selectExpr(
        "h",
        "o_custkey",
        f"{offs['bk', 'n']} + row_number() OVER (PARTITION BY h, bk"
        " ORDER BY freq, o_custkey) AS rnk",
    )
    tiled = ranked.selectExpr(
        "h",
        "o_custkey",
        f"CASE WHEN h = 1 THEN {ntile_expr('rnk', n_h.get(1, 0), 5)}"
        f" ELSE {ntile_expr('rnk', n_h.get(2, 0), 5)} END AS f",
    )
    h1 = tiled.where("h = 1").selectExpr("o_custkey", "f AS f1")
    h2 = tiled.where("h = 2").selectExpr("o_custkey", "f AS f2")
    return (
        h1.join(h2, "o_custkey", "full_outer")
        .selectExpr(
            "CAST(coalesce(f1, 0) AS BIGINT) AS f_from",
            "CAST(coalesce(f2, 0) AS BIGINT) AS f_to",
        )
        .groupBy("f_from", "f_to")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_customers"))
    )

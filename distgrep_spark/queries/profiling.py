"""Data-profiling, layout, and corpus-quality queries (round-3 batch).

The 100-TB rationale per query:

- ``profile_column_stats``: ANALYZE-style single-pass multi-column
  profile — ONE scan producing all per-column null/distinct/min/max
  stats (map-side partial aggs, a scalar result). At 100 TB you cannot
  afford a scan per column; this is the one-pass shape.
- ``agg_histogram_equiwidth``: equi-width histogram as a groupBy on a
  computed bin key — fully map-side combinable, no sort, 20-row result.
- ``window_topk_per_group``: per-group top-k via row_number — the
  bounded alternative to a global sort; each group's heap lives inside
  one shuffle partition.
- ``join_bloom_prefilter``: semi-join reduction via a broadcast bit-set
  built from the small build side. At scale this is the hand-rolled
  version of runtime bloom-filter pushdown (Spark's
  ``spark.sql.optimizer.runtime.bloomFilter.enabled``): the probe scan
  drops non-matching rows BEFORE the shuffle, so the join moves only
  candidate rows.
- ``text_dup_span_fraction``: RefinedWeb/Gopher-style cross-document
  repetition signal. The shingle inverted index shuffles (gram, doc)
  pairs once; at 100 TB you'd shuffle 8-byte xxhash64 gram keys instead
  of gram strings (exactly like ``dedup_hash`` vs ``dedup_exact``) —
  same plan shape, narrower rows.
- ``layout_zorder_locality``: Morton (Z-order) interleave of two join
  dims as a clustering key. Writing 100-TB parquet sorted by this key
  gives min/max row-group pruning on BOTH dims at once; the query
  proves the locality property (every 64-cell Z-tile spans exactly one
  8x8 block of the (x, y) grid) with count-distinct gates the oracle
  re-derives arithmetically.
- ``agg_corr_covar``: Pearson correlation / covariance assembled from
  exact DECIMAL component sums (n, sx, sy, sxx, syy, sxy) — one pass,
  order-independent, cross-engine bit-stable (the same exact decimal
  totals cast to the same doubles; see functions/numeric.py).
- ``graph_pagerank_step``: one PageRank power iteration over the
  co-purchase graph — the iterative-graph kernel beyond connected
  components, single-lineage (degrees as a window over the edge list).
- ``market_basket_lift`` / ``graph_pagerank_step`` share the basket
  pattern: per-order ``collect_set`` then bounded in-set pair explode —
  one fact shuffle, never a self-join that re-scans.

No reference counterpart (the reference's only query is grep,
worker.go:24-43); these extend the north-star pipeline surface
(BASELINE.json) with the profiling/layout ops a training-data pipeline
runs before and after every dedup pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distgrep_spark.functions.pairs import list_pairs
from distgrep_spark.functions.textfns import TOKENS_DUCK
from distgrep_spark.operators.graph import (
    copurchase_edges,
    degree_orient,
    part_baskets,
)
from distgrep_spark.operators.text import dup_span_fraction
from distgrep_spark.queries.registry import query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Single-pass column profile (ANALYZE-style)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]


@query(
    "profile_column_stats",
    oracle="""
    SELECT 'o_orderstatus' AS column_name, count(*) AS n_rows,
           count(*) - count(o_orderstatus) AS n_nulls,
           count(DISTINCT o_orderstatus) AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR) AS min_val,
           CAST(max(o_orderstatus) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d'),
           strftime(max(o_orderdate), '%Y-%m-%d')
    FROM orders
    """,
)
def q_profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan table profile: per-column row/null/distinct counts and
    min/max, unpivoted to one row per column via ``stack``.

    The oracle states the same facts as four single-column scans
    (UNION ALL) — DuckDB is fine with that at sf0.01; the POINT of the
    Spark side is that it is ONE pass: a single aggregate computes every
    column's stats as independent agg expressions (all map-side
    combinable), and ``stack`` reshapes the 1-row result driver-side.
    Min/max are normalized to strings (dates via an explicit format) so
    one schema fits every column. The four UNION branches in the oracle
    vs one Spark scan is deliberate — same values, 4x the reads; the
    Spark shape is the one that survives 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if c == "o_orderdate":
            aggs.append(F.date_format(F.min(c), "yyyy-MM-dd").alias(f"mn_{c}"))
            aggs.append(F.date_format(F.max(c), "yyyy-MM-dd").alias(f"mx_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"mx_{c}"))
    prof = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return prof.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_val, max_val)",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


# ---------------------------------------------------------------------------
# Equi-width histogram
# ---------------------------------------------------------------------------

_BIN_W = 25000.0
_BIN_MAX = 19


@query(
    "agg_histogram_equiwidth",
    oracle=f"""
    SELECT CAST(least(floor(o_totalprice / {_BIN_W}), {_BIN_MAX}.0) AS BIGINT) AS bin_id,
           CAST(CAST(least(floor(o_totalprice / {_BIN_W}), {_BIN_MAX}.0) AS BIGINT)
                * {_BIN_W} AS DOUBLE) AS bin_lo,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS price_sum
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (20 bins, top bin open).

    Bin key is computed per-row (map-side), so the whole histogram is a
    partial-agg + 20-row exchange — the canonical distributive shape.
    Bin edges are exact multiples of the width; floor of the same IEEE
    division is engine-identical, and the price sum uses the exact
    decimal accumulation convention (functions/numeric.py)."""
    o = load_table(spark, sf_dir, "orders")
    bin_id = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_BIN_W)), F.lit(_BIN_MAX)
    ).cast("bigint")
    return (
        o.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("price_sum"),
        )
        .select(
            "bin_id",
            (F.col("bin_id") * F.lit(_BIN_W)).alias("bin_lo"),
            "n_orders",
            "price_sum",
        )
    )


# ---------------------------------------------------------------------------
# Top-k per group
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rn <= 3
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: broadcast the dim, rank inside
    each segment partition, keep rn <= 3.

    The scale point vs ``topk_customers`` (global TakeOrderedAndProject):
    per-GROUP top-k can't be a global limit; the window form shuffles
    once on the group key and each partition keeps a bounded buffer.
    Ties broken by o_orderkey so the ranking is total and
    engine-identical. rn cast to BIGINT (DuckDB row_number is BIGINT,
    Spark's is INT — the round-2 type lesson applied up front)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Bloom-style broadcast prefilter (semi-join reduction)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 8192


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT c_custkey, TRUE AS in_bloom
    FROM customer
    WHERE c_custkey IN
          (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast bit-set prefilter certified by its no-false-negative
    theorem (the same companion-gate pattern as ``dedup_minhash_recall``).

    Build side: distinct hash buckets ``xxhash64(key) mod 8192`` of the
    urgent orders' custkeys, collected into ONE array row and broadcast.
    Probe side: customers whose bucket hits the set are candidates —
    a map-side filter, no shuffle. The emitted rows are the EXACT
    semi-join matches (what the oracle computes) left-joined to the
    candidate set: a bloom filter admits false positives but never false
    negatives, so every row must carry ``in_bloom = TRUE``; a FALSE
    would flip the driver hash. Deterministic: xxhash64 with a fixed
    integer seed is partition-layout-independent.

    At 100 TB the same shape is Spark's runtime bloom pushdown
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on in
    session.py): the probe-side scan drops rows pre-shuffle. The pytest
    twin additionally measures the false-positive pressure the gate
    tolerates (candidates between exact matches and table size)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    bits = urgent.agg(
        F.collect_set(
            F.pmod(F.xxhash64("o_custkey"), F.lit(_BLOOM_BITS))
        ).alias("bits")
    )
    cand = (
        c.crossJoin(F.broadcast(bits))
        .where(
            F.array_contains(
                "bits", F.pmod(F.xxhash64("c_custkey"), F.lit(_BLOOM_BITS))
            )
        )
        .select("c_custkey", F.lit(True).alias("in_bloom"))
    )
    exact = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey"
    )
    return exact.join(cand, "c_custkey", "left").select(
        "c_custkey", F.coalesce("in_bloom", F.lit(False)).alias("in_bloom")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span fraction
# ---------------------------------------------------------------------------


@query(
    "text_dup_span_fraction",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 4, 0))) AS u(i)
    ),
    df AS (SELECT gram, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram)
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(*) FILTER (WHERE d.ndocs >= 2) AS n_dup_grams,
           count(*) FILTER (WHERE d.ndocs >= 2) * 1.0 / count(*) AS dup_frac
    FROM grams g JOIN df d USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_text_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 5-gram shingles shared with ANY other
    document — the cross-corpus repetition quality signal (high fraction
    = boilerplate / near-dup material worth down-weighting before
    training).

    Plan: tokenize once (materialized token array, see
    ngrams_of_tokens' inlining gotcha), explode distinct (doc, gram)
    pairs, ONE shuffle on gram to count document frequency, ONE shuffle
    back on doc_id for the per-doc ratio. Same tokenizer and gram
    construction as dedup_ngram_jaccard, so the inverted index is
    shareable between the two passes in a real pipeline. The ratio of
    two exact BIGINTs divides identically in both engines."""
    return dup_span_fraction(load_table(spark, sf_dir, "documents"), n=5)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key + locality proof
# ---------------------------------------------------------------------------


def _interleave_expr(x: str, y: str, shl: str, shr: str) -> str:
    """Bit-interleave expression for two 8-bit values, engine-spelled.

    ``shl``/``shr`` are format templates (Spark: shiftleft/shiftright
    functions; DuckDB: << / >> operators). The 16 single-bit terms have
    disjoint target bits, so they combine with | — no addition, no ANSI
    overflow surface."""
    terms = []
    for i in range(8):
        xbit = f"({shr.format(v=x, n=i)} & 1)"
        ybit = f"({shr.format(v=y, n=i)} & 1)"
        terms.append(shl.format(v=xbit, n=2 * i))
        terms.append(shl.format(v=ybit, n=2 * i + 1))
    return "(" + " | ".join(terms) + ")"


_SPARK_Z = _interleave_expr(
    "(l_partkey & 255)", "(l_suppkey & 255)", "shiftleft({v}, {n})", "shiftright({v}, {n})"
)
_DUCK_Z = _interleave_expr(
    "(l_partkey & 255)", "(l_suppkey & 255)", "({v} << {n})", "({v} >> {n})"
)


@query(
    "layout_zorder_locality",
    oracle=f"""
    WITH keyed AS (
      SELECT {_DUCK_Z} AS zkey,
             (l_partkey & 255) AS zx,
             (l_suppkey & 255) AS zy
      FROM lineitem
    )
    SELECT (zkey >> 6) AS ztile,
           count(*) AS n_rows,
           count(DISTINCT zkey) AS n_cells,
           (min(zx) >> 3) AS x_block,
           (min(zy) >> 3) AS y_block,
           count(DISTINCT (zx >> 3)) AS n_xblocks,
           count(DISTINCT (zy >> 3)) AS n_yblocks
    FROM keyed
    GROUP BY 1
    """,
)
def q_layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over the (partkey, suppkey) join dims, with
    the locality theorem emitted as data: every 64-cell Z-tile
    (``zkey >> 6``) covers exactly ONE 8x8 block of the 2-D grid, so
    ``n_xblocks = n_yblocks = 1`` on every row — any interleave bug
    flips those counts and the driver hash.

    Why it matters at 100 TB: writing the fact table sorted by ``zkey``
    clusters BOTH dims simultaneously, so parquet row-group min/max
    stats prune selective predicates on either key (a single-column sort
    only prunes one). The key is pure bitwise column arithmetic —
    whole-stage-codegen'd, no UDF; the oracle re-derives the identical
    bits with DuckDB's operator spellings."""
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.selectExpr(
        f"{_SPARK_Z} AS zkey",
        "(l_partkey & 255) AS zx",
        "(l_suppkey & 255) AS zy",
    )
    return keyed.selectExpr(
        "shiftright(zkey, 6) AS ztile", "zkey", "zx", "zy"
    ).groupBy("ztile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("zkey").alias("n_cells"),
        F.expr("shiftright(min(zx), 3)").alias("x_block"),
        F.expr("shiftright(min(zy), 3)").alias("y_block"),
        F.countDistinct(F.expr("shiftright(zx, 3)")).alias("n_xblocks"),
        F.countDistinct(F.expr("shiftright(zy, 3)")).alias("n_yblocks"),
    )


# ---------------------------------------------------------------------------
# Correlation / covariance from exact component sums
# ---------------------------------------------------------------------------

_CORR_COMPONENTS = """
      count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
      CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
      CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS syy,
      CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy
"""

_CORR_FINAL = """
      round((sxy - sx * sy / n) / n, 4) AS covar_pop,
      round((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr_qp
"""


@query(
    "agg_corr_covar",
    oracle=f"""
    WITH comp AS (
      SELECT l_returnflag,
      {_CORR_COMPONENTS}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n AS n_rows,
    {_CORR_FINAL}
    FROM comp
    """,
)
def q_agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation and population covariance of
    (quantity, extendedprice), assembled from exact decimal component
    sums in one pass.

    Spark's builtin ``corr``/``covar_pop`` stream doubles in partition
    order, so their low bits are layout-dependent — unusable under the
    driver's value hash (and drifty at 100 TB). Instead the five
    component sums accumulate exactly (quantities are integers, prices
    2-dp, products <= 4-dp — all within DECIMAL(25,6)), the identical
    exact totals cast to identical doubles on both engines, and the
    final expression tree evaluates bit-identically; round(4) matches
    the repo's transcendental convention. pytest cross-checks the
    builtin ``corr`` agrees to 1e-9 at sf0.001. The SHAPE is the same
    single-pass partial-agg as any sum — n, sx..sxy combine
    map-side; only 6 doubles per group cross the wire. spread=True:
    the 5 decimal component sums are real per-row CPU serialized on the
    fixture's one scan task (r11 A/B x5 reps: 2.35 -> 1.60 s median;
    size-guarded no-op on production multi-split files)."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)").alias("sx"),
        F.expr(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)"
        ).alias("syy"),
        F.expr(
            "CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)"
        ).alias("sxy"),
    )
    return comp.selectExpr(
        "l_returnflag",
        "n AS n_rows",
        "round((sxy - sx * sy / n) / n, 4) AS covar_pop",
        "round((n * sxy - sx * sy)"
        " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr_qp",
    )


# ---------------------------------------------------------------------------
# Market-basket pair affinity (co-purchase lift)
# ---------------------------------------------------------------------------


@query(
    "market_basket_lift",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    pc AS MATERIALIZED (SELECT l_partkey, count(*) AS n_part FROM items GROUP BY l_partkey),
    -- MATERIALIZED throughout (round 8): beyond the re-execution rule,
    -- INLINED CTEs here collapse DuckDB's cardinality estimate to ~1
    -- (EC:0 parquet scans) and the join-order optimizer then plans the
    -- pc margin JOINs as CROSS_PRODUCT + FILTER — >20 min of 20-thread
    -- grinding at x64 vs 25 s materialized (hash joins restored).
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.n_pair,
           p.n_pair * 1.0 * n.n_orders / (ca.n_part * cb.n_part) AS lift
    FROM pairs p
    CROSS JOIN n
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    WHERE p.n_pair >= 2
    """,
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: for every part pair co-occurring in >= 2
    orders, the lift n_pair * N / (n_a * n_b) — the classic co-purchase
    signal, and the relational cousin of dedup_ngram_jaccard's
    inverted-index pair generation.

    Plan shape: ONE shuffle builds the per-order basket
    (``groupBy(l_orderkey).collect_set(l_partkey)`` — the partial sets
    double as the (order, part) dedup), then each basket expands into
    its a < b pairs (the set is sorted, so pairing each element with
    its successors is exactly the triangle) PLUS two singleton
    orientations per part and one per-order marker, so per-part counts
    and the order total ride the same explode and the whole query is a
    single lineage with ONE fact scan (the self-join formulation
    recomputed the distinct projection four times — ReusedExchange
    never fired). Pair blowup is bounded by the per-order item count k
    (~7 here): k(k-1)/2 rows per order, never quadratic in the table.
    The n_pair >= 2 support floor prunes the long tail BEFORE the
    margins attach (at 100 TB it's the difference between a report and
    a firehose). Margins attach by BROADCAST JOIN of the per-item
    support table sliced out of the localCheckpointed rollup (round-6
    de-allowlisting: the previous margin windows included a
    partitionBy(lit(1)) order-total window whose input grew with the
    floored pair report — the one SP_WINDOW_ALLOWLIST entry whose
    bound scaled with catalog size; the checkpoint truncates lineage
    so the four slices don't re-execute the explode, and the support
    table is items-with-suppport-sized, the natural broadcast dim).
    Lift is an exact integer ratio times 1.0 — bit-identical across
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = part_baskets(li).select(
        F.explode(
            F.expr(
                "concat("
                f" {list_pairs('ps', 'x AS part_a, y AS part_b')},"
                " transform(ps, x ->"
                "   struct(x AS part_a, CAST(NULL AS BIGINT) AS part_b)),"
                " transform(ps, x ->"
                "   struct(CAST(NULL AS BIGINT) AS part_a, x AS part_b)),"
                " array(struct(CAST(NULL AS BIGINT) AS part_a,"
                "              CAST(NULL AS BIGINT) AS part_b)))"
            )
        ).alias("pr")
    ).select("pr.part_a", "pr.part_b")
    counts = (
        rows.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        # Keep margin/marker rows; floor only the real pairs. The floor
        # runs BEFORE the margins attach so only the report survives.
        .where(
            F.col("part_a").isNull()
            | F.col("part_b").isNull()
            | (F.col("n_pair") >= 2)
        )
        # Report-sized (floored pairs + per-item margins + 1 marker).
        # The checkpoint lets the four slices below read materialized
        # blocks instead of re-running the explode per branch (the
        # graph_pagerank_step shared-lineage lesson).
        .localCheckpoint(eager=False)
    )
    pairs = counts.where(
        F.col("part_a").isNotNull() & F.col("part_b").isNotNull()
    )
    support = counts.where(
        F.col("part_a").isNotNull() & F.col("part_b").isNull()
    )
    n_orders = counts.where(
        F.col("part_a").isNull() & F.col("part_b").isNull()
    ).selectExpr("n_pair AS _no")
    # Same-lineage equi-join keys renamed apart (CLAUDE.md gotcha):
    # every branch descends from the one checkpointed rollup.
    sup_a = support.selectExpr("part_a AS _ka", "n_pair AS _na")
    sup_b = support.selectExpr("part_a AS _kb", "n_pair AS _nb")
    return (
        pairs.join(F.broadcast(sup_a), F.col("part_a") == F.col("_ka"))
        .join(F.broadcast(sup_b), F.col("part_b") == F.col("_kb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            (
                F.col("n_pair") * F.lit(1.0) * F.col("_no")
                / (F.col("_na") * F.col("_nb"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Z-score outlier detection
# ---------------------------------------------------------------------------


@query(
    "events_value_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sv,
             CAST(sum(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE) AS svv
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.sv / s.n)
                 / sqrt(s.svv / s.n - (s.sv / s.n) * (s.sv / s.n)), 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.sv / s.n)
              / sqrt(s.svv / s.n - (s.sv / s.n) * (s.sv / s.n))) > 3
    """,
)
def q_events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging: two-pass exact stats (the
    agg_corr_covar decimal-component discipline — mean and population
    variance assembled from exact DECIMAL sums cast to double, so both
    engines see bit-identical stats and the |z| > 3 cut cannot straddle
    an engine difference even at the knife edge), then a broadcast join
    of the 5-row stats table back onto the scan.

    The 100 TB view: pass 1 is a map-side partial agg to 5 rows; pass 2
    re-scans with the stats broadcast — no shuffle of event rows at
    all. The alternative single-pass window(event_type) would shuffle
    the full log to compute the same 5 numbers."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(25,6)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(25,6)")).cast("double").alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    std = F.sqrt(F.col("svv") / F.col("n") - mean * mean)
    z = (F.col("value") - mean) / std
    return (
        ev.join(F.broadcast(s), "event_type")
        .where(F.abs(z) > 3)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# PageRank power-iteration kernel over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "graph_pagerank_step",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    wd AS (
      SELECT src, dst,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg_src
      FROM edges
    ),
    pn AS (
      SELECT dst AS part, CAST(count(*) AS BIGINT) AS degree,
             round(sum(1.0 / deg_src), 4) AS contrib
      FROM wd GROUP BY dst
    )
    SELECT part, degree, contrib,
           (0.15 + 0.85 * contrib) / CAST(count(*) OVER () AS BIGINT) AS pagerank
    FROM pn
    """,
)
def q_graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration (d = 0.85, uniform init) over the
    part co-purchase graph — the iterative-graph kernel beyond
    dedup_clusters_cc's connected components: with pr0(u) = 1/N,
    pr1(v) = (1/N) * (0.15 + 0.85 * sum_{u->v} 1/outdeg(u)), so the
    oracle checks the exact relational body of the loop (the fixpoint
    just repeats this step; operators/graph.py's checkpoint discipline
    applies unchanged).

    Plan: the edge list is ``operators/graph.copurchase_edges`` —
    ONE lineitem shuffle builds per-order part sets, u < v pairs
    explode in-set (bounded k(k-1)/2 per order), a support-2 floor
    prunes noise edges and the survivors are mirrored to src -> dst. Out-degrees ride a window over the edge list keyed by
    src (the same exchange the dst rollup needs anyway repartitions
    it), so the whole query is a single lineage with one fact scan.
    Round 5: the node count is a bounded 1-scalar pull over the
    localCheckpoint'ed node table (the codebook-collect pattern) —
    round 3 had measured that a naive broadcast-count crossJoin re-runs
    the WHOLE basket/edge pipeline (2 lineitem scans, ReusedExchange 0
    under AQE) and kept a count() OVER () window instead; the
    checkpoint keeps the single materialization AND drops the
    Exchange SinglePartition that window forced on the (unbounded at
    catalog scale) node table. Determinism: degrees
    are exact BIGINTs; only the 1/deg fold is order-sensitive in the
    last ulp and contrib rounds at 4 dp; pagerank then derives from
    identical doubles on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, directed=True)
    wd = edges.withColumn(
        "deg_src", F.count(F.lit(1)).over(Window.partitionBy("src")).cast("bigint")
    )
    pn = (
        wd.groupBy(F.col("dst").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.round(F.sum(F.lit(1.0) / F.col("deg_src")), 4).alias("contrib"),
        )
        .localCheckpoint(eager=False)
    )
    n_nodes = pn.count()  # bounded: ONE scalar off the checkpointed rollup
    return pn.selectExpr(
        "part",
        "degree",
        "contrib",
        f"(0.15 + 0.85 * contrib) / CAST({n_nodes} AS BIGINT) AS pagerank",
    )


# ---------------------------------------------------------------------------
# PageRank to CONVERGENCE (round-7: multi-step certification)
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12  # pr mass in exact integer "micro" units (1.0 == SCALE)
_PR_ITERS = 4


def _pagerank_oracle(k: int) -> str:
    """Unrolled-CTE DuckDB twin of k power iterations. Every iteration
    is pure BIGINT arithmetic (// floors, operands non-negative, so it
    matches Spark's DIV truncation) — no float ever crosses an
    iteration boundary, which is what makes a MULTI-step oracle
    possible at all: a double fold's last-ulp error would compound
    per step and diverge between engines."""
    head = f"""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    ew AS MATERIALIZED (
      SELECT src, dst,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg_src
      FROM edges
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src FROM edges),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    pr0 AS MATERIALIZED (
      SELECT src AS part, CAST({_PR_SCALE} // n AS BIGINT) AS pr
      FROM nodes CROSS JOIN nn
    )"""
    steps = "".join(
        f""",
    pr{t} AS MATERIALIZED (
      SELECT e.dst AS part,
             CAST({15 * _PR_SCALE} // (100 * nn.n)
                  + (85 * CAST(sum(p.pr // e.deg_src) AS BIGINT)) // 100
                  AS BIGINT) AS pr
      FROM ew e JOIN pr{t - 1} p ON p.part = e.src CROSS JOIN nn
      GROUP BY e.dst, nn.n
    )"""
        for t in range(1, k + 1)
    )
    tail = f"""
    SELECT a.part, b.pr AS pr_prev_micro, a.pr AS pr_micro,
           CAST(a.pr - b.pr AS BIGINT) AS delta_micro
    FROM pr{k} a JOIN pr{k - 1} b USING (part)"""
    return head + steps + tail


def _pagerank_iters(spark: SparkSession, sf_dir: str, k: int):
    """Run k integer power iterations; return (pr_k, pr_{k-1}).

    Loop discipline (the 100-TB iteration driver): the edge table with
    out-degrees is localCheckpoint-materialized ONCE; each iteration is
    exactly one src-keyed join plus one dst-keyed rollup, then a
    localCheckpoint that CUTS the lineage — so the executed plan of
    iteration t is identical in shape to iteration 1 regardless of t
    (no lineage growth, constant shuffle count; asserted by
    tests/test_plans.py::test_pagerank_constant_plan_per_iteration).
    On a real cluster the edges would be bucketed by src so the
    per-iteration join co-locates; here the checkpoint pins the same
    property at local[] scale."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, directed=True)
    ew = (
        edges.withColumn(
            "deg_src",
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("bigint"),
        )
        .select("src", "dst", "deg_src")
        .localCheckpoint(eager=False)
    )
    nodes = ew.select("src").distinct().localCheckpoint(eager=False)
    n_nodes = nodes.count()  # bounded scalar pull off the checkpointed rollup
    if n_nodes == 0:
        # empty graph (empty/degenerate input): no nodes, no iterations —
        # return the empty pr table rather than dividing by zero below
        empty = nodes.selectExpr("src AS part", "CAST(0 AS BIGINT) AS pr")
        return empty, empty
    base = (15 * _PR_SCALE) // (100 * n_nodes)
    pr = nodes.selectExpr(
        "src AS part", f"CAST({_PR_SCALE // n_nodes} AS BIGINT) AS pr"
    ).localCheckpoint(eager=False)
    prev = pr
    for _ in range(k):
        prev = pr
        pr = (
            ew.join(pr.withColumnRenamed("part", "src"), "src")
            .groupBy(F.col("dst").alias("part"))
            .agg(
                F.expr(
                    f"CAST({base} + (85 * sum(pr DIV deg_src)) DIV 100"
                    " AS BIGINT) AS pr"
                )
            )
            .localCheckpoint(eager=False)
        )
    return pr, prev


@query("graph_pagerank_converged", oracle=_pagerank_oracle(_PR_ITERS))
def q_graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run to (near-)convergence — k=4 full power iterations
    over the part co-purchase graph, certifying the LOOP, not one step
    (round-6 verdict ask #2: `graph_pagerank_step` oracles a single
    iteration; at 100x scale the iteration DRIVER — checkpoint cadence,
    per-iteration shuffle count, lineage growth — is where iterative
    kernels die, and it was untested beyond connected components).

    Exactness across iterations: pr mass lives in integer units of
    1e-12 (BIGINT); each step is pr'(v) = BASE + (85 * sum_{u->v}
    (pr(u) DIV deg(u))) DIV 100 with BASE = 15*SCALE DIV (100*N) — all
    non-negative integer division, where Spark's truncating DIV and
    DuckDB's flooring // agree (CLAUDE.md: never integer-divide a
    possibly-negative value). A float formulation could not be oracled
    multi-step: last-ulp fold error compounds per iteration. The
    truncation IS the algorithm on both engines, so the twin matches
    bit-for-bit at any k. The co-purchase graph is symmetric by
    construction (every surviving edge is mirrored with its weight),
    so every node has both in- and out-edges — no dangling-mass term.

    Output: per-node pr at k-1 and k plus the signed per-node delta —
    a real convergence certificate (deltas shrink ~0.85x/step; the
    driver hash covers all three columns). Reference: the loop surface
    the static MapReduce pipeline (server.go:95-229) cannot express;
    companion single-step query keeps the relational body oracled at
    finer grain."""
    pr, prev = _pagerank_iters(spark, sf_dir, _PR_ITERS)
    return (
        pr.withColumnRenamed("pr", "pr_micro")
        .join(prev.selectExpr("part", "pr AS pr_prev_micro"), "part")
        .selectExpr(
            "part",
            "pr_prev_micro",
            "pr_micro",
            "CAST(pr_micro - pr_prev_micro AS BIGINT) AS delta_micro",
        )
    )


# ---------------------------------------------------------------------------
# Triangle count / global clustering coefficient
# ---------------------------------------------------------------------------


@query(
    "graph_triangle_count",
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
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
           n_triangles,
           3.0 * n_triangles / (SELECT sum((d * (d - 1)) // 2) FROM deg)
             AS global_clustering
    FROM tri
    """,
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the part
    co-purchase graph — the third graph kernel (after connected
    components and the PageRank step) and the classic MapReduce graph
    benchmark.

    DEGREE-ORDERED orientation (Schank-Wagner compact-forward, the
    round-3 verdict's named scale path, now implemented): every
    undirected edge points from its lower-(degree, id) endpoint to the
    higher, so each triangle {a,b,c} taken in that total order carries
    oriented edges a->b, a->c, b->c and is found EXACTLY once by the
    wedge join on the source: (x->y) x (x->z) closed by (y->z). The
    point is the cost bound: per-source wedge work is outdeg(x)^2 and
    degree-ordering caps outdeg by O(sqrt(m)) (graph arboricity) — a
    20k-degree hub vertex emits ~0 wedges because every hub edge points
    INTO it, where id-canonical orientation would leave a mid-id hub
    doing in*out ~ (d/2)^2 pairs on one task (the measured hub soak is
    in SCALE.md round 4). The triangle COUNT is orientation-invariant,
    so the DuckDB oracle keeps the independent id-ordered two-hop
    formulation — two implementations, one number.

    Plan: the edge list (the same one-shuffle basket build as
    market_basket_lift / graph_pagerank_step) is ``localCheckpoint``ed
    ONCE and reused (degrees, orientation, n_edges); the DEGREE rollup
    is checkpointed too (node-count rows, read by wedges and all three
    orientation branches — ReusedExchange does not fire across branches
    under AQE, measured on the PageRank variant; see the inline note
    for why oriented itself is deliberately NOT checkpointed at
    fixture scale). Wedge count Σ d(d-1)/2 is exact BIGINT
    (integer division is exact: d(d-1) is even); the clustering
    coefficient is one BIGINT-ratio IEEE division, identical on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        # node-count rows, read by wedges AND three orientation
        # branches: checkpointing this tiny rollup caps the recompute
        # at one shuffle total, while checkpointing ORIENTED (edge-
        # count rows) costs more than the three broadcast-join
        # recomputes it saves at fixture scale (A/B warm: 1.9 s
        # oriented-ckpt vs 1.5 s deg-ckpt). At 100 TB, where the
        # orientation joins shuffle instead of broadcasting, add
        # .localCheckpoint(eager=False) on oriented too — depth of reuse beats
        # re-shuffling there.
        .localCheckpoint(eager=False)
    )
    wedges = deg.agg(
        # integer DIV keeps the whole fold in BIGINT (d*(d-1) is even,
        # so DIV 2 is exact): PySpark `/` on bigints is DOUBLE and
        # drifts past 2^53 — the round-4 review catch, and the oracle's
        # // 2 is the same integer arithmetic.
        F.expr("sum((d * (d - 1)) DIV 2)").cast("bigint").alias("n_wedges")
    )
    oriented = degree_orient(edges, deg)
    p = oriented.select(F.col("s"), F.col("t").alias("y"), F.col("dt").alias("dy"))
    q = oriented.select(F.col("s"), F.col("t").alias("z"), F.col("dt").alias("dz"))
    e3 = oriented.select(F.col("s").alias("y"), F.col("t").alias("z"))
    tri = (
        p.join(q, "s")
        # order-consistent wedges only (round-4 advice): e3 is oriented
        # (d_y, y) < (d_z, z), so the reversed half of the wedge pairs
        # could never close a triangle — emitting one ordering halves
        # the rows shuffled into the closing join.
        .where("dy < dz OR (dy = dz AND y < z)")
        .join(e3, ["y", "z"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
                "global_clustering"
            ),
        )
    )


@query(
    "agg_log2_histogram",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type,
           CAST(length(bin(cents)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM c GROUP BY 1, 2
    """,
)
def q_agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-scale (HdrHistogram-style) value histogram: per event type,
    counts in power-of-two buckets — the latency/heavy-tail profiling
    shape where agg_histogram_equiwidth's fixed-width bins collapse the
    tail into one bar. The bucket is the BINARY DIGIT LENGTH of the
    integer cents (floor(log2 x) + 1 for x >= 1), computed with NO
    logarithm: Spark ``length(conv(cents, 10, 2))`` == DuckDB
    ``length(bin(cents))`` exactly on nonnegative integers (verified
    incl. the 0 -> '0' edge), so the transcendental-ranking-key trap
    (CLAUDE.md) never arises. Buckets are mergeable across partitions,
    days, and incremental loads — it's a groupBy, not a sketch.

    The 100-TB shape: fully map-side-combinable single shuffle on
    (type, bucket); ~60 cells per type regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.selectExpr(
            "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy(
            "event_type",
            F.expr("CAST(length(conv(cents, 10, 2)) AS BIGINT)").alias("bucket"),
        )
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n"),
            F.expr("CAST(min(cents) AS BIGINT) AS min_cents"),
            F.expr("CAST(max(cents) AS BIGINT) AS max_cents"),
        )
    )


@query(
    "agg_histogram_quantile_gate",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), vals AS (
      SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, cents, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
                  AS BIGINT) AS cum_n,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM vals
    ), exact AS (
      SELECT event_type, max(n) AS n,
             CAST(min(CASE WHEN cum_n * 2 >= n THEN cents END) AS BIGINT)
               AS exact_p50,
             CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN cents END) AS BIGINT)
               AS exact_p90
      FROM cum GROUP BY event_type
    ), buckets AS (
      SELECT event_type,
             CAST(length(bin(cents)) AS BIGINT) AS bucket,
             CAST(sum(cnt) AS BIGINT) AS bcnt
      FROM vals GROUP BY 1, 2
    ), bcum AS (
      SELECT event_type, bucket, bcnt,
             CAST(sum(bcnt) OVER (PARTITION BY event_type ORDER BY bucket)
                  AS BIGINT) AS cum_n,
             CAST(sum(bcnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM buckets
    ), est AS (
      SELECT event_type,
             CAST(min(CASE WHEN cum_n * 2 >= n THEN bucket END) AS BIGINT)
               AS b50,
             CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN bucket END) AS BIGINT)
               AS b90
      FROM bcum GROUP BY event_type
    )
    SELECT e.event_type, e.n, e.exact_p50, e.exact_p90,
           CAST(1 << (b50 - 1) AS BIGINT) AS p50_lo,
           CAST((1 << b50) - 1 AS BIGINT) AS p50_hi,
           CAST(1 << (b90 - 1) AS BIGINT) AS p90_lo,
           CAST((1 << b90) - 1 AS BIGINT) AS p90_hi,
           e.exact_p50 BETWEEN (1 << (b50 - 1)) AND ((1 << b50) - 1)
             AS p50_in_bucket,
           e.exact_p90 BETWEEN (1 << (b90 - 1)) AND ((1 << b90) - 1)
             AS p90_in_bucket
    FROM exact e JOIN est USING (event_type)
    """,
)
def q_agg_histogram_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimation with a containment
    certificate — the DDSketch/HdrHistogram READ path on top of
    ``agg_log2_histogram``'s power-of-two buckets: the p50/p90
    estimate is the bucket range [2^(b-1), 2^b - 1] of the first
    bucket whose cumulative count reaches the rank, giving a certified
    factor-2 relative-error bound with NO logarithm and NO
    interpolation anywhere.

    Quantiles are DISCRETE order statistics picked by integer rank
    cross-multiplication (``cum * 2 >= n``, ``cum * 10 >= 9 * n`` —
    never a float fraction, which sidesteps the quantile_cont
    interpolation-ulp trap entirely; CLAUDE.md). The gate booleans
    certify the exact order statistic falls inside the estimated
    bucket — a theorem when both derive from the same counts, so any
    FALSE row is an implementation bug (bucketing, cumulation, or
    rank-rounding), the same certificate discipline as
    agg_countmin_gate's no-undercount row. The exact side doubles as
    the percentile_disc surface the engine otherwise lacks.

    The 100-TB shape: both paths are map-side-combinable rollups —
    the distinct-cents rollup (bounded by the value domain, not the
    row count) and the ~60-cell bucket rollup; all windows are
    partitioned by event_type. At scale you ship ONLY the mergeable
    bucket cells (this query's est path) and the factor-2 bound is
    the price of never touching rows — exactly the DDSketch
    contract."""
    ev = load_table(spark, sf_dir, "events")
    vals = (
        ev.selectExpr(
            "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "cents")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS cnt"))
    )
    cum = vals.selectExpr(
        "event_type",
        "cents",
        "cnt",
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)"
        " AS BIGINT) AS cum_n",
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n",
    )
    exact = cum.groupBy("event_type").agg(
        F.expr("max(n) AS n"),
        F.expr(
            "CAST(min(CASE WHEN cum_n * 2 >= n THEN cents END) AS BIGINT)"
            " AS exact_p50"
        ),
        F.expr(
            "CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN cents END) AS BIGINT)"
            " AS exact_p90"
        ),
    )
    buckets = vals.groupBy(
        "event_type",
        F.expr("CAST(length(conv(cents, 10, 2)) AS BIGINT)").alias("bucket"),
    ).agg(F.expr("CAST(sum(cnt) AS BIGINT) AS bcnt"))
    bcum = buckets.selectExpr(
        "event_type",
        "bucket",
        "CAST(sum(bcnt) OVER (PARTITION BY event_type ORDER BY bucket)"
        " AS BIGINT) AS cum_n",
        "CAST(sum(bcnt) OVER (PARTITION BY event_type) AS BIGINT) AS n",
    )
    est = bcum.groupBy("event_type").agg(
        F.expr(
            "CAST(min(CASE WHEN cum_n * 2 >= n THEN bucket END) AS BIGINT)"
            " AS b50"
        ),
        F.expr(
            "CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN bucket END) AS BIGINT)"
            " AS b90"
        ),
    )
    return exact.join(est, "event_type").selectExpr(
        "event_type",
        "n",
        "exact_p50",
        "exact_p90",
        "CAST(1 << (b50 - 1) AS BIGINT) AS p50_lo",
        "CAST((1 << b50) - 1 AS BIGINT) AS p50_hi",
        "CAST(1 << (b90 - 1) AS BIGINT) AS p90_lo",
        "CAST((1 << b90) - 1 AS BIGINT) AS p90_hi",
        "exact_p50 BETWEEN (1 << (b50 - 1)) AND ((1 << b50) - 1)"
        " AS p50_in_bucket",
        "exact_p90 BETWEEN (1 << (b90 - 1)) AND ((1 << b90) - 1)"
        " AS p90_in_bucket",
    )


# ---------------------------------------------------------------------------
# One label-propagation step (community detection kernel)
# ---------------------------------------------------------------------------


@query(
    "graph_label_prop_step",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    votes AS (
      SELECT e.dst, p.p_brand AS cand, CAST(sum(e.w) AS BIGINT) AS v
      FROM edges e JOIN part p ON e.src = p.p_partkey
      GROUP BY 1, 2
    ),
    win AS (
      SELECT dst, cand, v,
             row_number() OVER (PARTITION BY dst
                                ORDER BY v DESC, cand) AS rn
      FROM votes
    ),
    nl AS (
      SELECT w.dst, w.cand AS new_label, po.p_brand AS own
      FROM win w JOIN part po ON w.dst = po.p_partkey
      WHERE w.rn = 1
    )
    SELECT new_label, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN new_label = own THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM nl GROUP BY new_label
    """,
)
def q_graph_label_prop_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One label-propagation step (Raghavan et al. 2007) over the part
    co-purchase graph, seeded with brand labels: every node adopts the
    label with the highest edge-weighted vote among its neighbors —
    the community-detection kernel beyond dedup_clusters_cc's
    connected components (CC merges everything reachable; LP finds
    DENSE regions and is what you iterate for product-affinity
    communities). The full algorithm repeats this step to quasi-
    convergence under operators/graph.py's localCheckpoint discipline;
    one step is the SQL-oracle-checkable unit (the
    graph_pagerank_step / graph_kcore_peel pattern).

    Determinism: LP is notoriously order-dependent in its classic
    asynchronous form — this is the SYNCHRONOUS variant with an exact
    BIGINT vote and the (votes DESC, label ASC) total order, so the
    argmax is engine- and layout-independent, no coin flips.

    The 100-TB shape: the edge list reuses the basket pattern (one
    lineitem shuffle, in-basket pair explode bounded per order,
    support-2 floor) — measured 2.2x faster at sf0.1 than the oracle's
    items self-join, which pays the scan + distinct TWICE (AQE reuses
    no exchange across self-join branches, the graph_pagerank_step
    finding); brand seeds ride a broadcast of the part dim; votes are
    one map-side-combinable (dst, label) rollup; the argmax window
    hash-partitions by dst. Per step the shuffle carries one row per
    (node, distinct neighbor label) — bounded by edges, never
    quadratic. spread stays OFF: an early r11 A/B (3.57 -> 3.13 s)
    adopted spread=True here, but the full-bench re-measure in a later
    window showed it net-negative (in-suite 1.96 -> 2.45 s; interleaved
    x5 solo A/B 2.15 spread vs 1.87 default) — the round-robin exchange
    costs more than the scan parallelism buys once the basket rollup's
    own exchange rebalances, same as the checkpointed graph siblings."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    edges = copurchase_edges(li, directed=True)
    seeds = part.selectExpr("p_partkey AS sk", "p_brand AS cand")
    votes = (
        edges.join(F.broadcast(seeds), F.col("src") == F.col("sk"))
        .groupBy("dst", "cand")
        .agg(F.expr("CAST(sum(w) AS BIGINT) AS v"))
    )
    win = votes.selectExpr(
        "dst",
        "cand",
        "row_number() OVER (PARTITION BY dst ORDER BY v DESC, cand) AS rn",
    ).where("rn = 1")
    own = part.selectExpr("p_partkey AS ok_pk", "p_brand AS own")
    nl = win.join(F.broadcast(own), F.col("dst") == F.col("ok_pk")).selectExpr(
        "cand AS new_label", "own"
    )
    return nl.groupBy("new_label").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_nodes"),
        F.expr(
            "CAST(sum(CASE WHEN new_label = own THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_kept"
        ),
    )


# ---------------------------------------------------------------------------
# Semantic type inference (data-catalog column classification)
# ---------------------------------------------------------------------------


@query(
    "dq_semantic_type_infer",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_key,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_cust,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d_status,
             CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d_price,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d_prio
      FROM orders
    ),
    cols AS (
      SELECT 'o_orderkey' AS column_name, n, d_key AS n_distinct FROM agg
      UNION ALL
      SELECT 'o_custkey', n, d_cust FROM agg
      UNION ALL
      SELECT 'o_orderstatus', n, d_status FROM agg
      UNION ALL
      SELECT 'o_totalprice', n, d_price FROM agg
      UNION ALL
      SELECT 'o_orderpriority', n, d_prio FROM agg
    )
    SELECT column_name, n AS n_rows, n_distinct,
           CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE) AS distinct_ratio,
           CASE WHEN n_distinct = n THEN 'unique_id'
                WHEN n_distinct <= 25 THEN 'categorical'
                WHEN n_distinct * 10 >= n * 5 THEN 'high_cardinality'
                ELSE 'foreign_key_or_dimension' END AS inferred_type
    FROM cols
    """,
)
def q_dq_semantic_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic type inference — the data-catalog classifier that tags
    each column as unique id / categorical / high-cardinality value /
    foreign-key-like from its cardinality profile, the first pass every
    auto-profiling catalog (and every schema-matching pipeline) runs
    before suggesting keys, encodings, or join paths.

    One scan computes every distinct count (Catalyst expands the
    multi-distinct aggregate; each is map-side partially deduped), the
    5-row column table is stacked from the single aggregate row, and
    the decision rules are exact integer comparisons —
    ``n_distinct = n`` for key-ness, a 25-value categorical ceiling,
    and a cross-multiplied 50% ratio cut (never a float threshold on
    the knife edge). On the fixture this lands exactly where the schema
    says it should: orderkey → unique_id, status/priority →
    categorical, totalprice → high_cardinality, custkey →
    foreign_key_or_dimension.

    The 100-TB shape: the exact multi-distinct is the honest small-N
    form; at catalog scale each count swaps to approx_count_distinct
    or the mergeable HLL sketch (agg_hll_union_gate) with identical
    rule structure — cardinality-class decisions tolerate sketch error
    by construction (the classes are decades apart)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_key"),
        F.expr("CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_cust"),
        F.expr("CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d_status"),
        F.expr("CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d_price"),
        F.expr("CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d_prio"),
    )
    cols = agg.selectExpr(
        "n",
        "explode(array("
        " struct('o_orderkey' AS column_name, d_key AS n_distinct),"
        " struct('o_custkey' AS column_name, d_cust AS n_distinct),"
        " struct('o_orderstatus' AS column_name, d_status AS n_distinct),"
        " struct('o_totalprice' AS column_name, d_price AS n_distinct),"
        " struct('o_orderpriority' AS column_name, d_prio AS n_distinct)))"
        " AS c",
    ).selectExpr("c.column_name", "n", "c.n_distinct")
    return cols.selectExpr(
        "column_name",
        "n AS n_rows",
        "n_distinct",
        "CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE) AS distinct_ratio",
        "CASE WHEN n_distinct = n THEN 'unique_id'"
        " WHEN n_distinct <= 25 THEN 'categorical'"
        " WHEN n_distinct * 10 >= n * 5 THEN 'high_cardinality'"
        " ELSE 'foreign_key_or_dimension' END AS inferred_type",
    )


# ---------------------------------------------------------------------------
# k-hop reachability profile (bounded BFS over the co-purchase graph)
# ---------------------------------------------------------------------------


@query(
    "graph_khop_reach",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- MATERIALIZED chain (round 8): inlined, each hop references its
    -- predecessor twice (JOIN + UNION) and the final SELECT adds three
    -- scalar-subquery references -> edges re-executed ~20x and the twin
    -- spilled past the disk at x64 (the unrolled-pagerank CTE class).
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM edges WHERE src % 97 = 0),
    h1 AS MATERIALIZED (
      SELECT DISTINCT s.seed, e.dst AS node
      FROM seeds s JOIN edges e ON e.src = s.seed
    ),
    h2 AS MATERIALIZED (
      SELECT DISTINCT h1.seed, e.dst AS node
      FROM h1 JOIN edges e ON e.src = h1.node
      WHERE e.dst <> h1.seed
      UNION
      SELECT seed, node FROM h1
    ),
    h3 AS MATERIALIZED (
      SELECT DISTINCT h2.seed, e.dst AS node
      FROM h2 JOIN edges e ON e.src = h2.node
      WHERE e.dst <> h2.seed
      UNION
      SELECT seed, node FROM h2
    )
    SELECT s.seed,
           coalesce((SELECT CAST(count(*) AS BIGINT) FROM h1
                     WHERE h1.seed = s.seed), 0) AS n_reach_1,
           coalesce((SELECT CAST(count(*) AS BIGINT) FROM h2
                     WHERE h2.seed = s.seed), 0) AS n_reach_2,
           coalesce((SELECT CAST(count(*) AS BIGINT) FROM h3
                     WHERE h3.seed = s.seed), 0) AS n_reach_3
    FROM seeds s
    """,
)
def q_graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop reachability profile (bounded BFS): for a deterministic
    seed sample (part keys ≡ 0 mod 97 that appear as edge sources),
    the number of DISTINCT parts reachable within 1, 2, and 3 hops of
    the co-purchase graph — the neighborhood-growth curve behind
    recommendation-diversity and influence-radius analyses, and the
    bounded-depth form of graph traversal (the unbounded form is
    recursive_order_chain's WITH RECURSIVE surface; fixed k compiles
    to k plain self-joins, which Catalyst plans and AQE sizes like any
    join — the reason production k-hop queries prefer unrolling).

    Exactness: reachable sets are exact DISTINCT key sets (BFS
    frontier ∪ previous level each hop, seed excluded); counts are
    BIGINTs. No floats anywhere.

    The 100-TB shape: the edge list builds by basket explode — ONE
    order-keyed shuffle to collect each basket, u < v pairs emitted
    map-side from the sorted set, the (u, v) rollup, then both
    orientations mirrored on the survivors (``copurchase_edges``) —
    not by the items-table self-join, which re-executed the distinct
    projection on both branches and paid a join shuffle on top (the graph_label_prop_step round-5 finding; measured here
    ~3.4 s → ~2.1 s at sf0.1). Each hop then pre-aggregates the
    (seed, node) frontier to DISTINCT nodes carrying their seed set
    (collect_set), joins that compacted table against the edge list,
    and re-explodes — with overlapping neighborhoods the join probes
    |frontier nodes| rows instead of |seed × node| pairs, and the
    per-hop distinct dedups repeated paths so exponential blowup never
    materializes. Seed-set arrays are bounded by the seed panel
    (production posture: a fixed panel; here the mod-97 sample).
    Hub-degree capping (degree_orient / max_df) is the production
    hardening for power-law graphs."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        copurchase_edges(li, directed=True)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    seeds = edges.where("src % 97 = 0").selectExpr("src AS seed").distinct()
    h1 = (
        seeds.join(edges, F.col("seed") == F.col("src"))
        .selectExpr("seed", "dst AS node")
        .distinct()
        .localCheckpoint(eager=False)
    )

    def expand(front: DataFrame, ckpt: bool = True) -> DataFrame:
        nodes = front.groupBy("node").agg(F.collect_set("seed").alias("sds"))
        nxt = (
            nodes.join(edges, nodes["node"] == edges["src"])
            .select(F.explode("sds").alias("seed"), F.col("dst").alias("node"))
            .where(F.col("node") != F.col("seed"))
        )
        out = nxt.unionByName(front).distinct()
        # Checkpoint only levels consumed twice (next expand + counts);
        # the last level flows straight into the fused count rollup.
        return out.localCheckpoint(eager=False) if ckpt else out

    h2 = expand(h1)
    h3 = expand(h2, ckpt=False)

    # r11 optimization: the levels are NESTED (each expand unions its
    # input, so per seed h3 ⊇ h2 ⊇ h1) and every seed has >= 1 hop-1
    # neighbor BY CONSTRUCTION (a seed is a src drawn from the edge
    # list, so h1's seed set == seeds and the old LEFT joins' coalesce
    # arms were dead). Three per-level count rollups + three joins back
    # to seeds therefore collapse to ONE tagged union + ONE aggregation
    # — 3 Exchanges and 3 joins removed; at 100 TB that is two fewer
    # full passes over the frontier tables and no join at all.
    lv = (
        h1.selectExpr("seed", "1 AS lvl")
        .unionByName(h2.selectExpr("seed", "2 AS lvl"))
        .unionByName(h3.selectExpr("seed", "3 AS lvl"))
    )
    return lv.groupBy("seed").agg(
        F.expr("CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n_reach_1"),
        F.expr("CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n_reach_2"),
        F.expr("CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n_reach_3"),
    )


# ---------------------------------------------------------------------------
# Round-7 batch 57: per-hub local clustering coefficients
# ---------------------------------------------------------------------------


@query(
    "graph_local_clustering_hubs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
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
    hubs AS MATERIALIZED (
      SELECT node, d FROM deg ORDER BY d DESC, node LIMIT 20
    ),
    nbr AS MATERIALIZED (
      SELECT h.node AS hub, e.v AS x FROM hubs h JOIN edges e ON e.u = h.node
      UNION ALL
      SELECT h.node AS hub, e.u AS x FROM hubs h JOIN edges e ON e.v = h.node
    ),
    tri AS (
      SELECT a.hub, CAST(count(*) AS BIGINT) AS n_tri
      FROM nbr a JOIN nbr b ON a.hub = b.hub AND a.x < b.x
      JOIN edges e ON e.u = a.x AND e.v = b.x
      GROUP BY a.hub
    )
    SELECT h.node AS part, h.d AS degree,
           CAST(h.d * (h.d - 1) // 2 AS BIGINT) AS n_wedges,
           coalesce(t.n_tri, 0) AS n_triangles,
           CASE WHEN h.d >= 2
                THEN CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
                     / (h.d * (h.d - 1)) END AS local_clustering
    FROM hubs h LEFT JOIN tri t ON h.node = t.hub
    """,
)
def q_graph_local_clustering_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient for the 20 highest-degree hubs —
    the per-node counterpart of `graph_triangle_count`'s global
    coefficient, and the audit a graph team actually runs ('are our
    hubs brokers or cliques?'). Exactness: triangle and wedge counts
    are BIGINTs (d(d-1) is even so the //2 is exact), the coefficient
    is one correctly-rounded IEEE division, and the hub cut
    (d DESC, node) is a deterministic total order.

    The scale design is the CUT ITSELF: wedge enumeration is
    Θ(Σ d_h²) and only stays tractable because it runs over the 20
    audited hubs (TakeOrderedAndProject — never a global sort or an
    all-node wedge explosion; an all-node local coefficient at 100 TB
    is the degree-ordered global pipeline of graph_triangle_count
    instead). Neighbor lists of ONLY the hubs are materialized
    (20 x max-degree rows), their pair enumeration is one
    co-partitioned self-join, and the closing edge check is an
    equi-join against the edge table. LEFT JOIN keeps triangle-free
    hubs visible with a 0 count (the empty-group-universe rule).

    Reference: massimostanzione/distgrep worker.go:31-42 — scan, map,
    aggregate; the graph family's fourth kernel (CC, PageRank,
    global triangles, local clustering)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Edge build by basket explode (r11, ``copurchase_edges``): ONE
    # order-keyed shuffle to collect each basket, u<v pairs emitted
    # map-side from the sorted set, then the (u, v) rollup — not the
    # items-table self-join, which re-executes the distinct projection
    # on both branches and pays a join shuffle on top (the
    # graph_label_prop_step round-5 finding, applied here same as
    # graph_khop_reach/assortativity).
    # collect_set == DISTINCT per order, so the edge multiset is
    # identical to the old self-join's.
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    deg = (
        edges.selectExpr("u AS node")
        .unionByName(edges.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS d"))
    )
    hubs = deg.orderBy(F.desc("d"), "node").limit(20).localCheckpoint(eager=False)
    nbr = (
        edges.join(F.broadcast(hubs.selectExpr("node AS hub")),
                   F.col("u") == F.col("hub"))
        .selectExpr("hub", "v AS x")
        .unionByName(
            edges.join(F.broadcast(hubs.selectExpr("node AS hub")),
                       F.col("v") == F.col("hub"))
            .selectExpr("hub", "u AS x")
        )
        .localCheckpoint(eager=False)
    )
    na = nbr.selectExpr("hub", "x AS xa")
    nb = nbr.selectExpr("hub AS hub2", "x AS xb")
    tri = (
        na.join(nb, (F.col("hub") == F.col("hub2")) & (F.col("xa") < F.col("xb")))
        .join(edges, (F.col("xa") == F.col("u")) & (F.col("xb") == F.col("v")),
              "left_semi")
        .groupBy("hub")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_tri"))
    )
    return (
        hubs.join(tri, hubs.node == tri.hub, "left")
        .selectExpr(
            "node AS part",
            "d AS degree",
            "CAST(d * (d - 1) DIV 2 AS BIGINT) AS n_wedges",
            "coalesce(n_tri, CAST(0 AS BIGINT)) AS n_triangles",
            "CASE WHEN d >= 2 THEN CAST(2 * coalesce(n_tri, 0) AS DOUBLE)"
            " / (d * (d - 1)) END AS local_clustering",
        )
    )


@query(
    "graph_cc_star_converged",
    oracle="""
    SELECT o_orderkey,
           min(o_orderkey) OVER (PARTITION BY o_custkey) AS comp
    FROM orders
    """,
)
def q_graph_cc_star_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components TO CONVERGENCE via alternating large-star /
    small-star contraction (operators/graph.connected_components_star;
    Kiveris et al. SoCC'14) over the per-customer order-succession
    chains — each customer's orders linked in (o_orderdate, o_orderkey)
    sequence, so every component is one customer's chain and the
    verifiable ground truth is the windowed min(o_orderkey) per
    customer, which is exactly the SQL oracle.

    Why chains: they are the ADVERSARIAL shape for the existing
    min-label kernel (dedup_clusters_cc) — min-label needs diameter
    rounds, star contraction log(diameter) (pytest pins a 512-node path
    at <= 12 rounds vs min-label's 511; at a 10^6-node session chain
    that is the difference between 20 shuffles and 10^6). The operator
    VERIFIES its fixpoint (raises past max_iter) rather than trusting a
    round count, and the driver-hashed labels prove the contraction
    landed on the true component minima at every SF.

    The 100-TB view: two vertex-keyed shuffles per round, edge count
    non-increasing, localCheckpoint per round keeps the plan constant;
    rounds grow with log(chain length), not data volume. Reference:
    massimostanzione/distgrep has no graph operators (worker.go:24-43
    is grep-only); extension surface per SURVEY.md §2.2.
    """
    from distgrep_spark.operators.graph import connected_components_star

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chain = (
        orders.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("prev", F.lag("o_orderkey").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("o_orderkey").alias("dst"))
    )
    labels, _rounds = connected_components_star(
        orders.select(F.col("o_orderkey").alias("id")), chain
    )
    return labels.select(F.col("id").alias("o_orderkey"), "comp")


@query(
    "text_exact_substr_scrub",
    oracle=rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, i - 1 AS gp, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
        AS u(i)
    ),
    hot AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
      GROUP BY gram HAVING count(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.gp + k AS p0
      FROM grams g JOIN hot USING (gram),
        LATERAL unnest(generate_series(0, 2)) AS u(k)
    ),
    pos AS (
      SELECT doc_id, i - 1 AS p0, t[i] AS tok
      FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
    ),
    kept AS (
      SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.p0) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM pos p ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.p0 = c.p0
      GROUP BY p.doc_id
    )
    SELECT x.doc_id, coalesce(k.clean_text, '') AS clean_text,
           coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           CAST(len(x.t) AS BIGINT) - coalesce(k.n_kept, CAST(0 AS BIGINT))
             AS n_removed
    FROM toks x LEFT JOIN kept k ON x.doc_id = k.doc_id
    """,
)
def q_text_exact_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span scrubbing: delete every token
    covered by a trigram occurring in >= 2 distinct documents, emit the
    cleaned text + kept/removed counts (operators/text.py
    exact_substr_scrub — the action-taking sibling of
    text_dup_span_fraction's measurement). min_df=2 is the canonical
    cross-document rule, NOT a fixture constant — "appears in any other
    document" is scale-invariant where an absolute df cut is not (the
    round-5 absolute-literal lesson). Fully-scrubbed documents still
    emit clean_text='' through the LEFT join (the empty-group oracle
    universe lesson); measured non-vacuity at sf0.01: 92% of tokens
    removed, 8% kept, both classes present at every SF."""
    from distgrep_spark.operators.text import exact_substr_scrub

    return exact_substr_scrub(load_table(spark, sf_dir, "documents"))

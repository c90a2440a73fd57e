"""Round-5 batch 29: data-integration & serving kernels — time-weighted
aggregation, probabilistic record-linkage scoring, hybrid rank fusion,
cross-source quantile normalization, and incremental materialized-view
maintenance.

The 100-TB rationale per query:

- ``events_twap``: time-weighted average (TWAP) of an irregularly
  sampled metric — the piecewise-constant integral every market-data /
  telemetry pipeline needs and plain ``avg()`` silently gets wrong
  (sample-weighted, not time-weighted). Dwell intervals come from one
  ``lead`` window partitioned by ``user_id`` (hash-distributed — the
  entity-timeline shape, never a global sort); the integral is a
  map-side-combinable exact DECIMAL(38,0)/HUGEINT sum of
  ``milli_value × dwell_micros``, so the only shuffle after the window
  carries three numbers per event type.
- ``er_fellegi_sunter_score``: the probabilistic half of record linkage
  (Fellegi & Sunter 1969; Splink's engine) on the same synthetic
  directory as ``er_resolve_customers``: blocked candidate pairs are
  scored by summing per-field agreement/disagreement log-odds weights
  and banded into link / possible / non-link decisions. Weights are
  fixed integer milli-bit literals (log-odds are model constants, not
  data-derived floats), so the score — and therefore the decision
  bands — is exact BIGINT arithmetic on both engines.
- ``sim_rrf_fusion``: reciprocal-rank fusion (Cormack et al. 2009) of
  two retrieval arms — the standard hybrid-search combiner (in
  production: BM25 + dense vectors; here: the full-precision int8-grid
  L2 ranking fused with the compressed-domain PQ-ADC ranking, both
  fully DuckDB-oracled integer rankings). RRF contributions are
  ``1e6 DIV (60 + rank)`` — integer division on both engines, so the
  fused ranking carries a complete value oracle, which float-score
  fusion (weighted-sum hybrid) could never do.
- ``corpus_quantile_normalize``: cross-source quantile normalization
  (the batch-effect / score-calibration transform): each document's
  value is replaced by the pooled corpus value at the equivalent rank.
  The within-source rank maps to a pooled rank by EXACT integer
  cross-multiplication ``t = ((2r-1)·N) DIV (2·n_s) + 1`` — no float
  percentile, no interpolation — and the pooled-side global rank runs
  through ``operators/distrank.py`` (bucketed windows + driver-folded
  offsets), so nothing funnels through one task as the pool grows.
- ``mv_incremental_maintain``: incremental materialized-view
  maintenance — merge a base aggregate snapshot with a delta batch's
  partial aggregates (count/sum are additive, max is idempotent-
  monotone) and CERTIFY the merged view equals the full recompute via
  a full-outer reconciliation that must report zero mismatches. This
  is the batch twin of the streaming foreachBatch-merge path and the
  algebraic property (commutative-monoid partial aggs) that makes
  incremental ETL sound at 100 TB: the delta scan is the only work
  that scales with new data.

No reference counterpart (the reference's only query is grep,
worker.go:24-43); these extend the SURVEY §2.2 analytics /
LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import local_table
from distgrep_spark.operators.preference import match_matrix, mm_step
from distgrep_spark.operators.similarity import INT8_GRID, int_l2sq
from distgrep_spark.queries.analytics import _ER_RECS_SQL
from distgrep_spark.queries.registry import ORACLES, query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per event type
# ---------------------------------------------------------------------------


@query(
    "events_twap",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli
      FROM events
    ),
    d AS (
      SELECT event_type, milli,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
               AS dwell
      FROM base
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(CAST(sum(dwell) AS HUGEINT) AS DOUBLE) AS dwell_us,
           CAST(sum(CAST(milli AS HUGEINT) * dwell) AS DOUBLE)
             / CAST(CAST(sum(dwell) AS HUGEINT) AS DOUBLE) AS twap_milli
    FROM d WHERE dwell IS NOT NULL
    GROUP BY event_type HAVING sum(dwell) > 0
    """,
)
def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type: each event's
    value holds until the user's next event (piecewise-constant), so
    TWAP = Σ(value·dwell) / Σ(dwell) over the per-user timeline — the
    irregular-sampling average ``avg()`` gets wrong whenever sampling
    density correlates with level (it does: bursts oversample spikes).

    Exactness: epoch micros via the tz-free ``timestampdiff`` idiom
    (== DuckDB ``epoch_us``, CLAUDE.md), values quantized to milli
    units with ``floor(x+0.5)``, and the integral accumulated in
    DECIMAL(38,0)/HUGEINT (per-row products peak ~1e19 — past BIGINT at
    x16). One final correctly-rounded DOUBLE division.

    The 100-TB shape: the ``lead`` window partitions by ``user_id``
    (hash-distributed entity timelines, the sessionize_events shape);
    the aggregation is map-side combinable to |event_type| rows.
    Same-timestamp ties get dwell 0 under the (us, event_id) order, so
    their attribution is deterministic and value-free."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " AS us",
        "CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli",
    )
    d = base.selectExpr(
        "event_type",
        "milli",
        "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us"
        " AS dwell",
    ).where("dwell IS NOT NULL")
    agg = d.groupBy("event_type").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_intervals"),
        F.expr("sum(CAST(dwell AS DECIMAL(38,0))) AS den"),
        F.expr("sum(CAST(milli AS DECIMAL(38,0)) * dwell) AS num"),
    )
    return agg.where("den > 0").selectExpr(
        "event_type",
        "n_intervals",
        "CAST(den AS DOUBLE) AS dwell_us",
        "CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS twap_milli",
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record-linkage scoring
# ---------------------------------------------------------------------------

# Per-field agreement/disagreement weights in milli-bits (fixed model
# constants — in production, log2(m/u)·1000 from an EM fit; literals here
# so the score is pure BIGINT arithmetic on both engines).
_FS_W = {
    "mid": (9000, -1300),  # chars 7-12: broken by the substitution variant
    "len": (1000, -4000),  # length: broken by the deletion variant
    "tail": (6000, -2500),  # last 3 chars: survives BOTH corruption models
}
_FS_LINK = 8000
_FS_POSSIBLE = 0


def _fs_score_sql(a: str, b: str) -> str:
    """The FS score as one flat CASE sum — identical text on both engines."""
    wm_a, wm_d = _FS_W["mid"]
    wl_a, wl_d = _FS_W["len"]
    wt_a, wt_d = _FS_W["tail"]
    return (
        f"CAST((CASE WHEN substr({a}, 7, 6) = substr({b}, 7, 6)"
        f" THEN {wm_a} ELSE {wm_d} END)"
        f" + (CASE WHEN length({a}) = length({b})"
        f" THEN {wl_a} ELSE {wl_d} END)"
        f" + (CASE WHEN right({a}, 3) = right({b}, 3)"
        f" THEN {wt_a} ELSE {wt_d} END) AS BIGINT)"
    )


@query(
    "er_fellegi_sunter_score",
    oracle=f"""
    WITH recs AS ({_ER_RECS_SQL.format(str_t="VARCHAR", customer="customer")}),
    b AS (SELECT rec_id, name, substr(name, 1, 6) AS blk FROM recs),
    pairs AS (
      SELECT {_fs_score_sql("a.name", "b2.name")} AS score
      FROM b a JOIN b b2 ON a.blk = b2.blk AND a.rec_id < b2.rec_id
    ),
    banded AS (
      SELECT CASE WHEN score >= {_FS_LINK} THEN 'link'
                  WHEN score >= {_FS_POSSIBLE} THEN 'possible'
                  ELSE 'non_link' END AS decision, score
      FROM pairs
    )
    SELECT decision, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM banded GROUP BY decision
    """,
)
def q_er_fellegi_sunter_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic match scoring (the decision-theoretic
    half of record linkage; er_resolve_customers is the clustering half):
    blocked candidate pairs are scored by summing per-field agreement /
    disagreement log-odds weights, then banded by the two FS thresholds
    into link / possible (clerical review) / non-link.

    Fields on the synthetic directory (``_ER_RECS_SQL``, analytics.py):
    mid chars 7-12 (the substitution variant corrupts position 9),
    length (the deletion variant drops one char), and the 3-char tail
    (survives both corruption models — deletion shifts but the tail is
    drawn from the same suffix). The bands then land exactly where FS
    theory says: deletion variants score 11000 (link), substitution
    variants 5700 (possible — one strong field lost), random block
    collisions -2800 (non-link). Weights are integer milli-bit literals,
    so scores and decisions are exact BIGINTs on both engines — no
    float log-odds knife edge.

    The 100-TB shape: identical to er_resolve_customers — candidates
    come from the block-key equi-join (hash shuffle), scoring is a flat
    codegen'd CASE sum per pair, and the rollup is map-side combinable
    to three rows. Block-size capping (max_df) is the production
    hardening for hub blocks. Reference: worker.go:31-42's predicate +
    combine shape applied to pair classification."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    recs = spark.sql(
        _ER_RECS_SQL.format(str_t="STRING", customer="customer")
    )
    # b feeds BOTH sides of the block equi-join (same-lineage self-join
    # family): un-checkpointed, the record-variant generation executed
    # twice (round-11 audit: 6 scans -> 0).
    b = recs.selectExpr(
        "rec_id", "name", "substr(name, 1, 6) AS blk"
    ).localCheckpoint(eager=False)
    left = b.selectExpr("rec_id AS ra", "name AS na", "blk")
    right = b.selectExpr("rec_id AS rb", "name AS nb", "blk")
    pairs = (
        left.join(right, "blk")
        .where(F.col("ra") < F.col("rb"))
        .selectExpr(f"{_fs_score_sql('na', 'nb')} AS score")
    )
    banded = pairs.selectExpr(
        f"CASE WHEN score >= {_FS_LINK} THEN 'link'"
        f" WHEN score >= {_FS_POSSIBLE} THEN 'possible'"
        f" ELSE 'non_link' END AS decision",
        "score",
    )
    return banded.groupBy("decision").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_pairs"),
        F.expr("CAST(min(score) AS BIGINT) AS min_score"),
        F.expr("CAST(max(score) AS BIGINT) AS max_score"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two integer-exact retrieval arms
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)

_GRID_SQL = (
    "list_transform(embedding, v -> CAST(greatest(-127.0, least(127.0,"
    " floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))"
)


@query(
    "sim_rrf_fusion",
    oracle=None,  # composed at import below (needs sim_ann_pq_adc's oracle)
)
def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval arms — the hybrid-search
    combiner (RRF, Cormack et al. 2009; what OpenSearch/Vespa use to
    merge BM25 with dense retrieval). Arm 1: exact L2 top-10 on the
    int8 grid (full precision). Arm 2: the PQ asymmetric-distance
    top-10 (compressed domain, sim_ann_pq_adc reused verbatim). Fused
    score = Σ 1e6 DIV (60 + rank) over the arms that returned the
    candidate; missing-from-arm contributes 0 — RRF's robustness comes
    precisely from ignoring the arms' incomparable score scales and
    using only ranks.

    Exactness: both arm rankings are pure integer distances with
    (dist, vec_id) tie-breaks, and the RRF contribution is integer
    division — so unlike weighted-sum score fusion, the ENTIRE fused
    ranking carries a DuckDB value oracle (composed from the ADC arm's
    own oracle as a CTE).

    The 100-TB shape: each arm is already bounded (broadcast query set,
    per-query top-k via partitioned row_number → TakeOrdered at scale);
    fusion joins two k-row-per-query lists on (query, candidate) — a
    shuffle of 2·k·Q id rows, independent of corpus size. The arms
    disagree enough to matter here (ADC's nprobe/quantization price,
    see sim_ann_ivfpq), which is exactly when RRF's rank blending
    beats either arm alone."""
    from distgrep_spark.queries.analytics import q_sim_ann_pq_adc

    emb = load_table(spark, sf_dir, "embeddings")
    q8 = emb.selectExpr("vec_id", f"{INT8_GRID} AS qv")
    qs = q8.where(F.col("vec_id") < 5).selectExpr(
        "vec_id AS query_id", "qv AS qqv"
    )
    scored = (
        q8.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id",
            f"{int_l2sq('qv', 'qqv')} AS dist",
        )
    )
    arm_l2 = (
        scored.selectExpr(
            "query_id",
            "vec_id",
            "row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id)"
            " AS r",
        )
        .where("r <= 10")
        .selectExpr("query_id AS qa", "vec_id AS va", "r AS ra")
    )
    arm_adc = q_sim_ann_pq_adc(spark, sf_dir).selectExpr(
        "query_id AS qb", "vec_id AS vb", "rank AS rb"
    )
    fused = (
        arm_l2.join(
            arm_adc,
            (F.col("qa") == F.col("qb")) & (F.col("va") == F.col("vb")),
            "full_outer",
        )
        .selectExpr(
            "coalesce(qa, qb) AS query_id",
            "coalesce(va, vb) AS vec_id",
            f"coalesce(CAST(1000000 AS BIGINT) DIV ({_RRF_K} + ra), 0)"
            f" + coalesce(CAST(1000000 AS BIGINT) DIV ({_RRF_K} + rb), 0)"
            " AS rrf_score",
        )
    )
    return (
        fused.selectExpr(
            "query_id",
            "vec_id",
            "rrf_score",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY rrf_score DESC, vec_id) AS fused_rank",
        )
        .where("fused_rank <= 10")
    )


# The fused oracle reuses the ADC arm's registered oracle as a CTE so the
# two stay in lockstep (queries/__init__.py imports analytics first).
ORACLES["sim_rrf_fusion"] = f"""
    WITH adc AS ({ORACLES["sim_ann_pq_adc"]}),
    q8 AS (SELECT vec_id, {_GRID_SQL} AS qv FROM embeddings),
    l2 AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             CAST(list_sum(list_transform(list_zip(c.qv, q.qv),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM q8 c JOIN q8 q ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    arm_l2 AS (
      SELECT query_id, vec_id, r FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, vec_id) AS r
        FROM l2
      ) WHERE r <= 10
    ),
    fused AS (
      SELECT coalesce(a.query_id, b.query_id) AS query_id,
             coalesce(a.vec_id, b.vec_id) AS vec_id,
             coalesce(CAST(1000000 AS BIGINT) // ({_RRF_K} + a.r), 0)
               + coalesce(CAST(1000000 AS BIGINT) // ({_RRF_K} + b.rank), 0)
               AS rrf_score
      FROM arm_l2 a FULL JOIN adc b
        ON a.query_id = b.query_id AND a.vec_id = b.vec_id
    )
    SELECT query_id, vec_id, rrf_score, fused_rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, vec_id)
               AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
"""


# ---------------------------------------------------------------------------
# Cross-source quantile normalization
# ---------------------------------------------------------------------------


@query(
    "corpus_quantile_normalize",
    oracle="""
    WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
               FROM documents),
    nn AS (SELECT count(*) AS n FROM d),
    s AS (
      SELECT doc_id, source, v,
             row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns
      FROM d
    ),
    p AS (
      SELECT v AS pooled_val,
             row_number() OVER (ORDER BY v, doc_id) AS t
      FROM d
    ),
    m AS (
      SELECT s.source, s.v, p.pooled_val
      FROM s CROSS JOIN nn
      JOIN p ON p.t = ((2 * s.r - 1) * nn.n) // (2 * s.ns) + 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(abs(pooled_val - v)) AS BIGINT) AS total_shift,
           CAST(min(pooled_val) AS BIGINT) AS min_norm,
           CAST(max(pooled_val) AS BIGINT) AS max_norm,
           CAST(CAST(sum(pooled_val) AS HUGEINT) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mean_norm
    FROM m GROUP BY source
    """,
)
def q_corpus_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization — replace each document's
    value (n_chars as the stand-in quality score) with the POOLED
    corpus value at the equivalent rank, so every source ends up with
    the same marginal distribution (the batch-effect correction from
    genomics, and the score-calibration step before cross-source
    thresholding in corpus curation).

    Exactness: the within-source midrank maps to a pooled rank by
    integer cross-multiplication ``t = ((2r-1)·N) DIV (2·n_s) + 1`` —
    never a float percentile, never interpolation — and the pooled
    rank itself is exact, so the normalized value is a real corpus
    value picked deterministically (ties broken by doc_id on both
    sides). The audit output re-aggregates in exact BIGINTs.

    The 100-TB shape: the pooled-side global rank — the term that grows
    with the corpus — runs through ``operators/distrank.py`` (bucketed
    hash-partitioned windows + driver-folded offsets; no Exchange
    SinglePartition). The rank→value mapping is then an equi-join on
    the pooled rank, hash-distributed. The within-source rank windows
    hash-partition by source; a source that alone outgrows a task gets
    the same distrank treatment keyed per source (boundaries from
    approx_percentile grouped by source) — the machinery is
    composition-ready, the shipped plan shows the pooled side."""
    from distgrep_spark.operators.distrank import rank_buckets

    docs = (
        load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "source", "CAST(n_chars AS BIGINT) AS v")
        .localCheckpoint(eager=False)
    )
    db, offs, tot = rank_buckets(docs, {"bk": "v"}, {"cnt": ("sum", "1")})
    pooled = db.selectExpr(
        "v AS pooled_val",
        f"{offs['bk', 'cnt']} + row_number() OVER"
        " (PARTITION BY bk ORDER BY v, doc_id) AS t",
    )
    src = docs.selectExpr(
        "source",
        "v",
        "row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r",
        "count(*) OVER (PARTITION BY source) AS ns",
    )
    tgt = src.selectExpr(
        "source",
        "v",
        f"((2 * r - 1) * CAST({tot['cnt']} AS BIGINT)) DIV (2 * ns) + 1 AS t",
    )
    m = tgt.join(pooled, "t")
    return m.groupBy("source").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(abs(pooled_val - v)) AS BIGINT) AS total_shift"),
        F.expr("CAST(min(pooled_val) AS BIGINT) AS min_norm"),
        F.expr("CAST(max(pooled_val) AS BIGINT) AS max_norm"),
        F.expr(
            "CAST(sum(pooled_val) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
            " AS mean_norm"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance with recompute certificate
# ---------------------------------------------------------------------------

_MV_CUTOFF = "1998-01-01"


@query(
    "mv_incremental_maintain",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d
      FROM orders
    ),
    mb AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cents) AS BIGINT) AS cents, max(d) AS last_d
      FROM o WHERE o_orderdate < TIMESTAMP '{_MV_CUTOFF}' GROUP BY o_custkey
    ),
    md AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cents) AS BIGINT) AS cents, max(d) AS last_d
      FROM o WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}' GROUP BY o_custkey
    ),
    merged AS (
      SELECT coalesce(mb.o_custkey, md.o_custkey) AS k,
             coalesce(mb.cnt, 0) + coalesce(md.cnt, 0) AS cnt,
             coalesce(mb.cents, 0) + coalesce(md.cents, 0) AS cents,
             greatest(coalesce(mb.last_d, -1), coalesce(md.last_d, -1))
               AS last_d
      FROM mb FULL JOIN md ON mb.o_custkey = md.o_custkey
    ),
    fullv AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cents) AS BIGINT) AS cents, max(d) AS last_d
      FROM o GROUP BY o_custkey
    ),
    audit AS (
      SELECT m.k,
             CASE WHEN f.k IS NULL OR m.cnt <> f.cnt OR m.cents <> f.cents
                       OR m.last_d <> f.last_d
                  THEN 1 ELSE 0 END AS mismatch,
             m.cnt, m.cents, m.last_d
      FROM merged m FULL JOIN fullv f ON m.k = f.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(mismatch) AS BIGINT) AS n_mismatch,
           CAST(sum(cnt) AS BIGINT) AS total_orders,
           CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE) AS total_cents,
           CAST(max(last_d) AS BIGINT) AS max_last_day
    FROM audit
    """,
)
def q_mv_incremental_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-customer order
    summary (count / cents / last-order day) maintained by merging the
    pre-cutoff base snapshot with the post-cutoff delta batch's partial
    aggregates — count and sum are additive, max is monotone, so the
    merge is pure per-key arithmetic on two bounded aggregate tables,
    never a re-scan of history. A full-outer reconciliation against the
    full recompute CERTIFIES the merge (n_mismatch must be 0) — the
    algebraic-soundness check you run once per pipeline change, while
    production runs only base ⊕ delta.

    This is the batch statement of the commutative-monoid property that
    Spark's own partial aggregation (worker.go:31-42's combine in the
    reference; HashAggregate partial/final here) relies on within one
    query — lifted across BATCHES, it is exactly why foreachBatch MERGE
    / streaming state updates are sound. At 100 TB: the base snapshot
    is a per-key table read once, the delta scan is bounded by new
    data, both sides hash-partition on the key, and AVG-class views
    store (sum, count) pairs — never the ratio — to stay mergeable.

    Exactness: money in integer cents, dates as epoch-day integers, the
    one DOUBLE output cast from an exact DECIMAL(38,0)/HUGEINT total."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderdate",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
    )
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.expr("CAST(count(*) AS BIGINT) AS cnt"),
            F.expr("CAST(sum(cents) AS BIGINT) AS cents"),
            F.expr("max(d) AS last_d"),
        )

    mb = _agg(o.where(F.col("o_orderdate") < cutoff)).selectExpr(
        "o_custkey AS kb", "cnt AS cnt_b", "cents AS cents_b",
        "last_d AS last_b",
    )
    md = _agg(o.where(F.col("o_orderdate") >= cutoff)).selectExpr(
        "o_custkey AS kd", "cnt AS cnt_d", "cents AS cents_d",
        "last_d AS last_dd",
    )
    merged = mb.join(md, F.col("kb") == F.col("kd"), "full_outer").selectExpr(
        "coalesce(kb, kd) AS k",
        "coalesce(cnt_b, 0) + coalesce(cnt_d, 0) AS cnt",
        "coalesce(cents_b, 0) + coalesce(cents_d, 0) AS cents",
        "greatest(coalesce(last_b, -1), coalesce(last_dd, -1)) AS last_d",
    )
    fullv = _agg(o).selectExpr(
        "o_custkey AS kf", "cnt AS cnt_f", "cents AS cents_f",
        "last_d AS last_f",
    )
    audit = merged.join(
        fullv, F.col("k") == F.col("kf"), "full_outer"
    ).selectExpr(
        "CASE WHEN kf IS NULL OR k IS NULL OR cnt <> cnt_f"
        " OR cents <> cents_f OR last_d <> last_f THEN 1 ELSE 0 END"
        " AS mismatch",
        "cnt",
        "cents",
        "last_d",
    )
    return audit.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_keys"),
        F.expr("CAST(sum(mismatch) AS BIGINT) AS n_mismatch"),
        F.expr("CAST(sum(cnt) AS BIGINT) AS total_orders"),
        F.expr("CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)"
               " AS total_cents"),
        F.expr("CAST(max(last_d) AS BIGINT) AS max_last_day"),
    )


# ---------------------------------------------------------------------------
# Round-6 batch 49: preference aggregation — one Bradley-Terry MM step
# ---------------------------------------------------------------------------


def _brand_baskets(li: DataFrame, part: DataFrame) -> DataFrame:
    """Per-order sorted (brand, total-quantity) baskets in ONE fact
    exchange (r11 optimization, shared by both Bradley-Terry variants).

    The original form shuffled the fact table TWICE — a
    (l_orderkey, p_brand) pre-aggregation exchange, then the
    l_orderkey basket exchange. Per-order brand totals are
    order-bounded (an order holds <= 7 lineitems), so the pre-agg
    moves map-side: collect the raw (brand, qty) entries in one
    orderkey-keyed exchange and fold the per-brand sums with an HOF
    over the <= 7-element array. Integer addition is order-insensitive,
    brands are unique after array_distinct, and array_sort gives the
    same b-ordering sort_array(collect_list(...)) produced (brands are
    unique per basket, so the struct sort was a brand sort) — the bs
    column is bit-identical to the two-exchange form. At 100 TB this
    removes a full network pass of the fact table."""
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "collect_list(struct(p_brand AS b,"
                " CAST(l_quantity AS BIGINT) AS q)) AS gs"
            )
        )
        .selectExpr(
            "l_orderkey",
            "transform(array_sort(array_distinct(transform(gs, g -> g.b))),"
            " b -> struct(b AS b,"
            "   aggregate(filter(gs, g -> g.b = b), CAST(0 AS BIGINT),"
            "             (acc, g) -> acc + g.q) AS q)) AS bs",
        )
    )


@query(
    "orders_bradley_terry_step",
    oracle="""
    WITH bq AS MATERIALIZED (
      SELECT l_orderkey AS ok, p_brand AS b,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT a.b AS bi, c.b AS bj,
             CASE WHEN a.q > c.q THEN 1 ELSE 0 END AS wi
      FROM bq a JOIN bq c ON a.ok = c.ok AND a.b < c.b
      WHERE a.q <> c.q
    ),
    -- MATERIALIZED chain (round 8): inlined, terms/w0 re-expand
    -- dir -> pair -> matches -> bq (a 38M-row join at x64) ~8x and the
    -- twin spilled past the disk in the x64 sweep (same class as the
    -- round-7 pagerank/RLHF twins).
    pair AS MATERIALIZED (
      SELECT bi, bj, CAST(count(*) AS BIGINT) AS n_ij,
             CAST(sum(wi) AS BIGINT) AS w_ij
      FROM matches GROUP BY 1, 2
    ),
    dir AS MATERIALIZED (
      SELECT bi AS b, bj AS o, n_ij, w_ij AS w FROM pair
      UNION ALL
      SELECT bj AS b, bi AS o, n_ij, n_ij - w_ij AS w FROM pair
    ),
    tot AS (
      SELECT b, CAST(sum(n_ij) AS BIGINT) AS n_i,
             CAST(sum(w) AS BIGINT) AS wins_i
      FROM dir GROUP BY b
    ),
    w0 AS MATERIALIZED (
      SELECT b, n_i, wins_i,
             CAST(wins_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS r0
      FROM tot
    ),
    terms AS (
      SELECT d.b,
             CAST(floor(CAST(d.n_ij AS DOUBLE) / (wi.r0 + wj.r0) * 1048576
                        + 0.5) AS BIGINT) AS t
      FROM dir d JOIN w0 wi ON d.b = wi.b JOIN w0 wj ON d.o = wj.b
    ),
    denom AS (SELECT b, CAST(sum(t) AS BIGINT) AS den FROM terms GROUP BY b)
    SELECT w0.b AS brand, w0.n_i AS n_comparisons, w0.wins_i AS wins,
           round(w0.r0, 6) AS win_rate,
           round(CAST(w0.wins_i AS DOUBLE) * 1048576 / CAST(d.den AS DOUBLE), 6)
             AS bt_strength
    FROM w0 JOIN denom d ON w0.b = d.b
    """,
)
def q_orders_bradley_terry_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Bradley-Terry minorization (MM) step over brand 'matches' —
    the preference-aggregation kernel behind ranking from pairwise
    comparisons (RLHF reward-model data curation, tournament seeding,
    search interleaving): within each order, of two brands the one with
    the larger total quantity wins the match (ties skipped); win rates
    seed w0 and one Hunter-2004 MM update gives
    w1_i = wins_i / sum_j n_ij / (w0_i + w0_j). The fixpoint loop
    repeats with w0 = w1 (the graph_pagerank_step discipline: the
    oracle certifies one iteration's relational body).

    The step itself is operators/preference.mm_step, shared with
    rlhf_preference_curation; its module docstring states the
    cross-engine float discipline (int/int divides, one exact 2^20
    shift, BIGINT sums).

    The 100-TB shape: ONE fact shuffle builds per-order brand baskets
    (groupBy + collect_list — the market_basket_lift pattern; pairing
    is map-side k(k-1)/2 per order, never a same-lineage self-join,
    which re-executes its input twice); everything after the
    (brand, brand) rollup lives on the |brands|^2-bounded match matrix
    — broadcast-sized at any fact scale."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # |brands|^2-bounded match matrix: checkpoint so mm_step's w0 /
    # term / denominator branches read ~300 materialized rows instead
    # of re-executing the fact-scan + basket explode once per branch
    # (first audit of this plan counted 28 shuffles; 4 after)
    pair = match_matrix(_brand_baskets(li, part)).localCheckpoint(eager=False)
    return mm_step(pair).selectExpr(
        "b AS brand",
        "n_i AS n_comparisons",
        "wins_i AS wins",
        "round(r0, 6) AS win_rate",
        "bt_strength",
    )


# ---------------------------------------------------------------------------
# Round-6 batch 52: retractable (Z-set) incremental view maintenance
# ---------------------------------------------------------------------------

# Shared relational body: Spark SQL and DuckDB differ only in the wide
# integer type for the display total (DECIMAL(38,0) vs HUGEINT).
_MV_RETRACT_SQL = """
    WITH o AS (
      SELECT o_custkey AS k, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             (o_orderkey % 37 = 0 OR o_custkey % 97 = 0) AS cancelled,
             (o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0
              AND o_custkey % 97 <> 0) AS amended
      FROM orders
    ),
    base AS (
      SELECT k, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM o GROUP BY k
    ),
    deltas AS (
      SELECT k, -1 AS z, cents FROM o WHERE cancelled
      UNION ALL
      SELECT k, -1 AS z, cents FROM o WHERE amended
      UNION ALL
      SELECT k, 1 AS z, cents + 500 AS cents FROM o WHERE amended
    ),
    dagg AS (
      SELECT k, CAST(sum(z) AS BIGINT) AS dcnt,
             CAST(sum(z * cents) AS BIGINT) AS dcents
      FROM deltas GROUP BY k
    ),
    merged AS (
      SELECT coalesce(b.k, d.k) AS k,
             coalesce(b.cnt, 0) + coalesce(d.dcnt, 0) AS cnt,
             coalesce(b.cents, 0) + coalesce(d.dcents, 0) AS cents
      FROM base b FULL JOIN dagg d ON b.k = d.k
    ),
    live AS (SELECT * FROM merged WHERE cnt > 0),
    recompute AS (
      SELECT k, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN amended THEN cents + 500 ELSE cents END)
                  AS BIGINT) AS cents
      FROM o WHERE NOT cancelled GROUP BY k
    ),
    audit AS (
      SELECT coalesce(l.k, r.k) AS k,
             CASE WHEN l.k IS NULL OR r.k IS NULL OR l.cnt <> r.cnt
                       OR l.cents <> r.cents THEN 1 ELSE 0 END AS mismatch,
             coalesce(l.cnt, 0) AS cnt, coalesce(l.cents, 0) AS cents
      FROM live l FULL JOIN recompute r ON l.k = r.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(mismatch) AS BIGINT) AS n_mismatch,
           (SELECT CAST(count(*) AS BIGINT) FROM base)
             - (SELECT CAST(count(*) AS BIGINT) FROM live) AS n_deleted_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM deltas WHERE z = -1)
             AS n_retractions,
           (SELECT CAST(count(*) AS BIGINT) FROM deltas WHERE z = 1)
             AS n_insertions,
           CAST(sum(cnt) AS BIGINT) AS total_orders,
           CAST(CAST(sum(cents) AS {WIDE}) AS DOUBLE) AS total_cents
    FROM audit
"""


@query(
    "mv_retractable_delta",
    oracle=_MV_RETRACT_SQL.format(WIDE="HUGEINT"),
)
def q_mv_retractable_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable incremental view maintenance — signed-multiplicity
    (Z-set / DBSP-style) deltas, the general form `mv_incremental_
    maintain`'s insert-only merge cannot express: cancellations arrive
    as multiplicity -1 rows (transactional voids: every 37th order;
    right-to-be-forgotten: ALL orders of every 97th customer), price
    amendments as retract+insert pairs (-1 old, +1 restated cents+500),
    and the per-customer (count, revenue) view merges base ⊎ delta by
    plain addition of signed aggregates. Groups whose multiplicity
    reaches ZERO are DELETED from the view (the forget-me customers:
    2 / 16 / 155 at sf0.001/0.01/0.1 — measured, non-vacuous at every
    SF), which is the semantic step beyond upserts. The recompute-
    equality certificate (n_mismatch = 0 against a from-scratch
    aggregation of the corrected table) makes the whole algebra
    value-oracled, not asserted.

    The 100-TB view: count/sum are the abelian-group aggregates —
    maintenance cost is |delta| + |touched keys|, never a base rescan;
    the FULL JOIN merge keys on the view key (co-partitioned with the
    view's own storage in production). max/min are NOT retractable this
    way — that's why the insert-only MV keeps last_d and this one
    doesn't (the honest boundary between the two maintenance algebras,
    stated rather than fudged)."""
    # r11: Spark inlines SQL CTEs (CLAUDE.md), so the WITH chain's
    # fan-out (o feeds base/deltas x3/recompute; live/deltas/base feed
    # the audit + scalar subqueries) re-scanned the parquet 13 times.
    # Checkpointing the 3-column projection collapses that to ONE scan
    # + cheap block re-reads (interleaved x5 A/B: 0.98 -> 0.86 s, every
    # rep lower); the shared SQL body stays byte-identical to the
    # DuckDB twin's.
    load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    ).localCheckpoint(eager=False).createOrReplaceTempView("orders")
    return spark.sql(_MV_RETRACT_SQL.format(WIDE="DECIMAL(38,0)"))


# ---------------------------------------------------------------------------
# Round-7 batch 55: Bradley-Terry to convergence (integer MM iterations)
# ---------------------------------------------------------------------------

_BT_K = 3


def _bt_conv_oracle(k: int) -> str:
    """Unrolled-CTE DuckDB twin of k integer MM iterations. Strengths
    live in BIGINT 2^-20 units; each step is pure non-negative integer
    division (// == Spark DIV there), so the twin matches bit-for-bit
    at any k — the graph_pagerank_converged recipe applied to the
    preference kernel. Every multi-referenced CTE is MATERIALIZED
    (DuckDB inlines CTEs by default; an unrolled chain re-executes the
    whole upstream exponentially — the round-7 lesson)."""
    head = """
    WITH bq AS (
      SELECT l_orderkey AS ok, p_brand AS b,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT a.b AS bi, c.b AS bj,
             CASE WHEN a.q > c.q THEN 1 ELSE 0 END AS wi
      FROM bq a JOIN bq c ON a.ok = c.ok AND a.b < c.b
      WHERE a.q <> c.q
    ),
    pair AS MATERIALIZED (
      SELECT bi, bj, CAST(count(*) AS BIGINT) AS n_ij,
             CAST(sum(wi) AS BIGINT) AS w_ij
      FROM matches GROUP BY 1, 2
    ),
    dir AS MATERIALIZED (
      SELECT bi AS b, bj AS o, n_ij, w_ij AS w FROM pair
      UNION ALL
      SELECT bj AS b, bi AS o, n_ij, n_ij - w_ij AS w FROM pair
    ),
    tot AS MATERIALIZED (
      SELECT b, CAST(sum(n_ij) AS BIGINT) AS n_i,
             CAST(sum(w) AS BIGINT) AS wins_i
      FROM dir GROUP BY b
    ),
    u0 AS MATERIALIZED (
      SELECT b, (wins_i * 1048576) // n_i AS u FROM tot
    )"""
    steps = "".join(
        f""",
    u{t} AS MATERIALIZED (
      SELECT d.b,
             (w.wins_i * 1099511627776)
               // CAST(sum((d.n_ij * 1099511627776)
                           // (ui.u + uj.u)) AS BIGINT) AS u
      FROM dir d
      JOIN u{t - 1} ui ON d.b = ui.b
      JOIN u{t - 1} uj ON d.o = uj.b
      JOIN tot w ON d.b = w.b
      GROUP BY d.b, w.wins_i
    )"""
        for t in range(1, k + 1)
    )
    tail = f"""
    SELECT t.b AS brand, t.n_i AS n_comparisons, t.wins_i AS wins,
           z.u AS u0_units, a.u AS u_prev_units, f.u AS u_units,
           CAST(f.u - a.u AS BIGINT) AS delta_units
    FROM tot t
    JOIN u0 z ON t.b = z.b
    JOIN u{k - 1} a ON t.b = a.b
    JOIN u{k} f ON t.b = f.b"""
    return head + steps + tail


def _bt_iters(spark: SparkSession, sf_dir: str, k: int):
    """Run k integer MM iterations; return (tot, u0, u_{k-1}, u_k).

    Loop discipline (r11 optimization): the corpus-sized work — scan,
    basket rollup, |brands|^2-bounded pair matrix — stays distributed;
    the MM loop itself runs on the DRIVER over the collected pair
    matrix (<= 400 rows of 4 BIGINTs at any corpus scale, the
    operators/distrank.py bounded codebook-pull pattern). Every MM
    step is pure non-negative integer division, so Python `//` ==
    Spark `DIV` == DuckDB `//` bit-for-bit and the returned tables
    are exactly what the old relational loop produced. The old form
    ran each step as two broadcast joins + a rollup over a
    localCheckpointed dir table: under AQE each checkpoint compiles
    its plan to an RDD at BUILD time, executing every upstream
    exchange as a driver-blocking job — 16 jobs / ~5.7 s at sf0.1 for
    k=3, all scheduler latency on <= 800 bounded rows. Driver
    iteration on bounded state is the scale-honest design (the
    strengths table is |brands|-sized at 100 TB too); the per-step
    RELATIONAL body stays oracled at finer grain in
    orders_bradley_terry_step."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pair = match_matrix(_brand_baskets(li, part))
    # Bounded codebook pull: |brands|^2 rows regardless of corpus size.
    mat = [
        (r["bi"], r["bj"], r["n_ij"], r["w_ij"]) for r in pair.collect()
    ]
    dirs: dict[str, list[tuple[str, int, int]]] = {}
    for bi, bj, n, w in mat:
        dirs.setdefault(bi, []).append((bj, n, w))
        dirs.setdefault(bj, []).append((bi, n, n - w))
    tot_py = {
        b: (sum(n for _, n, _ in os), sum(w for _, _, w in os))
        for b, os in dirs.items()
    }
    u_py = {b: (wins * 1048576) // n for b, (n, wins) in tot_py.items()}
    u0_py = dict(u_py)
    prev_py = dict(u_py)
    for _ in range(k):
        prev_py = u_py
        u_py = {
            b: (tot_py[b][1] * 1099511627776)
            // sum(
                (n * 1099511627776) // (prev_py[b] + prev_py[o])
                for o, n, _ in os
            )
            for b, os in dirs.items()
        }

    tot = local_table(
        spark,
        [(b, *v) for b, v in sorted(tot_py.items())],
        "b string, n_i bigint, wins_i bigint",
    )
    u0, prev, u = (
        local_table(spark, sorted(d.items()), "b string, u bigint")
        for d in (u0_py, prev_py, u_py)
    )
    return tot, u0, prev, u


@query("orders_bradley_terry_converged", oracle=_bt_conv_oracle(_BT_K))
def q_orders_bradley_terry_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry run to (near-)convergence — k=3 Hunter-2004 MM
    iterations in ONE registered query, certifying the preference
    kernel's LOOP the way graph_pagerank_converged certifies
    PageRank's (round-6 verdict ask #2 extended to the second named
    kernel; `orders_bradley_terry_step` keeps the single-step
    relational body oracled at finer grain).

    Exactness across iterations: strengths live in BIGINT 2^-20 units;
    each MM step is u'_i = (wins_i * 2^40) DIV sum_j ((n_ij * 2^40)
    DIV (u_i + u_j)) — pure NON-NEGATIVE integer division (Spark DIV ==
    DuckDB //), so the unrolled-CTE twin matches bit-for-bit at any k.
    The per-step floor IS the algorithm on both engines; a float fold
    would compound last-ulp error per iteration and could never be
    oracled multi-step. u_i + u_j > 0 by the winner theorem (two
    brands that met cannot both be winless); u0_i >= 1 needs
    n_i <= 2^20 matches per brand — ~1e5 at x16, one decade of margin,
    noted here so an x64 run re-derives the unit scale. The MM update
    is scale-covariant, so no renormalization (and no global float
    sum) is needed between steps.

    Loop discipline (r11): the |brands|^2-bounded pair matrix is
    rolled up distributed and pulled ONCE (<= 400 rows — the bounded
    codebook-pull pattern); the k MM steps run on the driver in exact
    Python integers (`//` == Spark DIV == DuckDB // on non-negative
    operands) and the four bounded tables re-enter the plan as
    constant-folded from_json literals — so the plan is shape-constant
    in k trivially, and the output still carries (u_prev, u, delta)
    per brand as a convergence certificate (deltas contract; pinned in
    tests/test_integration_queries.py). See _bt_iters for the measured
    before/after.

    Reference: massimostanzione/distgrep server.go:95-229 — the static
    MapReduce pipeline cannot express the loop; this and
    graph_pagerank_converged are the engine's iterative surface."""
    tot, u0, prev, u = _bt_iters(spark, sf_dir, _BT_K)
    return (
        tot.join(u0.selectExpr("b", "u AS u0_units"), "b")
        .join(prev.selectExpr("b", "u AS u_prev_units"), "b")
        .join(u.selectExpr("b", "u AS u_units"), "b")
        .selectExpr(
            "b AS brand",
            "n_i AS n_comparisons",
            "wins_i AS wins",
            "u0_units",
            "u_prev_units",
            "u_units",
            "CAST(u_units - u_prev_units AS BIGINT) AS delta_units",
        )
    )

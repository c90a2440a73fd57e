"""Flagship 5: the end-to-end RLHF-data curation composition.

One DataFrame plan from raw documents to a ranked, deduped,
diversity-selected training slice — the pipeline an RLHF/reward-model
data team actually runs, composed from the engine's certified kernels:

  1. exact dedup            (dedup_hash convention: md5 digests shuffle,
                             never prose; min-doc_id survivor)
  2. DSIR importance        (text_dsir_importance: linearized likelihood
                             ratio, every term an exact BIGINT)
  3. Bradley-Terry          (operators/preference.mm_step: source
                             strengths from pairwise basket matches)
  4. split-conformal gate   (stats_conformal_calibration: per-lang
                             clamped-rank threshold on importance)
  5. MMR diversification    (operators/preference.mmr_pick: greedy re-rank
                             of the top-20 page on int8-grid embedding dots)

Reference parity note: the reference (massimostanzione/distgrep,
client.go:56-60 + worker.go:31-62) is scan → filter → aggregate; this
flagship is the same shape iterated — scan once, aggregate at every
stage on keys that stay bounded (digests, grams, |sources|² matrices,
5-row thresholds, a 20-row candidate page).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import local_table
from distgrep_spark.functions.pairs import postings
from distgrep_spark.functions.textfns import TOKENS_DUCK, tokens_sql
from distgrep_spark.operators.preference import match_matrix, mm_step, mmr_pick
from distgrep_spark.operators.similarity import INT8_GRID
from distgrep_spark.queries.analytics import _QUANT_DUCK
from distgrep_spark.queries.registry import query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# DuckDB twin, staged to mirror the Spark plan CTE-for-stage.
# ---------------------------------------------------------------------------

# Greedy MMR chain over the 20-row candidate page: pick argmax of
# rel - max_sim_to_picked (lambda = 0.5 with rel in 2^20 rank units so
# relevance steps ~1.05e6 are commensurate with int8-grid dot magnitude
# <= 64*127^2 ~ 1.03e6), ties on doc_id. Same chained-CTE shape as
# sim_mmr_diversify's oracle.
_RLHF_GREEDY = """
    s1 AS MATERIALIZED (SELECT doc_id, rel FROM cq ORDER BY rel DESC, doc_id LIMIT 1),
    p2 AS (
      SELECT c.doc_id, c.rel, max(s.s) AS red
      FROM cq c JOIN sims s ON s.va = c.doc_id
      WHERE s.vb IN (SELECT doc_id FROM s1)
        AND c.doc_id NOT IN (SELECT doc_id FROM s1)
      GROUP BY 1, 2
    ),
    s2 AS MATERIALIZED (SELECT doc_id, rel, red FROM p2
           ORDER BY rel - red DESC, doc_id LIMIT 1),
    p3 AS (
      SELECT c.doc_id, c.rel, max(s.s) AS red
      FROM cq c JOIN sims s ON s.va = c.doc_id
      WHERE s.vb IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2)
        AND c.doc_id NOT IN (SELECT doc_id FROM s1
                             UNION ALL SELECT doc_id FROM s2)
      GROUP BY 1, 2
    ),
    s3 AS MATERIALIZED (SELECT doc_id, rel, red FROM p3
           ORDER BY rel - red DESC, doc_id LIMIT 1),
    p4 AS (
      SELECT c.doc_id, c.rel, max(s.s) AS red
      FROM cq c JOIN sims s ON s.va = c.doc_id
      WHERE s.vb IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
                     UNION ALL SELECT doc_id FROM s3)
        AND c.doc_id NOT IN (SELECT doc_id FROM s1
                             UNION ALL SELECT doc_id FROM s2
                             UNION ALL SELECT doc_id FROM s3)
      GROUP BY 1, 2
    ),
    s4 AS MATERIALIZED (SELECT doc_id, rel, red FROM p4
           ORDER BY rel - red DESC, doc_id LIMIT 1),
    p5 AS (
      SELECT c.doc_id, c.rel, max(s.s) AS red
      FROM cq c JOIN sims s ON s.va = c.doc_id
      WHERE s.vb IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
                     UNION ALL SELECT doc_id FROM s3
                     UNION ALL SELECT doc_id FROM s4)
        AND c.doc_id NOT IN (SELECT doc_id FROM s1
                             UNION ALL SELECT doc_id FROM s2
                             UNION ALL SELECT doc_id FROM s3
                             UNION ALL SELECT doc_id FROM s4)
      GROUP BY 1, 2
    ),
    s5 AS (SELECT doc_id, rel, red FROM p5
           ORDER BY rel - red DESC, doc_id LIMIT 1),
    picks AS (
      SELECT CAST(1 AS BIGINT) AS pick_order, doc_id,
             CAST(0 AS BIGINT) AS redundancy, rel AS mmr_score
      FROM s1
      UNION ALL SELECT 2, doc_id, red, rel - red FROM s2
      UNION ALL SELECT 3, doc_id, red, rel - red FROM s3
      UNION ALL SELECT 4, doc_id, red, rel - red FROM s4
      UNION ALL SELECT 5, doc_id, red, rel - red FROM s5
    )
"""

_RLHF_ORACLE = rf"""
    WITH ded AS MATERIALIZED (
      SELECT md5(text) AS digest,
             min(doc_id) AS doc_id,
             arg_min(lang, doc_id) AS lang,
             arg_min(source, doc_id) AS source,
             arg_min(text, doc_id) AS text,
             arg_min(n_chars, doc_id) AS n_chars,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY md5(text)
    ),
    toks AS (
      SELECT doc_id, lang, {TOKENS_DUCK} AS t
      FROM ded
    ),
    grams AS (
      SELECT doc_id, lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks,
           LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    cg AS MATERIALIZED (
      SELECT doc_id, lang, gram, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    tstat AS MATERIALIZED (
      SELECT gram,
             CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT)
               AS f_t,
             CAST(sum(c) AS BIGINT) AS f_s
      FROM cg GROUP BY gram
    ),
    tot AS (
      SELECT CAST(sum(f_t) AS BIGINT) AS n_t, CAST(sum(f_s) AS BIGINT) AS n_s
      FROM tstat
    ),
    dscore AS (
      SELECT c.doc_id,
             CAST(sum(c.c * (ts.f_t * tot.n_s - ts.f_s * tot.n_t)) AS BIGINT)
               AS score_num
      FROM cg c JOIN tstat ts USING (gram) CROSS JOIN tot
      GROUP BY 1
    ),
    scored AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.source, d.n_chars, d.n_copies,
             coalesce(s.score_num, 0) AS score_num
      FROM ded d LEFT JOIN dscore s USING (doc_id)
    ),
    bq AS (
      SELECT lang, n_chars // 256 AS bk, source,
             max(score_num) AS q
      FROM scored GROUP BY 1, 2, 3
    ),
    matches AS (
      SELECT a.source AS bi, c.source AS bj,
             CASE WHEN a.q > c.q THEN 1 ELSE 0 END AS wi
      FROM bq a JOIN bq c
        ON a.lang = c.lang AND a.bk = c.bk AND a.source < c.source
      WHERE a.q <> c.q
    ),
    pair AS MATERIALIZED (
      SELECT bi, bj, CAST(count(*) AS BIGINT) AS n_ij,
             CAST(sum(wi) AS BIGINT) AS w_ij
      FROM matches GROUP BY 1, 2
    ),
    dir AS (
      SELECT bi AS b, bj AS o, n_ij, w_ij AS w FROM pair
      UNION ALL
      SELECT bj AS b, bi AS o, n_ij, n_ij - w_ij AS w FROM pair
    ),
    btot AS (
      SELECT b, CAST(sum(n_ij) AS BIGINT) AS n_i,
             CAST(sum(w) AS BIGINT) AS wins_i
      FROM dir GROUP BY b
    ),
    w0 AS MATERIALIZED (
      SELECT b, n_i, wins_i,
             CAST(wins_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS r0
      FROM btot
    ),
    terms AS (
      SELECT d.b,
             CAST(floor(CAST(d.n_ij AS DOUBLE) / (wi.r0 + wj.r0) * 1048576
                        + 0.5) AS BIGINT) AS t
      FROM dir d JOIN w0 wi ON d.b = wi.b JOIN w0 wj ON d.o = wj.b
    ),
    denom AS (SELECT b, CAST(sum(t) AS BIGINT) AS den FROM terms GROUP BY b),
    bt AS (
      SELECT w0.b AS source,
             round(CAST(w0.wins_i AS DOUBLE) * 1048576
                   / CAST(d.den AS DOUBLE), 6) AS bt_strength
      FROM w0 JOIN denom d ON w0.b = d.b
    ),
    cal AS (
      SELECT lang, score_num,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY score_num, doc_id)
                  AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM scored WHERE doc_id % 2 = 0
    ),
    thr AS (
      SELECT lang, score_num AS cal_threshold FROM cal
      WHERE r = least(n, greatest(1, (n + 10) // 10))
    ),
    cand AS MATERIALIZED (
      -- the selection pool is docs IN THE VECTOR INDEX: MMR needs an
      -- embedding, and the sf0.1 fixture has 2000 embeddings for 5000
      -- docs (measured) — an unrestricted top-20 would strand
      -- vector-less candidates outside the greedy
      SELECT doc_id, lang, source, n_copies, score_num,
             CAST(row_number() OVER (ORDER BY score_num DESC, doc_id)
                  AS BIGINT) AS rel_rank
      FROM scored s
      WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = s.doc_id)
      ORDER BY score_num DESC, doc_id LIMIT 20
    ),
    cq AS MATERIALIZED (
      SELECT c.doc_id, (21 - c.rel_rank) * 1048576 AS rel,
             {_QUANT_DUCK} AS qv
      FROM cand c JOIN embeddings ON vec_id = c.doc_id
    ),
    sims AS MATERIALIZED (
      SELECT a.doc_id AS va, b.doc_id AS vb,
             (SELECT CAST(sum(a.qv[u.i] * b.qv[u.i]) AS BIGINT)
              FROM unnest(generate_series(1, 64)) AS u(i)) AS s
      FROM cq a JOIN cq b ON a.doc_id <> b.doc_id
    ),
    {_RLHF_GREEDY}
    SELECT c.doc_id, c.lang, c.source, c.n_copies, c.score_num, c.rel_rank,
           bt.bt_strength, thr.cal_threshold,
           c.score_num >= thr.cal_threshold AS covered,
           p.pick_order, p.redundancy, p.mmr_score
    FROM cand c
    LEFT JOIN bt ON c.source = bt.source
    LEFT JOIN thr ON c.lang = thr.lang
    LEFT JOIN picks p ON c.doc_id = p.doc_id
"""


@query("rlhf_preference_curation", oracle=_RLHF_ORACLE)
def q_rlhf_preference_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RLHF-data curation: dedup -> DSIR importance ->
    Bradley-Terry source strengths -> split-conformal quality gate ->
    MMR-diversified selection, as ONE composed plan whose 20-row result
    page hash-certifies every stage.

    Stage semantics (each the certified kernel it names):

    1. EXACT DEDUP — md5(text) content addressing, min-doc_id survivor,
       n_copies retained for weighting (non-vacuous at sf0.1, where the
       fixture plants exact-dup text groups; pass-through at smaller SFs
       by measured fixture fact).
    2. DSIR IMPORTANCE (Xie et al. 2023) over the SURVIVORS — target =
       the 'en' slice, features = trigrams; the linearized ratio
       sum_g c_g (f_t N_s - f_s N_t) keeps every term an exact BIGINT
       (no ln crosses an engine). Docs under 3 tokens score 0 via LEFT
       JOIN + coalesce — the empty-group-universe rule.
    3. BRADLEY-TERRY source strengths — baskets are (lang, n_chars DIV
       256) cells; within a basket a source's entrant is its BEST doc
       score (max, never sum: a summed-BIGINT q would sit ~2.4e18 at
       x16, one densification decade from overflow), pairwise wins feed
       one Hunter-2004 MM step (operators/preference.mm_step: int/int
       divides, one exact 2^20 shift, BIGINT sums — bit-identical
       cross-engine).
    4. SPLIT-CONFORMAL GATE — calibration half doc_id % 2 = 0 (parity
       survives the key-shifted corpora: shifts are even); per-lang
       threshold = clamped-rank ceil((n+1)/10)-th smallest score,
       computed as (n+10) DIV 10 — integer on both engines, no float
       quantile. covered = score >= lang threshold.
    5. MMR SELECTION — top-20 page by (score DESC, doc_id) via
       TakeOrderedAndProject, then the driver greedy
       operators/preference.mmr_pick picks k=5 maximizing
       rel - max_dot(picked): rel = (21-rank)*2^20 rank units,
       redundancy = int8-grid embedding dots (<= 64*127^2), all
       BIGINT, ties on doc_id — the trajectory is deterministic and
       the DuckDB twin replays it as a chained CTE.

    The 100-TB shape: the document scan happens ONCE (dedup digests
    shuffle, not prose beyond the survivor's retained text for gram
    extraction); grams shuffle as hashed keys; everything after the
    per-doc score is bounded — the BT matrix is |sources|^2, the
    conformal table is |langs| rows, the MMR page is 20 rows collected
    under the bounded codebook-pull precedent (operators/distrank.py).
    `scored` is localCheckpointed because four stages fan out from it;
    the BT pair matrix likewise (the 28-shuffles->4 lesson).

    Reference: massimostanzione/distgrep worker.go:31-62 (scan-filter-
    aggregate, iterated); Xie et al. 2023 (DSIR); Hunter 2004 (BT-MM);
    Vovk et al. 2005 (split conformal); Carbonell & Goldstein 1998
    (MMR)."""
    docs = load_table(spark, sf_dir, "documents")

    # Round-12 build-cost restructure (verdict ask #3): the registry-max
    # 5 s wall was measured to be ~3.1 s of DRIVER-SIDE plan
    # construction (tools/profile_queries: build 3.4 s of which the
    # page collect is 0.27 s; per-stage: the gram-pipeline checkpoint
    # call 0.90 s, scored 0.72 s, pair 0.42 s — every Dataset
    # transformation eagerly re-analyzes its whole plan, and
    # localCheckpoint(eager=False) pays physical planning at CALL
    # time). Each distributed stage but the shared Bradley-Terry kernel
    # (stage 3) is now ONE spark.sql analysis pass over temp views, with
    # the SAME checkpoints at the same fan-out points and the same
    # broadcast hints; the distributed plan shape, every expression,
    # and the result are unchanged (all-arms collect-equality in
    # tools/ab_r12.py at cf796df; interleaved A/B in
    # OPTIMIZATION_r12.md). cg is additionally checkpointed (it fans
    # out to tstat, the corpus totals, and the dscore probe — the
    # tokenize + trigram pipeline previously re-executed 3x), and the
    # totals come straight from cg (sum over grams of f_t == sum over
    # cg of c where lang = 'en': identical exact BIGINTs), so tstat
    # feeds only the dscore join.
    docs.createOrReplaceTempView("rlhf_docs_v")

    # Stage 1: exact dedup (digest shuffle; min-doc_id survivor). ded
    # feeds BOTH the gram pipeline and the scored join — a shared
    # lineage re-executes per branch (the self-join lesson; A/B at
    # sf0.1: 1.98 s -> 1.52 s warm, 6.2 -> 2.2 cold).
    spark.sql(
        """
        SELECT md5(text) AS digest, min(doc_id) AS doc_id,
               min_by(lang, doc_id) AS lang,
               min_by(source, doc_id) AS source,
               min_by(text, doc_id) AS text,
               min_by(n_chars, doc_id) AS n_chars,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM rlhf_docs_v GROUP BY md5(text)
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("rlhf_ded_v")

    # Stage 2: DSIR importance over survivors (exact BIGINT ratios).
    spark.sql(
        rf"""
        WITH toks AS (
          SELECT doc_id, lang, {tokens_sql()} AS t
          FROM rlhf_ded_v
        ),
        grams AS (
          SELECT doc_id, lang, concat_ws(' ', t[i], t[i+1], t[i+2]) AS gram
          FROM toks
          LATERAL VIEW explode(
            CASE WHEN size(t) >= 3 THEN sequence(0, size(t) - 3)
                 ELSE array() END) AS i
        )
        SELECT doc_id, lang, gram, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, lang, gram
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("rlhf_cg_v")
    # four stages (BT, conformal, candidates, final join) fan out from
    # scored — materialize once instead of re-running the gram pipeline
    # per branch
    spark.sql(
        """
        WITH tstat AS (
          SELECT gram,
                 CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END)
                      AS BIGINT) AS f_t,
                 CAST(sum(c) AS BIGINT) AS f_s
          FROM rlhf_cg_v GROUP BY gram
        ),
        tot AS (
          SELECT CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END)
                      AS BIGINT) AS n_t,
                 CAST(sum(c) AS BIGINT) AS n_s
          FROM rlhf_cg_v
        ),
        dscore AS (
          SELECT /*+ BROADCAST(tot) */ c.doc_id,
                 CAST(sum(c.c * (ts.f_t * tot.n_s - ts.f_s * tot.n_t))
                      AS BIGINT) AS score_num
          FROM rlhf_cg_v c JOIN tstat ts USING (gram) CROSS JOIN tot
          GROUP BY c.doc_id
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars, d.n_copies,
               coalesce(s.score_num, 0L) AS score_num
        FROM rlhf_ded_v d LEFT JOIN dscore s USING (doc_id)
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("rlhf_scored_v")

    # Stage 3: Bradley-Terry over (lang, length-cell) basket matches;
    # pair is the |sources|^2-bounded match matrix (<= 400 rows at any
    # scale), checkpointed because mm_step's branches fan out from it.
    bq = (
        spark.table("rlhf_scored_v")
        .groupBy("lang", F.expr("n_chars DIV 256 AS bk"), "source")
        .agg(F.max("score_num").alias("q"))
    )
    baskets = postings(bq, F.struct("lang", "bk"), F.struct(F.col("source").alias("b"), "q"), "bs")
    pair = match_matrix(baskets).localCheckpoint(eager=False)
    bt = mm_step(pair).selectExpr("b AS source", "bt_strength")

    # Stage 4: split-conformal per-lang threshold (clamped integer rank).
    thr = spark.sql(
        """
        SELECT lang, score_num AS cal_threshold
        FROM (
          SELECT lang, score_num,
                 CAST(row_number() OVER (PARTITION BY lang
                      ORDER BY score_num, doc_id) AS BIGINT) AS r,
                 CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM rlhf_scored_v WHERE doc_id % 2 = 0
        )
        WHERE r = least(n, greatest(CAST(1 AS BIGINT), (n + 10) DIV 10))
        """
    )

    # Stage 5: top-20 page (TakeOrderedAndProject) + driver MMR greedy.
    # Pool = docs present in the vector index (left-semi): MMR needs an
    # embedding, and the fixtures don't embed every doc (sf0.1: 2000
    # vectors / 5000 docs, measured).
    load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", f"{INT8_GRID} AS qv"
    ).createOrReplaceTempView("rlhf_emb_v")
    cand = spark.sql(
        """
        SELECT doc_id, lang, source, n_copies, score_num
        FROM rlhf_scored_v s
        LEFT SEMI JOIN rlhf_emb_v e ON s.doc_id = e.vec_id
        ORDER BY score_num DESC, doc_id LIMIT 20
        """
    )
    cand.createOrReplaceTempView("rlhf_cand_v")
    page = spark.sql(
        """
        SELECT /*+ BROADCAST(c) */ c.doc_id, c.score_num, e.qv
        FROM rlhf_emb_v e JOIN rlhf_cand_v c ON e.vec_id = c.doc_id
        """
    ).collect()
    page.sort(key=lambda r: (-r["score_num"], r["doc_id"]))
    qv = {r["doc_id"]: list(r["qv"]) for r in page}
    rel = {
        r["doc_id"]: (21 - rank) * 1048576
        for rank, r in enumerate(page, start=1)
    }
    by_id = {d: (o, red, rel[d] - red) for o, d, red in mmr_pick(rel, qv, 5, 1)}
    pick_rows = [(d, rank, *by_id.get(d, (None,) * 3)) for rank, d in enumerate(rel, start=1)]
    picks = local_table(
        spark,
        pick_rows,
        "doc_id bigint, rel_rank bigint, pick_order bigint, redundancy bigint,"
        " mmr_score bigint",
    )

    return (
        cand.join(F.broadcast(picks), "doc_id")
        .join(F.broadcast(bt), "source", "left")
        .join(F.broadcast(thr), "lang", "left")
        .selectExpr(
            "doc_id",
            "lang",
            "source",
            "n_copies",
            "score_num",
            "rel_rank",
            "bt_strength",
            "cal_threshold",
            "score_num >= cal_threshold AS covered",
            "pick_order",
            "redundancy",
            "mmr_score",
        )
    )

"""Brute-force certification of the scalable oracle forms.

Round 6 replaced four quadratic oracle queries with exact scalable
algorithms so the x16 key-shifted sweep runs with ZERO exclusions
(round-5 verdict ask #3):

- ``join_range``: union running-count order statistic instead of the
  |S|x|richer-C| pair set;
- ``join_spatial_grid``: cell-bucketed 9-neighbor join instead of the
  all-pairs L-inf predicate;
- ``dedup_ngram_jaccard_capped`` / ``dedup_cross_corpus``: posting-list
  C(df,2) expansion instead of the spill-heavy two-sided posting join;
- ``dedup_minhash_recall``: profile collapse + AllPairs prefix filter +
  exact verify instead of the all-pairs posting self-join.

A scalable oracle is only as trustworthy as its equivalence proof, so
the RETIRED brute-force SQL lives on HERE and every pair is re-proved
equal (values, order-insensitively, and DESCRIBE dtypes) in DuckDB at
sf0.01 on every pytest run. DuckDB-only: no Spark session, ~seconds.
"""

from __future__ import annotations

import duckdb
import pytest

import distgrep_spark.queries as q
from distgrep_spark.functions.textfns import TOKENS_DUCK
from distgrep_spark.sources.catalog import TABLES
from tests.conftest import SF_ORACLE

_JACCARD_BRUTE_TAIL = """
    SELECT doc_a, doc_b, c * 1.0 / (sa.n_grams + sb.n_grams - c) AS jaccard
    FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.n_grams + sb.n_grams - c) >= 0.5
"""

# The pre-round-6 quadratic forms, verbatim but for the shared token
# fragment (the rule under test is the pairing, not the tokenizer).
BRUTE = {
    "join_range": """
    SELECT s.s_suppkey, s.s_name, count(*) AS n_richer_customers
    FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey, s.s_name
    """,
    "join_spatial_grid": """
    WITH pts AS (
      SELECT p_partkey AS k, CAST(p_size AS BIGINT) AS x,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 10 AS y
      FROM part
    )
    SELECT a.k AS key_a, b.k AS key_b,
           b.x - a.x AS dx, b.y - a.y AS dy
    FROM pts a JOIN pts b
      ON a.k < b.k
     AND abs(a.x - b.x) <= 2
     AND abs(a.y - b.y) <= 2
    """,
    "dedup_ngram_jaccard_capped": rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 8),
    capped AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare USING (gram)),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM capped GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM capped a JOIN capped b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    """
    + _JACCARD_BRUTE_TAIL,
    "dedup_cross_corpus": rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    allgrams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    rare AS (SELECT gram FROM allgrams GROUP BY gram HAVING count(*) <= 8),
    grams AS (SELECT g.doc_id, g.gram FROM allgrams g JOIN rare USING (gram)),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b, c * 1.0 / (sa.n_grams + sb.n_grams - c) AS jaccard
      FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      WHERE c * 1.0 / (sa.n_grams + sb.n_grams - c) >= 0.5
    )
    SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b, jaccard
    FROM pairs
      JOIN documents da ON doc_a = da.doc_id
      JOIN documents db ON doc_b = db.doc_id
    WHERE da.source <> db.source
    """,
    "dedup_minhash_recall": rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    """
    + _JACCARD_BRUTE_TAIL,
}

# dedup_ngram_jaccard shares dedup_minhash_recall's exact-pair oracle
# (both certify the >=0.5 trigram-Jaccard pair set); cross_corpus_exact
# wraps the same brute pair set with the source annotation.
BRUTE["dedup_ngram_jaccard"] = BRUTE["dedup_minhash_recall"]
BRUTE["dedup_cross_corpus_exact"] = f"""
    SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b, jaccard
    FROM ({BRUTE["dedup_minhash_recall"]}) pairs
      JOIN documents da ON doc_a = da.doc_id
      JOIN documents db ON doc_b = db.doc_id
    WHERE da.source <> db.source
"""

# Round 8: dedup_semdedup's twin moved to the vector-profile-collapse
# form (coincident embeddings share one profile) — the per-vector
# within-cluster self-join was quadratic in copy multiplicity at x64.
BRUTE["dedup_semdedup"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 16),
    d AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, len(e.v)),
                                     i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))
               AS dist
      FROM e, c
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cid AS cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d
      ) WHERE rn = 1
    )
    SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
           list_cosine_similarity(ex.v, ey.v) AS cos_sim
    FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN e ex ON ex.vec_id = x.vec_id
    JOIN e ey ON ey.vec_id = y.vec_id
    WHERE list_cosine_similarity(ex.v, ey.v) >= 0.45
"""

# Round 8: text_shingle_containment's twin moved to the profile-collapse
# form (coincident copies share one profile) — the doc-level posting
# self-join was quadratic in copy multiplicity at x64.
BRUTE["text_shingle_containment"] = rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
        AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           n_common * 1.0 / sa.n_grams AS containment
    FROM common JOIN sizes sa ON doc_a = sa.doc_id
    WHERE 5 * n_common >= 4 * sa.n_grams
"""

# Round 8: join_scd2_point_in_time's twin moved from the predicate LEFT
# JOIN (equality + range + OR-null upper bound — BLOCKWISE_NL_JOIN in
# DuckDB, row-at-a-time and unrunnable at x64) to the native ASOF LEFT
# JOIN; the retired predicate form certifies the interval semantics.
BRUTE["join_scd2_point_in_time"] = """
    WITH seq AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER w AS prev_status
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from, o_orderkey
      FROM seq
      WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    ),
    dim AS (
      SELECT o_custkey, o_orderstatus AS status_asof, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY valid_from, o_orderkey) AS valid_to
      FROM changes
    ),
    fact AS (
      SELECT l.l_returnflag, l.l_shipdate, o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT coalesce(d.status_asof, 'N/A') AS status_asof, f.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items
    FROM fact f
    LEFT JOIN dim d
      ON f.o_custkey = d.o_custkey
     AND f.l_shipdate >= d.valid_from
     AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
    GROUP BY 1, 2
"""


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", sorted(BRUTE))
def test_scalable_oracle_equals_brute_force(con, name):
    """The registered (scalable) oracle and the retired brute-force form
    must produce identical result sets AND identical DESCRIBE dtypes.
    NOTE for dedup_minhash_recall: the recall gate's engine side is a
    semi-join against LSH candidates, so the oracle equals the exact
    pair set only because LSH recall is 100% on the fixture — this test
    certifies the two ORACLE forms against each other, which is the part
    round 6 changed."""
    new = con.execute(
        f"SELECT * FROM ({q.ORACLES[name]}) ORDER BY ALL"
    ).fetchall()
    old = con.execute(f"SELECT * FROM ({BRUTE[name]}) ORDER BY ALL").fetchall()
    assert len(new) > 0, "vacuous equivalence proves nothing"
    assert new == old
    ndt = [d[1] for d in con.execute("DESCRIBE " + q.ORACLES[name]).fetchall()]
    odt = [d[1] for d in con.execute("DESCRIBE " + BRUTE[name]).fetchall()]
    assert ndt == odt


# ---------------------------------------------------------------------------
# Micro-fixture branch certification (round-8 ADVICE item 2): the sf0.01
# comparison above never exercises the profile-collapse SAME-PROFILE
# expansion branches (exact-duplicate texts/vectors are absent below
# sf0.1 — measured, CLAUDE.md) or the SCD2 QUALIFY tied-valid_from
# collapse (same-date status changes are absent at sf0.01). This plants
# a tiny in-memory corpus that hits every one of those branches and
# re-proves oracle == brute on EVERY pytest run, not just x64 sweeps.

MICRO_NAMES = [
    "dedup_semdedup",
    "dedup_ngram_jaccard",
    "text_shingle_containment",
    "join_scd2_point_in_time",
]


@pytest.fixture(scope="module")
def micro_con():
    c = duckdb.connect()
    # documents: profile 101={101,102,103} (3 coincident copies),
    # 104 contained in 101 (prefix), profile 105={105,106}, 107 partial
    docs = [
        (101, "alpha beta gamma delta eps zeta"),
        (102, "alpha beta gamma delta eps zeta"),
        (103, "alpha beta gamma delta eps zeta"),
        (104, "alpha beta gamma delta"),
        (105, "xray yankee zulu whiskey"),
        (106, "xray yankee zulu whiskey"),
        (107, "alpha beta gamma xray yankee zulu"),
    ]
    c.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'en', 'src{i % 2}', {len(t)})" for i, t in docs
        )
        + ") v(doc_id, text, lang, source, n_chars)"
    )
    # embeddings: vec_id < 16 are the codebook; 20/21/22 one coincident
    # profile near centroid 0, 23 a distinct near neighbor (cross-profile
    # pair), 24/25 a second coincident profile near centroid 13
    vecs = {k: [3 * k, 7, 0] for k in range(16)}
    vecs.update({20: [1, 7, 0], 21: [1, 7, 0], 22: [1, 7, 0],
                 23: [2, 7, 0], 24: [40, 7, 1], 25: [40, 7, 1]})
    c.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, {v}::FLOAT[], 0)" for k, v in sorted(vecs.items())
        )
        + ") v(vec_id, embedding, label)"
    )
    # orders: customer 1 has TWO status changes on the same date
    # (orderkeys 1,2 both 2024-01-01 - the QUALIFY tie), then O at 02-01
    c.execute("""
        CREATE TABLE orders AS SELECT * FROM (VALUES
          (1, 1, 'O', 10.0, TIMESTAMP '2024-01-01', 'P1'),
          (2, 1, 'F', 10.0, TIMESTAMP '2024-01-01', 'P1'),
          (3, 1, 'O', 10.0, TIMESTAMP '2024-02-01', 'P1'),
          (4, 1, 'O', 10.0, TIMESTAMP '2024-03-01', 'P1'),
          (5, 2, 'P', 10.0, TIMESTAMP '2024-01-15', 'P1')
        ) v(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority)
    """)
    # facts: before any version (-> N/A), ON the tied date (the branch:
    # the last same-date change must win), between, after, other cust
    c.execute("""
        CREATE TABLE lineitem AS SELECT * FROM (VALUES
          (1, 'A', TIMESTAMP '2023-12-15'),
          (1, 'R', TIMESTAMP '2024-01-01'),
          (2, 'N', TIMESTAMP '2024-01-20'),
          (3, 'A', TIMESTAMP '2024-02-10'),
          (4, 'R', TIMESTAMP '2024-03-05'),
          (5, 'N', TIMESTAMP '2024-01-20')
        ) v(l_orderkey, l_returnflag, l_shipdate)
    """)
    return c


@pytest.mark.parametrize("name", MICRO_NAMES)
def test_scalable_oracle_equals_brute_on_planted_branches(micro_con, name):
    new = micro_con.execute(
        f"SELECT * FROM ({q.ORACLES[name]}) ORDER BY ALL"
    ).fetchall()
    old = micro_con.execute(
        f"SELECT * FROM ({BRUTE[name]}) ORDER BY ALL"
    ).fetchall()
    assert len(new) > 0, "vacuous equivalence proves nothing"
    assert new == old


def test_micro_fixture_actually_hits_the_hard_branches(micro_con):
    """Guard against the fixture rotting into the branch-free case the
    sf0.01 test already covers."""
    # same-profile pairs exist (coincident copies expanded in-profile)
    sem = micro_con.execute(
        f"SELECT * FROM ({q.ORACLES['dedup_semdedup']}) "
        "WHERE vec_a = 20 AND vec_b = 21"
    ).fetchall()
    # identical vectors score 1 - O(ulp) through list_cosine_similarity
    assert sem and sem[0][3] > 0.999999
    cont = micro_con.execute(
        f"SELECT * FROM ({q.ORACLES['text_shingle_containment']}) "
        "WHERE doc_a = 101 AND doc_b = 102"
    ).fetchall()
    assert cont and cont[0][3] == 1.0
    jac = micro_con.execute(
        f"SELECT * FROM ({q.ORACLES['dedup_ngram_jaccard']}) "
        "WHERE doc_a = 101 AND doc_b = 102"
    ).fetchall()
    assert jac
    # the SCD2 tie is real: two changes share (custkey, valid_from)
    ties = micro_con.execute("""
        WITH seq AS (
          SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                 lag(o_orderstatus) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS prev_status
          FROM orders
        )
        SELECT count(*) FROM (
          SELECT o_custkey, o_orderdate FROM seq
          WHERE prev_status IS NULL OR prev_status <> o_orderstatus
          GROUP BY 1, 2 HAVING count(*) > 1
        )
    """).fetchone()[0]
    assert ties >= 1

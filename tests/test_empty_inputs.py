"""Empty-input robustness for the driver-scored surface.

The reference short-circuits empty inputs explicitly (server.go:154,
181, 196 — SURVEY.md §2.1 op #11). Our queries must degrade the same
way: an empty fixture directory yields an empty (or
empty-cohort-shaped) result, never an ANSI arithmetic error, a
divide-by-zero, or a driver-side IndexError from a collect of nothing.
This runs every SCOREBOARD_PREFIX query — the exact surface the driver
scores — against schema-identical empty tables.
"""

from __future__ import annotations

import pytest

import distgrep_spark.queries as q
from __spark_entry__ import SCOREBOARD_PREFIX
from distgrep_spark.sources.catalog import TABLES, load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        load_table(spark, SF_SMALL, t).limit(0).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.mark.parametrize("name", SCOREBOARD_PREFIX)
def test_scored_query_survives_empty_input(spark, empty_sf, name):
    # Measured: every prefix query — including the bounded-seed
    # centroid/codebook pullers — degrades to an empty result with its
    # schema intact; none hits an ANSI error or a driver IndexError.
    df = q.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # executes without error; schema stays intact
    assert len(df.schema) > 0


def test_full_registry_survives_empty_input(spark, empty_sf):
    """Beyond the scored prefix: every registered query must degrade on
    empty fixtures (one loop — per-query parametrize would double the
    suite's session count). kmeans_clusters used to IndexError pulling
    seed centroids from an empty collect; operators/clustering.py now
    returns the schema-stable empty result instead."""
    rest = [n for n in q.QUERIES if n not in set(SCOREBOARD_PREFIX)]
    failures = []
    for name in rest:
        try:
            df = q.QUERIES[name](spark, empty_sf)
            assert df.count() >= 0
            assert len(df.schema) > 0
        except Exception as e:  # noqa: BLE001 - collecting a report
            failures.append((name, str(e).splitlines()[0][:80]))
    assert not failures, failures


@pytest.fixture(scope="module")
def single_row_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("single_sf")
    for t in TABLES:
        load_table(spark, SF_SMALL, t).limit(1).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.fixture(scope="module")
def all_dup_sf(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("all_dup_sf")
    for t in TABLES:
        rows = pq.read_table(f"{SF_SMALL}/{t}.parquet")
        pq.write_table(pa.concat_tables([rows, rows]), root / f"{t}.parquet")
    return str(root)


def _duck(root):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
    return con


def _twin_mismatch(con, name, srows, scols):
    """None when the DuckDB twin returns the same row multiset as Spark."""
    from tools.check_oracles import only_float_noise, row_multiset

    cur = con.execute(q.ORACLES[name])
    dcols, drows = [d[0] for d in cur.description], cur.fetchall()
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    if row_multiset(srows, scols) != row_multiset(drows, dcols) and not (
        only_float_noise(srows, scols, drows, dcols)
    ):
        return f"{len(srows)} spark rows != {len(drows)} duckdb rows"
    return None


def test_scored_prefix_survives_single_row_input(spark, single_row_sf):
    """Degenerate one-row tables: the ANSI divide-by-zero hazard class
    (variance with n=1, OLS on one point, shares of a zero total).
    Measured: every scored query degrades (the FK joins mostly empty
    out; the single-group aggregates guard their denominators)."""
    failures = []
    for name in SCOREBOARD_PREFIX:
        try:
            df = q.QUERIES[name](spark, single_row_sf)
            assert df.count() >= 0
        except Exception as e:  # noqa: BLE001 - collecting a report
            failures.append((name, str(e).splitlines()[0][:80]))
    assert not failures, failures


# Planted documents whose whitespace the fixture corpus never has: blank,
# all-whitespace, a leading newline, NBSP, U+3000 and the line
# separators. Fresh doc_ids, existing source/lang values.
RAGGED_DOCS = [
    "",
    "\t",
    "\nthe fast key order sort table",
    "spark\u00a0group query row data slow",
    "join\u3000a filter window row\u2028join",
    "  data stream\u000bcustomer \u0085line  ",
]


@pytest.fixture(scope="module")
def ragged_ws_sf(tmp_path_factory):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("ragged_ws_sf")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_SMALL}/{t}.parquet", root / f"{t}.parquet")
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    first = max(docs.column("doc_id").to_pylist()) + 1
    planted = pa.table(
        {
            "doc_id": [first + i for i in range(len(RAGGED_DOCS))],
            "text": RAGGED_DOCS,
            "lang": ["en", "de", "en", "fr", "zh", "es"],
            "source": ["src0", "src1", "src2", "src3", "src4", "src5"],
            "n_chars": [len(t) for t in RAGGED_DOCS],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, planted]), root / "documents.parquet")
    return str(root)


def test_tokenizing_queries_match_twins_on_ragged_whitespace(spark, ragged_ws_sf):
    """Every query whose twin tokenizes runs on blank and ragged-whitespace
    documents without raising, and matches its DuckDB twin (one loop, as
    above): both engines must agree on the token rule, and a doc with zero
    tokens must not divide by zero."""
    from distgrep_spark.functions.textfns import TOKENS_DUCK

    names = [n for n, sql in q.ORACLES.items() if TOKENS_DUCK in sql]
    assert len(names) >= 50
    con = _duck(ragged_ws_sf)
    failures = []
    for name in names:
        try:
            sdf = q.QUERIES[name](spark, ragged_ws_sf)
            why = _twin_mismatch(con, name, sdf.collect(), sdf.columns)
        except Exception as e:  # noqa: BLE001 - collecting a report
            why = str(e).splitlines()[0][:80]
        if why:
            failures.append((name, why))
    assert not failures, failures


# Every query that builds a posting list through functions/pairs.postings
# or pairs through cross_pairs, and the pair columns they emit.
POSTING_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_minhash_recall",
    "dedup_cross_corpus",
    "dedup_cross_corpus_exact",
    "dq_split_leakage_neardup",
    "text_shingle_containment",
    "dedup_clusters_cc",
    "dedup_semdedup",
    "graph_link_prediction",
    "text_source_overlap_matrix",
]
PAIR_COLS = [
    ("doc_a", "doc_b"), ("vec_a", "vec_b"), ("part_a", "part_b"), ("source_a", "source_b"),
]


def test_posting_queries_on_all_duplicate_input(spark, all_dup_sf):
    """Every table unioned with itself: each member of a posting list
    arrives twice. A list must still never pair a member with itself
    (no row with equal pair columns), and the twins must agree. The
    semdedup member list once kept the repeats on both engines and
    paired every vector with itself."""
    con = _duck(all_dup_sf)
    failures = []
    for name in POSTING_QUERIES:
        try:
            sdf = q.QUERIES[name](spark, all_dup_sf)
            srows, scols = sdf.collect(), sdf.columns
            self_pairs = [
                r for r in srows for a, b in PAIR_COLS if a in scols and r[a] == r[b]
            ]
            why = f"{len(self_pairs)} self-pairs" if self_pairs else None
            if not why and name in q.ORACLES:
                why = _twin_mismatch(con, name, srows, scols)
        except Exception as e:  # noqa: BLE001 - collecting a report
            why = str(e).splitlines()[0][:80]
        if why:
            failures.append((name, why))
    assert not failures, failures

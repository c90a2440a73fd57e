"""Exact aggregate-fingerprint certification for OUTPUT-BOUND queries at
scales where a full multiset compare is infeasible.

join_spatial_grid at x64 emits 435,960,832 pairs (copy densification
stacks near-pairs quadratically — a fixture artifact: production
spatial growth adds AREA, not density at a point). check_oracles'
row-by-row multiset would need ~50 GB of Python tuples, so this tool
certifies parity the way the result is actually consumed at that scale:
both engines run the FULL query (Spark plan vs DuckDB oracle SQL,
nothing simplified away) and are compared on a panel of exact,
order-free integer aggregates over the complete result set —
cardinality, per-column DECIMAL(38,0) sums, the L2 mass, and a
modular-product mix term that is sensitive to row pairings, not just
column marginals. All panel terms are integer-exact on both engines
(the sqrt-free subset of the oracle float-determinism rules), so a
fingerprint match is a bit-exact certificate over aggregates of all
~4e8 rows, not a sample.

Usage: python tools/certify_fingerprint.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distgrep_spark.sources.catalog import TABLES

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/soak_sf_x64"

# Per-query fingerprint SELECT (dialect-shared; runs over `t` = the full
# result set on both engines). Every aggregate is DECIMAL(38,0)-exact.
FINGERPRINTS = {
    # Output-bound at x64 the same way join_spatial_grid is: part names
    # are IDENTICAL across the 64 key-shifted copies, so every probe
    # matches all 64 copies of each near name — output stacks ~64^2
    # (measured: >4.2 GiB serialized results, past any sane
    # maxResultSize; the full result is what the query IS, so certify
    # aggregates over all of it instead).
    "join_fuzzy_blocked": """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(probe_key AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_pk,
               CAST(sum(CAST(matched_key AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_mk,
               CAST(sum(CAST(lev_dist AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_lev,
               CAST(sum(CAST((probe_key % 1000003) * (matched_key % 999983)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_mix
        FROM t
    """,
    "join_spatial_grid": """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(key_a AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_ka,
               CAST(sum(CAST(key_b AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_kb,
               CAST(sum(CAST(dx * dx + dy * dy AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s_d2,
               CAST(sum(CAST((key_a % 1000003) * (key_b % 999983)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_mix
        FROM t
    """,
}


def main() -> None:
    import duckdb

    from distgrep_spark import queries as q
    from distgrep_spark.session import get_spark

    spark = get_spark("fingerprint-certify")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    os.makedirs(".tmp", exist_ok=True)
    con.execute(f"SET temp_directory='.tmp/duck_{os.getpid()}'")
    con.execute(
        f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCK_MEM', '24GB')}'"
    )
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    failures = 0
    for name, fp_sql in FINGERPRINTS.items():
        sdf = q.QUERIES[name](spark, SF_DIR)
        sdf.createOrReplaceTempView("t")
        srow = spark.sql(fp_sql).collect()[0].asDict()
        drow = dict(
            zip(
                [d[0] for d in con.execute(
                    f"WITH t AS ({q.ORACLES[name]}) {fp_sql}"
                ).description],
                con.execute(
                    f"WITH t AS ({q.ORACLES[name]}) {fp_sql}"
                ).fetchall()[0],
            )
        )
        diffs = {
            k: (srow[k], drow.get(k))
            for k in srow
            if str(srow[k]) != str(drow.get(k))
        }
        if diffs:
            print(f"FAIL  {name}: {diffs}")
            failures += 1
        else:
            print(f"OK    {name}: fingerprint match over n={srow['n']} rows: "
                  f"{ {k: str(v) for k, v in srow.items()} }")
    print(f"\n{len(FINGERPRINTS) - failures}/{len(FINGERPRINTS)} certified")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

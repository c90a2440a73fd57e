"""Rebuild the planted-signal x64 corpus for the capped-dedup certificate.

``dedup_ngram_jaccard_capped`` (and ``dedup_cross_corpus``, which shares
the capped engine) returns 0 pairs on the RAW x64 key-shifted corpus: the
fixture's 31-token vocabulary saturates every trigram past ``max_df=8``
at that multiplicity — a fixture artifact, not an engine property (real
corpora grow vocabulary with size). The round-8 certificate (SCALE.md
"planted-signal x64 certification") therefore runs the oracle sweep on
the full 320k-doc x64 corpus PLUS four fresh-vocabulary planted docs:

* one EXACT pair (identical text -> trigram Jaccard 1.0), and
* one NEAR-DUP pair sharing 5 of 6 trigrams (J = 5/7 ~ 0.714 >= 0.5),

with doc_ids ~9e9, outside every shifted keyspace (the round-5 lesson:
never let a fixture keyspace bound leak into a gate's keep-filter — the
planted ids sit far beyond it precisely so such a bug would surface).
The planted tokens appear nowhere else, so every planted trigram has
df <= 2 <= max_df and the capped engine must find exactly these 2 pairs
while the saturated background stays silent.

This file exists so the certificate is REPRODUCIBLE: the round-8 session
originally built /tmp/x64_planted ad-hoc and /tmp is wiped between
sessions. Usage:

    python tools/soak_prefix.py 64            # builds /tmp/soak_sf_x64
    python tools/plant_x64.py                 # derives /tmp/x64_planted
    SPARK_GRAFT_ORACLE_SF_DIR=/tmp/x64_planted \
      python tools/check_oracles.py dedup_ngram_jaccard_capped

Expected: OK, 2 rows, full DuckDB parity. Hardlinks (not copies) share
the non-documents tables with the source corpus — /tmp stays one corpus
big, and the documents table gains one tiny extra part file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distgrep_spark.sources.catalog import TABLES

SRC = sys.argv[1] if len(sys.argv) > 1 else "/tmp/soak_sf_x64"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/x64_planted"

# Fresh vocabulary: none of these tokens occur in the fixture corpus
# (the 31-token measured vocabulary is lowercase SQL-ish words).
_EXACT = "zephyr quartz fjord glyph vex jumbo nymph waltz"
_NEAR_A = "oryx plinth crag sphinx dirge knoll umbra lurch"
# shares tokens 1..7, swaps the last -> 5 of 6 trigrams shared, J = 5/7
_NEAR_B = "oryx plinth crag sphinx dirge knoll umbra quip"

PLANTED = [
    (9_000_000_001, _EXACT),
    (9_000_000_002, _EXACT),
    (9_000_000_003, _NEAR_A),
    (9_000_000_004, _NEAR_B),
]


def _link_tree(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        elif not os.path.exists(d):
            os.link(s, d)


def main() -> None:
    if not os.path.isdir(f"{SRC}/documents.parquet"):
        raise SystemExit(f"source corpus missing: {SRC} (run tools/soak_prefix.py 64)")
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        _link_tree(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in PLANTED], pa.int64()),
            "text": pa.array([t for _, t in PLANTED], pa.string()),
            "lang": pa.array(["en"] * len(PLANTED), pa.string()),
            # alternate sources so dedup_cross_corpus (cross-SOURCE pairs
            # only) is non-vacuous on the planted corpus too: each planted
            # pair straddles planted_a/planted_b
            "source": pa.array(
                ["planted_a", "planted_b", "planted_a", "planted_b"],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for _, t in PLANTED], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{OUT}/documents.parquet/part-planted.parquet")
    print(f"planted {len(PLANTED)} docs -> {OUT}/documents.parquet/part-planted.parquet")


if __name__ == "__main__":
    main()

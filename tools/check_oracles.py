"""Local mimic of the driver's correctness gate.

Runs every registered query on Spark at sf0.01 AND its DuckDB oracle on
the same parquet, then compares row count, column names, **result
dtypes**, and an order-insensitive multiset of normalized row values
(floats via repr after rounding to 9 dp; Decimals kept exact). When the
exact multisets differ, the rows are re-compared cell-wise under a 1e-9
RELATIVE float tolerance; if every difference is float noise the query
is reported as ``NEAR`` (counted as a pass locally, but the driver's
hash gate is exact — a NEAR is a warning to tighten the query's float
discipline, not a green light).

The dtype pass exists because the driver's value hash is TYPE-sensitive
while Python-level value comparison is not: Spark widens a
DECIMAL(25,6) sum to DECIMAL(35,6) where DuckDB widens to
DECIMAL(38,6), and DuckDB's integer ``sum`` is HUGEINT where Spark's is
BIGINT — byte-identical values, diverging hashes (the round-2 driver
failures, invisible to the round-2 checker). Both engines' result types
are canonicalized (Spark ``df.dtypes`` vs DuckDB ``DESCRIBE <query>``)
and ANY mismatch fails the query.

Env:
  SPARK_GRAFT_ORACLE_SF_DIR  fixture dir (default /root/testdata/sf0.01)
  SPARK_GRAFT_VANILLA=1      use a bare SparkSession.builder.getOrCreate()
                             instead of session.get_spark — mimics the
                             driver's vanilla session, which is where
                             config-dependent regressions (timezone,
                             ANSI, shuffle layout) actually bite.

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import gc
import math
import os
import sys
from collections import Counter
from datetime import datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distgrep_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        # Exact: no float collapse. Python Decimal eq/hash are
        # value-based (Decimal('1.50') == Decimal('1.5'), same hash), so
        # scale differences don't false-fail here — the dtype pass owns
        # type divergence.
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


import re

# Signed int WIDTHS are unified into one canonical class: the round-2
# driver record proves its hash tolerates them (scalar_string_fns,
# window_rank_orders, sim_cosine_topk etc. were scored hash-GREEN with
# Spark int32 vs DuckDB int64 outputs) while DECIMAL-width and
# BIGINT-vs-HUGEINT divergence failed — consistent with a pandas-level
# conversion where DuckDB DECIMAL/HUGEINT surface as floats but integer
# widths collapse to plain ints. hugeint therefore stays its own class.
_SPARK_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "int", "long": "int", "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool", "date": "date", "binary": "binary",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp", "void": "null",
}

_DUCK_CANON = {
    "tinyint": "int", "smallint": "int", "integer": "int",
    "bigint": "int", "hugeint": "hugeint", "utinyint": "uint8",
    "usmallint": "uint16", "uinteger": "uint32", "ubigint": "uint64",
    "float": "float32", "real": "float32", "double": "float64",
    "varchar": "string", "boolean": "bool", "date": "date", "blob": "binary",
    "timestamp": "timestamp", "timestamp with time zone": "timestamp",
    '"null"': "null", "null": "null",
}


def canon_spark_dtype(s: str) -> str:
    """Spark ``df.dtypes`` string -> engine-neutral canonical type."""
    s = s.strip().lower()
    m = re.fullmatch(r"array<(.+)>", s)
    if m:
        return f"list<{canon_spark_dtype(m.group(1))}>"
    m = re.fullmatch(r"map<(.+),(.+)>", s)
    if m:
        return f"map<{canon_spark_dtype(m.group(1))},{canon_spark_dtype(m.group(2))}>"
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if s.startswith("struct<"):
        return s  # rare; compare textually
    return _SPARK_CANON.get(s, s)


def canon_duck_dtype(s: str) -> str:
    """DuckDB ``DESCRIBE`` column_type string -> canonical type."""
    s = s.strip().lower()
    if s.endswith("[]"):
        return f"list<{canon_duck_dtype(s[:-2])}>"
    m = re.fullmatch(r"map\((.+),\s*(.+)\)", s)
    if m:
        return f"map<{canon_duck_dtype(m.group(1))},{canon_duck_dtype(m.group(2))}>"
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return _DUCK_CANON.get(s, s)


def dtype_mismatches(spark_dtypes, duck_dtypes):
    """Per-column canonical-type diffs the driver's hash would see.

    Inputs are [(name, engine_type_str)] from ``df.dtypes`` and
    ``DESCRIBE <oracle sql>``; returns [(col, spark_canon, duck_canon)].
    """
    duck = {name: canon_duck_dtype(t) for name, t in duck_dtypes}
    out = []
    for name, t in spark_dtypes:
        sc = canon_spark_dtype(t)
        dc = duck.get(name)
        if dc is not None and sc != dc:
            out.append((name, sc, dc))
    return out


def row_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def _raw_cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_raw_cell(x) for x in v)
    return v


def _cells_near(a, b, rel=1e-9):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_near(x, y, rel) for x, y in zip(a, b))
    return a == b


def only_float_noise(srows, scols, drows, dcols, rel=1e-9):
    """True when the two result sets differ only by <=rel relative float
    noise: sort both sides on the normalized (rounded) representation and
    compare raw cells pairwise under the tolerance."""
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])

    def keyed(rows, order):
        return sorted(
            (tuple(_raw_cell(r[i]) for i in order) for r in rows),
            key=lambda t: tuple(repr(norm_cell(c)) for c in t),
        )

    ss, dd = keyed(srows, sorder), keyed(drows, dorder)
    return len(ss) == len(dd) and all(_cells_near(a, b, rel) for a, b in zip(ss, dd))


def main(names=None):
    import duckdb

    from distgrep_spark import queries as q

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from distgrep_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    # In-memory DuckDB spills to ./.tmp by default; two concurrent
    # checker processes then collide on the same temp file names
    # (measured round 7: an x16 sweep's spilling oracle read a temp
    # block another process had truncated — IO Error mid-query).
    # Give each process its own spill dir.
    # DuckDB creates the leaf lazily but NOT the parent — a missing
    # ./.tmp turns the first spilling oracle into an IO Error (measured:
    # the round-8 x64 sweep's Bradley-Terry twin)
    os.makedirs(".tmp", exist_ok=True)
    con.execute(f"SET temp_directory='.tmp/duck_{os.getpid()}'")
    # DuckDB's default memory_limit is 80% of PHYSICAL RAM — beside live
    # Spark JVMs that overcommits and the kernel OOM-kills the checker
    # (x64 sweep, graph_triangle_count twin at 33 GB RSS). A fixed cap
    # makes big twins spill to temp_directory instead.
    con.execute(
        f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCK_MEM', '24GB')}'"
    )
    for t in TABLES:
        # driver fixtures are single files; Spark-written corpora (the
        # x8/x16 soak builds) are directories of part files — glob them
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    if names:
        targets = list(names)
    else:
        # Scoreboard order, not alphabetical: the scored prefix first,
        # then POST_PREFIX (the curated strongest-first list, which
        # leads with the sketch-certifying gates), then the remainder —
        # so an interrupted or time-boxed sweep has already covered the
        # most load-bearing queries (round-5 verdict ask #7).
        import __spark_entry__ as entry

        targets = list(entry.queries())
    failures = 0
    for name in targets:
        # free py4j refs so the ContextCleaner can drop earlier queries'
        # localCheckpoint blocks — without this a long sweep on a big
        # corpus (x16) OOMs on pinned storage memory (same guard as
        # bench.py / soak_prefix.py, measured round 4).
        gc.collect()
        fn = q.QUERIES[name]
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in q.ORACLES:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle, rows-only)")
            continue
        try:
            cur = con.execute(q.ORACLES[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            dtypes_duck = [
                (r[0], r[1])
                for r in con.execute("DESCRIBE " + q.ORACLES[name]).fetchall()
            ]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            bad = dtype_mismatches(sdf.dtypes, dtypes_duck)
            if bad:
                problems.append(
                    "dtypes: "
                    + ", ".join(f"{c} spark={s} duck={d}" for c, s, d in bad)
                )
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        near = False
        if not problems:
            sm, dm = row_multiset(srows, scols), row_multiset(drows, dcols)
            if sm != dm:
                if only_float_noise(srows, scols, drows, dcols):
                    near = True
                else:
                    diff_s = list((sm - dm).items())[:3]
                    diff_d = list((dm - sm).items())[:3]
                    problems.append(f"values: spark-only={diff_s} duck-only={diff_d}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        elif near:
            print(f"NEAR  {name}: {len(srows)} rows (float noise <=1e-9 rel; driver hash gate is exact)")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(targets) - failures}/{len(targets)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))

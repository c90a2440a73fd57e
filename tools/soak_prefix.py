"""Scored-prefix scale soak: run every SCOREBOARD_PREFIX query against a
key-shifted 4x copy of the star schema and report per-query wall ratios
vs sf0.1 — the 'would this survive a scale-up' measurement for exactly
the surface the driver scores.

The 4x corpus is FK-consistent: customer/supplier/part/orders/lineitem/
events/documents/embeddings shift their keys together per copy
(disjoint entities, constant per-entity volume — the scaling invariant
most of these plans are designed around); nation/region stay shared
dims. Usage:

    python tools/soak_prefix.py [mult] [out_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.1"
SHIFT = 100_000_000


def build(spark, mult: int, out: str) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from distgrep_spark.sources.catalog import load_table

    shifted = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t in ("region", "nation"):
        load_table(spark, SF, t).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    for t, keys in shifted.items():
        base = load_table(spark, SF, t)
        parts = []
        for m in range(mult):
            df = base
            for k in keys:
                df = df.withColumn(k, df[k] + m * SHIFT)
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/soak_sf_x{mult}"

    # x16 data on the default 8 GB local heap (32 threads = 250 MB
    # each) dies in join_salted_skew's replicated hash join with
    # 'Could not allocate memory to grow BytesToBytesMap' (round 5;
    # a mid-build map growth cannot spill). 16 GB is the
    # cluster-honest per-executor figure for the stress joins.
    if mult >= 16:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    import distgrep_spark.queries as q
    from __spark_entry__ import SCOREBOARD_PREFIX
    from distgrep_spark.session import get_spark
    from tools.timing import timed

    spark = get_spark("prefix-soak")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{out}/lineitem.parquet"):
        t0 = time.time()
        build(spark, mult, out)
        print(f"# built x{mult} corpus in {time.time() - t0:.1f}s -> {out}")

    print(f"{'query':34s} {'x1':>7s} {'x' + str(mult):>7s}  ratio")
    tot1 = totm = 0.0
    worst: list[tuple[float, str]] = []
    for name in SCOREBOARD_PREFIX:
        fn = q.QUERIES[name]
        timed(spark, fn, SF, name)  # warm the plan/JIT on the small side first
        t1 = timed(spark, fn, SF, name)
        tm = timed(spark, fn, out, name)
        tot1 += t1
        totm += tm
        ratio = tm / t1 if t1 > 0 else float("inf")
        worst.append((ratio, name))
        print(f"{name:34s} {t1:7.2f} {tm:7.2f}  {ratio:5.2f}")
    print(f"{'TOTAL (warm)':34s} {tot1:7.2f} {totm:7.2f}  {totm / tot1:5.2f}")
    worst.sort(reverse=True)
    print("# worst ratios:", [(n, round(r, 2)) for r, n in worst[:5]])


if __name__ == "__main__":
    main()

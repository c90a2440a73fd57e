"""Dump .explain("formatted") for named queries to plans/<dir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <outdir> <tag> <query> [query ...]
e.g.   python tools/dump_plans.py plans/r12 after kmeans_clusters

Retired dumps stay readable from history, e.g.
git show 41a315b:plans/r11/kmeans_clusters_after.txt

Run from ANY checkout (a worktree at an older commit produces the
matching "before" plans). The judge checks plan claims against these
files, so the dump is the raw formatted explain, unedited.

Limitation: a ``localCheckpoint`` subtree prints as one ``Scan
ExistingRDD`` leaf. Spark 4.1.2's ``LogicalRDD`` keeps only the origin's
``originStats`` and ``originConstraints``, not its plan (its constructor,
as ``javap`` shows it), so nothing under a checkpoint reaches this dump.
A plan-identity or exchange-count claim for a checkpointed query must
also dump the checkpointed DataFrame's own plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, tag, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    from distgrep_spark import queries as q
    from distgrep_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()

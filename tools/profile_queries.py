"""Per-query cost breakdown: driver plan-construction vs execution.

For each named query (default: the 40 slowest in BENCH_FULL.json), measure

  build    — wall to call QUERIES[name](spark, sf_dir) (py4j plan construction,
             any collect()-based codebook pulls, localCheckpoint jobs run HERE)
  exec[k]  — wall of rep k's noop-sink write (codegen JIT lands in exec[0])
  jobs     — Spark jobs triggered during build + one exec (scheduler floor:
             each job is ~10-40 ms of fixed latency at fixture scale)
  compiles — classes Janino compiled during build and per exec rep (a
             warm rep whose classes stay in Spark's codegen cache
             compiles 0)

Usage:  python tools/profile_queries.py [name ...]
Output: one line per query, sorted by median exec, TSV-ish.

The split matters because the optimization levers differ: build-heavy means
py4j/plan cost (use expr strings, from_json literals, fewer chained builders);
exec-heavy at sf0.1 with a flat plan means stage/job-count floors (fewer
shuffles, fewer checkpoint jobs) or Python-boundary cost (Arrow batches).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.timing import compiles, job_group, jobs, timed, warm  # noqa: E402


def profile(spark, name: str, sf_dir: str, reps: int) -> dict:
    """One query's build/exec split. Jobs are counted in the query's own
    job group, so the counts stay exact after the session's 1,000th job
    (see tools.timing.jobs)."""
    from distgrep_spark import queries as q

    j0, c0 = jobs(spark, name), compiles(spark)
    with job_group(spark, name):
        t0 = time.perf_counter()
        df = q.QUERIES[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
    j_build, c_build = jobs(spark, name) - j0, compiles(spark) - c0
    execs = [timed(spark, lambda *_: df, sf_dir, name) for _ in range(reps)]
    j_total, c_total = jobs(spark, name) - j0, compiles(spark) - c0
    med = sorted(execs)[len(execs) // 2]
    return dict(
        name=name,
        build=round(t_build, 3),
        build_jobs=j_build,
        exec0=round(execs[0], 3),
        exec_med=round(med, 3),
        exec_min=round(min(execs), 3),
        jobs_per_exec=round((j_total - j_build) / reps, 1),
        build_compiles=c_build,
        compiles_per_exec=round((c_total - c_build) / reps, 1),
        total_med=round(t_build + med, 3),
    )


def main() -> None:
    from distgrep_spark import queries as q
    from distgrep_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "3")))
    spark = get_spark("distgrep-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, sf_dir)

    names = sys.argv[1:]
    if not names:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bench = json.load(open(os.path.join(here, "BENCH_FULL.json")))["queries"]
        names = [n for n, _ in sorted(bench.items(), key=lambda kv: -kv[1])[:40]]

    rows = []
    for name in names:
        if name not in q.QUERIES:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        r = profile(spark, name, sf_dir, reps)
        rows.append(r)
        print(
            f"{r['total_med']:7.3f} {name:40s} build={r['build']:6.3f} "
            f"(jobs={r['build_jobs']}) exec med={r['exec_med']:6.3f} "
            f"min={r['exec_min']:6.3f} first={r['exec0']:6.3f} "
            f"jobs/exec={r['jobs_per_exec']} compiles={r['build_compiles']}"
            f"+{r['compiles_per_exec']}/exec",
            file=sys.stderr,
        )

    rows.sort(key=lambda r: -r["total_med"])
    print(json.dumps(rows, indent=1))


if __name__ == "__main__":
    main()

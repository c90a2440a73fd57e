"""Automated decade ladder (round-7 verdict ask #5): per-query log-log
wall-time exponents across the x8/x16/x32/x64 key-shifted corpora.

Round 7's 12-plan ladder was hand-picked; this tool mechanizes it: for
each target query it measures warm noop-sink wall time at every rung,
fits the least-squares exponent a in t(m) ~ c * m^a over (log2 m,
log2 t), and FLAGS a > EXPONENT_LIMIT — the superlinearity classes
(window_zscore_rolling's overflow, the CTE fan-out re-execution, the
same-bucket quadratic residual) were all caught BY scaled sweeps, never
by inspection. Modeled output-bound / self-replicating shapes carry a
justified allowlist entry, same discipline as SP_WINDOW_ALLOWLIST.

Rungs reuse tools/soak_prefix.build (FK-consistent key-shifted copies;
missing corpora are built on first use). Sub-second rungs are
overhead-dominated, so a fitted exponent only counts as a flag when the
top rung's wall also clears WALL_FLOOR_S — a 0.3 s -> 0.5 s "exponent"
is plan overhead, not a scale law.

Usage:
    python tools/ladder.py                 # scored prefix + non-grandfathered
    python tools/ladder.py name [name...]  # specific queries
    python tools/ladder.py --all           # full registry (hours)

Writes LADDER.json (merged with existing rows — reruns update in place)
and prints a SCALE.md-ready table. tests/test_registry.py requires every
query registered after round 7 to carry a LADDER.json row.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Override rungs for special sweeps, e.g. the round-9 copy-multiplicity
# slope check: SPARK_GRAFT_LADDER_MULTS=32,64,128 python tools/ladder.py
# dedup_ngram_jaccard ... (rows merge into LADDER.json keyed by rung, so
# an extended run ADDS t["128"] next to the standard rungs).
MULTS = [
    int(m)
    for m in os.environ.get("SPARK_GRAFT_LADDER_MULTS", "8,16,32,64").split(",")
]
EXPONENT_LIMIT = 1.3
WALL_FLOOR_S = 1.0
# Measured reps per rung (beyond the discarded warm/JIT run). Default 1
# keeps full-registry sweeps cheap; solo re-measures of advisory rows
# should use >=2 so the spread advisory has signal.
REPS = int(os.environ.get("SPARK_GRAFT_LADDER_REPS", "1"))
# Per-rung provenance: rows measured inside a concurrent chunked sweep
# are contention-suspect (round-9: 7 rows carried a lower-mult rung >2x
# the next higher one — physically implausible, pure CPU contention).
# Sweep drivers must export SPARK_GRAFT_LADDER_SWEEP=1.
PROVENANCE = "sweep" if os.environ.get("SPARK_GRAFT_LADDER_SWEEP") else "solo"

# Modeled superlinear shapes — each entry says WHY the exponent is the
# design, not a defect (the SP_WINDOW_ALLOWLIST discipline):
LADDER_ALLOWLIST = {
    "join_spatial_grid": "output-bound: near-pair count stacks with copy density (every copy lands in the same grid cells); the engine's candidate join stays linear, the ANSWER grows",
    "dedup_minhash_recall": "runs the exact AllPairs baseline beside the sketch BY DESIGN (the recall certificate); exact pair mass rides planted-dup multiplicity",
    "join_salted_skew": "intentional 16x replication self-model — the query manufactures its own skew hot key and pays the salting fan-out to demonstrate it",
    "dedup_ngram_jaccard_capped": "fixture-vacuous above x16: the 31-token vocabulary saturates the max_df cap so the pair set EMPTIES (documented; the planted-signal twin is dedup_minhash_recall's exact baseline)",
    "dedup_cross_corpus": "same capped posting-list engine as dedup_ngram_jaccard_capped — same cap-saturation behavior on the fixture vocabulary",
    "join_fuzzy_blocked": "output-bound after the round-9 profile collapse: the levenshtein DP runs on DISTINCT name profiles (flat in copy multiplicity), but the expanded pair ANSWER grows m^2 by definition — every dirty copy truly matches every clean copy (650M rows at x64, written at join throughput; 220 s -> 9.9 s A/B)",
    "join_range_theta": "deliberate BNLJ theta-join DEMO (c_acctbal > s_acctbal): quadratic by definition of the exhibited strategy; the scalable form of this answer is join_range via operators/distrank.py, which the docstring cross-references (same entry as BNLJ_ALLOWLIST)",
}


# Diagnosed advisory rows: the advisory stays (the rung walls genuinely
# carry no clean scale signal) but the cause is pinned so it doesn't read
# as unexplained noise. Round-10 A/B (SCALE.md): both rows trace to AQE's
# broadcast-threshold boundary — at mid rungs the join's build side
# (customer⋈orders intermediate) lands just under the 10 MB threshold and
# AQE converts to BHJ, whose driver-side broadcast build costs 3-6x the
# SMJ it replaces IN LOCAL MODE (join_multiway x16: 6.0 s all-BHJ vs
# 1.6-2.0 s forced-SMJ; tpch_q4 x32: 3.2 s BHJ vs 0.9-1.0 s SMJ). The
# choice is cluster-honest (broadcasting a <10 MB build beats shuffling a
# TB probe) and self-correcting at scale (the intermediate outgrows the
# threshold), so the engine keeps Spark's thresholds.
LADDER_ADVISORY_NOTES = {
    "join_multiway": "AQE BHJ/SMJ regime flip at the broadcast boundary; "
    "local-mode broadcast-build cost inverts the cluster economics (A/B in SCALE.md)",
    "tpch_q4_priority_exists": "same AQE broadcast-boundary flip at x32 "
    "(bimodal: AQE picks BHJ or SMJ run-to-run near the threshold)",
    "dq_split_leakage_neardup": "slow warm-up convergence of the 320k-doc "
    "split-projection broadcast build at x64 (plan STABLE all-BHJ across "
    "reps, walls 14.8 -> 4.8 s over 4 reps; min-of-reps is converged — "
    "the spread advisory reflects the tail, not bimodality)",
}


def advisories(
    points: list[tuple[int, float]], spreads: dict[str, float] | None = None
) -> list[str]:
    """Re-measure advisories (round-9 verdict ask #1), mirroring
    tools/bench_regression.py's shakedown rules: (a) a NON-MONOTONE rung
    pair — a lower-mult wall more than 2x the next higher rung's, above
    the 1 s floor — is physically implausible for a fixed plan on a
    growing corpus and means the low rung was measured under contention
    (the 14-way concurrent round-9 sweep produced exactly 7 such rows);
    (b) a rung whose max-min rep spread exceeds half its wall carries no
    signal (one cold-JIT/contended rep skews it). Advisories, not flags:
    an inflated rung can MASK a real superlinearity, so the remedy is a
    solo re-measure, not an allowlist entry."""
    msgs = []
    pts = sorted(points)
    for (m1, t1), (m2, t2) in zip(pts, pts[1:]):
        if t1 > 2 * t2 and t1 >= WALL_FLOOR_S:
            msgs.append(
                f"non-monotone: x{m1}={t1}s > 2*x{m2}={t2}s - re-measure solo"
            )
    for rung, spread in sorted((spreads or {}).items(), key=lambda kv: int(kv[0])):
        wall = dict((str(m), t) for m, t in pts).get(rung)
        if wall is not None and wall >= WALL_FLOOR_S and spread > 0.5 * wall:
            msgs.append(
                f"unstable: x{rung} spread {spread}s on a {wall}s wall - re-measure"
            )
    return msgs


def _fit_exponent(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of log2(t) on log2(m)."""
    xs = [math.log2(m) for m, _ in points]
    ys = [math.log2(max(t, 1e-6)) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    # the x16+ stress joins need the cluster-honest heap (soak_prefix
    # lesson: BytesToBytesMap growth cannot spill mid-build)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

    import distgrep_spark.queries as q
    from __spark_entry__ import SCOREBOARD_PREFIX
    from distgrep_spark.session import get_spark
    from tools.soak_prefix import build
    from tools.timing import timed

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ladder_path = os.path.join(here, "LADDER.json")
    grand_path = os.path.join(here, "tools", "ladder_grandfathered.txt")

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        names = args
    elif "--all" in sys.argv:
        names = list(q.QUERIES)
    else:
        grand = set()
        if os.path.exists(grand_path):
            grand = set(open(grand_path).read().split())
        names = list(SCOREBOARD_PREFIX) + sorted(
            n for n in q.QUERIES
            if n not in grand and n not in SCOREBOARD_PREFIX
        )

    spark = get_spark("ladder")
    spark.sparkContext.setLogLevel("ERROR")

    for m in MULTS:
        out = f"/tmp/soak_sf_x{m}"
        if not os.path.exists(f"{out}/lineitem.parquet"):
            t0 = time.time()
            build(spark, m, out)
            print(f"# built x{m} corpus in {time.time() - t0:.1f}s -> {out}")

    rows = {}
    if os.path.exists(ladder_path):
        with open(ladder_path) as f:
            rows = json.load(f)
    own: dict = {}  # only names THIS run measured — the merge unit
    hdr = "".join(f"{'x' + str(m):>8s}" for m in MULTS)
    print(f"{'query':40s}{hdr}  exp  flag")
    merged = rows
    for name in names:
        try:
            fn = q.QUERIES[name]
            pts = []
            spreads = {}
            for m in MULTS:
                d = f"/tmp/soak_sf_x{m}"
                timed(spark, fn, d, name)  # warm plan/JIT per rung
                reps = [timed(spark, fn, d, name) for _ in range(max(REPS, 1))]
                pts.append((m, min(reps)))
                if len(reps) > 1:
                    spreads[str(m)] = round(max(reps) - min(reps), 2)
        except Exception as e:  # noqa: BLE001
            own[name] = {"error": str(e).splitlines()[0][:200]}
            print(f"{name:40s} ERROR {own[name]['error'][:60]}")
            merged = _persist(ladder_path, own)
            continue
        # merge with any prior rungs (an extended-MULTS run adds points
        # rather than dropping the standard ones) and refit over all
        prior = rows.get(name, {})
        t = dict(prior.get("t", {}))
        t.update({str(m): round(tv, 2) for m, tv in pts})
        prov = dict(prior.get("provenance", {}))
        prov.update({str(m): PROVENANCE for m, _ in pts})
        # Backfill-on-touch (round-11 lint): rungs inherited from a
        # pre-provenance row keep their walls but get tagged 'legacy'
        # (measured before provenance was recorded) — _persist refuses
        # untagged rungs outright, and the registry lint pins that the
        # untagged population only shrinks.
        for rung in t:
            prov.setdefault(rung, "legacy")
        allpts = sorted((int(k), v) for k, v in t.items())
        exp = _fit_exponent(allpts)
        flagged = (
            exp > EXPONENT_LIMIT
            and allpts[-1][1] >= WALL_FLOOR_S
            and name not in LADDER_ALLOWLIST
        )
        adv = advisories(allpts, spreads)
        own[name] = {
            "t": t,
            "exponent": round(exp, 2),
            "flagged": flagged,
            "provenance": prov,
        }
        if adv:
            own[name]["advisory"] = adv
            if name in LADDER_ADVISORY_NOTES:
                own[name]["note"] = LADDER_ADVISORY_NOTES[name]
        cells = "".join(f"{t:8.2f}" for _, t in pts)
        mark = "FLAG" if flagged else ("ADVISE" if adv else "")
        print(f"{name:40s}{cells} {exp:5.2f}  {mark}")
        for a in adv:
            print(f"  advisory: {a}")
        merged = _persist(ladder_path, own)
    flagged = sorted(n for n, v in merged.items() if v.get("flagged"))
    advised = sorted(n for n, v in merged.items() if v.get("advisory"))
    print(f"\n{len(merged)} ladder rows -> LADDER.json; flagged: {flagged or 'NONE'}")
    if advised:
        print(f"re-measure advisories: {advised}")


def _persist(path: str, rows: dict) -> dict:
    """Merge-under-lock write. Concurrent ladder runs (a chunked
    background sweep + a one-off run for a new query) each hold a
    snapshot of LADDER.json from THEIR start time, so a plain overwrite
    loses the other writer's rows (measured twice in round 8:
    eval_winrate_wilson's row vanished under the grandfathered sweep).
    flock + re-read + merge makes the write a proper read-modify-write.
    ``rows`` must be ONLY the names this run measured and is NEVER
    mutated here — folding the on-disk view back into the caller's merge
    unit would re-publish a stale snapshot of other writers' rows on the
    next persist (the round-9 ADVICE.md finding). Returns the full
    merged view for end-of-run summaries."""
    import fcntl

    # Round-11 lint (round-10 verdict ask #3): provenance is a CONTRACT,
    # not a convention. Every rung a run persists must carry a tag
    # ('solo' / 'sweep' from SPARK_GRAFT_LADDER_SWEEP, or 'legacy' for
    # pre-provenance walls re-merged on touch) — a future contended
    # sweep can no longer silently produce untagged rows (the round-9
    # failure class).
    for name, row in rows.items():
        if "error" in row:
            continue
        prov = row.get("provenance", {})
        missing = sorted(m for m in row.get("t", {}) if m not in prov)
        if missing:
            raise ValueError(
                f"ladder row {name!r} rungs {missing} lack provenance "
                "tags; tag them 'solo'/'sweep' (SPARK_GRAFT_LADDER_SWEEP) "
                "or 'legacy' before persisting"
            )

    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        merged = {}
        if os.path.exists(path):
            try:
                with open(path) as f:
                    merged = json.load(f)
            except (OSError, ValueError):
                merged = {}
        merged.update(rows)
        with open(path, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
    return merged


if __name__ == "__main__":
    main()

"""Structured-Streaming throughput soak (round-5 verdict ask #5).

The streaming surface is correctness-proven (file-source multi-batch
pytest, watermark late-data, checkpoint recovery, stream-stream join);
this harness adds the THROUGHPUT evidence: drive the three stateful
pipelines (tumbling window agg, session windows, watermark-scoped
dedup) from the rate source at escalating rows/sec and report, per
(pipeline, rate):

- sustained processedRowsPerSecond vs the offered rate (the ceiling is
  the first rate where processing falls behind),
- end-to-end watermark lag (wall clock - eventTime watermark) at the
  last progress tick — bounded lag == keeping up,
- state-store rows + memory at the last tick, and the ratio of last to
  first tick state rows once the watermark horizon has passed (bounded
  state == expiry is actually firing; an unbounded slope is the classic
  missing-watermark leak).

Window/gap/watermark are shrunk to seconds (the operators take them as
parameters) so horizon expiry and session emission engage inside a
short soak; the state-machine shape per row is identical to the
production 10-minute/30-minute settings. A fraction of events is
shifted seconds into the past (deterministic xxhash64 lag) so the
watermark path sees genuine out-of-order data, as in the pytest
late-data scenarios.

Usage:
    python tools/soak_streaming.py [seconds_per_run]

Writes one summary line per (pipeline, rate); paste the table into
SCALE.md. Rates are chosen to bracket the box's ceiling (measured
round 5: see SCALE.md "streaming throughput soak").
"""

from __future__ import annotations

import calendar
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from distgrep_spark.session import get_spark  # noqa: E402
from distgrep_spark.streaming.pipelines import (  # noqa: E402
    session_counts,
    stateful_dedup,
    tumbling_counts,
)
from distgrep_spark.streaming.stateful import (  # noqa: E402
    throttle_dedup,
    throttle_dedup_eventtime,
)

RATES = [100_000, 800_000, 1_600_000]


def rate_events(spark, rows_per_second: int):
    """Rate-source stream shaped like the events table. ~20% of rows
    arrive 1-8 s late (deterministic hash lag) to engage the watermark
    path; user cardinality 10k keeps session/dedup state per-key
    realistic rather than one-hot."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
        .selectExpr(
            "value AS event_id",
            # late arrivals: hash-selected 20%, lag 1-8 s
            "CASE WHEN xxhash64(value, 7) % 5 = 0 THEN "
            "timestamp - make_interval(0,0,0,0,0,0, 1 + pmod(xxhash64(value, 11), 8)) "
            "ELSE timestamp END AS ts",
            "pmod(xxhash64(value, 13), 10000) AS user_id",
            "CASE pmod(xxhash64(value, 17), 5) WHEN 0 THEN 'view' WHEN 1 THEN 'click' "
            "WHEN 2 THEN 'purchase' WHEN 3 THEN 'error' ELSE 'scroll' END AS event_type",
            "CAST(pmod(xxhash64(value, 19), 1000) AS DOUBLE) / 10 AS value",
            "'{}' AS props",
        )
    )


PIPELINES = {
    # output modes are operator-constrained: session windows support
    # only append (watermark-gated emission); the dedup variant ends in
    # a global count, so complete
    "tumbling": (
        lambda df: tumbling_counts(df, window="5 seconds", watermark="10 seconds"),
        "update",
    ),
    "session": (
        lambda df: session_counts(df, gap="3 seconds", watermark="10 seconds"),
        "append",
    ),
    "dedup": (
        # tiny sink-side reduce so the noop sink pulls every row
        lambda df: stateful_dedup(df, watermark="10 seconds").groupBy().count(),
        "complete",
    ),
    # Round 6: the SHIPPED bounded-state dedup (verdict ask #4) — TTL
    # suppression keyed on (user_id, event_type): state is one
    # timestamp per key (<=50k rows at this corpus's key cardinality)
    # with EventTimeTimeout expiry, vs stateful_dedup's per-event-id
    # rows that made 800k rows/s the round-5 ceiling. Emitted rows go
    # straight to the noop sink in append mode: a downstream streaming
    # aggregate after an arbitrary stateful operator trips Spark's
    # global-watermark correctness check (late-row discard hazard) —
    # and the noop sink pulls every emitted row anyway.
    "dedup_ttl": (
        lambda df: throttle_dedup(df, watermark="10 seconds"),
        "append",
    ),
    # Round 8: the event-time-DETERMINISTIC sibling (watermark-buffered
    # — rows held in state until the watermark passes their event time,
    # decided in event-time order). Prices the determinism trade vs the
    # decide-at-arrival machine above: extra state = one watermark
    # horizon of in-flight rows (rate x 10 s here), extra latency >= the
    # watermark delay.
    "dedup_ttl_buffered": (
        lambda df: throttle_dedup_eventtime(df, watermark="10 seconds"),
        "append",
    ),
}


def _warm_rates(ticks: list[dict]) -> list[float]:
    """processedRowsPerSecond of every tick after the cold batch 0 that
    processed rows (no-data batches report 0.0)."""
    return [
        p["processedRowsPerSecond"]
        for p in ticks
        if p["batchId"] > 0 and p.get("processedRowsPerSecond")
    ]


def soak(spark, name: str, rate: int, seconds: int, min_ticks: int = 0) -> dict:
    """Run pipeline `name` at `rate` rows/s for `seconds`, then report.

    The first batch is cold (its tasks pay codegen, the state store's
    start and the Python workers' spawn), so `proc_rows_per_s` and
    `keeping_up` average the warm batches only, those after batch 0;
    both are None when no warm batch finished.

    min_ticks > 0 makes the run condition-driven: keep polling past
    `seconds` (up to a 4x hard deadline) until that many warm ticks
    with a processedRowsPerSecond exist. The throughput ladder wants a fixed
    wall window (min_ticks=0); the pytest smoke wants "did the harness
    produce a real measurement", which on a saturated box can take
    longer than any fixed window — judging the harness by the box's
    scheduler latency was a measured flake (round 5).

    Ticks come from ``recentProgress`` (the complete ~100-entry
    buffer), NOT sampled ``lastProgress``: update-mode pipelines
    alternate data batches with watermark-advancing NO-DATA batches
    (numInputRows 0, processedRowsPerSecond 0.0), and a fixed-period
    lastProgress sampler can phase-lock onto the empty ones when the
    batch cadence aliases the poll period — measured as a
    deterministic full-suite failure (79 batches completed, every 2 s
    sample an empty batch, proc_rows_per_s 0)."""
    fn, mode = PIPELINES[name]
    df = fn(rate_events(spark, rate))
    q = (
        df.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", f"/tmp/soak_stream_ckpt/{name}_{rate}_{time.time_ns()}")
        .start()
    )
    t0 = time.time()
    ticks = []
    try:
        while True:
            elapsed = time.time() - t0
            ticks = list(q.recentProgress or [])
            if elapsed >= seconds:
                if len(_warm_rates(ticks)) >= min_ticks or elapsed >= 4 * seconds:
                    break
            time.sleep(2)
    finally:
        q.stop()
    if not ticks:
        return {"pipeline": name, "rate": rate, "error": "no progress"}
    last = ticks[-1]
    # state rows: first tick AFTER the watermark horizon (10 s) vs last
    horizon_ticks = [p for p in ticks if p["batchId"] >= 3]
    first_h = horizon_ticks[0] if horizon_ticks else last

    def srows(p):
        ops = p.get("stateOperators") or []
        return sum(o.get("numRowsTotal", 0) for o in ops)

    def smem(p):
        ops = p.get("stateOperators") or []
        return sum(o.get("memoryUsedBytes", 0) for o in ops)

    proc = _warm_rates(ticks)
    mean = sum(proc) / len(proc) if proc else None
    wm_lag = None
    wm = (last.get("eventTime") or {}).get("watermark")
    if wm:
        from datetime import datetime, timezone

        wm_dt = datetime.fromisoformat(wm.replace("Z", "+00:00"))
        wm_lag = (datetime.now(timezone.utc) - wm_dt).total_seconds()
    return {
        "pipeline": name,
        "rate": rate,
        "batches": last["batchId"] + 1,
        "proc_rows_per_s": round(mean) if proc else None,
        "keeping_up": mean >= rate * 0.95 if proc else None,
        "watermark_lag_s": round(wm_lag, 1) if wm_lag is not None else None,
        "state_rows_last": srows(last),
        "state_mb_last": round(smem(last) / 1e6, 1),
        "state_growth_post_horizon": round(
            srows(last) / max(srows(first_h), 1), 2
        ),
    }


def rate_events_churn(spark, rows_per_second: int, gen_seconds: int):
    """Rate-source stream with a ROTATING key population: every
    `gen_seconds` the generator retires the whole user cohort and mints
    a fresh one (generation id folded into user_id), so old keys go
    silent and — once the watermark passes their last_seen + TTL — the
    throttle state machine's pruning branch must actually delete them.
    The static-population ladder could never show this: its keys
    re-arm forever and state plateaus at the live-key count."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
        .selectExpr(
            "value AS event_id",
            "timestamp AS ts",
            # generation = wall-clock cohort (value counts rows, so
            # value DIV (rate*gen_seconds) ticks once per gen_seconds);
            # 10k fresh keys per generation
            f"(value DIV {rows_per_second * gen_seconds}) * 1000000"
            " + pmod(xxhash64(value, 13), 10000) AS user_id",
            "CASE pmod(xxhash64(value, 17), 5) WHEN 0 THEN 'view'"
            " WHEN 1 THEN 'click' WHEN 2 THEN 'purchase'"
            " WHEN 3 THEN 'error' ELSE 'scroll' END AS event_type",
            "CAST(pmod(xxhash64(value, 19), 1000) AS DOUBLE) / 10 AS value",
            "'{}' AS props",
        )
    )


def soak_churn(
    spark,
    rate: int,
    seconds: int,
    gen_seconds: int = 20,
    ttl_seconds: int = 15,
) -> list[dict]:
    """Churn soak for throttle_dedup (round-6 verdict ask #4): rotate
    the key population every `gen_seconds` with a `ttl_seconds` TTL and
    a short watermark, and report the PER-TICK state curve — the
    capacity-planning evidence is state bytes FALLING after each
    cohort's last_seen + TTL passes the watermark, i.e. a non-monotone
    curve, not a plateau."""
    df = throttle_dedup(
        rate_events_churn(spark, rate, gen_seconds),
        watermark="5 seconds",
        ttl_seconds=ttl_seconds,
    )
    q = (
        df.writeStream.format("noop")
        .outputMode("append")
        .option(
            "checkpointLocation",
            f"/tmp/soak_stream_ckpt/churn_{rate}_{time.time_ns()}",
        )
        .start()
    )
    t0 = time.time()
    try:
        while time.time() - t0 < seconds:
            time.sleep(2)
        ticks = list(q.recentProgress or [])
    finally:
        q.stop()
    series = []
    for p in ticks:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        proc = p.get("processedRowsPerSecond") or 0.0
        series.append(
            {
                "batch": p["batchId"],
                # progress timestamps are UTC ISO-8601: timegm, never
                # mktime (which would apply the host's local tz offset)
                "t_s": round(calendar.timegm(time.strptime(
                    p["timestamp"][:19], "%Y-%m-%dT%H:%M:%S")) - t0, 0),
                "rows_per_s": round(proc),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
                "state_mb": round(
                    sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6, 2
                ),
            }
        )
    return series


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "churn-ab":
        # Round-7 verdict ask #7: keep the RocksDB-gauge caveat MEASURED.
        # Runs the identical churn soak under both state-store providers
        # and emits both per-tick curves plus the peak-gauge ratio — the
        # planner-usable number (SCALE.md "RocksDB capacity planning"):
        # RocksDB memoryUsedBytes counts uncompacted SST/memtable
        # versions, the heap provider counts live rows; live state =
        # heap curve, RocksDB gauge ≈ live x the measured multiple.
        seconds = int(sys.argv[2]) if len(sys.argv) > 2 else 120
        rate = int(sys.argv[3]) if len(sys.argv) > 3 else 400_000
        spark = get_spark("stream-churn-ab")
        spark.sparkContext.setLogLevel("ERROR")
        peaks = {}
        for label, cls in [
            ("rocksdb", "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider"),
            ("heap", "org.apache.spark.sql.execution.streaming.state."
                     "HDFSBackedStateStoreProvider"),
        ]:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", cls
            )
            series = soak_churn(spark, rate, seconds)
            for s in series:
                print({"provider": label, **s}, flush=True)
            peaks[label] = max((s["state_mb"] for s in series), default=0)
        ratio = peaks["rocksdb"] / peaks["heap"] if peaks.get("heap") else None
        print(
            f"# peak_mb rocksdb={peaks.get('rocksdb')} heap={peaks.get('heap')}"
            f" gauge_over_live={round(ratio, 1) if ratio else 'n/a'}"
        )
        spark.stop()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "churn":
        seconds = int(sys.argv[2]) if len(sys.argv) > 2 else 120
        rate = int(sys.argv[3]) if len(sys.argv) > 3 else 800_000
        spark = get_spark("stream-churn-soak")
        spark.sparkContext.setLogLevel("ERROR")
        series = soak_churn(spark, rate, seconds)
        peak = max((s["state_mb"] for s in series), default=0)
        last = series[-1]["state_mb"] if series else 0
        falls = sum(
            1
            for a, b in zip(series, series[1:])
            if b["state_mb"] < a["state_mb"] * 0.9
        )
        for s in series:
            print(s, flush=True)
        print(
            f"# peak_state_mb={peak} last_state_mb={last} "
            f"falls(>10%)={falls} non_monotone={falls > 0}"
        )
        spark.stop()
        return
    _main_ladder()


def _main_ladder() -> None:
    seconds = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    # RocksDB is now the session DEFAULT state store (session.get_spark,
    # round-6 verdict ask #4) — the 100-TB backend (off-heap,
    # incremental checkpoints; round-5 A/B: 8.6x less state memory at
    # the same rate and a higher sustainable ceiling, see SCALE.md).
    # SPARK_GRAFT_STATE_STORE=hdfs restores the JVM-heap provider for
    # A/B runs of this ladder.
    spark = get_spark("stream-soak")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# {seconds}s per (pipeline, rate); rates {RATES}")
    for name in PIPELINES:
        for rate in RATES:
            r = soak(spark, name, rate, seconds)
            print(r, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

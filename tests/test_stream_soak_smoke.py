"""Smoke test for the streaming throughput-soak harness
(tools/soak_streaming.py): a few seconds of the tumbling pipeline at a
modest rate must produce progress ticks, keep state bounded (15
window-type rows), and report the metric fields SCALE.md cites — so the
harness can't silently rot between rounds. The full rate ladder and the
session/dedup state-model measurements live in SCALE.md (round 5), not
in the suite."""

from __future__ import annotations

from tools.soak_streaming import PIPELINES, soak


def test_tumbling_soak_reports_metrics(spark):
    # condition-driven: poll until one completed tick after the cold
    # batch 0 exists (hard deadline 4x inside soak) — a fixed window
    # judged the box's scheduler latency, not the harness (measured
    # flake under full-suite load). Ticks come from recentProgress, not
    # sampled lastProgress — periodic sampling phase-locked onto
    # update-mode's no-data batches (the second measured flake; see
    # soak docstring)
    r = soak(spark, "tumbling", 50_000, 10, min_ticks=1)
    assert "error" not in r, r
    assert r["batches"] >= 1
    # None when no warm batch finished
    assert r["proc_rows_per_s"] is not None and r["proc_rows_per_s"] > 0, r
    # 5s windows x (view/click/purchase/error/scroll): state stays a
    # handful of rows, never per-event (50k rows/s would be millions);
    # 200 leaves slack for a stalled watermark on a saturated box
    assert 0 < r["state_rows_last"] <= 200
    for field in ("keeping_up", "watermark_lag_s", "state_growth_post_horizon"):
        assert field in r


def test_pipeline_table_is_complete():
    assert set(PIPELINES) == {
        "tumbling", "session", "dedup", "dedup_ttl", "dedup_ttl_buffered"
    }
    for fn, mode in PIPELINES.values():
        assert mode in {"update", "append", "complete"}

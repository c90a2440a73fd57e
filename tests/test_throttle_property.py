"""Property-based verification of the TTL-suppression dedup rule: for
ARBITRARY small event sets, the batch lag-window form (the DuckDB-
oracled twin) must agree with the obvious sequential Python reference —
walk each key's events in (ts, event_id) order and emit exactly those
more than TTL past the previous RAW event. Small key/time domains force
collisions, exact-TTL boundary gaps, and same-timestamp ties."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distgrep_spark.streaming.stateful import (
    THROTTLE_TTL_MINUTES,
    _make_throttle_bucketed,
    _make_throttle_buffered,
    throttle_dedup,
)

BASE = datetime(2024, 1, 1)

# (user, type-index, offset-minutes): a tight domain around the 120-min
# TTL so gaps land below, exactly at, and above the boundary
_EVENTS = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 1), st.integers(0, 500)),
    min_size=1,
    max_size=10,
)


def _reference(rows):
    """Sequential rule: emit iff no same-key event in the preceding TTL
    (anchor = previous RAW event, strictly-greater-than gap)."""
    out = set()
    last: dict[tuple, int] = {}
    for eid, uid, etype, minutes in sorted(
        rows, key=lambda r: (r[1], r[2], r[3], r[0])
    ):
        key = (uid, etype)
        us = minutes * 60_000_000
        prev = last.get(key)
        if prev is None or us - prev > THROTTLE_TTL_MINUTES * 60_000_000:
            out.add(eid)
        last[key] = us  # every event refreshes the anchor
    return out


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_EVENTS)
def test_throttle_batch_matches_sequential_reference(spark, events):
    rows = [
        (i, u, f"t{t}", m) for i, (u, t, m) in enumerate(events)
    ]
    df = spark.createDataFrame(
        [
            (eid, uid, etype, BASE + timedelta(minutes=m))
            for eid, uid, etype, m in rows
        ],
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
    )
    got = {r["event_id"] for r in throttle_dedup(df).collect()}
    assert got == _reference(rows)


# ---------------------------------------------------------------------------
# The two streaming machines, driven directly through a simulated
# applyInPandasWithState protocol (per-batch watermark advance computed
# Spark-style from the max event time of the PREVIOUS batch, pre-filter
# of sub-watermark late rows, timeout reset per call, PySpark's
# setTimeoutTimestamp checks, EventTimeTimeout firing) — no Spark
# session per example, so hypothesis can actually sweep.
#
# Event-time-deterministic (watermark-buffered) machine: the emitted set
# must be a PURE FUNCTION of the delivered event set — equal to the same
# sequential reference for ARBITRARY batch splits and arrival orders.
# Decide-at-arrival machine: equal to the reference for any batch split
# of an EVENT-TIME-ORDERED arrival (throttle_dedup's contract).
# ---------------------------------------------------------------------------

_DELAY_MIN = 60
_FLUSH_ID = 10_000


class _FakeState:
    def __init__(self, wm_ms_ref):
        self._wm_ms_ref = wm_ms_ref
        self._value = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.timeout_ms = None

    def getCurrentWatermarkMs(self):
        return self._wm_ms_ref()

    def setTimeoutTimestamp(self, ms):
        # PySpark 4.1.2 GroupState.setTimeoutTimestamp rejects these
        if ms <= 0:
            raise ValueError(f"timeout timestamp {ms} is not positive")
        if ms < self._wm_ms_ref():
            raise ValueError(f"timeout {ms} is older than the watermark")
        self.timeout_ms = ms


def _drive(make, batches_minutes, ttl_minutes=THROTTLE_TTL_MINUTES):
    """Feed (eid, uid, etype, minutes) batches through the machine that
    ``make(ttl_us)`` builds, with Spark's watermark protocol; returns
    (emitted_ids, delivered_rows)."""
    import pandas as pd

    fn = make(ttl_minutes * 60_000_000)
    wm_ms = 0
    state = _FakeState(lambda: wm_ms)
    max_ts_ms = 0
    emitted: set[int] = set()
    delivered: list[tuple] = []

    def invoke(rows, timed_out):
        state.hasTimedOut = timed_out
        state.timeout_ms = None  # Spark resets the timeout every call
        pdfs = []
        if rows:
            pdfs = [pd.DataFrame(
                {
                    "event_id": [r[0] for r in rows],
                    "user_id": [r[1] for r in rows],
                    "event_type": [r[2] for r in rows],
                    "ts": [BASE + timedelta(minutes=r[3]) for r in rows],
                }
            )]
        for out in fn((0,), iter(pdfs), state):
            emitted.update(int(e) for e in out["event_id"])

    # getCurrentWatermarkMs is EPOCH millis in Spark — the harness must
    # speak the same unit as the buffered rows' epoch-us timestamps
    base_ms = int(BASE.timestamp() * 1000)

    def epoch_ms(minutes):
        return base_ms + minutes * 60_000

    # two trailing empty batches let the final watermark fire timers
    for batch in list(batches_minutes) + [[], []]:
        # Spark drops rows strictly below the CURRENT watermark before
        # the stateful operator sees them
        rows = [r for r in batch
                if epoch_ms(r[3]) >= wm_ms or wm_ms == 0]
        delivered.extend(rows)
        if rows:
            invoke(rows, timed_out=False)
        # watermark advances AFTER the batch: max event time - delay
        for r in rows:
            max_ts_ms = max(max_ts_ms, epoch_ms(r[3]))
        wm_ms = max(wm_ms, max_ts_ms - _DELAY_MIN * 60_000)
        # EventTimeTimeout: fire when the new watermark passes the timer
        if (state.exists and state.timeout_ms is not None
                and state.timeout_ms < wm_ms):
            invoke([], timed_out=True)
    return emitted, delivered


_SPLITS = st.lists(st.integers(0, 9), min_size=0, max_size=3)

# offsets on a 30-minute grid: same-key gaps of exactly the TTL (four
# steps) and same-time ties are common instead of rare
_GRID_EVENTS = st.lists(
    st.tuples(
        st.integers(0, 1), st.integers(0, 1), st.integers(0, 16).map(lambda k: 30 * k)
    ),
    min_size=1,
    max_size=10,
)


# half the examples come from each strategy: the uniform offsets cover
# arbitrary gaps and the grid covers the exact-TTL boundary. An arbitrary
# arrival order drops most rows as late, so few grid examples keep an
# exact-TTL pair: a `>=` boundary mutant passed 2 of 11 fresh-database
# runs at 60 examples, 1 of 10 at 120 and 0 of 12 at 250
@settings(max_examples=250, deadline=None)
@given(events=st.one_of(_EVENTS, _GRID_EVENTS), cuts=_SPLITS)
def test_buffered_machine_matches_reference_for_any_batch_split(events, cuts):
    rows = [(i, u, f"t{t}", m) for i, (u, t, m) in enumerate(events)]
    # arbitrary batch split of the ARRIVAL order hypothesis chose
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    # flush row advances the final watermark past every real event
    flush_min = max((m for _, _, _, m in rows), default=0) + _DELAY_MIN + 10_000
    batches.append([(_FLUSH_ID, 99, "flush", flush_min)])
    emitted, delivered = _drive(_make_throttle_buffered, batches)
    want = _reference([r for r in delivered if r[0] != _FLUSH_ID])
    assert emitted - {_FLUSH_ID} == want, (batches, emitted, want)
    assert _FLUSH_ID not in emitted  # stays buffered above the watermark


@settings(max_examples=60, deadline=None)
@given(events=_GRID_EVENTS, cuts=_SPLITS)
def test_arrival_machine_matches_reference_for_event_time_ordered_splits(
    events, cuts
):
    # event-time-ordered arrival (ties by event_id, the reference's
    # order), cut into arbitrary batches; a trailing far-future row of a
    # fresh key advances the watermark so every carry entry expires
    rows = sorted(
        ((i, u, f"t{t}", m) for i, (u, t, m) in enumerate(events)),
        key=lambda r: (r[3], r[0]),
    )
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    flush_min = rows[-1][3] + _DELAY_MIN + 10_000
    batches.append([(_FLUSH_ID, 99, "flush", flush_min)])
    emitted, delivered = _drive(_make_throttle_bucketed, batches)
    assert len(delivered) == len(rows) + 1  # nothing arrives late
    assert emitted == _reference(rows) | {_FLUSH_ID}, (batches, emitted)

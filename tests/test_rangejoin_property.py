"""Property-based verification of the banded range join and the frame
sampler: for ARBITRARY small inputs, the scale-path formulations must
agree with the obvious quadratic / pure-Python references. (The fixture
oracles prove one dataset; these prove the algebra — bucket boundaries,
ties, negatives, empty sides.)"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distgrep_spark.operators.multimodal import sample_frames
from distgrep_spark.operators.rangejoin import count_greater_join

# Values cluster around bucket boundaries (width 1.0 below) on purpose:
# exact multiples, ties, and negatives are the cases a banded
# decomposition gets wrong if the bucket math is off by one. NULL
# follows SQL ``v > p``: never counted, and a NULL probe has no row.
_POINTS = [None, -2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0, 3.0]
_VALS = st.lists(st.sampled_from(_POINTS), max_size=10)
_PROBES = st.lists(st.sampled_from(_POINTS), min_size=1, max_size=6)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(probes=_PROBES, values=_VALS)
def test_banded_count_greater_matches_quadratic(spark, probes, values):
    pdf = spark.createDataFrame(list(enumerate(probes)), "pid long, pval double")
    vdf = spark.createDataFrame([(v,) for v in values], "vval double")
    got = {
        r["pid"]: r["n_greater"]
        for r in count_greater_join(
            pdf, vdf, probe_col="pval", value_col="vval", keys=["pid"],
            n_buckets=4,  # small B stresses boundary/tie handling
        ).collect()
    }
    for i, p in enumerate(probes):
        want = sum(1 for v in values if None not in (v, p) and v > p)
        if want:
            assert got[i] == want, (i, p, values)
        else:
            assert i not in got, (i, p, values)  # inner-join semantics


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(frames=st.lists(st.integers(0, 40), min_size=1, max_size=8),
       k=st.integers(1, 10))
def test_sample_frames_invariants(spark, frames, k):
    # Includes n_frames == 0: a frameless clip must yield ZERO samples
    # (not an ANSI divide-by-zero / descending-sequence error).
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(frames)], "doc_id long, n_frames long"
    )
    rows = sample_frames(df, k=k).collect()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["sample_ord"], r["frame_idx"]))
    for i, n in enumerate(frames):
        m = min(k, n)
        got = sorted(by_doc.get(i, []))
        # exactly m samples, ords 0..m-1, idx = (ord*n) // m, all in range
        assert [o for o, _ in got] == list(range(m)), (i, n, k, got)
        for o, idx in got:
            assert idx == (o * n) // m
            assert 0 <= idx < n
        # nondecreasing and first sample is frame 0 (when any)
        idxs = [idx for _, idx in got]
        assert idxs == sorted(idxs)
        if n > 0:
            assert idxs[0] == 0

"""chunk_documents edge cases (operators/text.py): boundary arithmetic
is where chunkers silently lose training data."""

from __future__ import annotations

import pytest

from distgrep_spark.operators.text import chunk_documents


def chunks_of(spark, text, **kw):
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    out = chunk_documents(df, **kw).collect()
    return sorted((r["chunk_id"], r["chunk_text"], r["n_tokens"]) for r in out)


def test_short_doc_yields_one_full_chunk(spark):
    got = chunks_of(spark, "a b c", chunk_tokens=8, overlap=2)
    assert got == [(0, "a b c", 3)]


def test_overlap_repeats_tokens(spark):
    text = " ".join(f"t{i}" for i in range(10))
    got = chunks_of(spark, text, chunk_tokens=6, overlap=2)
    # stride 4: starts at tokens 0, 4, 8 (1-based 1, 5; 9 > 10-2=8 stops)
    assert [c[0] for c in got] == [0, 1]
    assert got[0][1].split()[-2:] == got[1][1].split()[:2]  # 2-token overlap
    # every token appears in at least one chunk
    covered = {t for _, txt, _ in got for t in txt.split()}
    assert covered == set(text.split())


def test_exact_boundary_no_empty_tail(spark):
    text = " ".join(f"t{i}" for i in range(8))
    got = chunks_of(spark, text, chunk_tokens=4, overlap=0)
    assert got == [
        (0, "t0 t1 t2 t3", 4),
        (1, "t4 t5 t6 t7", 4),
    ]


def test_full_coverage_on_fixture(spark):
    """No token lost: union of chunk tokens per doc == doc tokens
    (multiset equality is overlap-dependent; set coverage is not)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], set()).update(r["chunk_text"].split())
    for row in docs.collect():
        assert set(row["text"].split()) == by_doc[row["doc_id"]]


def test_bad_overlap_rejected(spark):
    df = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


# ---------------------------------------------------------------------------
# Property-based: chunking vs a pure-Python reference
# ---------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_tokens=st.integers(0, 40),
        chunk=st.integers(2, 12),
        overlap=st.integers(0, 6),
    )
    def test_chunking_matches_python_reference(spark, n_tokens, chunk, overlap):
        if overlap >= chunk:
            return
        toks = [f"w{i}" for i in range(n_tokens)]
        text = " ".join(toks)
        stride = chunk - overlap
        # reference: starts at 0, stride, ... while start <= max(n-overlap-1, 0)
        # (mirrors the operator's 1-based sequence bound)
        limit = max(n_tokens - overlap, 1)
        starts = list(range(0, limit, stride))
        # empty text has zero tokens -> one 0-token chunk of the empty
        # string (every document yields at least one chunk)
        want = [
            (cid, " ".join(toks[s : s + chunk]), len(toks[s : s + chunk]))
            for cid, s in enumerate(starts)
        ]
        got = chunks_of(
            spark, text, chunk_tokens=chunk, overlap=overlap
        )
        assert got == want, (n_tokens, chunk, overlap)

except ImportError:  # pragma: no cover
    pass

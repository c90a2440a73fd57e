"""Similarity-search tests: numpy brute-force oracle for cosine_topk,
recall bound for the multi-table LSH ANN path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from distgrep_spark.operators.similarity import ann_lsh_topk, cosine_topk

DIM = 16
N = 40


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(N, DIM).astype(np.float32)
    # plant a strong near-neighbor pair
    vecs[1] = vecs[0] + 0.01 * rng.randn(DIM).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df, vecs


def np_topk(vecs, qids, k):
    out = {}
    normed = vecs / np.linalg.norm(vecs.astype(np.float64), axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in qids:
        order = sorted(
            (i for i in range(len(vecs)) if i != q),
            key=lambda i: (-sims[q, i], i),
        )
        out[q] = order[:k]
    return out


def test_cosine_topk_matches_numpy(emb_df):
    df, vecs = emb_df
    qs = df.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = cosine_topk(df, qs, k=5, exclude_self=True).collect()
    want = np_topk(vecs, [0, 1, 2], 5)
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert by_q == want


def test_cosine_topk_finds_planted_neighbor(emb_df):
    df, _ = emb_df
    qs = df.where(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    top1 = cosine_topk(df, qs, k=1, exclude_self=True).collect()[0]
    assert top1["vec_id"] == 1
    assert top1["cos_sim"] > 0.99


def test_ann_recall_on_fixture(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, qs, k=10, exclude_self=True).select("query_id", "vec_id").collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann_lsh_topk(emb, qs, k=10, exclude_self=True).select("query_id", "vec_id").collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.91 at defaults (H=4, L=16); bound leaves headroom but
    # still catches a broken bucketing scheme
    assert recall >= 0.75, f"ANN recall@10 too low: {recall}"


def test_ann_deterministic(emb_df):
    df, _ = emb_df
    qs = df.where(F.col("vec_id") < 2).select(F.col("vec_id").alias("query_id"), "embedding")
    a = sorted(map(tuple, ann_lsh_topk(df, qs, k=3, dim=DIM).collect()))
    b = sorted(map(tuple, ann_lsh_topk(df, qs, k=3, dim=DIM).collect()))
    assert a == b


def test_ivf_recall_on_fixture(spark):
    from distgrep_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, qs, k=10, exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann_ivf_topk(emb, qs, k=10, exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.92 at defaults (16 lists, nprobe 4); bound leaves
    # headroom but catches a broken assignment/probe path
    assert recall >= 0.6, f"IVF recall@10 too low: {recall}"


def test_ivf_deterministic(spark):
    from distgrep_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, ann_ivf_topk(emb, qs, k=5).collect()))
    b = sorted(map(tuple, ann_ivf_topk(emb, qs, k=5).collect()))
    assert a == b


def test_pandas_scorer_agrees_with_hof(spark):
    """The vectorized Pandas-UDF scorer must produce the same top-k sets
    and near-identical scores as the HOF expression path (last-ulp BLAS
    differences allowed, ranking must survive them on this fixture)."""
    from distgrep_spark.operators.similarity import cosine_topk_pandas

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hof = cosine_topk(emb, qs, k=10, exclude_self=True).collect()
    pd_ = cosine_topk_pandas(emb, qs, k=10, exclude_self=True).collect()
    assert {(r["query_id"], r["vec_id"]) for r in hof} == {
        (r["query_id"], r["vec_id"]) for r in pd_
    }
    h = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in hof}
    for r in pd_:
        assert abs(h[(r["query_id"], r["vec_id"])] - r["cos_sim"]) < 1e-9


def test_negative_sampling_is_content_addressed_and_label_disjoint(spark):
    """The md5-ranked draw matches a driver-side recompute exactly and
    never samples the anchor's own label (or the anchor itself)."""
    import hashlib

    import distgrep_spark.queries as q
    from distgrep_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    rows = q.QUERIES["sim_negative_sampling"](spark, sf).collect()
    emb = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf, "embeddings").select("vec_id", "label").collect()
    }
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(by_anchor) == {v for v in emb if v < 5}
    for anchor, got in by_anchor.items():
        a_label = emb[anchor]
        cands = [
            v for v, lab in emb.items() if lab != a_label and v != anchor
        ]
        expect = sorted(
            cands,
            key=lambda v: (hashlib.md5(f"{anchor}:{v}".encode()).hexdigest(), v),
        )[:8]
        got_sorted = [r["vec_id"] for r in sorted(got, key=lambda r: r["neg_rank"])]
        assert got_sorted == expect
        assert all(emb[v] != a_label for v in got_sorted)
        assert [r["neg_rank"] for r in sorted(got, key=lambda r: r["neg_rank"])] == list(
            range(1, len(got) + 1)
        )


def test_pq_adc_recall_and_determinism(spark):
    """PQ asymmetric-distance search (sim_ann_pq_adc): the demo
    codebook (M=4, k=8 — production uses k=256) is very lossy, so the
    meaningful property is placement, not exact recall: the ADC top-10
    must sit far up the TRUE int8-L2 ranking (measured mean true rank
    33-77 of 499 vs ~250 for random; bound 125 = half random with 1.6x
    margin), recall must clear a catastrophic-regression floor
    (measured 0.24), and the integer ranking must be bit-identical
    across partition layouts."""
    import numpy as np

    from distgrep_spark.queries.analytics import q_sim_ann_pq_adc

    sf = "/root/testdata/sf0.01"
    got = q_sim_ann_pq_adc(spark, sf).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(len(v) == 10 for v in by_q.values())

    # exact int8-grid L2 reference in numpy
    emb = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf}/embeddings.parquet")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    q8 = np.clip(np.floor(emb * 200 + 0.5), -127, 127).astype(np.int64)
    recalls = []
    for qid in range(5):
        d = ((q8 - q8[qid]) ** 2).sum(axis=1)
        d[qid] = np.iinfo(np.int64).max
        order = np.lexsort((np.arange(len(d)), d))
        rank_of = {v: i for i, v in enumerate(order.tolist())}
        mean_rank = sum(rank_of[v] for v in by_q[qid]) / 10
        assert mean_rank <= 125, (qid, mean_rank)
        true10 = set(order[:10].tolist())
        recalls.append(len(true10 & set(by_q[qid])) / 10)
    assert sum(recalls) / len(recalls) >= 0.15, recalls

    rep = q_sim_ann_pq_adc(spark, sf).repartition(7).collect()
    assert sorted(map(tuple, rep)) == sorted(map(tuple, got))


def test_er_resolve_planted_clusters(spark):
    """Entity resolution (er_resolve_customers): every planted variant
    must fold into its origin's cluster — cluster sizes are exactly
    1 + [7|custkey] + [13|custkey], the canonical id is always the
    clean record, and no cluster ever mixes origins."""
    from distgrep_spark.queries.analytics import q_er_resolve_customers

    rows = q_er_resolve_customers(spark, "/root/testdata/sf0.001").collect()
    by_cluster = {r.cluster_id: r for r in rows}
    n_cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).count()
    assert len(rows) == n_cust  # one cluster per real entity
    for cid, r in by_cluster.items():
        assert cid % 4 == 0  # canonical is always the clean record
        custkey = cid // 4
        expect = 1 + (custkey % 7 == 0) + (custkey % 13 == 0)
        assert r.n_members == expect, (custkey, r.n_members, expect)
        assert len(r.canonical_name) == 16


# A corpus with an all-zero vector: vec 0 has no direction, so every
# cosine it takes part in is undefined.
ZERO_CORPUS = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]


def test_zero_vector_scores_null_and_ranks_last(spark):
    """An all-zero corpus or query vector must not raise DIVIDE_BY_ZERO
    under ANSI: its pairs score NULL, rank last (DESC is NULLS LAST,
    then vec_id), every operator ranks like the Pandas-UDF scorer, and
    the non-zero pairs keep their plain dot / (|a| |b|) score. The LSH
    parameters (one plane, 16 tables) make every pair collide somewhere,
    so the approximate operators see the full candidate set."""
    from distgrep_spark.operators.similarity import ann_ivf_topk, cosine_topk_pandas

    df = spark.createDataFrame(ZERO_CORPUS, "vec_id long, embedding array<float>")
    qs = df.where(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    vecs = {i: np.array(v, dtype=np.float64) for i, v in ZERO_CORPUS}

    def ranked(rows):
        return sorted((r["query_id"], r["vec_id"], r["rank"]) for r in rows)

    want = ranked(cosine_topk_pandas(df, qs, k=10, exclude_self=True).collect())
    assert want == [(0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 0, 3), (1, 2, 2), (1, 3, 1)]
    runs = {
        "cosine_topk": cosine_topk(df, qs, k=10, exclude_self=True),
        "ann_ivf_topk": ann_ivf_topk(df, qs, k=10, exclude_self=True),
        "ann_lsh_topk": ann_lsh_topk(
            df, qs, k=10, dim=2, num_planes=1, num_tables=16, exclude_self=True
        ),
    }
    for name, topk in runs.items():
        rows = topk.collect()
        assert ranked(rows) == want, name
        for r in rows:
            a, b = vecs[r["query_id"]], vecs[r["vec_id"]]
            if not a.any() or not b.any():
                assert r["cos_sim"] is None, (name, r)
            else:
                want_sim = float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))
                assert r["cos_sim"] == want_sim, (name, r)


def _int8_grid_np(x):
    """numpy twin of INT8_GRID: float32 -> float64, then half-up."""
    return np.clip(np.floor(x.astype(np.float64) * 200 + 0.5), -127, 127).astype(np.int64)


def test_int8_grid_matches_numpy_on_edge_values(spark):
    """The global int8 grid clamps to ±127, rounds half UP (floor(x*200
    + 0.5): 12.5 -> 13 and -12.5 -> -12, where numpy's round would go
    half-even), and maps 0 to 0; float32 inputs promote to double first."""
    from distgrep_spark.operators.similarity import INT8_GRID

    up, down = np.float32(1.0), np.float32(-1.0)
    edges = np.array(
        [
            0.0, -0.0, 0.635, 0.64, 5.0, 3.0e38, -0.635, -0.64, -5.0, -3.0e38,
            0.0025, -0.0025, 0.0075, -0.0075, 0.0625, -0.0625, 0.1875, -0.1875,
            np.nextafter(np.float32(0.0025), up), np.nextafter(np.float32(0.0025), down),
            np.nextafter(np.float32(-0.0025), up), np.nextafter(np.float32(-0.0025), down),
        ],
        dtype=np.float32,
    )
    df = spark.createDataFrame(
        [(0, [float(x) for x in edges])], "vec_id long, embedding array<float>"
    )
    got = df.selectExpr(f"{INT8_GRID} AS qv").first()["qv"]
    want = _int8_grid_np(edges)
    assert got == want.tolist()
    assert want[4] == 127 and want[8] == -127  # clamped
    assert want[14] == 13 and want[15] == -12  # half-up, not half-even


def test_pq_scored_matches_numpy_and_argmin_breaks_ties_low(spark):
    """pq_scored's every dist is the exact integer squared L2 between
    the quantized subvectors, and the code argmin min(dist * K + cid)
    takes the lowest cid on a tie: codebook entries 3 and 5 are planted
    identical, so vec 5 and its copy vec 10 encode as 3, not 5."""
    from distgrep_spark.operators.similarity import INT8_GRID, PQ_D, PQ_K, PQ_M, pq_scored

    rng = np.random.RandomState(11)
    vecs = (rng.randn(12, PQ_M * PQ_D) * 0.2).astype(np.float32)
    vecs[5] = vecs[3]
    vecs[10] = vecs[3]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    scored = pq_scored(df.selectExpr("vec_id", f"{INT8_GRID} AS qv"))

    q = _int8_grid_np(vecs).reshape(12, PQ_M, PQ_D)
    dist = ((q[:, None, :, :] - q[None, :PQ_K, :, :]) ** 2).sum(axis=3)  # [v, cid, m]
    got = {(r["vec_id"], r["m"], r["cid"]): r["dist"] for r in scored.collect()}
    assert got == {
        (v, m, c): int(dist[v, c, m])
        for v in range(12)
        for m in range(PQ_M)
        for c in range(PQ_K)
    }

    codes = {
        (r["vec_id"], r["m"]): r["code"]
        for r in scored.groupBy("vec_id", "m")
        .agg(F.expr(f"min(dist * {PQ_K} + cid) % {PQ_K}").alias("code"))
        .collect()
    }
    assert codes == {
        (v, m): int(np.argmin(dist[v, :, m])) for v in range(12) for m in range(PQ_M)
    }
    assert all(codes[(v, m)] == 3 for v in (3, 5, 10) for m in range(PQ_M))

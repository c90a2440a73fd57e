"""Similarity search over embedding columns (north-star extensions).

Two paths:

- ``cosine_topk`` — brute force: broadcast the (small) query set against
  the corpus, score with built-in higher-order functions (zip_with +
  aggregate — JVM-side, no UDF), rank per query with a window. Exact; the
  baseline the approximate path is measured against. At 100 TB this is a
  single map-side pass over the corpus (queries broadcast), then a
  per-query top-k — the shuffle carries only k·|Q| rows thanks to
  rank-filter pushdown into the window sort.
- ``ann_lsh_topk`` — random-hyperplane LSH: bucket both sides by the sign
  pattern of dot products against H fixed hyperplanes, then score only
  within buckets (optionally ± multi-probe). Recall < 1, cost ~1/2^H of
  brute force per probe. The hyperplanes are derived from a seeded RNG at
  plan-build time and inlined as literals, so results are deterministic
  run-to-run.

All arithmetic is promoted to double BEFORE multiplication (float32
products lose bits and DuckDB's DOUBLE[] oracle computes in double;
double-first makes Spark and DuckDB bit-identical — verified).

The vector kernels the registry's search queries share live here once:
the global int8 grid (``INT8_GRID``), the exact-BIGINT squared L2
(``int_l2sq``), product-quantization subspace scoring (``pq_scored``),
cosine over materialized norms (``cos_normed``, NULL on a zero norm)
and the per-query top-k tail (``_topk``). The codebook pull is
``operators/clustering.codebook``.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve in module globals
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from distgrep_spark.functions.literals import array_lit, col_lit

# The global int8 grid (fixed scale 1/200, clamped to ±127, rounded
# half-up) as a SQL fragment over the ``embedding`` column. One scale for
# every vector keeps subvectors of different vectors comparable, and
# every distance on the grid is an exact BIGINT.
INT8_GRID = (
    "transform(embedding, v -> CAST(greatest(-127.0D, least(127.0D,"
    " floor(CAST(v AS DOUBLE) * 200 + 0.5))) AS BIGINT))"
)

# Product quantization: PQ_M subspaces of PQ_D dims, PQ_K codebook
# entries per subspace (the subvectors of ``vec_id < PQ_K``, the same
# predicate on both engines).
PQ_M = 4
PQ_D = 16
PQ_K = 8


def int_l2sq(a: str, b: str) -> str:
    """Exact squared L2 between two BIGINT array columns, as a SQL
    fragment (pass column names). Max 64 * 254^2 on the int8 grid, so
    no ANSI overflow."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def pq_scored(q8: DataFrame) -> DataFrame:
    """(vec_id, m, cid, dist) for every vector's subvector m against
    every codebook entry cid of subspace m, from ``q8`` = (vec_id, qv)
    on the int8 grid. The PQ_M-way subvector explode is narrow and the
    PQ_M * PQ_K-row codebook broadcasts; callers take the integer argmin
    ``min(dist * PQ_K + cid)`` (lowest cid on a tie) for codes, and
    query rows as an asymmetric-distance lookup table."""
    struct_items = ", ".join(
        f"struct({m} AS m, slice(qv, {PQ_D * m + 1}, {PQ_D}) AS sub)"
        for m in range(PQ_M)
    )
    subs = q8.selectExpr(
        "vec_id", f"explode(array({struct_items})) AS s"
    ).selectExpr("vec_id", "s.m AS m", "s.sub AS sub")
    cents = subs.where(F.col("vec_id") < PQ_K).selectExpr(
        "vec_id AS cid", "m", "sub AS cvec"
    )
    return subs.join(broadcast(cents), "m").selectExpr(
        "vec_id", "m", "cid", f"{int_l2sq('sub', 'cvec')} AS dist"
    )


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cos_normed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` over their materialized norms. A zero
    norm on either side scores NULL (``try_divide``; ANSI ``/`` raises
    DIVIDE_BY_ZERO), which ranks last under ``DESC`` and fails any
    threshold filter."""
    return F.try_divide(dot(a, b), na * nb)


def cosine(a: Column, b: Column) -> Column:
    return cos_normed(a, b, norm(a), norm(b))


def _topk(scored: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """Per-query top-k of (query_id, vec_id, cos_sim) rows: rank 1..k by
    (cos_sim DESC, vec_id), after dropping the query's own row when
    ``exclude_self``."""
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return scored.select(
        "query_id", "vec_id", "cos_sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``corpus`` needs (vec_id, embedding), ``queries`` (query_id,
    embedding). Returns
    (query_id, vec_id, cos_sim, rank) with rank 1..k per query, ties
    broken on vec_id so output is deterministic. ``exclude_self`` drops
    corpus rows whose id equals the query id BEFORE ranking (so rank 1 is
    the nearest *other* vector)."""
    c = corpus.select(F.col("vec_id"), as_double(F.col("embedding")).alias("_cv"))
    q = queries.select(F.col("query_id"), as_double(F.col("embedding")).alias("_qv"))
    scored = c.crossJoin(broadcast(q)).select(
        "query_id",
        "vec_id",
        cosine(F.col("_cv"), F.col("_qv")).alias("cos_sim"),
    )
    return _topk(scored, k, exclude_self)


def l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into 16 lists by nearest centroid, probe the ``nprobe`` nearest lists
    per query, brute-force only inside them.

    Expected cost ~ nprobe/16 of brute force; recall depends on how well
    the centroids tile the data. Centroids here are the first 16 corpus
    vectors by id — a deterministic, id-pruned
    scan standing in for a k-means codebook (at 100 TB you'd train the
    codebook once on a sample and broadcast it; the assignment/probe/
    score dataflow — which is what this operator exercises — is
    identical). Assignment is map-side (centroids are plan literals, no
    shuffle); the probe join shuffles on the single int cluster id.
    """
    cent_rows = corpus.select("vec_id", "embedding").orderBy("vec_id").limit(16).collect()
    cents = [[float(x) for x in r["embedding"]] for r in cent_rows]
    cents_lit = col_lit(cents, "array<array<double>>")

    c = (
        corpus.select(F.col("vec_id"), as_double(F.col("embedding")).alias("_cv"))
        .withColumn("_dists", F.transform(cents_lit, lambda p: l2sq(F.col("_cv"), p)))
        .withColumn(
            "_cluster", F.array_position(F.col("_dists"), F.array_min(F.col("_dists")))
        )
        .select("vec_id", "_cv", "_cluster")
    )
    # nprobe nearest centroids per query: sort (dist, idx) structs
    # lexicographically, slice, unpack
    q = (
        queries.select(F.col("query_id"), as_double(F.col("embedding")).alias("_qv"))
        .withColumn("_dists", F.transform(cents_lit, lambda p: l2sq(F.col("_qv"), p)))
        .withColumn(
            "_probe",
            F.explode(
                F.slice(
                    F.sort_array(
                        F.arrays_zip(
                            F.col("_dists"),
                            F.sequence(F.lit(1), F.size(F.col("_dists"))).alias("idx"),
                        )
                    ),
                    1,
                    nprobe,
                )
            ),
        )
        .select("query_id", "_qv", F.col("_probe.idx").cast("long").alias("_cluster"))
    )
    scored = c.join(broadcast(q), "_cluster").select(
        "query_id",
        "vec_id",
        cosine(F.col("_cv"), F.col("_qv")).alias("cos_sim"),
    )
    return _topk(scored, k, exclude_self)


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (xorshift-free: a simple
    seeded LCG is enough for LSH bucketing and keeps this dependency-free)."""
    state = seed & 0x7FFFFFFF or 1
    planes: list[list[float]] = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def plane_dots(vec_name: str, planes: list[list[float]]) -> Column:
    """Array of dot products of the ``vec_name`` column against every
    hyperplane, built as one ``F.expr`` string: plan construction is
    driver py4j traffic, not Catalyst work."""
    return F.expr(
        f"transform({array_lit(planes, 'array<double>')}, "
        f"p -> aggregate(zip_with({vec_name}, p, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v))"
    )


def table_buckets(dots_name: str, num_tables: int, num_planes: int) -> Column:
    """Array of (table, bucket) structs from a MATERIALIZED dot-products
    column (pass the column NAME of a real column, not an inline
    ``plane_dots`` call — HOF lambdas inline their argument into every
    use site). Table t's bucket is the sign pattern of its plane slice
    folded as a binary number. Built as one ``F.expr`` string: the
    previous 16-struct ``F.aggregate`` builder chain cost ~0.7 s of
    driver-side py4j per call site (measured round 2 → round 3)."""
    entries = ", ".join(
        f"named_struct('table', {t}, 'bucket', "
        f"aggregate(slice({dots_name}, {t * num_planes + 1}, {num_planes}), 0L, "
        "(acc, d) -> acc * 2 + IF(d > 0, 1L, 0L)))"
        for t in range(num_tables)
    )
    return F.expr(f"array({entries})")


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    exclude_self: bool = False,
    corpus_partitions: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates that share an LSH bucket
    with the query in at least one of ``num_tables`` hash tables.

    ``corpus_partitions``: optional repartition of the corpus BEFORE the
    per-row plane-dot math (dim x num_tables x num_planes interpreted
    fused ops per vector). A small corpus arriving as one parquet
    row-group is ONE task no matter how many cores exist — parquet can't
    split below row-group granularity — so the CPU-bound bucketing
    serializes; spreading it is a tiny shuffle for a cores-wide speedup
    (measured 1.3 s -> 0.2 s at sf0.1 on local[32]). Leave None when the
    input already has >= cores partitions (any real 100 TB table).

    Multi-table (L tables × H hyperplanes) is the knob for weak-signal
    corpora: per-table collision for a pair at angle θ is (1-θ/π)^H, and
    L tables union to 1-(1-p^H)^L — more tables buys recall, more planes
    buys selectivity. At 100 TB the corpus's (table, bucket) index is
    written bucketed once (the explode is map-side, no shuffle), queries
    broadcast, and the scored candidate set is ~|corpus|·(1-(1-2^-H)^L)
    per query instead of |corpus|. Hyperplanes come from a seeded LCG at
    plan time → fully deterministic, no RNG at runtime."""
    planes = [
        row
        for t in range(num_tables)
        for row in _hyperplanes(dim, num_planes, 42 + 7919 * t)
    ]
    if corpus_partitions:
        corpus = corpus.repartition(corpus_partitions)
    c = (
        corpus.select(F.col("vec_id"), as_double(F.col("embedding")).alias("_cv"))
        .withColumn("_ncv", norm(F.col("_cv")))
        .withColumn("_dots", plane_dots("_cv", planes))
        .select(
            "vec_id",
            "_cv",
            "_ncv",
            F.explode(table_buckets("_dots", num_tables, num_planes)).alias("tb"),
        )
    )
    q = (
        queries.select(F.col("query_id"), as_double(F.col("embedding")).alias("_qv"))
        .withColumn("_nqv", norm(F.col("_qv")))
        .withColumn("_dots", plane_dots("_qv", planes))
        .select(
            "query_id",
            "_qv",
            "_nqv",
            F.explode(table_buckets("_dots", num_tables, num_planes)).alias("tb"),
        )
    )
    # Score BEFORE the candidate dedup: a (q, c) pair colliding in t of L
    # tables is scored t times redundantly (same deterministic value),
    # but the dedup shuffle then carries 24-byte (ids, score) rows
    # instead of two dim-double vectors per row — at 100 TB the shuffle
    # width, not the redundant map-side arithmetic, is the bottleneck.
    # Norms are materialized per ROW before the join (not inlined in a
    # cosine() call per PAIR — see dedup_embedding_cosine).
    scored = (
        c.join(broadcast(q), "tb")
        .select(
            "query_id",
            "vec_id",
            cos_normed(F.col("_cv"), F.col("_qv"), F.col("_ncv"), F.col("_nqv")).alias(
                "cos_sim"
            ),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _topk(scored, k, exclude_self)


def cosine_pandas_udf():
    """Arrow-batched cosine scorer: numpy row-wise over stacked arrays.

    The vectorized alternative to the ``cosine`` HOF expression — same
    math, ~10x per-pair throughput at wide dims (BLAS vs interpreted
    expression eval), at the cost of the Python worker hop. Use for
    candidate-verify stages where pairs x dims dominates; results can
    differ from the HOF path in the last ulp (BLAS reduction order), so
    it backs rows-only queries, never SQL-oracle ones."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return _cos


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """cosine_topk with the Pandas-UDF scorer (same plan shape:
    broadcast queries, map-side score, per-query top-k window)."""
    cos = cosine_pandas_udf()
    c = corpus.select(F.col("vec_id"), as_double(F.col("embedding")).alias("_cv"))
    q = queries.select(F.col("query_id"), as_double(F.col("embedding")).alias("_qv"))
    scored = c.crossJoin(broadcast(q)).select(
        "query_id", "vec_id", cos(F.col("_cv"), F.col("_qv")).alias("cos_sim")
    )
    return _topk(scored, k, exclude_self)

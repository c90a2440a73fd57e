"""Embedding clustering: per-label centroids and Lloyd k-means.

``centroids_by`` is the one-pass "train a codebook from labeled data"
step (long-form output so plain SQL can oracle-check every dimension).
``kmeans`` is the unsupervised version — iterative algorithm #2 in this
repo (after connected components): assignment is map-side against
broadcast-as-literal centroids (the IVF machinery), the update step is
one groupBy-avg per round, and the k x dim centroid matrix — the ONLY
thing that ever reaches the driver — is a few KB regardless of corpus
size. That loop shape is exactly how you train an IVF codebook at
100 TB: iterate on a sample, then one final map-side assignment pass
over everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distgrep_spark.functions.literals import col_lit
from distgrep_spark.functions.numeric import sorted_sum
from distgrep_spark.operators.similarity import as_double, l2sq

# Hard cap on the k x dim centroid matrix collected to the driver each
# Lloyd round (the ONLY data that ever reaches the driver). 2^20 cells
# = 8 MB of doubles — far above any real codebook (IVF: k<=65536,
# dim<=4096 only with k<=256) and far below driver-memory trouble. The
# loud raise mirrors linearprobe's bounded-collect guard: if a caller
# ever asks for a codebook that is no longer "a few KB on the driver",
# fail fast instead of silently turning a map-side algorithm into a
# driver bottleneck (guide section 5).
_MAX_CODEBOOK_CELLS = 1 << 20


def centroids_by(df: DataFrame, group_col: str = "label") -> DataFrame:
    """Long-form per-group centroids: (group, dim, avg_val) — one row
    per dimension so the oracle is a plain posexplode/unnest + avg.

    The mean is a sequential fold over the SORTED values, not a plain
    ``avg``: double summation isn't associative, so a partial-aggregated
    avg depends on partitioning and can differ from the oracle engine in
    the last ulp. Folding in canonical ascending order makes both
    engines execute the identical sequence of IEEE additions."""
    return (
        df.select(group_col, F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
        .groupBy(group_col, "dim")
        .agg((F.expr(sorted_sum("v")) / F.count(F.lit(1))).alias("avg_val"))
    )


def codebook(emb: DataFrame, n: int) -> tuple[list[int], list[list[float]]]:
    """The centroid list of the rows ``vec_id < n`` (the oracles' own
    predicate; ``orderBy().limit(n)`` agrees only while ids start at 0
    and are contiguous), ascending by id: ``(ids, cents)``. At most n
    rows reach the driver. ``assign_to_centroids`` returns a list index,
    so ``ids[cluster]`` maps it back to the centroid's vec_id, and the
    ascending order makes index ties lowest-id ties."""
    rows = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") < n)
        .orderBy("vec_id")
        .collect()
    )
    return (
        [int(r["vec_id"]) for r in rows],
        [[float(x) for x in r["embedding"]] for r in rows],
    )


def _assign(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
    keep: list[str] | None = None,
) -> DataFrame:
    cents_lit = col_lit(cents, "array<array<double>>")
    keep = keep or []
    return (
        df.select(F.col(id_col), *keep, as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_d", F.transform(cents_lit, lambda c: l2sq(F.col("_v"), c)))
        .select(
            id_col,
            *keep,
            "_v",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
            .cast("int")
            .alias("cluster"),
        )
    )


def assign_to_centroids(
    df: DataFrame,
    cents: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
) -> DataFrame:
    """One Lloyd assignment step against a fixed centroid list: (id,
    *keep, cluster) with cluster in [0, len(cents)), ties to the lowest
    index. ``keep`` columns ride through the map-side assignment — a
    caller that needs per-vector payload next to the cluster id
    (embedding_index_pipeline's max_err) must NOT join it back on
    id_col afterwards: that join re-executes the whole upstream lineage
    on the second branch (measured round 5: the pipeline's quantize
    math ran 3x). This is the kernel ``kmeans`` iterates and the final
    map-side pass a 100 TB codebook application runs; exposed so the
    registry's ``kmeans_assign_step`` query can oracle-check it
    directly (DuckDB reproduces the element-order fold distance
    bit-for-bit)."""
    return _assign(df, cents, id_col, vec_col, keep=keep or []).select(
        id_col, *(keep or []), "cluster"
    )


def kmeans(
    df: DataFrame,
    *,
    k: int,
    max_iter: int = 10,
) -> DataFrame:
    """Lloyd k-means: returns (id, cluster) with cluster in [0, k).

    Deterministic init (the k lowest-id vectors); stops early when no
    assignment changes. Ties in the distance argmin break to the lowest
    cluster index on both assignment passes, so results are stable for a
    fixed centroid sequence.

    Loop shape (r11 optimization, refined in session 3): each Lloyd
    round is ONE driver-blocking job and ONE argmin pass — a map-side
    assignment under the current from_json centroid literal feeds a
    groupBy((cluster, dim)) average rollup, and the <= k x dim result
    rows are the only thing collected. Early stop is the CENTROID
    FIXPOINT on the driver (new_cents == cents, exact float compare of
    collected lists): assignment stability implies the centroid
    fixpoint exactly one round later (same assignment -> same group
    means) and a fixpoint trivially implies assignment stability, so
    on the fixtures the returned labels are identical to the classic
    changed==0 loop — verified by collect-compare against BOTH earlier
    forms at sf0.001/0.01/0.1 (k=10, max_iter=4). Caveat at scale
    (r11 advisor): the compared means are plain partial-merge-order-
    dependent F.avg doubles, so a stable assignment is NOT guaranteed
    to reproduce bit-identical means across rounds. A missed fixpoint
    usually just re-runs an identical round, but because cents is
    reassigned to the ulp-shifted new_cents it can in principle flip a
    distance near-tie's argmin vs the classic loop. The declared
    kmeans_clusters query gates on cluster SIZES (rows-only), which a
    one-ulp tie flip of one vector cannot realistically perturb on the
    fixtures; a production caller that needs bit-stable labels should
    quantize the fixpoint compare (e.g. struct.pack bit patterns of a
    sorted-fold mean, like centroids_by). History: the original form
    ran three jobs per round
    (two-level rollup collect + assignment checkpoint + changed-count
    join; 31 driver jobs, 4.2 s interleaved); the first r11 rewrite
    fused the round into one job but paid TWO argmin passes per row
    per round (assignment under current AND previous centroids,
    2.9 s); this form keeps the one-job round at one argmin pass
    (2.7 s, and at 100 TB each round saves a full distance pass over
    the corpus)."""
    init = df.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    cents = [[float(x) for x in r["embedding"]] for r in init]
    if not cents:
        # empty input: no centroids to seed — degrade to an empty,
        # schema-stable result (the reference's empty-input discipline,
        # server.go:154-156; without this guard cents[0] IndexErrors)
        return df.select(F.col("vec_id"), F.lit(0).cast("int").alias("cluster")).limit(0)

    def _argmin(cs: list[list[float]]):
        cl = col_lit(cs, "array<array<double>>")
        d = F.transform(cl, lambda c: l2sq(F.col("_v"), c))
        return (F.array_position(d, F.array_min(d)) - 1).cast("int")

    dim = len(cents[0])
    if k * dim > _MAX_CODEBOOK_CELLS:
        raise ValueError(
            f"kmeans codebook k*dim = {k}*{dim} = {k * dim} exceeds the "
            f"driver-collect bound {_MAX_CODEBOOK_CELLS}; the per-round "
            "collected centroid matrix would no longer be driver-trivial "
            "(train on a sample / reduce k or dim)"
        )
    for _ in range(max_iter):
        rows = (
            df.select(as_double(F.col("embedding")).alias("_v"))
            .withColumn("_c", _argmin(cents))
            .select("_c", F.posexplode("_v").alias("dim", "v"))
            .groupBy("_c", "dim")
            .agg(F.avg("v").alias("a"))
            .collect()
        )
        by_cd = {(r["_c"], r["dim"]): r["a"] for r in rows}
        # empty clusters keep their previous centroid
        new_cents = [
            [by_cd[(c, d)] for d in range(dim)]
            if (c, 0) in by_cd
            else cents[c]
            for c in range(k)
        ]
        if new_cents == cents:
            # centroid fixpoint: the assignment was stable last round,
            # so A(cents) below equals the classic loop's final table.
            break
        cents = new_cents
    # Converged: `cents` is the fixpoint table. Ran out of budget:
    # `cents` is C_max_iter (the classic loop's final assigned =
    # A(C_max_iter)). Either way the result is one map-side pass.
    return _assign(df, cents, "vec_id", "embedding").select("vec_id", "cluster")

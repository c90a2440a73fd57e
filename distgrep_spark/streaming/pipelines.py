"""Streaming pipelines over the events table.

Batch/stream-polymorphic: each function branches only on
``df.isStreaming`` to attach the watermark (a no-op concept in batch).
Scale notes: watermarks bound the state store (without one, windowed
state grows forever); ``dropDuplicates`` within a watermark keeps the
dedup state finite; sliding windows multiply state by window/slide — at
100 TB/day choose slides accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of events (explicit schema — streaming sources
    never infer). ``max_files_per_trigger`` throttles micro-batch size;
    in tests it forces multi-batch runs so watermark semantics engage."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _with_watermark(df: DataFrame, watermark: str | None) -> DataFrame:
    if df.isStreaming and watermark is not None:
        return df.withWatermark("ts", watermark)
    return df


def grep_event_counts(df: DataFrame, pattern: str) -> DataFrame:
    """The distgrep query, streamified: running count of matching events
    per distinct ``event_type`` — same filter→groupBy→count plan as the
    batch flagship (operators/grep.py), fed by a stream."""
    return (
        df.where(F.col("event_type").contains(pattern))
        .groupBy(F.col("event_type").alias("line"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def tumbling_counts(
    df: DataFrame,
    *,
    window: str = "10 minutes",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Tumbling-window event counts (window start/end flattened so the
    schema is oracle-friendly)."""
    return (
        _with_watermark(df, watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


# sliding_counts' windows: SLIDE_WINDOW long, one every SLIDE_EVERY, so
# each event lands in exactly 2 windows; the events_sliding_counts twin
# enumerates those 2 candidate buckets per row. The watermark is the
# 30-minute horizon tumbling_counts and session_counts default to.
SLIDE_WINDOW = "10 minutes"
SLIDE_EVERY = "5 minutes"
SLIDE_WATERMARK = "30 minutes"


def sliding_counts(df: DataFrame) -> DataFrame:
    """Sliding-window counts: each event lands in window/slide windows."""
    return (
        _with_watermark(df, SLIDE_WATERMARK)
        .groupBy(F.window("ts", SLIDE_WINDOW, SLIDE_EVERY).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def session_counts(
    df: DataFrame,
    *,
    gap: str = "5 minutes",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Per-user session windows (gap-based). session_window is the
    Spark-native stateful session assembler; in batch mode it degenerates
    to gaps-and-islands, which is exactly the DuckDB oracle."""
    return (
        _with_watermark(df, watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_dedup(df: DataFrame, *, watermark: str | None = "30 minutes") -> DataFrame:
    """Exactly-once-style dedup by ``event_id`` within the watermark
    horizon. The watermark bounds the dedup state store; events with the
    same id arriving inside the horizon are dropped."""
    d = _with_watermark(df, watermark)
    if df.isStreaming and watermark is not None:
        # watermark-scoped state expiry; without it state grows unbounded
        return d.dropDuplicatesWithinWatermark(["event_id"])
    return d.dropDuplicates(["event_id"])


def enrich_events_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each event decorated with its
    customer dimension attributes (``user_id`` = ``c_custkey``).

    The canonical streaming-enrichment shape: the STATIC side is
    explicitly broadcast, so every micro-batch is a map-side hash join
    with NO streaming state and no watermark requirement (unlike
    stream-stream joins, a stream-static join buffers nothing). At
    100 TB/day the dim re-broadcasts per batch, which is also how
    slowly-changing dimension updates get picked up mid-stream. LEFT
    join: enrichment must never drop an event just because the dim row
    is missing."""
    from pyspark.sql.functions import broadcast

    return events.join(
        broadcast(dim), events["user_id"] == dim["c_custkey"], "left"
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "c_mktsegment",
        "c_nationkey",
    )


def interval_join_clicks_errors(
    clicks: DataFrame,
    errors: DataFrame,
    *,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click paired with every error by the
    same user in the preceding 10 minutes (inclusive both ends).

    Both inputs must carry watermarks (30 minutes here) and the join
    condition must bound event time on BOTH sides — that pair of
    constraints is what lets the engine expire buffered state; an
    unbounded stream-stream join would hold both streams forever. In
    batch the same expression is a plain range join (the DuckDB oracle
    for the registry twin).

    ``how='left_outer'`` keeps clicks with no error in the window:
    matched rows emit immediately, but the NULL-padded row for an
    unmatched click can only emit once the watermark passes the click's
    whole candidate window — the engine must PROVE no future error can
    match before padding. Until the watermark advances that far the row
    stays buffered (the classic outer-stream-join gotcha: a drained
    finite stream withholds its trailing outer rows; tests advance the
    watermark with a flush row). In batch the same code is a plain LEFT
    JOIN, so the twin is still fully SQL-oracled.

    Expects clicks(event_id, user_id, ts) and errors with columns already
    aliased apart: (err_user_id, err_ts, err_value).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner|left_outer, got {how!r}")
    c = _with_watermark(clicks, "30 minutes")
    e = errors.withWatermark("err_ts", "30 minutes") if errors.isStreaming else errors
    cond = (
        (c["user_id"] == e["err_user_id"])
        & (e["err_ts"] >= F.col("ts") - F.expr("INTERVAL 10 minutes"))
        & (e["err_ts"] <= F.col("ts"))
    )
    return c.join(e, cond, how).select(
        "event_id", "user_id", "ts", "err_ts", "err_value"
    )


def windowed_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Per-window top-k heavy hitters over a tumbling-counts table
    (``window_start``, ``event_type``, ``n``): rank by (n DESC,
    event_type) and keep ``rank <= k``.

    Rank is NOT a streaming aggregation — Structured Streaming cannot
    emit a consistent per-window ranking incrementally. The production
    shape (and the pytest's) is therefore: stream ``tumbling_counts``
    in update mode, MERGE each micro-batch's updated counts into a
    keyed store from ``foreachBatch`` (last update per key wins — the
    counts are cumulative), and run THIS function over the store —
    the same commutative-monoid argument as mv_incremental_maintain,
    with the ranking applied to the merged result. In batch mode the
    store is just the counts table, so the twin below runs the
    identical code path end to end.

    The 100-TB / high-cardinality view: the rank window hash-partitions
    by window_start (thousands of concurrent windows → thousands of
    partitions), and a per-partition pre-prune (top-k within each map
    partition before the exchange) bounds the shuffle at k rows per
    window per partition — the TakeOrdered generalization."""
    return counts.selectExpr(
        "window_start",
        "event_type",
        "n",
        f"row_number() OVER (PARTITION BY window_start"
        f" ORDER BY n DESC, event_type) AS rank",
    ).where(f"rank <= {k}")

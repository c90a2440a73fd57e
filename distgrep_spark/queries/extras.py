"""Second-wave operator coverage: array/map scalar functions, pivot,
exact percentiles, union-by-name, as-of join, and the reference client's
highlight presentation op (reference client.go:17-21, 69-79).

Every query here has a DuckDB oracle; outputs are scalars (or
deterministically sorted scalars) so the driver's order-insensitive
value-hash discipline applies cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distgrep_spark.functions.textfns import TOKENS_DUCK, tokens
from distgrep_spark.operators.asof import asof_join
from distgrep_spark.operators.grep import grep_lines, highlight
from distgrep_spark.queries.registry import query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Array & map scalar functions
# ---------------------------------------------------------------------------


@query(
    "scalar_array_fns",
    oracle="""
    SELECT l_orderkey,
           count(*)                         AS n_lines,
           min(l_quantity)                  AS min_qty,
           max(l_quantity)                  AS max_qty,
           count(DISTINCT l_quantity)       AS n_distinct_qty,
           bool_or(l_quantity = 15.0)       AS has_qty_15,
           sum(l_quantity)                  AS qty_sum
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array builders + higher-order functions: per order, collect the
    quantity array then answer everything FROM the array (size,
    element_at, array_distinct, array_contains, aggregate-fold). The
    oracle states the same facts as plain group aggregates — same values,
    which is the point: the array path is semantically checked, not just
    runnable. Quantities are small integers in double, so the fold sum is
    exact regardless of order."""
    li = load_table(spark, sf_dir, "lineitem")
    qtys = F.sort_array(F.collect_list("l_quantity"))
    return (
        li.groupBy("l_orderkey")
        .agg(qtys.alias("qtys"))
        .select(
            "l_orderkey",
            F.size("qtys").alias("n_lines"),
            F.element_at("qtys", 1).alias("min_qty"),
            F.element_at("qtys", -1).alias("max_qty"),
            F.size(F.array_distinct("qtys")).alias("n_distinct_qty"),
            F.array_contains("qtys", F.lit(15.0)).alias("has_qty_15"),
            F.aggregate("qtys", F.lit(0.0), lambda acc, x: acc + x).alias("qty_sum"),
        )
    )


@query(
    "scalar_map_fns",
    oracle="""
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS qty_line1,
           count(DISTINCT l_linenumber) AS n_lines,
           max(l_linenumber)            AS max_lineno
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_scalar_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map builders + lookups: per order, build linenumber->quantity with
    map_from_entries, then read it back via element_at / size / map_keys.
    The fixture's line numbers are NOT unique per order (unlike real
    TPC-H), and Spark's ANSI mode rejects duplicate map keys outright —
    so duplicate keys are resolved to the max quantity per line number,
    which also keeps the oracle deterministic.

    Round 11: ONE l_orderkey exchange instead of two. The former
    (l_orderkey, l_linenumber) max pre-aggregation ran as its own
    exchange feeding a second l_orderkey exchange — two full passes of
    the fact table over the network. Per-order line counts are bounded
    (<= 7 lineitems), so the dedup moves into the reduce side as an
    array operation: collect the raw (lineno, qty) structs under one
    orderkey-keyed exchange, sort ascending, and keep the LAST struct
    of each lineno run (ascending sort puts the max qty last within a
    lineno) — bit-identical map entries, half the exchanges (the
    bradley_terry one-fact-exchange pattern, guide §2.3/§2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    entries = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", F.col("l_quantity").alias("q")))
        ).alias("es")
    )
    # try_element_at, not es[i+1]: ANSI throws on an out-of-bounds []
    # index and OR conjuncts don't guarantee short-circuit (the
    # text_bpe_encode lesson) — every disjunct must be safely evaluable.
    m = F.expr(
        "map_from_entries(filter(es, (x, i) -> i = size(es) - 1"
        " OR try_element_at(es, i + 2).l_linenumber != x.l_linenumber))"
    )
    return entries.select("l_orderkey", m.alias("m")).select(
        "l_orderkey",
        F.element_at("m", F.lit(1)).alias("qty_line1"),
        F.size("m").alias("n_lines"),
        F.array_max(F.map_keys("m")).alias("max_lineno"),
    )


# ---------------------------------------------------------------------------
# Pivot / conditional aggregation
# ---------------------------------------------------------------------------


@query(
    "pivot_status_totals",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(25,6)) END)
                AS DOUBLE) AS total_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(25,6)) END)
                AS DOUBLE) AS total_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(o_totalprice AS DECIMAL(25,6)) END)
                AS DOUBLE) AS total_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with EXPLICIT value list — omitting it makes Spark run an
    extra distinct scan just to discover the columns, a silent 2x on the
    input at scale. Equivalent to conditional aggregation (the oracle).
    Sums route through decimal so the value hash is independent of
    summation order on both engines."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double"))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           quantile_cont(l_quantity, 0.99) AS q99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, verified on ties and interpolated points).
    Exact percentile is a full sort per group — fine on bounded group
    counts; at 100 TB reach for approx_percentile (KLL/GK sketch, merges
    map-side) and accept rank error instead."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_quantity, array(0.25, 0.50, 0.75, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("p"))
        .select(
            "l_returnflag",
            F.element_at("p", 1).alias("q25"),
            F.element_at("p", 2).alias("q50"),
            F.element_at("p", 3).alias("q75"),
            F.element_at("p", 4).alias("q99"),
        )
    )


# ---------------------------------------------------------------------------
# Union by name (schema-mismatched sources)
# ---------------------------------------------------------------------------


@query(
    "set_union_by_name",
    oracle="""
    SELECT c_name AS name, 'customer' AS side, c_acctbal AS acctbal
    FROM customer
    UNION ALL BY NAME
    SELECT 'supplier' AS side, s_name AS name FROM supplier
    """,
)
def q_set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns): positional union would silently
    mis-align these projections (different column order, one side missing
    a column); by-name alignment nulls the gap — DuckDB's
    UNION ALL BY NAME twin."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.lit("customer").alias("side"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"), F.col("s_name").alias("name")
    )
    return c.unionByName(s, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------


@query(
    "join_asof_events",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    errors AS (
      SELECT user_id, ts AS err_ts, max(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, e.err_ts, e.err_value
    FROM clicks c
    ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts >= e.err_ts
    """,
)
def q_join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness: each click joined to the latest error
    at-or-before it for the same user (operators/asof.py — union +
    window-fill, not a quadratic range join). Errors are pre-aggregated
    per (user, ts) so the pick is deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("err_ts"))
        .agg(F.max("value").alias("err_value"))
    )
    return asof_join(
        clicks,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="err_ts",
        payload=["err_value"],
    )


@query(
    "join_asof_forward_events",
    oracle="""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts AS click_ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, c.click_ts, c.click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.click_ts
    """,
)
def q_join_asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each error joined to the user's next click at or
    after it — the "did the user recover" probe, and the mirror
    direction of join_asof_events (operators/asof.py direction=
    'forward': same one-exchange union + window-fill scan with the
    frame flipped to current->following). Clicks pre-aggregated per
    (user, ts) so the pick is deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        payload=["click_value"],
        direction="forward",
    )


@query(
    "join_asof_nearest_events",
    oracle="""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts AS click_ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    b AS (
      SELECT e.event_id, e.user_id, e.ts, c.click_ts AS b_ts, c.click_value AS b_val
      FROM errors e
      ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.click_ts
    ),
    f AS (
      SELECT e.event_id, c.click_ts AS f_ts, c.click_value AS f_val
      FROM errors e
      ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.click_ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN f.f_ts IS NULL
                  OR (b.b_ts IS NOT NULL AND b.ts - b.b_ts <= f.f_ts - b.ts)
                THEN b.b_ts ELSE f.f_ts END AS click_ts,
           CASE WHEN f.f_ts IS NULL
                  OR (b.b_ts IS NOT NULL AND b.ts - b.b_ts <= f.f_ts - b.ts)
                THEN b.b_val ELSE f.f_val END AS click_value
    FROM b JOIN f USING (event_id)
    """,
)
def q_join_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of: each error joined to the click closest in time in
    EITHER direction, ties to the earlier click — the sensor-alignment
    join (match each reading to the nearest reference sample). DuckDB
    has no nearest mode, so the oracle composes backward + forward ASOF
    joins and picks per row; the operator (operators/asof.py
    direction='nearest') gets both fills from ONE sorted scan — one
    exchange where the oracle's composition costs three. Interval
    comparisons stay in exact timestamp arithmetic on both engines; the
    equal-ts click arrives through the backward fill at distance zero
    and wins every tie on both sides."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        payload=["click_value"],
        direction="nearest",
    )


@query(
    "window_cumulative_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY event_type, ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_types
    FROM flagged
    """,
)
def q_window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an event stream — per user, how many
    distinct event types have been seen up to and including each event.
    SQL has no windowed count-distinct; the standard decomposition is
    first-occurrence flag + prefix sum, and the flag itself avoids a
    second (user, type)-keyed exchange: sorted by (type, ts, id) within
    user, an occurrence is first iff the type changes vs lag — so BOTH
    windows key on user_id alone and Catalyst plans ONE exchange with
    two sorts, not two exchanges. (Flag correctness: within a user the
    sort groups each type contiguously in first-occurrence order;
    prefix-summing the flags in TIME order then counts exactly the
    types whose first occurrence is <= the row.)

    The 100 TB view: this is the per-entity "new vs returning" shape
    (cumulative distinct SKUs per customer, distinct error codes per
    host) — state per row is one comparison; the alternative
    collect_set-over-window materializes the set per ROW and dies on
    wide histories."""
    ev = load_table(spark, sf_dir, "events")
    w_type = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    first_seen = F.when(
        ~F.lag("event_type").over(w_type).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    w_time = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        first_seen.alias("first_seen"),
        "ts",
    ).select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_time).cast("bigint").alias("cum_types"),
    )


# ---------------------------------------------------------------------------
# Highlight (reference presentation op)
# ---------------------------------------------------------------------------


@query(
    "grep_highlight",
    oracle="""
    SELECT replace(text, 'the', '*the*') AS line
    FROM documents
    WHERE contains(text, 'the')
    """,
)
def q_grep_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference client's highlight mode (client.go:69-79) as an
    engine projection: matched lines with every occurrence wrapped in
    asterisks. Keeps duplicates (highlight precedes the dedup/count)."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text").alias("line"))
    matched = grep_lines(docs, "the", column="line")
    return highlight(matched, "the", column="line", style="asterisks")


# ---------------------------------------------------------------------------
# Skew-salted join
# ---------------------------------------------------------------------------


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS qty_total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.py): same rows as the plain
    join — which is exactly what the oracle certifies — with the big
    side's hot keys spread over 16 sub-keys so no single shuffle
    partition can become the straggler. At this SF Spark may broadcast
    the replicated side anyway; the operator targets the 100 TB regime
    where it cannot.

    The sum follows the sql_dsum convention (exact DECIMAL accumulate,
    DOUBLE out): a raw decimal sum's *result type* is engine-dependent —
    Spark widens DECIMAL(25,6) sums to DECIMAL(35,6), DuckDB to
    DECIMAL(38,6) — which flips type-sensitive value hashes even on
    byte-identical values (round-2 driver failure)."""
    from distgrep_spark.functions.numeric import dsum
    from distgrep_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, left_on="l_orderkey", right_on="o_orderkey", buckets=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity", "qty_total"),
    )


# ---------------------------------------------------------------------------
# Lateral explode / null-safe equality
# ---------------------------------------------------------------------------


@query(
    "lateral_explode_tokens",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    )
    SELECT doc_id, i AS pos, t[i] AS tok
    FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
    """,
)
def q_lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode as the lateral-view/unnest twin: one row per token with
    its 1-based position. The explode multiplies rows ~300x here — at
    scale follow it with the aggregation you actually need (Catalyst
    pushes projections into the generate, it cannot un-multiply rows)."""

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                  ELSE o_custkey % 20 END AS grp
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN n_nationkey >= 20 THEN NULL
                  ELSE n_nationkey END AS grp
      FROM nation
    )
    SELECT coalesce(l.grp, -1) AS grp, count(*) AS n
    FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp
    GROUP BY coalesce(l.grp, -1)
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (eqNullSafe == IS NOT DISTINCT FROM): a
    plain equi-join silently drops every NULL key — here NULL keys on
    both sides (5 NULL rows on the right) must multiply, which the group
    counts certify."""
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    l = o.select(
        F.when(F.col("o_orderkey") % 10 == 0, None)
        .otherwise(F.col("o_custkey") % 20)
        .alias("grp")
    )
    r = n.select(
        F.when(F.col("n_nationkey") >= 20, None)
        .otherwise(F.col("n_nationkey"))
        .alias("grp_r")
    )
    return (
        l.join(r, l["grp"].eqNullSafe(r["grp_r"]))
        .groupBy(F.coalesce(F.col("grp"), F.lit(-1)).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Theta range join demo (bounded; the scored join_range is the banded path)
# ---------------------------------------------------------------------------


@query(
    "join_range_theta",
    oracle="""
    SELECT s.s_suppkey, s.s_name, count(*) AS n_richer_customers
    FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q_join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same question (and same oracle) as join_range, as the RAW theta
    join: Spark plans BroadcastNestedLoopJoin with the tiny supplier
    side broadcast. Kept as an explicitly-bounded demo — correct and
    fine when one side is dimension-sized, quadratic otherwise, which
    is WHY the scored ``join_range`` uses the banded decomposition
    (operators/rangejoin.py)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(s), c.c_acctbal > s.s_acctbal)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
    )


@query(
    "text_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE length(a.text) < 200 AND length(b.text) < 200
    """,
)
def q_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit distance between consecutive short documents —
    levenshtein is O(len^2) per pair, which is WHY the dedup pipeline
    gates it behind cheap sketches (MinHash/SimHash candidates first,
    expensive verify on the shortlist); the length filter here is that
    same discipline in miniature."""
    d = load_table(spark, sf_dir, "documents")
    a = d.where(F.length("text") < 200).select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    b = d.where(F.length("text") < 200).select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF / grouped Pandas UDAF
# ---------------------------------------------------------------------------


@query(
    "udtf_split_sentences",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, '. ') AS parts FROM documents
    )
    SELECT doc_id, i - 1 AS sent_id, parts[i] AS sentence
    FROM s, LATERAL unnest(generate_series(1, len(parts))) AS u(i)
    WHERE parts[i] <> ''
    """,
)
def q_udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join (functions/udtfs.py): imperative
    row generation, hash-checked against the declarative split+unnest
    twin."""
    from distgrep_spark.functions.udtfs import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_id, s.sentence
        FROM docs_udtf d, LATERAL split_sentences(d.text) s
        """
    )


@query(
    "udaf_length_quantiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS q25,
           quantile_cont(n_chars, 0.50) AS q50,
           quantile_cont(n_chars, 0.75) AS q75
    FROM documents
    GROUP BY lang
    """,
)
def q_udaf_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pandas UDAF (applyInPandas): per-language length
    quantiles via numpy. np.percentile's linear interpolation is the
    quantile_cont formula; with integer inputs and dyadic quantiles both
    engines' arithmetic is exact, so the Arrow round trip is value-hash
    checked. Scale note: each group must fit one executor's memory —
    fine for bounded group counts (languages), wrong for per-user groups
    at 100 TB (use built-in percentile there)."""
    import numpy as np
    import pandas as pd

    def quants(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["n_chars"].to_numpy(dtype="float64")
        q25, q50, q75 = np.percentile(v, [25, 50, 75])
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(v)],
                "q25": [q25],
                "q50": [q50],
                "q75": [q75],
            }
        )

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").applyInPandas(
        quants, "lang string, n_docs long, q25 double, q50 double, q75 double"
    )


@query(
    "latest_event_per_user",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key — the CDC/compaction primitive (and the
    batch shape of streaming upsert sinks). One shuffle on the key;
    event_id breaks timestamp ties so both engines pick the same row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Funnel + stratified sampling
# ---------------------------------------------------------------------------


@query(
    "funnel_view_click",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT DISTINCT v.user_id
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.first_view
    )
    SELECT (SELECT count(*) FROM v) AS n_view_users,
           (SELECT count(*) FROM c) AS n_converted
    """,
)
def q_funnel_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage funnel: users with a view, and of those, users with a
    click strictly after their first view. The ordered-sequence
    constraint is what separates a funnel from two independent counts —
    expressed as min-ts + semi-join (one shuffle per stage, no window
    over the raw stream)."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    converted = (
        v.join(
            clicks,
            (F.col("user_id") == F.col("c_user")) & (F.col("c_ts") > F.col("first_view")),
            "left_semi",
        )
    )
    return v.agg(F.count(F.lit(1)).alias("n_view_users")).crossJoin(
        converted.agg(F.count(F.lit(1)).alias("n_converted"))
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: up to 20 docs per language,
    chosen by md5-of-id order — hash order is uniform-ish like a random
    sample but reproducible on any engine and any partitioning, which
    `sampleBy(seed)` is not (its picks depend on Spark's partition
    layout, so it cannot be oracle-checked)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END AS price_per_disc,
           CASE WHEN l_quantity BETWEEN -128 AND 127
                THEN CAST(l_quantity AS TINYINT) END  AS qty_tiny
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def q_scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: under Spark 4's default ANSI mode a zero
    divisor or narrowing overflow THROWS mid-job; try_divide/try_cast
    turn those rows into NULLs instead — the right failure mode for a
    pipeline 40 TB into a 100 TB scan. The oracle states the same
    semantics with guards."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", "l_discount").alias("price_per_disc"),
        F.col("l_quantity").try_cast("tinyint").alias("qty_tiny"),
    )


@query(
    "text_pii_flags",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+'))
             AS n_emails,
           len(regexp_extract_all(text, 'https?://[^ ]+'))            AS n_urls,
           len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones
    FROM documents
    """,
)
def q_text_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/link detection battery — the filter pass every training-data
    pipeline runs before release. Patterns restricted to the
    Java-regex/RE2 common dialect (verified identical counts on probe
    strings); counts, not spans, so redaction policy stays downstream."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(
            "text", F.lit(r"[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+")
        ).alias("n_emails"),
        F.regexp_count("text", F.lit(r"https?://[^ ]+")).alias("n_urls"),
        F.regexp_count("text", F.lit(r"[0-9]{3}-[0-9]{3}-[0-9]{4}")).alias("n_phones"),
    )


@query(
    "agg_variance_exact",
    oracle="""
    SELECT l_returnflag,
           (CAST(sum(CAST(l_quantity AS DECIMAL(25,6)) * CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
            - CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
              * CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*))
           / (count(*) - 1) AS qty_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from EXACT decimal sums (sum, sum-of-squares)
    with the final arithmetic in double: built-in var_samp is a
    streaming-stable estimator whose bits depend on merge order AND
    engine, so it can never hash-match across engines — the
    two-decimal-sums form is order-free on both. (Catastrophic
    cancellation is bounded here because the sums are exact; only the
    last double ops round.)"""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(25,6)")
    return li.groupBy("l_returnflag").agg(
        (
            (
                F.sum(q * q).cast("double")
                - F.sum(q).cast("double") * F.sum(q).cast("double") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("qty_var")
    )


@query(
    "merge_upsert_snapshot",
    oracle="""
    WITH src AS (
      SELECT o_custkey AS k,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS delta
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(t.c_custkey, s.k)       AS c_custkey,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN s.k IS NULL        THEN 'keep'
                ELSE 'update' END           AS action,
           coalesce(t.c_acctbal, 0.0) + coalesce(s.delta, 0.0) AS new_acctbal
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.k
    """,
)
def q_merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: full-outer join of
    snapshot vs change-set, per-row action tag (update / insert /
    keep), new value via coalesce arithmetic. This is the CDC upsert
    core that lakehouse MERGE compiles to — one shuffle on the key, and
    at 100 TB the join benefits from both sides being bucketed by the
    merge key (tests/test_bucketing.py)."""
    t = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("delta"))
    )
    j = t.join(s, t["c_custkey"] == s["k"], "full_outer")
    return j.select(
        F.coalesce(t["c_custkey"], s["k"]).alias("c_custkey"),
        F.when(t["c_custkey"].isNull(), "insert")
        .when(s["k"].isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        (F.coalesce(t["c_acctbal"], F.lit(0.0)) + F.coalesce(s["delta"], F.lit(0.0))).alias(
            "new_acctbal"
        ),
    )


@query(
    "agg_rollup_grouping_id",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority, o_orderstatus) AS gid,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """,
)
def q_agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grouping_id: the bitmask that distinguishes 'NULL
    because aggregated away' from 'NULL in the data' — identical bit
    order (first column = MSB) on both engines, verified on probe data."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        .select("o_orderpriority", "o_orderstatus", "gid", "n")
    )


@query(
    "lateral_explode_outer_urls",
    oracle=r"""
    WITH u AS (
      SELECT doc_id, regexp_extract_all(text, 'https?://[^ ]+') AS urls
      FROM documents
    )
    SELECT doc_id, x.url
    FROM u, LATERAL unnest(
      CASE WHEN len(urls) = 0 THEN [NULL] ELSE urls END) AS x(url)
    """,
)
def q_lateral_explode_outer_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with NO matches survive with a NULL — a plain
    explode silently drops them, which downstream per-doc accounting
    never forgives. (The oracle emulates outer-unnest with a [NULL]
    substitution.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode_outer(F.regexp_extract_all("text", F.lit(r"https?://[^ ]+"))).alias(
            "url"
        ),
    )


@query(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax
          FROM lineitem WHERE l_linenumber = 1)
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def q_unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metric columns to long (metric, value) rows —
    the inverse of pivot, and the shape metric stores and plotting
    pipelines want. 4x row multiplication is the cost; do it AFTER
    filtering, not before."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@query(
    "timeseries_monthly_dense",
    oracle="""
    WITH cal AS (
      SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                    TIMESTAMP '2001-08-01',
                                    INTERVAL 1 MONTH)) AS month
    ),
    rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT cal.month,
           coalesce(rev.revenue, 0.0)  AS revenue,
           coalesce(rev.n_orders, 0)   AS n_orders,
           coalesce(rev.revenue, 0.0)
             - lag(coalesce(rev.revenue, 0.0)) OVER (ORDER BY cal.month)
             AS mom_delta
    FROM cal LEFT JOIN rev USING (month)
    """,
)
def q_timeseries_monthly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-densified monthly revenue with month-over-month delta:
    the generated calendar spine guarantees zero-order months appear
    (a bare GROUP BY silently skips them — wrong for any trend chart),
    and the lag window rides the dense spine. Spine generation is one
    sequence+explode row source; at 100 TB the spine is still 80 rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    rev = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    dense = cal.join(rev, "month", "left").select(
        "month",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    return dense.withColumn(
        "mom_delta", F.col("revenue") - F.lag("revenue").over(w)
    )


@query(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 12 HOUR THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_seq
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    after a >12 h silence; the session id is the running count of
    session-starts per user — lag + conditional + prefix-sum + one
    aggregate, the canonical batch twin of the streaming
    session-window operator (stream_session_counts). The gap compare
    stays in exact interval arithmetic (no float epochs); event_id
    breaks timestamp ties so both engines mark identical boundaries,
    and the closest fixture gap is 0.65 s from the 12 h edge. The
    100 TB view: ONE shuffle on user_id serves both windows AND the
    final group-by (all three key on the same column), and only
    5-scalar session rows leave the exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 12 HOURS")),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    )

@query(
    "udtf_table_arg_sessions",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             epoch_us(ts) // 1000000 AS sec
      FROM events
    ),
    w1 AS (
      SELECT user_id, event_type,
             CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_s,
             CASE WHEN event_type = lag(event_type) OVER w
                  THEN 0 ELSE 1 END AS new_run,
             row_number() OVER w AS rn
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    w2 AS (
      SELECT user_id, new_s,
             CAST(sum(new_run) OVER (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_id
      FROM w1
    ),
    runs AS (
      SELECT user_id, run_id, CAST(count(*) AS INT) AS run_len
      FROM w2 GROUP BY user_id, run_id
    ),
    sess AS (
      SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
      FROM w2 GROUP BY user_id
    )
    SELECT s.user_id, s.n_sessions, CAST(max(r.run_len) AS INT) AS longest_run
    FROM sess s JOIN runs r ON s.user_id = r.user_id
    GROUP BY s.user_id, s.n_sessions
    """,
)
def q_udtf_table_arg_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 polymorphic UDTF with a TABLE argument
    (functions/udtfs.UserSessionStats): ``PARTITION BY user_id ORDER
    BY ts, event_id`` streams each user's timeline through one Python
    instance in order and ``terminate()`` emits the summary — the
    SQL-standard table-function form of applyInPandasWithState, and
    the API every imperative per-entity analyzer (custom sessionizers,
    protocol parsers) plugs into. The declarative twin (two windows +
    gaps-and-islands, same kernels as sessionize_events /
    text_max_token_run) oracles the whole partition-ordered Arrow
    round trip value-for-value. Scale note: the engine hash-partitions
    input by user_id exactly as for a window — Python execution adds
    serialization cost, not shuffle cost; keep it off paths an
    expression can serve (CLAUDE.md UDF discipline). The TABLE
    argument deliberately excludes ``ts`` and orders by the integer
    ``(sec, event_id)`` instead: every row of the table argument is
    pickled into the Python worker, and the datetime column is the
    most expensive field to pickle — dropping it measured
    2.39 s -> 1.78 s median at sf0.1 (functions/udtfs.py Arrow note;
    ordering stays deterministic via the event_id tiebreak, and the
    oracle windows over the same (sec, event_id) key)."""
    from distgrep_spark.functions.udtfs import UserSessionStats

    spark.udtf.register("user_session_stats", UserSessionStats)
    ev = load_table(spark, sf_dir, "events")
    ev.selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 1000000 AS sec",
    ).createOrReplaceTempView("events_udtf_base")
    return spark.sql(
        """
        SELECT user_id, n_sessions, longest_run
        FROM user_session_stats(
          TABLE(events_udtf_base)
          PARTITION BY user_id ORDER BY (sec, event_id)
        )
        """
    )


@query(
    "udtf_analyze_dynamic_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase
    FROM events GROUP BY user_id
    """,
)
def q_udtf_analyze_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-schema UDTF (functions/udtfs.PivotTypeCounts): the
    ``analyze()`` static method derives the output columns — one
    ``n_<type>`` per entry of the constant type-list argument — at
    PLAN TIME, the polymorphic path a static returnType can't express
    and the API behind data-driven pivots. Input arrives as
    ``TABLE(...) PARTITION BY user_id`` (one Python instance per user,
    terminate() emits the count row); the oracle is the static
    conditional-sum pivot over the same three types, so the whole
    dynamic-schema machinery is value-hash-checked against declarative
    SQL.

    Scale/perf (round 4): the TABLE argument is the JVM-side
    (user, type, count) ROLLUP, not raw events — counting is
    distributive, so per-fact work stays map-side in codegen and
    Python folds ~|users|×|types| rows (measured 2.7 s → ~0.6 s at
    sf0.1; pickling the raw rows, with their datetime column and an
    irrelevant ORDER BY sort, was 95% of the cost — the same lesson
    as udtf_table_arg_sessions' slimming, taken to its limit). The
    dynamic analyze() schema — the point of this query — is
    untouched."""
    from pyspark.sql.functions import udtf as _udtf

    from distgrep_spark.functions.udtfs import PivotTypeCounts

    spark.udtf.register("pivot_type_counts", _udtf(PivotTypeCounts))
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_udtf_pivot_base"
    )
    return spark.sql(
        """
        SELECT * FROM pivot_type_counts(
          TABLE(SELECT user_id, event_type, count(*) AS cnt
                FROM events_udtf_pivot_base
                GROUP BY user_id, event_type)
          PARTITION BY (user_id),
          'view,click,purchase')
        """
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS pus,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, epoch_us(ts) AS tus,
             arg_max(event_type, event_id) AS touch_type
      FROM events WHERE event_type <> 'purchase'
      GROUP BY user_id, epoch_us(ts)
    ),
    j AS (
      SELECT p.cents, p.pus, t.tus, t.touch_type
      FROM p ASOF LEFT JOIN t
        ON p.user_id = t.user_id AND p.pus >= t.tus
    )
    SELECT CASE WHEN tus IS NOT NULL AND tus >= pus - 86400000000
                THEN touch_type ELSE 'unattributed' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM j GROUP BY 1
    """,
)
def q_events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits its
    revenue to the user's most recent non-purchase event within a 24 h
    lookback, else to 'unattributed' — the attribution rollup behind
    every channel-ROI dashboard, and a composition consumer of
    operators/asof.py (credit assignment IS a backward as-of join).

    Determinism: touches are pre-aggregated to one row per (user,
    microsecond) with a max_by(event_type, event_id) tie-break — the
    asof operator's uniqueness contract, identical in DuckDB's arg_max
    — and purchase-instant ties resolve inclusively in both engines
    (Spark fill window and DuckDB ASOF are both >=). Timestamps diff as
    tz-free exact epoch micros (the timestampdiff/epoch_us pattern —
    events.ts is NTZ); revenue sums integer cents. Filtering the
    lookback AFTER the as-of is exact: the as-of row is the maximum
    touch time, so it is inside the window iff any touch is.

    The 100-TB shape: one user_id exchange for the union + window-fill
    as-of (not a per-purchase range probe), then a 5-row channel
    rollup. Skewed hub users cost one window partition each — the
    salting regime notes in operators/skew.py apply if a bot user
    dominates."""
    ev = load_table(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    p = ev.where(F.col("event_type") == "purchase").selectExpr(
        "user_id",
        f"{us} AS pus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    t = (
        ev.where(F.col("event_type") != "purchase")
        .selectExpr("user_id", f"{us} AS tus", "event_id", "event_type")
        .groupBy("user_id", "tus")
        .agg(F.expr("max_by(event_type, event_id) AS touch_type"))
    )
    j = asof_join(
        p,
        t,
        on=["user_id"],
        left_ts="pus",
        right_ts="tus",
        payload=["touch_type"],
        direction="backward",
    )
    return (
        j.selectExpr(
            "CASE WHEN tus IS NOT NULL AND tus >= pus - 86400000000"
            " THEN touch_type ELSE 'unattributed' END AS channel",
            "cents",
        )
        .groupBy("channel")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_purchases"),
            F.expr("CAST(sum(cents) AS BIGINT) AS revenue_cents"),
        )
    )


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sx,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS sxx
      FROM orders GROUP BY o_orderpriority
    ),
    m AS (
      SELECT priority, n_rows,
             CAST(floor(CAST(n_rows AS DOUBLE)
               * sqrt((CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                      / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))))
               AS BIGINT) AS mass
      FROM s
    ),
    tot AS (SELECT CAST(sum(mass) AS BIGINT) AS denom FROM m)
    SELECT priority, n_rows, mass,
           CAST(mass AS DOUBLE) / CAST(denom AS DOUBLE) AS neyman_share,
           (1000 * mass) // denom AS alloc_n
    FROM m, tot
    """,
)
def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a 1000-row budget
    split across order-priority strata proportionally to N_h * S_h
    (stratum size x population std) — the allocation that minimizes the
    estimator variance at fixed budget, vs sample_stratified's equal
    rates. The planning half of every stratified-sampling pipeline.

    Exactness: sums of cents and squared cents accumulate in
    DECIMAL(38,0)/HUGEINT (sum of c^2 at 6e7 cents x 60k rows overflows
    BIGINT), which both engines cast to DOUBLE correctly rounded (the
    stats_ols_trend precedent); N_h * S_h is then one fixed
    div/sub/mul/sqrt tree over those exact inputs — bit-identical — and
    is floored to a BIGINT mass (measured boundary margin >= 0.0038
    across sf0.001/0.01/0.1, >= 3600x the double ulp at that
    magnitude). The denominator is exact integer addition, the share
    one IEEE division, the allocation integer div on both sides.

    The 100-TB shape: one map-side-combined shuffle to 5 stratum rows;
    the budget math is driver-free (broadcast 1-row total). The
    downstream sampler consumes alloc_n exactly like
    corpus_token_budget_allocation's apportionment."""
    from pyspark.sql.functions import broadcast

    orders = load_table(spark, sf_dir, "orders")
    s = (
        orders.selectExpr(
            "o_orderpriority AS priority",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c",
        )
        .groupBy("priority")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_rows"),
            F.expr("CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sx"),
            F.expr(
                "CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS sxx"
            ),
        )
    )
    m = s.selectExpr(
        "priority",
        "n_rows",
        "CAST(floor(CAST(n_rows AS DOUBLE)"
        " * sqrt((CAST(n_rows AS DOUBLE) * sxx - sx * sx)"
        "        / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))))"
        " AS BIGINT) AS mass",
    )
    tot = m.agg(F.expr("CAST(sum(mass) AS BIGINT) AS denom"))
    return m.crossJoin(broadcast(tot)).selectExpr(
        "priority",
        "n_rows",
        "mass",
        "CAST(mass AS DOUBLE) / CAST(denom AS DOUBLE) AS neyman_share",
        "(1000 * mass) div denom AS alloc_n",
    )


@query(
    "join_asof_tolerance_events",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    errors AS (
      SELECT user_id, ts AS err_ts, max(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ),
    j AS (
      SELECT c.event_id, c.user_id, c.ts, e.err_ts, e.err_value
      FROM clicks c
      ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts >= e.err_ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN err_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(err_ts)
                     <= 3600000000::BIGINT
                THEN err_ts END AS err_ts,
           CASE WHEN err_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(err_ts)
                     <= 3600000000::BIGINT
                THEN err_value END AS err_value
    FROM j
    """,
)
def q_join_asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOLERANCE-bounded as-of (pandas merge_asof's ``tolerance``,
    completing the as-of family: backward / forward / nearest / now
    bounded-staleness): each click takes the latest error at-or-before
    it ONLY if that error is at most 1 hour stale, else NULL — "enrich
    with recent context, refuse stale context", the semantics of every
    feature-store point-in-time lookup with a freshness SLA. Measured
    non-vacuous on the fixture: of 2006 clicks, 150 have no prior
    error at all, 34 keep a within-1h match, 1822 are nulled as stale.

    Plan: the same ONE-exchange union + window-fill as
    join_asof_events; the tolerance is a post-fill map-side mask in
    exact integer microseconds (timestampdiff vs DuckDB epoch_us — the
    CLAUDE.md-safe tz-free pair), never a second join or a range
    predicate that would push into the join and quadratic-ify it."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("err_ts"))
        .agg(F.max("value").alias("err_value"))
    )
    return asof_join(
        clicks,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="err_ts",
        payload=["err_value"],
        tolerance_seconds=3600,
    )


# ---------------------------------------------------------------------------
# Round-7 batch 54: exact trimmed mean per group
# ---------------------------------------------------------------------------


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY o_orderpriority)
                  AS BIGINT) AS n
      FROM orders
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(n) // 10 AS BIGINT) AS k_trimmed_each_side,
           CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents,
           CAST(sum(CASE WHEN r > n // 10 AND r <= n - n // 10
                         THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN r > n // 10 AND r <= n - n // 10
                             THEN 1 ELSE 0 END) AS BIGINT)
             AS trimmed_mean_cents
    FROM o GROUP BY priority
    """,
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per group — the robust location estimate
    monitoring dashboards want when a handful of whale orders drag the
    plain mean (the outlier-resistant sibling of agg_weighted_median).
    Rank and group-size come from ONE partitioned window pass (ordered
    by the raw price with o_orderkey tie-break, so the trim boundary is
    deterministic); the trim keeps ranks in (k, n-k] with k = n DIV 10
    — non-negative integer division, where Spark DIV and DuckDB //
    agree. Both means are single correctly-rounded divisions of exact
    BIGINT cent sums.

    The 100-TB shape: the window partitions by the group key (hash-
    partitioned, never a single-partition sort), and the follow-up
    aggregate groups by the SAME key — co-partitioned, so the whole
    query is one exchange plus a map-side aggregate. An unbounded-
    cardinality trim (per-customer) would route the rank through
    operators/distrank.py instead."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        "o_totalprice",
        "o_orderkey",
    ).selectExpr(
        "priority",
        "cents",
        "CAST(row_number() OVER (PARTITION BY priority"
        " ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS r",
        "CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n",
    )
    return o.groupBy("priority").agg(
        F.expr("CAST(max(n) AS BIGINT) AS n"),
        F.expr("CAST(max(n) DIV 10 AS BIGINT) AS k_trimmed_each_side"),
        F.expr("CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents"),
        F.expr(
            "CAST(sum(CASE WHEN r > n DIV 10 AND r <= n - n DIV 10"
            " THEN cents ELSE 0 END) AS DOUBLE)"
            " / CAST(sum(CASE WHEN r > n DIV 10 AND r <= n - n DIV 10"
            " THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_mean_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Round-7 batch 54 (cont.): ORC source/sink roundtrip certificate
# ---------------------------------------------------------------------------


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5
    FROM documents GROUP BY lang
    """,
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source + sink certificate: write the documents table to ORC,
    read it back, and emit a per-lang content fingerprint (row count,
    char mass, distinct-md5 count). The DuckDB oracle computes the SAME
    fingerprint off the parquet original (DuckDB has no ORC reader), so
    a hash match certifies the ORC write+read preserved every row and
    every text byte — a true roundtrip proof, not a smoke test.

    ORC is the remaining first-class columnar format in the container
    (avro/delta/iceberg jars absent, re-verified round 7); it matters
    at 100 TB because Hive-era lakes still hand engines ORC, and the
    scan supports the same pushdown/pruning as parquet
    (spark.read.orc -> OrcScan with PushedFilters, plan-asserted in
    tests/test_sources.py). The write targets a deterministic per-SF
    cache path with mode=overwrite (idempotent re-runs); the read
    passes the pre-write schema explicitly so an EMPTY input (the
    registry empty-input sweep) round-trips without ORC's
    cannot-infer-schema-from-no-files error."""
    import os
    import shutil

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    # per-process path: two concurrent checker/bench processes would
    # otherwise overwrite-race one directory (the per-PID DuckDB
    # spill-dir lesson, applied to the write side)
    cache_root = "/tmp/distgrep_orc_cache"
    path = (
        f"{cache_root}/{os.getpid()}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    # reap siblings left by EXITED processes (the returned DataFrame is
    # lazy — the read materializes after this function returns, so we
    # can't delete our own dir here; instead every invocation sweeps
    # dead-PID dirs so accumulation is bounded by live processes, the
    # leaked-DuckDB-spill-files lesson applied to this cache)
    try:
        for entry in os.listdir(cache_root):
            pid = entry.split("_", 1)[0]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(cache_root, entry),
                              ignore_errors=True)
    except FileNotFoundError:
        pass
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(docs.schema).orc(path)
    return back.groupBy("lang").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(n_chars) AS BIGINT) AS sum_chars"),
        F.expr("CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5"),
    )


@query(
    "funnel_k_step_windowed",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL '24 hours'
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL '24 hours'
      GROUP BY e.user_id
    ),
    n AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3
    )
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, n1 AS n_users,
           CAST(1.0 AS DOUBLE) AS conv_from_prev
    FROM n
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click_24h', n2,
           CASE WHEN n1 = 0 THEN NULL
                ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END
    FROM n
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase_24h', n3,
           CASE WHEN n2 = 0 THEN NULL
                ELSE CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END
    FROM n
    """,
)
def q_funnel_k_step_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict k-step ordered funnel with per-step time windows — the
    product-analytics standard (view -> first click within 24 h ->
    first purchase within 24 h of that click), counting users reaching
    each stage and the step conversion rate. Completes the funnel
    family: funnel_view_click is the 2-stage ordered count,
    events_funnel_pattern_regex the unwindowed sequence pattern; this
    adds the chained PER-STEP deadline (each step's clock starts at the
    previous step's event, not the funnel entry).

    Plan: each stage is one min-ts rollup joined to the previous
    stage's anchors — all three shuffles key on user_id, so the chain
    co-partitions and late stages shrink monotonically (60/150 -> 25/60
    at sf0.01: a real drop-off, measured). Timestamps compare natively
    (TIMESTAMP_NTZ + a fixed INTERVAL is exact on both engines — no
    epoch conversion, per the events.ts rules). Step-2/3 conversions
    are NULL-guarded: a fixture where a stage empties would otherwise
    throw ANSI DIVIDE_BY_ZERO on the DOUBLE division (the
    stats_ab_power_mde lesson).

    The 100-TB view: per-user anchors are one row each, stages never
    rescan history, and the funnel length k adds joins linearly — no
    window over the raw event stream. Reference:
    massimostanzione/distgrep is grep-only (worker.go:24-43); analytics
    extension surface per SURVEY.md §2.2.
    """
    # Round 11: s1 and s2 each feed the next stage AND a stage-count —
    # un-checkpointed, the chain re-executed per count branch (s1 x3,
    # s2 x2; 6 event scans in the audit -> 3, one per stage filter),
    # and the three crossJoined count aggs fuse into ONE tagged-union
    # rollup (the graph_khop_reach count-fusion family).
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.expr("ts > t1 AND ts <= t1 + INTERVAL 24 HOURS"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=False)
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.expr("ts > t2 AND ts <= t2 + INTERVAL 24 HOURS"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n = (
        s1.selectExpr("1 AS lvl")
        .unionAll(s2.selectExpr("2 AS lvl"))
        .unionAll(s3.selectExpr("3 AS lvl"))
        .agg(
            # coalesce: a global sum over an EMPTY union is NULL, while
            # the former per-stage count() aggs gave 0 (empty-input rule)
            F.expr(
                "CAST(coalesce(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT) AS n1"
            ),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT) AS n2"
            ),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT) AS n3"
            ),
        )
    )
    return n.selectExpr(
        "stack(3,"
        " CAST(1 AS BIGINT), 'view', n1, CAST(1.0 AS DOUBLE),"
        " CAST(2 AS BIGINT), 'click_24h', n2,"
        "   CASE WHEN n1 = 0 THEN NULL"
        "        ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END,"
        " CAST(3 AS BIGINT), 'purchase_24h', n3,"
        "   CASE WHEN n2 = 0 THEN NULL"
        "        ELSE CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END"
        ") AS (step, stage, n_users, conv_from_prev)"
    )

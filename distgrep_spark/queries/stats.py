"""Round-3 batch 8: statistical model-fit kernels, drift monitoring,
time-series diagnostics, a k-core peel step, and the Spark 4 recursive
CTE surface.

The 100-TB rationale per query:

- ``stats_ols_trend``: per-group simple linear regression (slope /
  intercept / R^2) from the six classic sufficient statistics
  ``(n, Σx, Σy, Σxy, Σx², Σy²)``. The sufficient statistics are
  map-side-combinable BIGINT sums — the ONLY shuffle carries six
  numbers per group, never rows, so the fit costs the same one
  exchange as a count. That is why the normal-equation form (not an
  iterative solver) is the 100-TB regression kernel. The built-in
  ``regr_slope``/``regr_r2`` aggregates accumulate FLOATS in engine
  partition order (non-deterministic hash) — this integer-sufficient-
  statistics form is the bit-stable equivalent.
- ``events_autocorr_hourly``: autocorrelation of the hourly event-count
  series at lags 1 and 24 — the seasonality screen that decides window
  sizes for every downstream rolling feature. The series is a ~720-row
  rollup, so the lag pairing is a self-join of the DENSE spine (zero
  hours included; a gap that skips missing hours biases the ACF), and
  every moment is an exact BIGINT sum. On a 100-TB event log the
  rollup-then-diagnose shape is the whole design: the O(n) scan
  happens once, the O(series²) analysis happens on the tiny rollup.
- ``stats_ab_ztest``: two-proportion z-test between deterministic user
  cohorts (the A/B readout). Per-cohort trials/successes are exact
  integer counts off one user rollup; the z statistic is a fixed tree
  of IEEE single operations (div/sub/mul/sqrt are all correctly
  rounded per IEEE 754, hence bit-identical on any engine given the
  same integers — unlike ln/exp, sqrt is safe; see CLAUDE.md). The
  significance boolean is therefore also deterministic even though
  1.96 sits wherever it sits.
- ``graph_kcore_peel``: one peeling iteration of k-core decomposition
  over the part co-purchase graph: degree → drop nodes with
  ``deg < k`` → recompute degrees on the induced subgraph. The full
  decomposition iterates this kernel to a fixpoint exactly like
  ``operators/graph.connected_components`` (localCheckpoint per
  round); one step is the SQL-oracle-checkable unit. Degrees are one
  map-side-combined rollup of the edge list; the induced-subgraph
  recount is two semi joins against the (much smaller) survivor set —
  at 100 TB survivors shrink geometrically per round, so the first
  peel dominates and is exactly this plan.
- ``drift_tv_stability``: training-serving drift monitor — total
  variation distance between the reference and current period's
  order-value histograms. Buckets are fixed-width integer cents
  (``cents DIV $20k``) so assignment is exact on any engine; the TV
  numerator ``Σ|c_ref·m - c_cur·n|`` is computed in cross-multiplied
  BIGINTs (no per-bucket float shares summed in engine order). The
  histogram is a map-side rollup; the distance is computed on the
  ~25-row bucket table. This is the PSI/KS-style gate every feature
  pipeline runs per batch — TV chosen because it needs no logarithm
  (ln is not correctly rounded and would need the 4-dp margin dance).
- ``orders_seasonal_naive_mae``: backtest of the seasonal-naive
  forecast (x̂_t = x_{t-7}) over the dense daily revenue series —
  the baseline every demand-forecast model must beat, and the
  absolute-error aggregate is exact BIGINT cents end to end. Dense
  spine via integer epoch-day (missing days are real zeros, not
  skipped rows); the lag pairing is a spine self-join, not a global
  window.
- ``recursive_order_chain``: per-customer order-timeline walk via
  Spark 4's ``WITH RECURSIVE`` — anchor = each customer's first
  order, step = join to the next row_number, accumulating hop count
  and running-spend cents. Certifies the recursive-CTE surface
  (iterative UnionLoop execution) against DuckDB's recursive CTE on
  a deterministic ~1% customer sample (``o_custkey % 97 = 0`` —
  content-keyed, resharding-stable). The same shape is a window
  running-sum, of course; the point is the recursion surface, which
  windows can't certify. Depth = max orders per customer (25 in the
  fixture, well under spark.sql.cteRecursionLevelLimit=100); each
  iteration joins only the frontier against the seq view, so work per
  round is |frontier|, not |orders|.

No reference counterpart (the reference's only query is grep,
worker.go:24-43); these extend the analytics surface every
training-data/reporting pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distgrep_spark.operators.graph import copurchase_edges
from distgrep_spark.queries.registry import query
from distgrep_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Per-group OLS from integer sufficient statistics
# ---------------------------------------------------------------------------


@query(
    "stats_ols_trend",
    oracle="""
    WITH base AS (
      SELECT p_brand,
             CAST(floor(l_quantity + 0.5) AS BIGINT)      AS x,
             CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    s AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM base GROUP BY p_brand
    ),
    d AS (
      SELECT p_brand, n,
             CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS dxy,
             CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS dxx,
             CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS dyy,
             CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd
      FROM s
    )
    SELECT p_brand, n,
           dxy / dxx AS slope,
           (syd - (dxy / dxx) * sxd) / CAST(n AS DOUBLE) AS intercept,
           (dxy * dxy) / (dxx * dyy) AS r2
    FROM d
    """,
)
def q_stats_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS fit of line price (whole dollars) against quantity.

    Sufficient statistics are BIGINT sums (quantity is integral 1..50;
    price rounds to whole dollars — ``floor(x+0.5)``, never a bare
    double→BIGINT cast, which rounds in DuckDB but truncates in Spark).
    The widening products ``n·Σxy - Σx·Σy`` run in DECIMAL(38,0) on the
    Spark side and HUGEINT in DuckDB — both exact 128-bit-class integer
    arithmetic, both correctly rounded on the single cast to DOUBLE, so
    slope/intercept/R² are identical IEEE expression trees over
    identical doubles (no rounding needed). At 100 TB the oversized
    products stay in DECIMAL(38,0); the BIGINT moment sums would want a
    dollars→hundreds rescale past ~sf10 (documented headroom: Σy² at
    sf0.1 is ~1e18 of the 9.2e18 BIGINT range)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).selectExpr(
        "p_brand",
        "CAST(floor(l_quantity + 0.5) AS BIGINT)      AS x",
        "CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y",
    )
    s = base.groupBy("p_brand").agg(
        F.expr("CAST(count(*) AS BIGINT)   AS n"),
        F.expr("CAST(sum(x) AS BIGINT)     AS sx"),
        F.expr("CAST(sum(y) AS BIGINT)     AS sy"),
        F.expr("CAST(sum(x * x) AS BIGINT) AS sxx"),
        F.expr("CAST(sum(x * y) AS BIGINT) AS sxy"),
        F.expr("CAST(sum(y * y) AS BIGINT) AS syy"),
    )
    d = s.selectExpr(
        "p_brand",
        "n",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        " AS DOUBLE) AS dxy",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS DOUBLE) AS dxx",
        "CAST(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
        " AS DOUBLE) AS dyy",
        "CAST(sx AS DOUBLE) AS sxd",
        "CAST(sy AS DOUBLE) AS syd",
    )
    return d.selectExpr(
        "p_brand",
        "n",
        "dxy / dxx AS slope",
        "(syd - (dxy / dxx) * sxd) / CAST(n AS DOUBLE) AS intercept",
        "(dxy * dxy) / (dxx * dyy) AS r2",
    )


# ---------------------------------------------------------------------------
# Hourly-series autocorrelation (lag 1 / lag 24)
# ---------------------------------------------------------------------------


@query(
    "events_autocorr_hourly",
    oracle="""
    WITH cnt AS (
      SELECT epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
    spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
    series AS (
      SELECT s.h, coalesce(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON s.h = cnt.h
    ),
    lags AS (SELECT unnest([1, 24]) AS lag_h),
    pairs AS (
      SELECT lag_h, a.c AS x, b2.c AS y
      FROM series a
        CROSS JOIN lags
        JOIN series b2 ON b2.h = a.h + lag_h
    ),
    s AS (
      SELECT lag_h,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag_h
    )
    SELECT lag_h, n AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
    FROM s
    """,
)
def q_events_autocorr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the hourly event-count series at lag 1 and lag 24.

    Hour index is tz-free exact integer microseconds DIV 3.6e9 (the
    events.ts TIMESTAMP_NTZ idiom from CLAUDE.md); the dense spine comes
    from one broadcast min/max row so zero-count hours enter the series
    as real zeros. Lag pairing is a spine self-join (no global window);
    all five moments are exact BIGINT sums (hourly counts are ~1e2, so
    every product is far inside BIGINT). The Pearson ratio is one fixed
    IEEE tree — sqrt IS correctly rounded under IEEE 754, so no
    rounding/margin dance is needed (contrast ln/exp, CLAUDE.md)."""
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " DIV 3600000000 AS h"
        )
        .groupBy("h")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS c"))
    )
    bounds = cnt.agg(F.expr("min(h) AS h0"), F.expr("max(h) AS h1"))
    spine = bounds.selectExpr("explode(sequence(h0, h1)) AS h")
    series = spine.join(cnt, "h", "left").selectExpr("h", "coalesce(c, 0L) AS c")
    lags = spark.range(1).selectExpr("explode(array(1L, 24L)) AS lag_h")
    a = series.selectExpr("h", "c AS x")
    b = series.selectExpr("h AS h_b", "c AS y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("h_b = h + lag_h"))
        .select("lag_h", "x", "y")
    )
    s = pairs.groupBy("lag_h").agg(
        F.expr("CAST(count(*) AS BIGINT)   AS n"),
        F.expr("CAST(sum(x) AS BIGINT)     AS sx"),
        F.expr("CAST(sum(y) AS BIGINT)     AS sy"),
        F.expr("CAST(sum(x * x) AS BIGINT) AS sxx"),
        F.expr("CAST(sum(x * y) AS BIGINT) AS sxy"),
        F.expr("CAST(sum(y * y) AS BIGINT) AS syy"),
    )
    return s.selectExpr(
        "lag_h",
        "n AS n_pairs",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf",
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B readout)
# ---------------------------------------------------------------------------


@query(
    "stats_ab_ztest",
    oracle="""
    WITH users AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                             AS BIGINT) >= 14
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
      FROM users GROUP BY grp
    ),
    z AS (
      SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
             (CAST(a.x AS DOUBLE) / CAST(a.n AS DOUBLE)
              - CAST(b.x AS DOUBLE) / CAST(b.n AS DOUBLE))
             / sqrt((CAST(a.x + b.x AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                    * (1.0 - CAST(a.x + b.x AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                    * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))
               AS z_score
      FROM s a JOIN s b ON a.grp = 0 AND b.grp = 1
    )
    SELECT n_a, x_a, n_b, x_b, z_score,
           abs(z_score) > 1.959963984540054 AS significant_95
    FROM z
    """,
)
def q_stats_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: heavy-purchaser rate (≥14 purchase
    events — the fixture's ~median per-user purchase volume, so both
    cohorts sit mid-range at every SF; a ≥1 threshold saturates to
    p=1 and the pooled variance degenerates to a 0-divisor, which
    Spark ANSI mode turns into a hard error), even vs odd user_id.

    One user rollup (map-side-combinable count), one 2-row cohort
    aggregate, then the pooled-variance z statistic as a fixed tree of
    IEEE single ops over exact integers — every div/sub/mul/sqrt is
    correctly rounded, so z (and even the 1.96 threshold boolean) is
    bit-identical across engines and partition layouts with no rounding.
    At 100 TB this is the canonical experiment readout: the only shuffle
    is the user rollup, and the test itself runs on two rows."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.selectExpr("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0"
                " END) AS BIGINT) >= 14 THEN 1 ELSE 0 END AS conv"
            )
        )
        .selectExpr("user_id % 2 AS grp", "conv")
    )
    s = users.groupBy("grp").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(conv) AS BIGINT) AS x"),
    )
    a = s.where("grp = 0").selectExpr("n AS n_a", "x AS x_a")
    b = s.where("grp = 1").selectExpr("n AS n_b", "x AS x_b")
    z = a.crossJoin(F.broadcast(b)).selectExpr(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        " - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
        " / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
        "        * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
        "        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
        " AS z_score",
    )
    return z.selectExpr(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "z_score",
        "abs(z_score) > 1.959963984540054 AS significant_95",
    )


# ---------------------------------------------------------------------------
# One k-core peeling iteration
# ---------------------------------------------------------------------------

_KCORE_K = 4


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- MATERIALIZED: multi-referenced CTEs both re-execute when inlined
    -- AND collapse DuckDB's cardinality estimates to ~1 on parquet
    -- views, flipping equi-joins to CROSS_PRODUCT join orders (round-8
    -- x64 sweep; see market_basket_lift and CLAUDE.md).
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS MATERIALIZED (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    deg0 AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS deg0
      FROM und GROUP BY a
    ),
    alive AS MATERIALIZED (SELECT node FROM deg0 WHERE deg0 >= {_KCORE_K}),
    deg1 AS (
      SELECT und.a AS node, CAST(count(*) AS BIGINT) AS deg1
      FROM und
        JOIN alive s ON und.a = s.node
        JOIN alive t ON und.b = t.node
      GROUP BY und.a
    )
    SELECT d0.node, d0.deg0,
           coalesce(d1.deg1, CAST(0 AS BIGINT)) AS deg1,
           coalesce(d1.deg1, CAST(0 AS BIGINT)) >= {_KCORE_K} AS in_core_next
    FROM deg0 d0
      JOIN alive a ON d0.node = a.node
      LEFT JOIN deg1 d1 ON d0.node = d1.node
    """,
)
def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-core peel (k=4) over the part co-purchase graph.

    Kernel of the iterative decomposition: degree rollup → drop
    ``deg < k`` → recompute degrees on the induced subgraph (two semi
    joins against the survivor set). The fixpoint loop is
    ``operators/graph.connected_components``-style (localCheckpoint per
    round); this one step is the SQL-oracle-checkable unit, and at scale
    the first peel dominates the total cost because survivors shrink
    geometrically. Same localCheckpointed edge build as
    graph_triangle_count (ref has no graph ops; worker.go:24-43 is
    grep-only)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).select("u", "v").localCheckpoint(eager=False)
    und = edges.selectExpr("u AS a", "v AS b").unionAll(
        edges.selectExpr("v AS a", "u AS b")
    )
    deg0 = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.expr("CAST(count(*) AS BIGINT) AS deg0"))
        # node-count rows consumed by alive (broadcast-built twice in
        # deg1's semi-joins) and the final join — without the
        # checkpoint the und-union + exchange re-executes per branch
        # (ReusedExchange does not fire across branches under AQE;
        # same deg-ckpt choice as graph_triangle_count, r11)
        .localCheckpoint(eager=False)
    )
    alive = deg0.where(F.col("deg0") >= _KCORE_K).select("node")
    deg1 = (
        und.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
        .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
        .groupBy(F.col("a").alias("node"))
        .agg(F.expr("CAST(count(*) AS BIGINT) AS deg1"))
    )
    return (
        deg0.join(alive, "node", "left_semi")
        .join(deg1, "node", "left")
        .selectExpr(
            "node",
            "deg0",
            "coalesce(deg1, 0L) AS deg1",
            f"coalesce(deg1, 0L) >= {_KCORE_K} AS in_core_next",
        )
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitor (total variation distance)
# ---------------------------------------------------------------------------


@query(
    "drift_tv_stability",
    oracle="""
    WITH base AS (
      SELECT least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 2000000, 25)
               AS bucket,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS period
      FROM orders
    ),
    cnt AS (
      SELECT bucket,
             CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
             CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
      FROM base GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref, CAST(sum(c_cur) AS BIGINT) AS n_cur
      FROM cnt
    )
    SELECT bucket, c_ref, c_cur,
           CAST(c_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) AS share_ref,
           CAST(c_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) AS share_cur,
           CAST(sum(abs(c_ref * n_cur - c_cur * n_ref)) OVER () AS DOUBLE)
             / (2.0 * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) AS tv_distance
    FROM cnt, tot
    """,
)
def q_drift_tv_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value distribution drift, reference (<1998) vs current.

    Fixed-width $20k histogram buckets on exact integer cents (integer
    division — never a float-division + cast, CLAUDE.md) make the bucket
    assignment engine-exact; the conditional counts pivot both periods
    out of ONE scan. Total variation distance uses the cross-multiplied
    integer numerator ``Σ|c_ref·m - c_cur·n|`` — an exact BIGINT — so no
    float accumulates in engine order, and ONE division produces the
    reported distance (TV, not PSI: no logarithm, no rounding-margin
    dance). The window-sum runs over the ~25-row bucket table (the
    chi2/stats_chi2_independence precedent). At 100 TB this is a
    map-side histogram plus arithmetic on a constant-size table."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 2000000, 25)"
        " AS bucket",
        "CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'"
        " THEN 0 ELSE 1 END AS period",
    )
    cnt = base.groupBy("bucket").agg(
        F.expr("CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref"),
        F.expr("CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur"),
    )
    tot = cnt.agg(
        F.expr("CAST(sum(c_ref) AS BIGINT) AS n_ref"),
        F.expr("CAST(sum(c_cur) AS BIGINT) AS n_cur"),
    )
    return cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        "c_ref",
        "c_cur",
        "CAST(c_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) AS share_ref",
        "CAST(c_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) AS share_cur",
        "CAST(sum(abs(c_ref * n_cur - c_cur * n_ref)) OVER () AS DOUBLE)"
        " / (2.0 * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) AS tv_distance",
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (MAE)
# ---------------------------------------------------------------------------


@query(
    "orders_seasonal_naive_mae",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    b AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (SELECT unnest(generate_series(d0, d1)) AS d FROM b),
    series AS (
      SELECT s.d, coalesce(daily.rev, 0) AS rev
      FROM spine s LEFT JOIN daily ON s.d = daily.d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(a.rev - p.rev)) AS BIGINT) AS total_abs_err_cents,
           CAST(sum(abs(a.rev - p.rev)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mae_cents
    FROM series a JOIN series p ON p.d = a.d - 7
    """,
)
def q_orders_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest MAE of the week-over-week seasonal-naive forecast.

    Daily revenue in exact BIGINT cents on an integer epoch-day dense
    spine (zero-revenue days are real zeros — skipping them would make
    the naive forecast look artificially good), lag-7 pairing as a
    spine self-join (no global single-partition window), and the error
    aggregate is an exact integer sum with ONE final division. The
    baseline every forecasting model in the order pipeline must beat;
    at 100 TB the daily rollup is the only real work."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("d")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) AS rev"))
    )
    bounds = daily.agg(F.expr("min(d) AS d0"), F.expr("max(d) AS d1"))
    spine = bounds.selectExpr("explode(sequence(d0, d1)) AS d")
    series = spine.join(daily, "d", "left").selectExpr("d", "coalesce(rev, 0L) AS rev")
    a = series.selectExpr("d", "rev AS rev_a")
    p = series.selectExpr("d AS d_p", "rev AS rev_p")
    return (
        a.join(p, F.expr("d_p = d - 7"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_days_scored"),
            F.expr("CAST(sum(abs(rev_a - rev_p)) AS BIGINT) AS total_abs_err_cents"),
            F.expr(
                "CAST(sum(abs(rev_a - rev_p)) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
                " AS mae_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Recursive CTE: per-customer order-timeline walk
# ---------------------------------------------------------------------------

_RCHAIN_SEQ_SQL = """
  SELECT o_custkey AS ck, o_orderkey AS ok, cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM {orders} WHERE o_custkey % 97 = 0
  )
"""

_RCHAIN_SQL = """
WITH RECURSIVE chain AS (
  SELECT ck, ok, rn, 1 AS hop, cents AS running_cents
  FROM {seq} WHERE rn = 1
  UNION ALL
  SELECT s.ck, s.ok, s.rn, c.hop + 1, c.running_cents + s.cents
  FROM chain c JOIN {seq} s ON s.ck = c.ck AND s.rn = c.rn + 1
)
SELECT ck AS o_custkey, ok AS o_orderkey, hop,
       CAST(running_cents AS BIGINT) AS running_cents
FROM chain
"""


# The DuckDB twin inlines seq as a plain CTE ahead of the recursion;
# the Spark side materializes it first (see the docstring).
_RCHAIN_ORACLE = (
    "WITH RECURSIVE seq AS ("
    + _RCHAIN_SEQ_SQL.format(orders="orders")
    + "),\nchain AS"
    + _RCHAIN_SQL.format(seq="seq").split("WITH RECURSIVE chain AS", 1)[1]
)


@query("recursive_order_chain", oracle=_RCHAIN_ORACLE)
def q_recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-chain walk via Spark 4 ``WITH RECURSIVE``.

    Anchor = each sampled customer's first order (row_number 1), step =
    join the frontier to the next row_number, carrying hop count and
    running-spend cents. Certifies the recursive-CTE surface (Spark
    executes it as an iterative UnionLoop; DuckDB runs the identical
    text) on a deterministic ~1% customer sample (``o_custkey % 97 =
    0`` — key-addressed, stable under resharding). Fixture depth is the
    max orders per customer (25), far under
    spark.sql.cteRecursionLevelLimit (100); per-iteration work is the
    frontier only. The seq table (sample + row_number) is
    localCheckpoint-materialized BEFORE the recursion: Spark's
    UnionLoopExec re-executes every subplan the recursive step
    references on each iteration, so an unmaterialized seq re-runs the
    scan+window 25x (measured 5.2 s → ~2 s at sf0.1). The running sum
    is of course also a window — the recursion IS the point (iterative
    plans the reference's static pipeline, server.go:95-229, cannot
    express).

    Measured job floor (r12 verdict ask #5): the sf0.1 exec is 88 jobs
    for the depth-25 recursion (~3.5/iter) and 100% scheduler latency
    (~35 ms/job). The mechanism: UnionLoopExec RE-PLANS and re-executes
    the step subquery each iteration, and every iteration pays at least
    one BroadcastExchange build job (exchange reuse does not span loop
    iterations) plus the step's result job plus AQE bookkeeping. Probed
    and rejected: seq coalesce(1) (walls 7-14 s vs 4.3-6.7 s — the join
    loses its parallelism), BROADCAST(frontier) and BROADCAST(seq)
    hints (jobs unchanged at 88, walls worse), MERGE hint (jobs 120 —
    two shuffle stages per iteration replace one broadcast build). The
    per-iteration fixed cost is per-JOB, not per-byte, so it amortizes
    at production scale; at fixture scale this is the floor."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("rchain_orders")
    seq = spark.sql(_RCHAIN_SEQ_SQL.format(orders="rchain_orders")).localCheckpoint(eager=False)
    seq.createOrReplaceTempView("rchain_seq")
    return spark.sql(_RCHAIN_SQL.format(seq="rchain_seq"))


# ---------------------------------------------------------------------------
# Sequential-pattern funnel via regex over ordered event strings
# ---------------------------------------------------------------------------

_FUNNEL_RE = "v[^p]*c[^p]*p"


@query(
    "events_funnel_pattern_regex",
    oracle=f"""
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS code
      FROM events
    ),
    seqs AS (
      SELECT user_id,
             string_agg(code, '' ORDER BY ts, event_id) AS seq,
             CAST(count(*) AS BIGINT) AS n_events
      FROM coded GROUP BY user_id
    )
    SELECT user_id, seq, n_events,
           CAST(len(regexp_extract_all(seq, '{_FUNNEL_RE}')) AS BIGINT) AS n_funnels,
           CAST(len(regexp_extract_all(seq, '{_FUNNEL_RE}')) AS BIGINT) > 0
             AS converted
    FROM seqs
    """,
)
def q_events_funnel_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential-pattern detection: encode each
    user's time-ordered event stream as a code string (one char per
    event) and count view→click→purchase funnels with a regex —
    ``v[^p]*c[^p]*p`` (no purchase may intervene before the funnel's
    own purchase). Spark has no MATCH_RECOGNIZE; the encode-then-regex
    reduction is the standard way to run sequence patterns on a
    DataFrame engine, and non-overlapping greedy counting agrees
    between Java regex (Spark) and RE2 (DuckDB) for this
    backreference-free, lookaround-free pattern class (the Java∩RE2
    discipline, CLAUDE.md). One user_id shuffle builds the sequence
    (array_sort on (ts, event_id) structs — deterministic total order);
    the scan is otherwise map-side. At 100 TB the per-user string is
    bounded by the session chunking upstream; pattern work never joins
    or re-shuffles."""
    ev = load_table(spark, sf_dir, "events")
    coded = ev.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'"
        " WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'"
        " ELSE 'e' END AS code",
    )
    seqs = (
        coded.groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(ts, event_id,"
                " code))), x -> x.code), '') AS seq"
            ),
            F.expr("CAST(count(*) AS BIGINT) AS n_events"),
        )
    )
    return seqs.selectExpr(
        "user_id",
        "seq",
        "n_events",
        f"CAST(regexp_count(seq, '{_FUNNEL_RE}') AS BIGINT) AS n_funnels",
        f"CAST(regexp_count(seq, '{_FUNNEL_RE}') AS BIGINT) > 0 AS converted",
    )


# ---------------------------------------------------------------------------
# Empirical survival curve (order -> first-ship latency)
# ---------------------------------------------------------------------------


@query(
    "orders_survival_empirical",
    oracle="""
    WITH lat AS (
      SELECT o_orderkey,
             datediff('day', CAST(o_orderdate AS DATE), CAST(min(l_shipdate) AS DATE))
               AS t
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey, o_orderdate
    ),
    cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM lat GROUP BY t),
    tot AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM cnt),
    cum AS (
      SELECT t, d, n,
             CAST(sum(d) OVER (ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_le
      FROM cnt, tot
    )
    SELECT t AS latency_days, d AS n_events,
           n - cum_le + d AS n_at_risk,
           CAST(n - cum_le AS DOUBLE) / CAST(n AS DOUBLE) AS survival
    FROM cum
    """,
)
def q_orders_survival_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical survival curve of order→first-shipment latency:
    S(t) = P(latency > t), evaluated at every observed event time —
    the Kaplan-Meier estimate for uncensored data, where the product
    form collapses to one exact count ratio (so no cumulative float
    product, the classic cross-engine trap; with censoring you'd emit
    the per-step hazard d/n_at_risk — also a single exact division —
    and fold the product client-side). The heavy work is one orderkey
    rollup; the curve itself is a ~120-row latency table, so the
    running sum is the rollup-then-window shape (chi2 precedent), not
    a window over facts. n_at_risk/n_events make the row a full
    life-table entry."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lat = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.expr("min(l_shipdate) AS first_ship"))
        .selectExpr(
            "datediff(CAST(first_ship AS DATE), CAST(o_orderdate AS DATE)) AS t"
        )
    )
    cnt = lat.groupBy("t").agg(F.expr("CAST(count(*) AS BIGINT) AS d"))
    tot = cnt.agg(F.expr("CAST(sum(d) AS BIGINT) AS n"))
    cum = cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "t",
        "d",
        "n",
        "CAST(sum(d) OVER (ORDER BY t"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_le",
    )
    return cum.selectExpr(
        "t AS latency_days",
        "d AS n_events",
        "n - cum_le + d AS n_at_risk",
        "CAST(n - cum_le AS DOUBLE) / CAST(n AS DOUBLE) AS survival",
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap (hash-derandomized resampling)
# ---------------------------------------------------------------------------

# Cumulative Poisson(1) CDF as 8-hex-char thresholds over the 2^32 space
# (lexicographic compare on fixed-width lowercase hex == numeric compare).
_POIS_T = [
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71", "ffff540c",
]
_POIS_CASE = (
    "CASE "
    + " ".join(f"WHEN u < '{t}' THEN {k}" for k, t in enumerate(_POIS_T))
    + " ELSE 8 END"
)
_N_BOOT = 16


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, {_N_BOOT - 1})) AS rep),
    base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    orig AS (
      SELECT CAST(sum(cents) AS BIGINT) AS s0, CAST(count(*) AS BIGINT) AS n0
      FROM base
    ),
    hashed AS (
      SELECT rep, cents,
             substr(md5(CAST(o_orderkey AS VARCHAR) || '#'
                        || CAST(rep AS VARCHAR)), 1, 8) AS u
      FROM base CROSS JOIN reps
    ),
    weighted AS (SELECT rep, cents, {_POIS_CASE} AS w FROM hashed)
    SELECT rep AS replicate_id,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
             AS boot_mean_cents,
           CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS orig_mean_cents
    FROM weighted, orig
    GROUP BY rep, s0, n0
    """,
)
def q_sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized Poisson bootstrap of the mean order value: each of
    16 replicates draws a Poisson(1) weight per order from
    ``md5(orderkey # replicate)`` — the standard streaming bootstrap
    (resampling-with-replacement without materializing resamples, the
    shape used to put error bars on 100-TB aggregates in one pass) made
    bit-reproducible by inverting the Poisson CDF on a hash-uniform.
    The inverse-CDF thresholds are fixed-width hex-string constants, so
    the draw is a pure lexicographic compare in both engines (the
    md5-rank precedent, CLAUDE.md); replicate sums are exact BIGINTs
    and each mean is one IEEE division. No shuffle grows with B: the
    16× row expansion is map-side and combines before the 16-row
    exchange. spread=True: the 16x md5 expansion (2.4M digests at
    sf0.1) is pure per-row CPU serialized on the fixture's single scan
    task (r11 A/B x5 reps: 1.95 -> 1.42 s median; size-guarded no-op at
    production split sizes)."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    base = orders.selectExpr(
        "o_orderkey", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents"
    )
    orig = base.agg(
        F.expr("CAST(sum(cents) AS BIGINT) AS s0"),
        F.expr("CAST(count(*) AS BIGINT) AS n0"),
    )
    reps = spark.range(_N_BOOT).selectExpr("CAST(id AS BIGINT) AS rep")
    # Materialize the hash ONCE per row before the CASE ladder: inlining
    # it into every WHEN branch re-evaluates md5 up to 9x per row
    # (measured 9.8 s -> ~2 s at sf0.1 — the HOF-inline gotcha,
    # CLAUDE.md, in CASE form).
    hashed = base.crossJoin(F.broadcast(reps)).selectExpr(
        "rep",
        "cents",
        "substr(md5(CAST(o_orderkey AS STRING) || '#'"
        " || CAST(rep AS STRING)), 1, 8) AS u",
    )
    weighted = hashed.selectExpr("rep", "cents", f"{_POIS_CASE} AS w")
    return (
        weighted.groupBy("rep")
        .agg(
            F.expr("CAST(sum(w) AS BIGINT) AS n_eff"),
            F.expr(
                "CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE)"
                " AS boot_mean_cents"
            ),
        )
        .crossJoin(F.broadcast(orig))
        .selectExpr(
            "rep AS replicate_id",
            "n_eff",
            "boot_mean_cents",
            "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS orig_mean_cents",
        )
    )


# ---------------------------------------------------------------------------
# Linear interpolation over series gaps (vs LOCF forward-fill)
# ---------------------------------------------------------------------------


@query(
    "window_linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders WHERE o_custkey % 10 = 0 GROUP BY 1
    ),
    b AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (SELECT unnest(generate_series(d0, d1)) AS d FROM b),
    obs AS (
      SELECT s.d, daily.rev FROM spine s LEFT JOIN daily ON s.d = daily.d
    ),
    nb AS (
      SELECT d, rev,
             last_value(rev IGNORE NULLS) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_rev,
             last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_d,
             first_value(rev IGNORE NULLS) OVER
               (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_rev,
             first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER
               (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_d
      FROM obs
    )
    SELECT d, rev, rev IS NULL AS was_missing,
           CASE WHEN rev IS NOT NULL THEN CAST(rev AS DOUBLE)
                WHEN prev_rev IS NOT NULL AND next_rev IS NOT NULL THEN
                  CAST(prev_rev AS DOUBLE)
                  + (CAST(next_rev AS DOUBLE) - CAST(prev_rev AS DOUBLE))
                    * (CAST(d - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE))
                WHEN prev_rev IS NOT NULL THEN CAST(prev_rev AS DOUBLE)
                ELSE CAST(next_rev AS DOUBLE) END AS filled
    FROM nb
    """,
)
def q_window_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across series gaps — the numeric-imputation
    sibling of ``window_forward_fill`` (LOCF): missing days take the
    straight line between the nearest observed neighbors, edge gaps
    fall back to the one-sided neighbor. Series = daily revenue of the
    ``o_custkey % 10`` customer decile, sparse at every SF so the
    interpolation branch is genuinely exercised. Neighbor lookup is
    four IGNORE NULLS window reads over the same ordering (values and
    their day indexes share null positions, so the paired reads are
    consistent); the interpolation is one fixed IEEE tree over exact
    integer cents/days. The window runs on the ~2,400-row daily rollup
    (rollup-then-window, chi2 precedent) — at 100 TB you'd partition
    the spine by series key (this series is global by construction)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.where("o_custkey % 10 = 0")
        .selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("d")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) AS rev"))
    )
    bounds = daily.agg(F.expr("min(d) AS d0"), F.expr("max(d) AS d1"))
    spine = bounds.selectExpr("explode(sequence(d0, d1)) AS d")
    obs = spine.join(daily, "d", "left").select("d", "rev")
    nb = obs.selectExpr(
        "d",
        "rev",
        "last_value(rev) IGNORE NULLS OVER"
        " (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        " AS prev_rev",
        "last_value(CASE WHEN rev IS NOT NULL THEN d END) IGNORE NULLS OVER"
        " (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        " AS prev_d",
        "first_value(rev) IGNORE NULLS OVER"
        " (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
        " AS next_rev",
        "first_value(CASE WHEN rev IS NOT NULL THEN d END) IGNORE NULLS OVER"
        " (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
        " AS next_d",
    )
    return nb.selectExpr(
        "d",
        "rev",
        "rev IS NULL AS was_missing",
        "CASE WHEN rev IS NOT NULL THEN CAST(rev AS DOUBLE)"
        " WHEN prev_rev IS NOT NULL AND next_rev IS NOT NULL THEN"
        "   CAST(prev_rev AS DOUBLE)"
        "   + (CAST(next_rev AS DOUBLE) - CAST(prev_rev AS DOUBLE))"
        "     * (CAST(d - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE))"
        " WHEN prev_rev IS NOT NULL THEN CAST(prev_rev AS DOUBLE)"
        " ELSE CAST(next_rev AS DOUBLE) END AS filled",
    )


# ---------------------------------------------------------------------------
# Round-3 batch 13: rolling z-score anomalies, higher moments,
# inter-purchase gaps
# ---------------------------------------------------------------------------


@query(
    "window_zscore_rolling",
    oracle="""
    WITH daily AS (
      SELECT c_mktsegment AS seg,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT seg, d, rev,
             CAST(count(*) OVER win AS BIGINT)        AS n,
             CAST(sum(rev) OVER win AS BIGINT)        AS s1,
             -- rev*rev in BIGINT overflowed at the x8 corpus's daily
             -- revenues (caught by the round-6 full-registry x8 sweep):
             -- sum the squares in HUGEINT (Spark twin: DECIMAL(38,0)),
             -- exact, then ONE correctly-rounded cast to DOUBLE
             CAST(sum(CAST(rev AS HUGEINT) * rev) OVER win AS DOUBLE)
               AS s2d
      FROM daily
      WINDOW win AS (PARTITION BY seg ORDER BY d
                     ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
    )
    SELECT seg AS c_mktsegment, d, rev, n AS n_baseline,
           (CAST(rev AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * s2d
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
             AS z_score,
           abs((CAST(rev AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * s2d
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) > 3.0
             AS anomaly_flag
    FROM w WHERE n >= 14
    """,
)
def q_window_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly screen: each day's segment revenue
    against its own trailing 28-day baseline (excluding today — ROWS
    28 PRECEDING .. 1 PRECEDING, the standard leak-free monitor frame).
    The streaming-flavored sibling of events_value_outliers (which is
    global two-pass): baseline mean/std come from exact BIGINT window
    sums (count/Σ/Σ² share ONE partitioned frame and one sort), the z
    and the |z|>3 page are correctly-rounded IEEE trees, and warm-up
    days (n<14) are suppressed. Per-segment partitions keep the window
    distributed; at 100 TB this is the per-series pattern behind every
    metrics-anomaly pipeline — the day rollup is the only fact-scale
    work."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .selectExpr(
            "c_mktsegment AS seg",
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("seg", "d")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) AS rev"))
    )
    frame = (
        "OVER (PARTITION BY seg ORDER BY d ROWS BETWEEN 28 PRECEDING"
        " AND 1 PRECEDING)"
    )
    w = daily.selectExpr(
        "seg",
        "d",
        "rev",
        f"CAST(count(*) {frame} AS BIGINT)       AS n",
        f"CAST(sum(rev) {frame} AS BIGINT)       AS s1",
        # rev*rev overflowed BIGINT at the x8 corpus's daily revenues
        # (round-6 full-registry x8 sweep catch): square and sum in
        # DECIMAL(19,0)xDECIMAL(19,0) -> DECIMAL(38,0) (exact; DuckDB
        # twin sums HUGEINT), then ONE correctly-rounded cast to DOUBLE
        f"CAST(sum(CAST(rev AS DECIMAL(19,0)) * CAST(rev AS DECIMAL(19,0)))"
        f" {frame} AS DOUBLE) AS s2d",
    )
    z = (
        "(CAST(rev AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * s2d"
        "         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        "        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    )
    return w.where("n >= 14").selectExpr(
        "seg AS c_mktsegment",
        "d",
        "rev",
        "n AS n_baseline",
        f"{z} AS z_score",
        f"abs({z}) > 3.0 AS anomaly_flag",
    )


@query(
    "agg_skewness_kurtosis",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS pri,
             CAST(floor(o_totalprice + 0.5) AS BIGINT) // 1000 AS x
      FROM orders
    ),
    s AS (
      SELECT pri,
             CAST(count(*) AS BIGINT)           AS n,
             CAST(sum(x) AS BIGINT)             AS s1,
             CAST(sum(x * x) AS BIGINT)         AS s2,
             CAST(sum(x * x * x) AS BIGINT)     AS s3,
             CAST(sum(x * x * x * x) AS BIGINT) AS s4
      FROM base GROUP BY pri
    ),
    k AS (
      SELECT pri, n,
             CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
               AS m2n2,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s3
                  - 3 * CAST(n AS HUGEINT) * s1 * s2
                  + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS DOUBLE) AS m3n3,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s4
                  - 4 * CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * s1 * s3
                  + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
                  - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS DOUBLE) AS m4n4
      FROM s
    )
    SELECT pri AS o_orderpriority, n,
           m3n3 / (sqrt(m2n2) * sqrt(m2n2) * sqrt(m2n2)) AS skewness,
           m4n4 / (m2n2 * m2n2) - 3.0 AS excess_kurtosis
    FROM k
    """,
)
def q_agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness and excess kurtosis of order value (thousands of
    dollars — hundreds measured 3.8e18 of the 9.2e18 BIGINT range at
    sf0.1, one scale-up from an ANSI overflow throw; thousands give
    1e4 headroom) per priority class — the higher-moment distribution
    profile (heavy-tail screen) that decides whether downstream
    samplers need log-domain stratification. The raw power sums stay
    BIGINT-exact; the central-moment expansion runs in 128-bit exact
    arithmetic: DECIMAL(38,0) on Spark, HUGEINT in DuckDB — the
    stats_ols_trend widening discipline, and (Σx)³/(Σx)⁴ terms are why
    128 bits are genuinely needed). One cast to DOUBLE per scaled
    central moment, then a fixed mul/div/sqrt tree: the n-powers cancel exactly
    (skew = n²M3/(nM2)^1.5, kurt = n³M4/(nM2)² - 3), verified against
    numpy's dense central moments in tests/test_stats.py. One
    exchange, five rows out."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderpriority AS pri",
        "CAST(floor(o_totalprice + 0.5) AS BIGINT) DIV 1000 AS x",
    )
    s = base.groupBy("pri").agg(
        F.expr("CAST(count(*) AS BIGINT)           AS n"),
        F.expr("CAST(sum(x) AS BIGINT)             AS s1"),
        F.expr("CAST(sum(x * x) AS BIGINT)         AS s2"),
        F.expr("CAST(sum(x * x * x) AS BIGINT)     AS s3"),
        F.expr("CAST(sum(x * x * x * x) AS BIGINT) AS s4"),
    )
    k = s.selectExpr(
        "pri",
        "n",
        "CAST(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
        " AS DOUBLE) AS m2n2",
        "CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s3"
        " - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2"
        " + 2 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 AS DOUBLE) AS m3n3",
        "CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " * CAST(n AS DECIMAL(38,0)) * s4"
        " - 4 * CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s1 * s3"
        " + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2"
        " - 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1 AS DOUBLE) AS m4n4",
    )
    return k.selectExpr(
        "pri AS o_orderpriority",
        "n",
        "m3n3 / (sqrt(m2n2) * sqrt(m2n2) * sqrt(m2n2)) AS skewness",
        "m4n4 / (m2n2 * m2n2) - 3.0 AS excess_kurtosis",
    )


@query(
    "orders_interpurchase_gaps",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
             lag(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS prev_d
      FROM orders
    ),
    gaps AS (SELECT d - prev_d AS gap FROM seq WHERE prev_d IS NOT NULL),
    hist AS (
      SELECT least(gap // 30, 12) AS gap_month_bucket,
             CAST(count(*) AS BIGINT) AS n_gaps
      FROM gaps GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS total FROM hist)
    SELECT gap_month_bucket, n_gaps,
           CAST(n_gaps AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM hist, tot
    """,
)
def q_orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval profile: days between a customer's
    consecutive orders, rolled into 30-day buckets (capped at 12+
    months) — the repeat-behavior signature behind churn models and
    the empirical prior for RFM recency cuts. One custkey-partitioned
    lag window (exact integer epoch days, deterministic
    (date, orderkey) ordering), a map-side histogram, and one share
    division. At 100 TB the lag rides the same per-entity-timeline
    exchange as sessionization — gap analytics is free once the
    timeline partitioning exists."""
    orders = load_table(spark, sf_dir, "orders")
    seq = orders.selectExpr(
        "o_custkey",
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS d",
        "lag(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01'))"
        " OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
        " AS prev_d",
    )
    hist = (
        seq.where("prev_d IS NOT NULL")
        .selectExpr("least((d - prev_d) DIV 30, 12) AS gap_month_bucket")
        .groupBy("gap_month_bucket")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_gaps"))
    )
    tot = hist.agg(F.expr("CAST(sum(n_gaps) AS BIGINT) AS total"))
    return hist.crossJoin(F.broadcast(tot)).selectExpr(
        "gap_month_bucket",
        "n_gaps",
        "CAST(n_gaps AS DOUBLE) / CAST(total AS DOUBLE) AS share",
    )


# ---------------------------------------------------------------------------
# Round-3 batch 21: Haar wavelet energy (multi-resolution burst analysis)
# ---------------------------------------------------------------------------


@query(
    "events_haar_energy",
    oracle="""
    WITH cnt AS (
      SELECT epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
    spine AS (SELECT unnest(generate_series(h0, h1)) AS h, h0 FROM b),
    series AS (
      SELECT s.h - s.h0 AS idx, coalesce(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON s.h = cnt.h
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS len FROM series),
    scales AS (SELECT unnest([1, 2, 3, 4, 5]) AS k),
    details AS (
      SELECT k, idx // (1 << k) AS block,
             CAST(sum((1 - 2 * ((idx // (1 << (k - 1))) % 2)) * c) AS BIGINT)
               AS detail
      FROM series CROSS JOIN scales, n
      WHERE idx // (1 << k) < len // (1 << k)
      GROUP BY k, idx // (1 << k)
    ),
    energy AS (
      SELECT k AS scale_pow,
             CAST(1 << k AS BIGINT) AS block_size,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(detail * detail) AS BIGINT) AS energy
      FROM details GROUP BY k
    )
    SELECT scale_pow, block_size, n_blocks, energy,
           CAST(energy AS DOUBLE) / CAST(sum(energy) OVER () AS DOUBLE)
             AS energy_share
    FROM energy
    """,
)
def q_events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum of the hourly event-count series —
    which time scale carries the traffic's variability (2h pair noise
    vs 32h daily-rhythm swings). The Haar detail at scale 2^k is
    ``(sum of block's first half) - (second half)``: pure integer
    adds/subtracts, so unlike an FFT the whole multi-resolution
    decomposition is EXACT — energies are BIGINTs, immune to float
    fold order, and the spectrum is one conditional-sum rollup per
    scale off the same dense spine as events_autocorr_hourly (no
    iterative cascade: the half-sign trick computes each scale's
    details directly). Incomplete trailing blocks are dropped
    (standard dyadic truncation). The 5-row share column uses the
    small-table window precedent. At 100 TB: the hourly rollup is the
    only fact-scale work — the decomposition runs on series rows."""
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.selectExpr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " DIV 3600000000 AS h"
        )
        .groupBy("h")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS c"))
    )
    bounds = cnt.agg(F.expr("min(h) AS h0"), F.expr("max(h) AS h1"))
    spine = bounds.selectExpr("explode(sequence(h0, h1)) AS h", "h0")
    series = (
        spine.join(cnt, "h", "left")
        .selectExpr("h - h0 AS idx", "coalesce(c, 0L) AS c")
    )
    n = series.agg(F.expr("CAST(count(*) AS BIGINT) AS len"))
    scales = spark.range(1).selectExpr("explode(array(1, 2, 3, 4, 5)) AS k")
    details = (
        series.crossJoin(F.broadcast(scales))
        .crossJoin(F.broadcast(n))
        .where("idx DIV shiftleft(1, k) < len DIV shiftleft(1, k)")
        .selectExpr(
            "k",
            "idx DIV shiftleft(1, k) AS block",
            "(1 - 2 * ((idx DIV shiftleft(1, k - 1)) % 2)) * c AS signed_c",
        )
        .groupBy("k", "block")
        .agg(F.expr("CAST(sum(signed_c) AS BIGINT) AS detail"))
    )
    energy = details.groupBy("k").agg(
        F.expr("CAST(shiftleft(1, k) AS BIGINT) AS block_size"),
        F.expr("CAST(count(*) AS BIGINT) AS n_blocks"),
        F.expr("CAST(sum(detail * detail) AS BIGINT) AS energy"),
    )
    return energy.selectExpr(
        "k AS scale_pow",
        "block_size",
        "n_blocks",
        "energy",
        "CAST(energy AS DOUBLE) / CAST(sum(energy) OVER () AS DOUBLE)"
        " AS energy_share",
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U: distributed exact rank-sum test
# ---------------------------------------------------------------------------


@query(
    "stats_mannwhitney_u",
    oracle="""
    WITH pool AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    v AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS n_v,
             CAST(sum(grp) AS BIGINT) AS a_v
      FROM pool GROUP BY cents
    ),
    r AS (
      SELECT n_v, a_v,
             CAST(coalesce(sum(n_v) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS c_lt
      FROM v
    ),
    s AS (
      SELECT CAST(sum(a_v * (2 * c_lt + n_v + 1)) AS BIGINT) AS two_r1,
             CAST(sum(a_v) AS BIGINT) AS n1,
             CAST(sum(n_v) AS BIGINT) AS nn,
             CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS ties
      FROM r
    )
    SELECT n1 AS n_urgent, nn - n1 AS n_low,
           CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
           (CAST(two_r1 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) / 2.0)
             / sqrt((CAST(n1 * (nn - n1) AS DOUBLE) / 12.0)
                    * ((CAST(nn AS DOUBLE) + 1.0)
                       - CAST(ties AS DOUBLE)
                         / CAST(nn * (nn - 1) AS DOUBLE))) AS z_score,
           abs((CAST(two_r1 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) / 2.0)
             / sqrt((CAST(n1 * (nn - n1) AS DOUBLE) / 12.0)
                    * ((CAST(nn AS DOUBLE) + 1.0)
                       - CAST(ties AS DOUBLE)
                         / CAST(nn * (nn - 1) AS DOUBLE)))) > 1.96
             AS reject_5pct
    FROM s
    """,
)
def q_stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) comparing URGENT vs LOW order
    totals — the nonparametric complement to stats_ab_ztest when the
    response is skewed and means mislead. Tie-corrected normal
    approximation; no continuity correction (both engines omit it
    identically).

    The distributed-rank insight: U needs no per-row ranks at all. With
    values quantized to integer cents and rolled up to (value, n_v,
    a_v), the group-1 rank sum is 2*R1 = sum a_v * (2*C_lt + n_v + 1)
    where C_lt is the running count of values below — an order
    statistic over the DISTINCT-value rollup, computed here with
    operators/distrank.py (boundary broadcast + per-bucket cumsum +
    driver-folded offsets), never an Exchange SinglePartition. All
    counts/products stay exact BIGINTs (two_r1 <= N^2 ~ 2.3e11 at x8 —
    7 orders of headroom); the z statistic is one fixed
    div/sub/mul/sqrt tree over those integers, bit-identical across
    engines per the stats_ab_ztest/sqrt-safety precedent, so even the
    rejection boolean needs no rounding margin.

    The 100-TB shape: the pool shuffles once to the distinct-value
    rollup (map-side combined); distrank buckets bound every window
    partition; the final reduce is a 4-scalar aggregate. The oracle
    twin is the plain global window — the same exactness certificate as
    orders_gini_spend."""
    from distgrep_spark.operators.distrank import rank_buckets

    orders = load_table(spark, sf_dir, "orders")
    pool = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).selectExpr(
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp",
    )
    v = (
        pool.groupBy("cents")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_v"),
            F.expr("CAST(sum(grp) AS BIGINT) AS a_v"),
        )
        .localCheckpoint(eager=False)
    )
    vb, offs, _ = rank_buckets(v, {"bk": "cents"}, {"cnt": ("sum", "n_v")})
    r = vb.selectExpr(
        "n_v",
        "a_v",
        f"{offs['bk', 'cnt']} + sum(n_v) OVER "
        "(PARTITION BY bk ORDER BY cents "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v AS c_lt",
    )
    s = r.agg(
        F.expr("CAST(sum(a_v * (2 * c_lt + n_v + 1)) AS BIGINT) AS two_r1"),
        F.expr("CAST(sum(a_v) AS BIGINT) AS n1"),
        F.expr("CAST(sum(n_v) AS BIGINT) AS nn"),
        F.expr("CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS ties"),
    )
    return s.selectExpr(
        "n1 AS n_urgent",
        "nn - n1 AS n_low",
        "CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat",
        "(CAST(two_r1 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) / 2.0)"
        " / sqrt((CAST(n1 * (nn - n1) AS DOUBLE) / 12.0)"
        "        * ((CAST(nn AS DOUBLE) + 1.0)"
        "           - CAST(ties AS DOUBLE)"
        "             / CAST(nn * (nn - 1) AS DOUBLE))) AS z_score",
        "abs((CAST(two_r1 - n1 * (n1 + 1) - n1 * (nn - n1) AS DOUBLE) / 2.0)"
        " / sqrt((CAST(n1 * (nn - n1) AS DOUBLE) / 12.0)"
        "        * ((CAST(nn AS DOUBLE) + 1.0)"
        "           - CAST(ties AS DOUBLE)"
        "             / CAST(nn * (nn - 1) AS DOUBLE)))) > 1.96"
        " AS reject_5pct",
    )


_N_PERM = 16


@query(
    "stats_permutation_test_md5",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    orig AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS BIGINT) AS s,
             CAST(sum(grp) AS BIGINT) AS n,
             CAST(sum(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS BIGINT) AS t,
             CAST(count(*) - sum(grp) AS BIGINT) AS m
      FROM base
    ),
    reps AS (SELECT unnest(generate_series(0, {_N_PERM - 1})) AS rep),
    relabeled AS (
      SELECT rep, cents,
             CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || '~'
                              || CAST(rep AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS g
      FROM base CROSS JOIN reps
    ),
    per_rep AS (
      SELECT rep,
             CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb,
             CAST(sum(g) AS BIGINT) AS nb
      FROM relabeled GROUP BY rep
    ),
    judged AS (
      SELECT rep,
             CASE WHEN abs(CAST(sb AS HUGEINT) * (n + m - nb)
                           - CAST(s + t - sb AS HUGEINT) * nb)
                       * (CAST(n AS HUGEINT) * m)
                    >= abs(CAST(s AS HUGEINT) * m
                           - CAST(t AS HUGEINT) * n)
                       * (CAST(nb AS HUGEINT) * (n + m - nb))
                  THEN 1 ELSE 0 END AS ge
      FROM per_rep, orig
    )
    SELECT n AS n_urgent, m AS n_low,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(t AS DOUBLE) / CAST(m AS DOUBLE) AS obs_diff_cents,
           CAST(sum(ge) AS BIGINT) AS n_extreme,
           CAST(1 + sum(ge) AS DOUBLE) / CAST(1 + {_N_PERM} AS DOUBLE)
             AS p_value
    FROM judged, orig
    GROUP BY n, m, s, t
    """,
)
def q_stats_permutation_test_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized permutation (randomization) test for the
    URGENT-vs-LOW mean order value difference — the assumption-free
    complement to stats_ab_ztest (normal theory) and
    stats_mannwhitney_u (ranks), and the permutation member of the
    md5-derandomized resampling family next to
    sample_poisson_bootstrap. Each of 16 replicates relabels every
    order by one md5 hex-digit coin ('< 8' = group 1), recomputes the
    mean difference, and the p-value is the add-one-smoothed share of
    replicates at least as extreme as the observed difference.

    Exactness: the per-replicate comparison |s_b/n_b - t_b/m_b| >=
    |s/n - t/m| is cross-multiplied into INTEGER arithmetic —
    DECIMAL(38,0) products on the Spark side, HUGEINT in DuckDB, peak
    magnitude ~5e28 at x8 against 1e38 headroom — so every replicate's
    extremeness bit is exact, never a float-tie coin flip. Group-0
    sums/counts derive from the observed totals (t_b = (s+t) - s_b), so
    each replicate costs only two conditional aggregates.

    The 100-TB shape: the 16x expansion is map-side (broadcast
    replicate spine) and combines before a 16-row exchange — the
    one-pass bootstrap posture; nothing scales with B but map work."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).selectExpr(
        "o_orderkey",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp",
    )
    orig = base.agg(
        F.expr("CAST(sum(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS BIGINT) AS s"),
        F.expr("CAST(sum(grp) AS BIGINT) AS n"),
        F.expr("CAST(sum(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS BIGINT) AS t"),
        F.expr("CAST(count(*) - sum(grp) AS BIGINT) AS m"),
    )
    reps = spark.range(_N_PERM).selectExpr("CAST(id AS BIGINT) AS rep")
    relabeled = base.crossJoin(F.broadcast(reps)).selectExpr(
        "rep",
        "cents",
        "CASE WHEN substr(md5(CAST(o_orderkey AS STRING) || '~'"
        " || CAST(rep AS STRING)), 1, 1) < '8' THEN 1 ELSE 0 END AS g",
    )
    per_rep = relabeled.groupBy("rep").agg(
        F.expr("CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb"),
        F.expr("CAST(sum(g) AS BIGINT) AS nb"),
    )
    judged = per_rep.crossJoin(F.broadcast(orig)).selectExpr(
        "n",
        "m",
        "s",
        "t",
        "CASE WHEN abs(CAST(sb AS DECIMAL(38,0)) * (n + m - nb)"
        "              - CAST(s + t - sb AS DECIMAL(38,0)) * nb)"
        "          * (CAST(n AS DECIMAL(38,0)) * m)"
        "       >= abs(CAST(s AS DECIMAL(38,0)) * m"
        "              - CAST(t AS DECIMAL(38,0)) * n)"
        "          * (CAST(nb AS DECIMAL(38,0)) * (n + m - nb))"
        "     THEN 1 ELSE 0 END AS ge",
    )
    return judged.groupBy("n", "m", "s", "t").agg(
        F.expr("CAST(sum(ge) AS BIGINT) AS n_extreme"),
    ).selectExpr(
        "n AS n_urgent",
        "m AS n_low",
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(t AS DOUBLE) / CAST(m AS DOUBLE) AS obs_diff_cents",
        "n_extreme",
        f"CAST(1 + n_extreme AS DOUBLE) / CAST(1 + {_N_PERM} AS DOUBLE)"
        " AS p_value",
    )


@query(
    "stats_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c_d
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, d, c_d,
             CAST(sum(c_d) OVER (PARTITION BY event_type) AS BIGINT) AS s_t,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d_t
      FROM daily
    ), ps AS (
      SELECT event_type, d, s_t,
             CAST(sum(c_d * d_t - s_t)
                    OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS p
      FROM tot
    )
    SELECT event_type, d,
           CAST(p - min(p) OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS cusum_up,
           CAST(max(p) OVER (PARTITION BY event_type ORDER BY d) - p
                AS BIGINT) AS cusum_down,
           p - min(p) OVER (PARTITION BY event_type ORDER BY d)
             > 3 * s_t AS drift_up,
           max(p) OVER (PARTITION BY event_type ORDER BY d) - p
             > 3 * s_t AS drift_down
    FROM ps
    """,
)
def q_stats_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point monitor over the per-type daily
    revenue series — the SEQUENTIAL drift detector beside
    ``drift_tv_stability``'s two-period snapshot comparison: TV distance
    asks "do these two periods differ", CUSUM asks "WHEN did the level
    shift", accumulating evidence day by day (Page 1954).

    The recursion-free form: the textbook CUSUM S_i = max(0, S_{i-1} +
    dev_i) is not a plain window aggregate, but classically S_i =
    P_i - min_{j<=i} P_j where P is the plain prefix sum of deviations —
    one running sum + one running min/max, both ordinary windows
    PARTITIONED BY event_type (never single-partition; the lower-side
    CUSUM is the mirrored running max). Exactness: the daily deviation
    against the type's own mean daily total is cross-multiplied to a
    CONSTANT denominator — dev_d = c_d * D_t - S_t (scaled by day count
    D_t) — so prefix sums stay exact BIGINT (peak ~5e11 at sf0.1; the
    100-TB form widens to DECIMAL(38,0) the way
    stats_permutation_test_md5 does) and the breach booleans
    (cumulative excess > 3 average days' mass, i.e. scaled > 3*S_t)
    are integer compares, never float-tie coin flips.

    The 100-TB shape: the only event-scale work is the map-side
    combinable (type, day) rollup — one shuffle of ~|types|x|days|
    rows; every window runs on that bounded rollup partitioned by
    type. Missing days simply contribute no row (deviation 0 in the
    prefix), so no dense spine is required for the detector."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.selectExpr(
            "event_type",
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS d",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "d")
        .agg(F.expr("CAST(sum(cents) AS BIGINT) AS c_d"))
    )
    return (
        daily.selectExpr(
            "event_type",
            "d",
            "c_d",
            "CAST(sum(c_d) OVER (PARTITION BY event_type) AS BIGINT) AS s_t",
            "CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d_t",
        )
        .selectExpr(
            "event_type",
            "d",
            "s_t",
            "CAST(sum(c_d * d_t - s_t)"
            " OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS p",
        )
        .selectExpr(
            "event_type",
            "d",
            "CAST(p - min(p) OVER (PARTITION BY event_type ORDER BY d)"
            " AS BIGINT) AS cusum_up",
            "CAST(max(p) OVER (PARTITION BY event_type ORDER BY d) - p"
            " AS BIGINT) AS cusum_down",
            "p - min(p) OVER (PARTITION BY event_type ORDER BY d)"
            " > 3 * s_t AS drift_up",
            "max(p) OVER (PARTITION BY event_type ORDER BY d) - p"
            " > 3 * s_t AS drift_down",
        )
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


@query(
    "stats_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, a.d AS d1, b.d AS d2,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    r AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    )
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           slope AS median_slope
    FROM r WHERE rn = (np + 1) // 2
    """,
)
def q_stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the median of all
    pairwise slopes of the daily-count series — the slope estimator
    with a 29% breakdown point that one outlier day cannot move, the
    robust complement to stats_ols_trend's least-squares fit (which a
    single corrupted day drags arbitrarily).

    Determinism: each slope is ONE correctly-rounded IEEE division of
    exact BIGINTs (count delta / day delta), so both engines hold
    bit-identical slope sets; the median is picked by rank under the
    total order (slope, d1, d2) — the lower median at rank
    (n+1) DIV 2, a real pair's slope, never an interpolated midpoint
    (interpolation would reopen the float-formula divergence,
    CLAUDE.md quantile gotcha).

    The 100-TB shape: the O(rows) work is the one map-side-combinable
    (type, day) rollup; the O(days²) pair join runs on that rollup,
    whose size is CALENDAR-bounded (30 days here; 3650 for a decade →
    ≤6.7M pairs per type), not data-bounded — the same
    rollup-then-quadratic-on-the-rollup design as
    events_autocorr_hourly. For series where the spine itself is huge
    (per-entity trends), production Theil–Sen samples pairs; the
    estimator is defined on any pair subset."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.selectExpr(
        "event_type",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS d",
    ).groupBy("event_type", "d").agg(
        F.expr("CAST(count(*) AS BIGINT) AS c")
    )
    a = daily.selectExpr("event_type AS et_a", "d AS d1", "c AS c1")
    b = daily.selectExpr("event_type AS et_b", "d AS d2", "c AS c2")
    pairs = a.join(
        b, (F.col("et_a") == F.col("et_b")) & (F.col("d1") < F.col("d2"))
    ).selectExpr(
        "et_a AS event_type",
        "d1",
        "d2",
        "CAST(c2 - c1 AS DOUBLE) / CAST(d2 - d1 AS DOUBLE) AS slope",
    )
    r = pairs.selectExpr(
        "event_type",
        "slope",
        "row_number() OVER (PARTITION BY event_type"
        " ORDER BY slope, d1, d2) AS rn",
        "count(*) OVER (PARTITION BY event_type) AS np",
    )
    return r.where("rn = (np + 1) DIV 2").selectExpr(
        "event_type", "CAST(np AS BIGINT) AS n_pairs", "slope AS median_slope"
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------


@query(
    "stats_cuped_adjustment",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli
      FROM events
    ),
    u AS (
      SELECT user_id, arm,
             CAST(sum(CASE WHEN d < 15 THEN milli ELSE 0 END) AS BIGINT)
               AS x,
             CAST(sum(CASE WHEN d >= 15 THEN milli ELSE 0 END) AS BIGINT)
               AS y
      FROM ev GROUP BY user_id, arm
    ),
    pool AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u
    ),
    th AS (
      SELECT CAST(n AS HUGEINT) AS n, sx, sy,
             CAST(CAST(n AS HUGEINT) * sxy
                  - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
      FROM pool
    ),
    a AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS asx, CAST(sum(y) AS BIGINT) AS asy
      FROM u GROUP BY arm
    )
    SELECT a.arm, a.n_users,
           CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE) AS mean_y,
           CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE)
             - th.theta * (CAST(a.asx AS DOUBLE) / CAST(a.n_users AS DOUBLE)
                           - th.xbar) AS mean_y_adj,
           th.theta AS theta
    FROM a CROSS JOIN th
    """,
)
def q_stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the experimentation
    workhorse beside stats_ab_ztest / stats_diff_in_diff: adjust each
    arm's post-period metric by theta x (pre-period covariate deviation
    from the pooled mean), where theta = cov(X,Y)/var(X) over the
    pooled population. Pre-period behavior is unaffected by treatment,
    so the adjustment removes covariate variance without biasing the
    arm contrast — the same readout with tighter error bars.

    Exactness: per-user pre/post milli sums are exact BIGINTs; the
    pooled moments widen through DECIMAL(38,0)/HUGEINT (x*y peaks
    ~1e13 per user; the n*sxy product needs 128-bit); theta, the
    pooled mean, and each arm's adjusted mean are a FIXED tree of
    correctly-rounded IEEE div/mul/sub over those exact integers —
    identical text on both engines, no rounding margin needed
    (CLAUDE.md sqrt/div rule). Day boundaries are integer epoch-day
    offsets from the fixture anchor, never timezone-touched.

    The 100-TB shape: ONE user_id shuffle builds the per-user
    covariate/metric rollup; the pooled moments and each arm's sums
    are map-side-combinable aggregates of that rollup; theta is a
    1-row broadcast (the scalar crossJoin idiom). Nothing beyond the
    first rollup scales with events."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CAST(user_id % 2 AS BIGINT) AS arm",
        "datediff(CAST(ts AS DATE), DATE '2024-01-01') AS d",
        "CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli",
    )
    u = ev.groupBy("user_id", "arm").agg(
        F.expr(
            "CAST(sum(CASE WHEN d < 15 THEN milli ELSE 0 END) AS BIGINT)"
            " AS x"
        ),
        F.expr(
            "CAST(sum(CASE WHEN d >= 15 THEN milli ELSE 0 END) AS BIGINT)"
            " AS y"
        ),
    )
    pool = u.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(x) AS BIGINT) AS sx"),
        F.expr("CAST(sum(y) AS BIGINT) AS sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy"),
    )
    th = pool.selectExpr(
        "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
        " - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(38,0)) * sxx"
        " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS theta",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar",
    )
    a = u.groupBy("arm").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_users"),
        F.expr("CAST(sum(x) AS BIGINT) AS asx"),
        F.expr("CAST(sum(y) AS BIGINT) AS asy"),
    )
    return a.crossJoin(F.broadcast(th)).selectExpr(
        "arm",
        "n_users",
        "CAST(asy AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y",
        "CAST(asy AS DOUBLE) / CAST(n_users AS DOUBLE)"
        " - theta * (CAST(asx AS DOUBLE) / CAST(n_users AS DOUBLE)"
        " - xbar) AS mean_y_adj",
        "theta",
    )


# ---------------------------------------------------------------------------
# Additive seasonal decomposition (weekday indexes over the daily series)
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, d, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY d
                               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS t7,
             CAST(count(*) OVER (PARTITION BY event_type ORDER BY d
                                 RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS w7
      FROM daily
    ),
    resid AS (
      SELECT event_type, (d + 4) % 7 AS weekday,
             7 * c - t7 AS rnum
      FROM tr WHERE w7 = 7
    )
    SELECT event_type, CAST(weekday AS BIGINT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(CAST(sum(rnum) AS HUGEINT) AS DOUBLE)
             / CAST(7 * count(*) AS DOUBLE) AS seasonal
    FROM resid GROUP BY 1, 2
    """,
)
def q_events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, the weekday half: per
    event type, detrend the daily-count series with a centered 7-day
    moving average and average the residuals by weekday — the seasonal
    index that tells every downstream monitor (z-score windows, CUSUM
    thresholds, capacity plans) how much of Monday-vs-Sunday is
    structure rather than signal. Complements events_autocorr_hourly
    (which detects seasonality; this one MEASURES its shape).

    Exactness: the trend is kept as the 7-day SUM (exact BIGINT) and
    the residual as 7*c - t7 — multiplying through by 7 instead of
    dividing keeps every intermediate an integer; the single division
    by 7*n happens once at the end (correctly rounded, identical both
    engines). Incomplete edge windows are excluded by the exact window
    COUNT (w7 = 7), not by date arithmetic. Weekday is (epoch_day+4)%7
    — pure integer, immune to locale/DOW-convention differences
    between engines. RANGE frames use integer day keys (the
    window_range_frame lesson: float RANGE bounds are driver-hash
    poison; integers are exact).

    The 100-TB shape: the O(rows) stage is the one map-side-combinable
    (type, day) rollup; both windows ride one hash partition by type
    over the calendar-bounded rollup, and the weekday rollup is 7 rows
    per type. The multiplicative variant swaps the residual for a
    cross-multiplied ratio — same plan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.selectExpr(
        "event_type",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS d",
    ).groupBy("event_type", "d").agg(
        F.expr("CAST(count(*) AS BIGINT) AS c")
    )
    tr = daily.selectExpr(
        "event_type",
        "d",
        "c",
        "CAST(sum(c) OVER (PARTITION BY event_type ORDER BY d"
        " RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7",
        "CAST(count(*) OVER (PARTITION BY event_type ORDER BY d"
        " RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS w7",
    )
    resid = tr.where("w7 = 7").selectExpr(
        "event_type",
        "(d + 4) % 7 AS weekday",
        "7 * c - t7 AS rnum",
    )
    return resid.groupBy(
        "event_type", F.expr("CAST(weekday AS BIGINT)").alias("weekday")
    ).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_days"),
        F.expr(
            "CAST(sum(CAST(rnum AS DECIMAL(38,0))) AS DOUBLE)"
            " / CAST(7 * count(*) AS DOUBLE) AS seasonal"
        ),
    )


# ---------------------------------------------------------------------------
# A/B power analysis: required sample size and minimum detectable effect
# ---------------------------------------------------------------------------


@query(
    "stats_ab_power_mde",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
                                ELSE 0 END) AS BIGINT) >= 600000
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS c
      FROM u GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN c END) AS c0,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN c END) AS c1
      FROM a
    ),
    p AS (
      SELECT n0, c0, n1, c1,
             CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
             CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
             CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pbar
      FROM w
    )
    SELECT n0, n1, p0, p1, p1 - p0 AS delta,
           CASE WHEN p1 = p0 THEN NULL ELSE
           (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
            + 0.84 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
           * (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
              + 0.84 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
           / ((p1 - p0) * (p1 - p0)) END AS n_required_per_arm,
           (1.96 + 0.84) * sqrt(2.0 * pbar * (1.0 - pbar)
                                / CAST(least(n0, n1) AS DOUBLE)) AS mde
    FROM p
    """,
)
def q_stats_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power planning — the third leg of the experimentation
    kit (stats_ab_ztest decides, stats_cuped_adjustment tightens, this
    one SIZES): from the observed per-arm conversion rates, the
    classical two-proportion formula gives (a) the per-arm sample size
    required to detect the observed delta at alpha = 0.05 two-sided
    with 80% power (z_alpha/2 = 1.96, z_beta = 0.84), and (b) the
    minimum detectable effect at the CURRENT sample size — the two
    numbers every experiment review asks for.

    Determinism: conversion is a per-user exact-integer event (total
    purchase milli-value >= 600000 — the fixture's per-user median, so
    rates sit near 0.5 and the observed delta is nonzero at every
    fixture scale, measured sf0.001 through x16; a saturated
    "any purchase" definition was p0 = p1 = 1 and degenerate);
    rates are single correctly-rounded divisions; the p1 = p0 guard
    returns NULL rather than tripping ANSI divide-by-zero on a truly
    zero observed effect; the formula
    is a FIXED tree of div/sub/mul/sqrt — all correctly rounded per
    IEEE 754 (the stats_ab_ztest precedent: sqrt is safe, unlike
    ln/exp), written as the same expression text on both engines, so
    even the last ulp matches. The z constants are literals (model
    parameters, not data).

    The 100-TB shape: one user_id shuffle to the conversion rollup;
    everything after is arithmetic on a 2-row table pivoted to one
    row. Power analysis is cheap — the point of registering it is that
    the pipeline can compute it ON the full population rather than a
    staleness-prone sample extract."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)"
            " ELSE 0 END) AS BIGINT) >= 600000 THEN 1 ELSE 0 END AS conv"
        )
    ).selectExpr("CAST(user_id % 2 AS BIGINT) AS arm", "conv")
    a = u.groupBy("arm").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(conv) AS BIGINT) AS c"),
    )
    w = a.agg(
        F.expr("max(CASE WHEN arm = 0 THEN n END) AS n0"),
        F.expr("max(CASE WHEN arm = 0 THEN c END) AS c0"),
        F.expr("max(CASE WHEN arm = 1 THEN n END) AS n1"),
        F.expr("max(CASE WHEN arm = 1 THEN c END) AS c1"),
    )
    p = w.selectExpr(
        "n0", "c0", "n1", "c1",
        "CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0",
        "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1",
        "CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pbar",
    )
    return p.selectExpr(
        "n0", "n1", "p0", "p1", "p1 - p0 AS delta",
        "CASE WHEN p1 = p0 THEN NULL ELSE"
        " (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))"
        " + 0.84 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))"
        " * (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))"
        " + 0.84 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))"
        " / ((p1 - p0) * (p1 - p0)) END AS n_required_per_arm",
        "(1.96 + 0.84) * sqrt(2.0 * pbar * (1.0 - pbar)"
        " / CAST(least(n0, n1) AS DOUBLE)) AS mde",
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test (tie-corrected)
# ---------------------------------------------------------------------------


@query(
    "stats_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY a.event_type
    ),
    nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily
      GROUP BY event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, c)
      WHERE t > 1 GROUP BY event_type
    ),
    v AS (
      SELECT nn.event_type, nn.n, s.s_stat,
             CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                  - coalesce(ties.tie_term, 0) AS BIGINT) AS var18
      FROM nn JOIN s ON nn.event_type = s.event_type
      LEFT JOIN ties ON nn.event_type = ties.event_type
    )
    SELECT event_type, n AS n_days, s_stat, var18,
           CASE WHEN s_stat > 0 THEN
                  (CAST(s_stat AS DOUBLE) - 1.0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                WHEN s_stat < 0 THEN
                  (CAST(s_stat AS DOUBLE) + 1.0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z,
           abs(CASE WHEN s_stat > 0 THEN
                  (CAST(s_stat AS DOUBLE) - 1.0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                WHEN s_stat < 0 THEN
                  (CAST(s_stat AS DOUBLE) + 1.0)
                    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                ELSE 0.0 END) > 1.96 AS trend_detected
    FROM v
    """,
)
def q_stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend TEST per event type — the
    significance half beside stats_theil_sen's slope ESTIMATE (the
    standard pairing in environmental/ops monitoring): S = Σ sign(c_j -
    c_i) over time-ordered day pairs, tie-corrected variance
    18·Var(S) = n(n-1)(2n+5) - Σ_t t(t-1)(2t+5), and the
    continuity-corrected z with the 1.96 two-sided gate.

    Exactness: S, the tie term, and 18·Var(S) are pure BIGINTs off the
    calendar-bounded daily rollup; z is a fixed div/sub/sqrt IEEE tree
    over those integers (sqrt is correctly rounded — the stats_ab_ztest
    rule), so even the rejection boolean is engine-exact with no
    rounding margin. The sign kernel needs no value magnitudes at all —
    the reason MK is the robust default when the series distribution is
    unknown.

    The 100-TB shape: identical to stats_theil_sen — O(rows) is the
    one map-side (type, day) rollup; the O(days²) pair join runs on
    the 30-row-per-type rollup and stays calendar-bounded forever."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.selectExpr(
        "event_type",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS d",
    ).groupBy("event_type", "d").agg(
        F.expr("CAST(count(*) AS BIGINT) AS c")
    ).localCheckpoint(eager=False)
    a = daily.selectExpr("event_type AS et_a", "d AS d1", "c AS c1")
    b = daily.selectExpr("event_type AS et_b", "d AS d2", "c AS c2")
    s = (
        a.join(b, (F.col("et_a") == F.col("et_b")) & (F.col("d1") < F.col("d2")))
        .groupBy(F.col("et_a").alias("event_type"))
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN c2 > c1 THEN 1"
                " WHEN c2 < c1 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat"
            )
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n")
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS t"))
        .where("t > 1")
        .groupBy("event_type")
        .agg(
            F.expr(
                "CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)"
                " AS tie_term"
            )
        )
        .selectExpr("event_type AS et_t", "tie_term")
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, F.col("event_type") == F.col("et_t"), "left")
        .selectExpr(
            "event_type",
            "n",
            "s_stat",
            "CAST(n * (n - 1) * (2 * n + 5)"
            " - coalesce(tie_term, 0) AS BIGINT) AS var18",
        )
    )
    zexpr = (
        "CASE WHEN s_stat > 0 THEN"
        " (CAST(s_stat AS DOUBLE) - 1.0)"
        " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
        " WHEN s_stat < 0 THEN"
        " (CAST(s_stat AS DOUBLE) + 1.0)"
        " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
        " ELSE 0.0 END"
    )
    return v.selectExpr(
        "event_type",
        "n AS n_days",
        "s_stat",
        "var18",
        f"{zexpr} AS z",
        f"abs({zexpr}) > 1.96 AS trend_detected",
    )


# ---------------------------------------------------------------------------
# Wald SPRT: sequential probability ratio test (exact-integer random walk)
# ---------------------------------------------------------------------------

# Model constants (micro-nats, fixed literals — ln of model parameters,
# never of data): H0 p=0.4 vs H1 p=0.6 makes the per-observation LLR
# symmetric, ln(0.6/0.4) = -ln(0.4/0.6) = 0.405465... -> 405465.
# Thresholds at alpha=0.05, beta=0.2: A = ln((1-b)/a) = ln(16) ->
# 2772589; B = ln(b/(1-a)) = ln(0.2/0.95) -> -1558145.
_SPRT_STEP = 405465
_SPRT_A = 2772589
_SPRT_B = -1558145


@query(
    "stats_sprt_sequential",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) >= 600000
                  THEN 1 ELSE 0 END AS conv
      FROM events WHERE user_id % 2 = 1 GROUP BY user_id
    ),
    w AS (
      SELECT user_id, conv,
             CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) AS t,
             CAST(sum(conv) OVER (ORDER BY user_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
      FROM u
    ),
    llr AS (
      SELECT t, {_SPRT_STEP} * (2 * s - t) AS l FROM w
    )
    SELECT CAST(count(*) AS BIGINT) AS n_obs,
           CAST(min(CASE WHEN l >= {_SPRT_A} THEN t END) AS BIGINT)
             AS first_accept_t,
           CAST(min(CASE WHEN l <= {_SPRT_B} THEN t END) AS BIGINT)
             AS first_reject_t,
           CASE WHEN coalesce(min(CASE WHEN l >= {_SPRT_A} THEN t END),
                              9223372036854775807)
                     < coalesce(min(CASE WHEN l <= {_SPRT_B} THEN t END),
                                9223372036854775807)
                THEN 'accept_h1'
                WHEN min(CASE WHEN l <= {_SPRT_B} THEN t END) IS NOT NULL
                THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(max(CASE WHEN t = (SELECT max(t) FROM llr) THEN l END)
                AS BIGINT) AS llr_final_micro
    FROM llr
    """,
)
def q_stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT — the SEQUENTIAL hypothesis test that completes the
    testing kit (fixed-horizon: stats_ab_ztest; drift: stats_cusum;
    sizing: stats_ab_power_mde): observations arrive in order
    (user_id as the deterministic arrival proxy), the log-likelihood
    ratio walks up on conversions and down on misses, and the test
    STOPS at the first threshold crossing — on average far earlier
    than the fixed-horizon test with the same error rates, which is
    why every modern experimentation platform runs a sequential
    variant.

    Exactness: the only transcendentals are ln of MODEL CONSTANTS
    (p0 = 0.4 vs p1 = 0.6 — chosen symmetric so the walk is
    step·(2S_t - t)), pre-rounded to micro-nat literals at build time —
    the walk, both thresholds, and the first-crossing argmins are pure
    BIGINT arithmetic, so the decision is engine-exact with no margin
    analysis. Conversion reuses stats_ab_power_mde's median-threshold
    definition (non-degenerate at every fixture scale).

    The 100-TB shape: the running sum is the textbook distrank job —
    in the engine it runs through ``operators/distrank.py``'s bucketed
    prefix sums (boundaries on user_id, per-bucket offsets; no
    Exchange SinglePartition over the user rollup), while the oracle
    keeps the plain global window. The crossing scan is one
    map-side-combinable conditional-min aggregate — sequential
    semantics without a sequential executor."""
    from distgrep_spark.operators.distrank import rank_buckets

    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where("user_id % 2 = 1")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CASE WHEN CAST(sum(CASE WHEN event_type = 'purchase'"
                " THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)"
                " ELSE 0 END) AS BIGINT) >= 600000 THEN 1 ELSE 0 END"
                " AS conv"
            )
        )
        .localCheckpoint(eager=False)
    )
    ub, offs, _ = rank_buckets(
        u, {"bk": "user_id"}, {"cnt": ("sum", "1"), "sc": ("sum", "conv")}
    )
    w = ub.selectExpr(
        "conv",
        f"{offs['bk', 'cnt']} + row_number() OVER"
        " (PARTITION BY bk ORDER BY user_id) AS t",
        f"{offs['bk', 'sc']} + sum(conv) OVER"
        " (PARTITION BY bk ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS s",
    )
    llr = w.selectExpr("t", f"{_SPRT_STEP} * (2 * s - t) AS l").localCheckpoint(eager=False)
    n_obs = llr.count()
    return llr.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_obs"),
        F.expr(
            f"CAST(min(CASE WHEN l >= {_SPRT_A} THEN t END) AS BIGINT)"
            " AS first_accept_t"
        ),
        F.expr(
            f"CAST(min(CASE WHEN l <= {_SPRT_B} THEN t END) AS BIGINT)"
            " AS first_reject_t"
        ),
        F.expr(
            f"CASE WHEN coalesce(min(CASE WHEN l >= {_SPRT_A} THEN t END),"
            " 9223372036854775807)"
            f" < coalesce(min(CASE WHEN l <= {_SPRT_B} THEN t END),"
            " 9223372036854775807)"
            " THEN 'accept_h1'"
            f" WHEN min(CASE WHEN l <= {_SPRT_B} THEN t END) IS NOT NULL"
            " THEN 'accept_h0'"
            " ELSE 'continue' END AS decision"
        ),
        F.expr(
            f"CAST(max(CASE WHEN t = {n_obs} THEN l END) AS BIGINT)"
            " AS llr_final_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Round-6 batch 49: split-conformal calibration + SRM bucket audit
# ---------------------------------------------------------------------------


@query(
    "stats_conformal_calibration",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             substring(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS is_cal
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM ev WHERE is_cal GROUP BY event_type
    ),
    sc AS (
      SELECT e.event_type, e.is_cal,
             abs(CAST(e.cents AS DOUBLE) - m.med) AS score
      FROM ev e JOIN med m USING (event_type)
    ),
    n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
      FROM sc WHERE is_cal GROUP BY event_type
    ),
    q AS (
      SELECT event_type, n_cal, score AS q_radius FROM (
        SELECT c.event_type, c.score, n.n_cal,
               row_number() OVER (PARTITION BY c.event_type
                                  ORDER BY c.score) AS rk
        FROM sc c JOIN n USING (event_type) WHERE c.is_cal
      ) WHERE rk = least((9 * (n_cal + 1) + 9) // 10, n_cal)
    ),
    test AS (
      SELECT s.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(count(*) FILTER (s.score <= q.q_radius) AS BIGINT)
               AS n_covered
      FROM sc s JOIN q USING (event_type)
      WHERE NOT s.is_cal
      GROUP BY 1
    )
    SELECT q.event_type, q.n_cal, q.q_radius, t.n_test, t.n_covered,
           round(CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 4)
             AS coverage,
           CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE) >= 0.85
             AS coverage_ok
    FROM q JOIN test t USING (event_type)
    """,
)
def q_stats_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per event type — the
    distribution-free uncertainty-quantification kernel (Vovk et al.;
    the finite-sample coverage guarantee behind conformal prediction
    sets for ML serving): a deterministic md5 split assigns ~half the
    events to CALIBRATION; nonconformity = |cents - calibration
    median|; the conformal radius is the ceil(0.9 * (n_cal + 1))-th
    smallest calibration score (an exact ORDER STATISTIC — computed
    with integer ceil-division, never a float quantile interpolation,
    so rank selection cannot straddle an engine difference), CLAMPED
    to n_cal (round-6 advice: for n_cal < 9 the conformal rank is
    n_cal + 1, whose strict convention is an infinite radius /
    coverage 1.0 — the standard finite-sample fallback is radius =
    max calibration score, which the clamp selects; without it the
    inner join silently dropped such a group. A no-op at every
    fixture SF — measured min n_cal is 89 at sf0.001 — but small or
    skewed types stay in the report now); the held-out half then
    audits the >= 90% marginal-coverage guarantee (gate at 0.85
    slack).

    Exactness: cents are exact integers; the calibration median is
    quantile at the DYADIC 0.5 fraction (binary interpolation weights
    — the only fraction class both engines interpolate identically,
    per the funnel_conversion_latency p90 lesson), so every score is
    an exact multiple of 0.5; the k-th value is well-defined under
    score ties (any tie order yields the same k-th VALUE); coverage is
    one correctly-rounded division.

    The 100-TB shape: scores need one broadcast join of the 5-row
    median table back onto the scan (no event shuffle); the rank
    window partitions by event_type (hash-distributed); at larger type
    cardinality the per-type order statistic moves to
    operators/distrank.py unchanged in semantics."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        "substring(md5(CAST(event_id AS STRING)), 1, 1) < '8' AS is_cal",
    )
    med = (
        ev.where("is_cal")
        .groupBy("event_type")
        .agg(F.expr("percentile(cents, 0.5) AS med"))
        # 5 rows; checkpointed so the three passes below (calibration
        # count, rank order statistic, test coverage) don't re-run the
        # median aggregation inside each branch's lineage
        .localCheckpoint(eager=False)
    )
    sc = ev.join(F.broadcast(med), "event_type").selectExpr(
        "event_type", "is_cal", "abs(CAST(cents AS DOUBLE) - med) AS score"
    )
    n = (
        sc.where("is_cal")
        .groupBy("event_type")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_cal"))
    )
    q = (
        sc.where("is_cal")
        .join(F.broadcast(n), "event_type")
        .selectExpr(
            "event_type",
            "n_cal",
            "score",
            "row_number() OVER (PARTITION BY event_type ORDER BY score)"
            " AS rk",
        )
        .where("rk = least((9 * (n_cal + 1) + 9) DIV 10, n_cal)")
        .selectExpr("event_type", "n_cal", "score AS q_radius")
        .localCheckpoint(eager=False)  # 5 rows: one radius per event type
    )
    test = (
        sc.where("NOT is_cal")
        .join(F.broadcast(q.select("event_type", "q_radius")), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_test"),
            F.expr("CAST(sum(CASE WHEN score <= q_radius THEN 1 ELSE 0 END)"
                   " AS BIGINT) AS n_covered"),
        )
    )
    return (
        q.join(test, "event_type")
        .selectExpr(
            "event_type",
            "n_cal",
            "q_radius",
            "n_test",
            "n_covered",
            "round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 4)"
            " AS coverage",
            "CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) >= 0.85"
            " AS coverage_ok",
        )
    )


@query(
    "stats_ab_srm_check",
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 0 ELSE 1 END AS bucket
      FROM customer
    ),
    cnt AS (
      SELECT segment,
             CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM b GROUP BY segment
    )
    SELECT segment, n0, n1,
           CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE)) AS z,
           abs(CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE))) < 3
             AS srm_ok
    FROM cnt
    """,
)
def q_stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of deterministic hash bucketing —
    the experiment-infrastructure gate that runs BEFORE any A/B
    metric is trusted (a biased splitter invalidates every downstream
    z-test): customers hash into two 50/50 buckets via the first md5
    hex nibble (the cross-engine rank-by-hash trick — md5 of the key's
    decimal string is identical in both engines, and nibble < '8' is
    an exact 1/2 split of the hash space), and per-segment bucket
    counts feed the binomial z = (n0 - n1) / sqrt(n) with the |z| < 3
    SRM gate. Pure integers + one sqrt + one division — sqrt is
    IEEE-correctly-rounded in both engines (the stats_ab_ztest
    precedent), so both z and the gate boolean cross engines
    bit-identically with no rounding margin.

    The 100-TB shape: bucketing is map-side (a hash of the key — no
    data motion); the audit is one map-side-combinable rollup to
    |segments| x 2 cells. This is also the assignment mechanism
    corpus_split_assign uses for train/eval splits — the SRM gate is
    what certifies such splits at scale."""
    c = load_table(spark, sf_dir, "customer").selectExpr(
        "c_mktsegment AS segment",
        "CASE WHEN substring(md5(CAST(c_custkey AS STRING)), 1, 1) < '8'"
        " THEN 0 ELSE 1 END AS bucket",
    )
    cnt = c.groupBy("segment").agg(
        F.expr("CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n0"),
        F.expr("CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n1"),
    )
    return cnt.selectExpr(
        "segment",
        "n0",
        "n1",
        "CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE)) AS z",
        "abs(CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE))) < 3"
        " AS srm_ok",
    )


# ---------------------------------------------------------------------------
# Round-7 batch 54: model-calibration reliability bins
# ---------------------------------------------------------------------------


@query(
    "stats_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT ((event_id % 1048576) * 2654435761) % 65536 AS units,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    )
    SELECT (units * 10) // 65536 AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS positives,
           CAST(sum(units) AS DOUBLE) / count(*) / 65536 AS mean_pred,
           CAST(sum(y) AS DOUBLE) / count(*) AS emp_rate,
           abs(CAST(sum(units) AS DOUBLE) / count(*) / 65536
               - CAST(sum(y) AS DOUBLE) / count(*)) AS abs_gap
    FROM scored GROUP BY 1
    """,
)
def q_stats_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration bins) — the eval every scored
    model (quality classifier, reward model, toxicity filter) gets
    before its threshold is trusted: bucket predictions into 10 equal
    probability bins and compare mean predicted score vs empirical
    positive rate per bin (the per-bin |gap| is the ECE integrand).

    The 'model score' is a deterministic Knuth multiplicative hash of
    event_id in 1/65536 units — integer on both engines (operands
    bounded: (2^20-1) * 2654435761 < 2^52, no overflow; % and // on
    non-negative BIGINTs agree across Spark and DuckDB). Label =
    purchase events. mean_pred and emp_rate are single correctly-
    rounded divisions of exact BIGINT sums, then an exact 2^-16 scale —
    bit-identical cross-engine (the stats_ols_trend discipline), so no
    rounding margin is needed even on the abs_gap subtraction.

    The 100-TB shape: one map-side-combinable rollup to 10 cells; the
    scan is the entire cost. Reference: worker.go:31-42 (map-side
    partial aggregation) — same shape, richer payload."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.selectExpr(
            "((event_id % 1048576) * 2654435761) % 65536 AS units",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
        )
        .groupBy(F.expr("(units * 10) DIV 65536").alias("bin"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n"),
            F.expr("CAST(sum(y) AS BIGINT) AS positives"),
            F.expr(
                "CAST(sum(units) AS DOUBLE) / count(*) / 65536 AS mean_pred"
            ),
            F.expr("CAST(sum(y) AS DOUBLE) / count(*) AS emp_rate"),
            F.expr(
                "abs(CAST(sum(units) AS DOUBLE) / count(*) / 65536"
                " - CAST(sum(y) AS DOUBLE) / count(*)) AS abs_gap"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-7 batch 54: stratified treatment-effect estimate (exact per stratum)
# ---------------------------------------------------------------------------


@query(
    "stats_stratified_ate",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS stratum,
             CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS t,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT stratum,
           CAST(sum(t) AS BIGINT) AS n_t,
           CAST(count(*) - sum(t) AS BIGINT) AS n_c,
           CASE WHEN sum(t) > 0 THEN
             CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / sum(t) END AS mean_t,
           CASE WHEN count(*) - sum(t) > 0 THEN
             CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / (count(*) - sum(t)) END AS mean_c,
           CASE WHEN sum(t) > 0 AND count(*) - sum(t) > 0 THEN
             CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS DOUBLE)
               / sum(t)
             - CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS DOUBLE)
               / (count(*) - sum(t)) END AS ate_cents
    FROM o GROUP BY stratum
    """,
)
def q_stats_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average-treatment-effect readout — the causal-
    inference kernel behind every holdback experiment on a data
    pipeline (did the new curation recipe raise downstream value?):
    deterministic md5-bucket treatment assignment (the stats_ab_srm
    convention), order priority as the stratification confounder,
    outcome in exact integer cents.

    Per-stratum means are single correctly-rounded divisions of exact
    BIGINT sums, and the output is ONE ROW PER STRATUM on purpose: a
    global weighted ATE would sum per-stratum doubles in engine
    partition order (non-deterministic) or need a BIGINT cross-
    multiplication that overflows at x16 scale (sum_y * n_c ~ 8.6e19 >
    2^63) — the per-stratum report is both the honest estimand
    decomposition and the hash-stable form; the consumer combines the
    5 rows with whatever weights its estimator wants.

    The 100-TB shape: one map-side-combinable rollup to |strata| cells
    carrying 4 integers each. Assignment hashes the key map-side — no
    data motion before the single exchange."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS stratum",
        "CASE WHEN substring(md5(CAST(o_orderkey AS STRING)), 1, 1) < '8'"
        " THEN 1 ELSE 0 END AS t",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    # CASE NULL-guards on every division: a stratum whose orders all hash
    # to one arm has a zero denominator, and ANSI mode throws
    # DIVIDE_BY_ZERO even on DOUBLE division (the stats_ab_power_mde
    # lesson). Safe-by-construction on the fixtures (strata are large),
    # but a planted/small corpus can degenerate.
    return o.groupBy("stratum").agg(
        F.expr("CAST(sum(t) AS BIGINT) AS n_t"),
        F.expr("CAST(count(*) - sum(t) AS BIGINT) AS n_c"),
        F.expr(
            "CASE WHEN sum(t) > 0 THEN"
            " CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS DOUBLE)"
            " / sum(t) END AS mean_t"
        ),
        F.expr(
            "CASE WHEN count(*) - sum(t) > 0 THEN"
            " CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS DOUBLE)"
            " / (count(*) - sum(t)) END AS mean_c"
        ),
        F.expr(
            "CASE WHEN sum(t) > 0 AND count(*) - sum(t) > 0 THEN"
            " CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS DOUBLE)"
            " / sum(t)"
            " - CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS DOUBLE)"
            " / (count(*) - sum(t)) END AS ate_cents"
        ),
    )

"""Registry contract sanity: the driver-facing surface stays coherent
as queries accumulate."""

from __future__ import annotations

import re

import distgrep_spark.queries as q
import __spark_entry__ as entry


def test_every_oracle_has_a_query():
    assert set(q.ORACLES) <= set(q.QUERIES)


def test_names_are_snake_case():
    assert all(re.fullmatch(r"[a-z0-9_]+", n) for n in q.QUERIES)


def test_entry_module_mirrors_registry():
    assert entry.queries().keys() == q.QUERIES.keys()
    assert entry.oracle_sql().keys() == q.ORACLES.keys()


def test_scoreboard_prefix_is_first_and_complete():
    """The driver scores a ~50-query prefix of queries() in dict order;
    the curated SCOREBOARD_PREFIX must actually BE that prefix, contain
    no unknown names, and carry a full DuckDB oracle on EVERY entry — a
    rows-only query can never turn its scored row green, so it would
    waste the slot (round 2 lost a row to kmeans_clusters this way)."""
    names = list(entry.queries())
    pref = entry.SCOREBOARD_PREFIX
    assert len(pref) == 50
    assert names[: len(pref)] == pref
    rows_only_in_prefix = [n for n in pref if n not in q.ORACLES]
    assert rows_only_in_prefix == []
    # oracle dict must lead with the same ordering (minus rows-only)
    assert list(entry.oracle_sql())[:10] == [n for n in pref if n in q.ORACLES][:10]


def test_oracles_use_engine_neutral_aggregate_types():
    """Pin the result-TYPE convention the round-2 driver failures taught:
    an oracle's aggregate output must be an engine-neutral type, because
    the driver's value hash is type-sensitive even on byte-identical
    values. Spark widens a DECIMAL(25,6) sum to DECIMAL(35,6) where
    DuckDB widens to DECIMAL(38,6), and DuckDB's integer ``sum`` is
    HUGEINT where Spark's is BIGINT — so every hazardous ``sum`` must be
    wrapped in an explicit CAST (``sql_dsum`` / ``AS BIGINT``). This
    regex lint is the fast textual subset; tools/check_oracles.py's
    runtime dtype pass is the complete gate."""
    hazards = {
        # raw decimal sum: engine-dependent result width
        "decimal-sum": re.compile(r"(?<!CAST\()sum\s*\(\s*CAST\s*\([^)]*AS\s+DECIMAL", re.I),
        # bare conditional count: HUGEINT in DuckDB, BIGINT in Spark
        "case-sum": re.compile(r"(?<!CAST\()sum\s*\(\s*CASE\b", re.I),
        # sums of integer-valued length functions: same HUGEINT hazard
        "intfn-sum": re.compile(r"(?<!CAST\()sum\s*\(\s*(?:len|length)\s*\(", re.I),
    }
    bad = [
        (name, kind)
        for name, sql in q.ORACLES.items()
        for kind, rx in hazards.items()
        if rx.search(sql)
    ]
    assert not bad, (
        f"oracles with engine-dependent aggregate result types: {bad}; "
        "wrap the sum in CAST(... AS DOUBLE) (sql_dsum) or CAST(... AS BIGINT)"
    )


def test_rows_only_queries_are_documented_exceptions():
    """Every oracle-less query must be a sketch/iterative/UDF path — the
    kinds the driver contract exempts — listed here EXPLICITLY so adding
    an undocumented rows-only query fails review."""
    expected_rows_only = {
        "agg_approx_distinct",      # HLL estimates are engine-specific
        "dedup_minhash_lsh",        # xxhash64 sketch
        "dedup_simhash",            # xxhash64 sketch
        "sim_ann_lsh",              # engine-side hyperplane buckets
        "sim_ann_ivf",              # engine-side centroid buckets
        "kmeans_clusters",          # iterative, float-order dependent
        "text_fingerprints",        # xxhash64 rolling hash
        "multimodal_byte_features", # Pandas-UDF path, pytest-checked
        "sim_cosine_topk_pandas",   # BLAS scorer differs from HOF in last ulp
    }
    assert set(q.QUERIES) - set(q.ORACLES) == expected_rows_only


def test_every_oracle_is_live_at_sf001():
    """Oracle-liveness lint (round-4 verdict ask): an oracle that
    returns ZERO rows at sf0.01 certifies nothing — the round-3
    ``join_anti`` vacuity (0 rows silently 'passing' for two rounds)
    was caught by hand review. This runs every registered oracle
    DuckDB-side with a LIMIT-1 wrapper (~5 s for all 246; parity with
    the Spark side is check_oracles' job) and pins the explicit
    zero-row allowlist. New intentionally-empty queries must be added
    HERE, with a reason."""
    import duckdb

    from distgrep_spark.sources.catalog import TABLES
    from tests.conftest import SF_ORACLE

    zero_row_allowlist = {
        "grep_zero_matches",  # 0-row parity with the reference IS the test
    }
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    vacuous = [
        name
        for name, sql in q.ORACLES.items()
        if name not in zero_row_allowlist
        and not con.execute(f"SELECT 1 FROM ({sql}) LIMIT 1").fetchall()
    ]
    assert not vacuous, (
        f"vacuous oracles (0 rows at sf0.01): {vacuous}; a 0-row oracle "
        "certifies nothing — fix the predicate or allowlist with a reason"
    )
    dead_allowlist = zero_row_allowlist - set(q.ORACLES)
    assert not dead_allowlist, f"allowlisted names not in registry: {dead_allowlist}"


def test_plan_audit_single_partition_windows_are_allowlisted():
    """The committed PLAN_AUDIT.json must show no Window fed by an
    Exchange SinglePartition outside tools/plan_audit.py's justified
    allowlist (bounded-cardinality window inputs only). Unbounded-entity
    rank/cumsum queries must use operators/distrank.py — the round-4
    'global-window order statistics' scale-killer class, automated."""
    import json
    import os

    from tools.plan_audit import SP_WINDOW_ALLOWLIST

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.json")
    audit = json.load(open(path))
    offenders = sorted(
        name
        for name, stats in audit.items()
        if stats.get("sp_windows", 0) and name not in SP_WINDOW_ALLOWLIST
    )
    assert not offenders, (
        f"single-partition windows outside allowlist: {offenders}; "
        "use operators/distrank.py or justify in SP_WINDOW_ALLOWLIST"
    )
    stale = sorted(set(SP_WINDOW_ALLOWLIST) - set(q.QUERIES))
    assert not stale, f"allowlist entries not in registry: {stale}"


def test_plan_audit_unbounded_bnlj_are_allowlisted():
    """Round-6 verdict 'What's wrong #2', mechanized: the committed
    PLAN_AUDIT.json must show no BroadcastNestedLoopJoin whose build
    side the boundedness walker cannot prove bounded, outside
    tools/plan_audit.py's justified BNLJ_ALLOWLIST (literal probe sets,
    fixed-cardinality rollups, one named strategy demo). The dominant
    safe class — a grouping-key-free scalar aggregate broadcast — is
    auto-proven and needs no entry; the allowlist may not carry stale
    names (entries whose plan no longer has an unproven BNLJ must be
    removed so justifications stay live)."""
    import json
    import os

    from tools.plan_audit import BNLJ_ALLOWLIST

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.json")
    audit = json.load(open(path))
    flagged = {
        name
        for name, stats in audit.items()
        if stats.get("bnlj_unbounded", 0)
    }
    offenders = sorted(flagged - set(BNLJ_ALLOWLIST))
    assert not offenders, (
        f"unproven-build BNLJs outside allowlist: {offenders}; bound the "
        "broadcast side (scalar aggregate / literal limit) or justify in "
        "BNLJ_ALLOWLIST"
    )
    audited = {n for n, s in audit.items() if "error" not in s}
    stale = sorted((set(BNLJ_ALLOWLIST) & audited) - flagged)
    assert not stale, f"allowlisted names no longer flagged - remove: {stale}"
    unknown = sorted(set(BNLJ_ALLOWLIST) - set(q.QUERIES))
    assert not unknown, f"allowlist entries not in registry: {unknown}"


def test_topk_gate_preconditions():
    """agg_approx_topk_merge_gate's exact-by-theorem certification has
    two silent-failure preconditions (round-4 advice): the sentinel row
    must never collide with a real (source, lang) value, and distinct
    langs must stay below the estimate's k=64 — past it the estimate
    truncates and the 'theorem' quietly stops holding. Pin both against
    the fixtures DuckDB-side (cheap; no Spark session)."""
    import duckdb

    from tests.conftest import SF_ORACLE

    sentinel = "__sg_sentinel_7f3a9c1e4b5d6021__"
    con = duckdb.connect()
    n_langs, n_hits = con.execute(
        f"""SELECT count(DISTINCT lang),
                   count(*) FILTER (lang = '{sentinel}' OR source = '{sentinel}')
            FROM '{SF_ORACLE}/documents.parquet'"""
    ).fetchone()
    assert n_hits == 0
    assert n_langs < 64, f"{n_langs} langs reach the estimate's k=64 truncation"


# Queries registered before the per-query SCALE.md convention (round-5
# batches introduced "batch-N addition: <name> sf0.1 ... / x8 ..."
# entries; earlier rounds recorded scaling at the suite level). This set
# is SHRINK-ONLY: names may be removed as they gain SCALE.md entries,
# never added — so every NEW registration must document its measured
# scaling (the round-5 verdict ask #7 convention, enforced).
_SCALE_GRANDFATHERED = {
    "agg_approx_distinct_error",
    "agg_approx_topk_merge_gate", "agg_argminmax_fns",
    "agg_boolean_fns", "agg_corr_covar", "agg_count_distinct",
    "agg_cube", "agg_freq_items_gate", "agg_grouping_sets",
    "agg_histogram_equiwidth", "agg_histogram_quantile_gate",
    "agg_hll_union_gate", "agg_log2_histogram", "agg_mode_per_group",
    "agg_percentiles", "agg_rollup", "agg_rollup_grouping_id",
    "agg_skewness_kurtosis", "agg_string_agg_ordered",
    "agg_variance_exact", "agg_weighted_median", "conditional_case",
    "corpus_token_budget_allocation",
    "corpus_unimax_waterfill", "dedup_bloom_decontaminate",
    "dedup_materialize",
    "dedup_url_canonical",
    "dq_constraint_checks",
    "dq_order_total_reconciliation", "drift_tv_stability",
    "embed_centroids_by_label", "embed_feature_norm_stats",
    "embed_jl_projection_audit", "embed_mahalanobis_screen",
    "embed_matryoshka_prefix_norms", "embed_pq_assign",
    "embed_quantize_int8", "events_autocorr_hourly",
    "events_bot_score_panel", "events_funnel_pattern_regex",
    "events_haar_energy", "events_markov_transition",
    "events_pareto_concentration", "events_peak_concurrency",
    "events_rolling_7d_actives", "events_watermark_lateness_audit",
    "filter_predicates", "from_json_struct", "funnel_view_click",
    "graph_assortativity_degree", "graph_kcore_peel",
    "graph_link_prediction", "graph_modularity_by_brand",
    "grep_by_lang", "grep_filter_only", "grep_highlight", "grep_regex",
    "grep_zero_matches", "join_anti", "join_asof_events",
    "join_asof_forward_events", "join_asof_nearest_events",
    "join_asof_tolerance_events", "join_bloom_prefilter",
    "join_broadcast_dim", "join_lateral_topn", "join_null_safe", "join_outer", "json_extract_events", "json_variant_extract",
    "kmeans_assign_step", "kmeans_clusters", 
    "lateral_explode_outer_urls", "lateral_explode_tokens",
    "latest_event_per_user", "layout_zorder_locality",
    "layout_zorder_sort",
    "multimodal_aspect_buckets", "multimodal_audio_segments",
    "multimodal_metadata", "multimodal_patch_grid",
    "multimodal_resize_dims", "orders_churn_labels",
    "orders_cohort_ltv", "orders_cohort_ltv_curve",
    "orders_interpurchase_gaps",
    "orders_price_volume_decomposition", "orders_rfm_quartiles",
    "orders_seasonal_naive_mae", "orders_survival_empirical",
    "part_abc_xyz_classification",
    "part_skyline_pareto", "pivot_status_totals",
    "profile_column_stats", "profile_key_skew",
    "sample_neyman_allocation", "sample_reservoir_per_key",
    "sample_stratified", "scalar_array_fns", "scalar_bitwise_fns",
    "scalar_date_fns", "scalar_map_fns", "scalar_math_fns",
    "scalar_null_fns", "scalar_regex_fns", "scalar_string_fns",
    "scalar_subquery_correlated", "scalar_try_arithmetic",
    "scalar_url_parse", "scd2_customer_status",
    "set_ops_bag_semantics", "set_union_by_name", "sim_ann_ivfpq",
    "sim_ann_lsh", "sim_ann_lsh_recall", "sim_cosine_topk_pandas",
    "sim_negative_sampling", "snapshot_diff_classify", "sort_global",
    "sql_pipe_syntax_battery", "sql_reshape_clauses_battery",
    "sql_udf_battery", "stats_benford_first_digit",
    "stats_chi2_independence", "stats_cusum_drift",
    "stats_diff_in_diff", "stats_ks_two_sample",
    "stats_permutation_test_md5", "stats_standardized_rate",
    "stream_cusum_alerts", "stream_dim_enrich",
    "stream_grep_counts", "stream_interval_join",
    "stream_interval_join_outer", "stream_running_totals",
    "stream_session_counts", "stream_sliding_counts",
    "stream_tumbling_counts", "supplier_concentration_hhi",
    "text_batch_padding_plan", "text_cdc_chunks",
    "text_chunk_documents", "text_edit_distance", "text_fingerprints",
    "text_lang_confusion", "text_lang_guess",
    "text_normalize", "text_pii_flags",
    "text_quality", "text_rake_keywords",
    "text_repetition_score",
    "text_stats", "text_token_counts", "text_token_entropy",
    "text_unigram_surprisal", "timeseries_monthly_dense",
    "topk_customers", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_predicates", "tpch_q21_waiting_suppliers",
    "tpch_q22_idle_customers", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "udaf_length_quantiles",
    "udf_pandas_scalar", "udtf_analyze_dynamic_pivot",
    "udtf_split_sentences", "udtf_table_arg_sessions",
    "unpivot_lineitem_metrics", "window_cumulative_distinct",
    "window_forward_fill", "window_lag_lead",
    "window_linear_interpolate", "window_max_drawdown",
    "window_range_frame", "window_topk_per_group",
    
}


def test_new_queries_carry_scale_md_entries():
    """Every query registered after the convention started must be
    named in SCALE.md (its x8/x16 or suite-sweep entry); the
    grandfathered set may only shrink. Word-boundary match (round-6
    advice): plain substring containment let a name that prefixes an
    already-documented query pass vacuously, and could mark a
    grandfathered name 'graduated' off an incidental mention."""
    import re

    scale = open(__file__.replace("tests/test_registry.py", "SCALE.md")).read()

    def documented(name):
        return re.search(rf"\b{re.escape(name)}\b", scale) is not None

    undocumented = sorted(
        n for n in q.QUERIES
        if n not in _SCALE_GRANDFATHERED and not documented(n)
    )
    assert not undocumented, (
        f"new queries missing a SCALE.md entry: {undocumented}; measure "
        "sf0.1 + a scaled corpus and record the ratio + model"
    )
    graduated = sorted(n for n in _SCALE_GRANDFATHERED if documented(n))
    assert not graduated, (
        f"grandfathered names now documented - remove from the set: {graduated}"
    )
    stale = sorted(set(_SCALE_GRANDFATHERED) - set(q.QUERIES))
    assert not stale, f"grandfathered names not in registry: {stale}"


def test_plan_shuffle_budgets_cover_registry_and_hold():
    """Plan-shape regression lint (round-7 verdict ask #3): the committed
    PLAN_AUDIT.json must not exceed any query's committed
    PLAN_BUDGETS.json ceiling (shuffles, scans), and every registered
    query must carry a budget — so a new query, or an edit that
    re-inflates a plan (the radius report's 38-shuffle episode, commit
    917edda), goes red until budgets are deliberately regenerated with
    `python tools/plan_audit.py --all --budgets`."""
    import json
    import os

    from tools.plan_audit import over_budget

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "PLAN_BUDGETS.json")) as f:
        budgets = json.load(f)
    with open(os.path.join(root, "PLAN_AUDIT.json")) as f:
        audit = json.load(f)
    missing = sorted(n for n in q.QUERIES if n not in budgets)
    assert not missing, (
        f"registered queries without a plan budget: {missing}; run "
        "`python tools/plan_audit.py --all --budgets`"
    )
    msgs = over_budget(audit, budgets)
    assert not msgs, "plan-shape budgets exceeded: " + "; ".join(msgs)


def test_plan_budget_lint_catches_seeded_regression():
    """The budget checker itself must go red on a +N-shuffle regression
    and on a budget-less query (fail-closed proof the lint would have
    caught the 38-shuffle episode)."""
    from tools.plan_audit import over_budget

    budgets = {"q1": {"shuffles": 12, "scans": 2}}
    ok = {"q1": {"shuffles": 12, "scans": 2}}
    assert over_budget(ok, budgets) == []
    regressed = {"q1": {"shuffles": 38, "scans": 2}}
    assert any("38 > budget 12" in m for m in over_budget(regressed, budgets))
    rescanning = {"q1": {"shuffles": 12, "scans": 9}}
    assert any("scans 9 > budget 2" in m for m in over_budget(rescanning, budgets))
    unknown = {"q_new": {"shuffles": 1, "scans": 1}}
    assert any("no budget entry" in m for m in over_budget(unknown, budgets))
    improved = {"q1": {"shuffles": 10, "scans": 1}}
    assert over_budget(improved, budgets) == []
    errored = {"q1": {"error": "boom"}}
    assert over_budget(errored, budgets) == []


def test_new_queries_carry_ladder_rows():
    """Decade-ladder lint (round-7 verdict ask #5): every query
    registered after the round-8 convention started must carry a
    LADDER.json row (x8..x64 wall times + fitted exponent, produced by
    tools/ladder.py); the grandfathered snapshot may only shrink. A
    flagged row (exponent > 1.3 outside tools/ladder.py's justified
    allowlist) is red until the plan is fixed or the shape is
    allowlisted with a reason."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    grand = set(
        open(os.path.join(root, "tools", "ladder_grandfathered.txt"))
        .read()
        .split()
    )
    # round-10 (verdict ask #6): the shrink-only list reached zero in
    # round 9 — pin it empty so the lint is a strict one-set compare
    # (EVERY registered query carries a ladder row, forever).
    assert grand == set(), (
        f"ladder grandfathered list must stay empty, found: {sorted(grand)}"
    )
    with open(os.path.join(root, "LADDER.json")) as f:
        ladder = json.load(f)
    missing = sorted(n for n in q.QUERIES if n not in ladder)
    assert not missing, (
        f"queries without a ladder row: {missing}; run "
        "`python tools/ladder.py <name>`"
    )
    flagged = sorted(
        n for n, v in ladder.items()
        if v.get("flagged") and n in q.QUERIES
    )
    assert not flagged, (
        f"ladder-flagged superlinear queries: {flagged}; fix the plan or "
        "allowlist the modeled shape in tools/ladder.py"
    )


def test_ladder_persist_refuses_untagged_rungs(tmp_path):
    """Provenance is a lint, not a convention (round-10 verdict ask #3,
    closing the round-9 contended-sweep class): _persist must REFUSE a
    rung with no provenance tag."""
    import json

    import pytest

    from tools.ladder import _persist

    p = str(tmp_path / "LADDER.json")
    ok = {"q_ok": {"t": {"8": 1.0}, "provenance": {"8": "solo"}}}
    _persist(p, ok)
    assert json.load(open(p)) == ok
    with pytest.raises(ValueError, match="lack provenance"):
        _persist(p, {"q_bad": {"t": {"8": 1.0, "16": 2.0},
                               "provenance": {"8": "solo"}}})
    # error rows carry no rungs and stay persistable
    _persist(p, {"q_err": {"error": "boom"}})


def test_ladder_provenance_population_shrinks_only():
    """Every ladder rung carries a tag from the closed vocabulary. The
    1359 pre-provenance rungs were bulk-backfilled 'legacy' (the tag's
    exact meaning: measured before provenance was recorded) late round
    11, so the untagged population is pinned at ZERO — a single
    untagged rung means a writer bypassed tools/ladder._persist's
    provenance lint."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "LADDER.json")) as f:
        ladder = json.load(f)
    untagged = 0
    for name, row in ladder.items():
        prov = row.get("provenance", {})
        bad = {v for v in prov.values()} - {"solo", "sweep", "legacy"}
        assert not bad, f"{name}: unknown provenance values {bad}"
        untagged += sum(1 for m in row.get("t", {}) if m not in prov)
    assert untagged == 0, (
        f"{untagged} untagged ladder rungs (must be 0): a writer "
        "bypassed tools/ladder._persist's provenance lint"
    )


def test_oracle_twin_plans_are_nl_join_free():
    """Twin-side plan lint (round-8 verdict ask #3): EXPLAIN every DuckDB
    oracle and require zero plural-sided CROSS_PRODUCT / BLOCKWISE_NL_JOIN
    nodes outside tools/audit_oracle_plans.NL_ALLOWLIST. The x64 sweep
    found these traps reactively (market_basket_lift's inlined-CTE twin:
    >20 min of cross-product grinding vs 25 s AS MATERIALIZED); this makes
    shipping one impossible. EXPLAIN is plan-only — the full registry
    audits in ~2 s."""
    import os

    from tools.audit_oracle_plans import NL_ALLOWLIST, audit_all

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    flagged = audit_all(sf_dir)
    assert not flagged, (
        "oracle twins with plural-sided NL joins (materialize the CTE or "
        f"allowlist with a justification): {flagged}"
    )
    dead = sorted(set(NL_ALLOWLIST) - set(q.ORACLES))
    assert not dead, f"NL_ALLOWLIST names not in registry: {dead}"
    assert all(len(v) > 20 for v in NL_ALLOWLIST.values()), (
        "NL_ALLOWLIST justifications must say WHY the shape is bounded"
    )


def test_oracle_twin_plan_lint_catches_seeded_cross_product():
    """Fail-closed proof: the audit must flag a plural x plural cross
    product (the market_basket_lift trap shape), must NOT flag the
    idiomatic scalar-total cross join, and must see through both a
    materialized scalar CTE and a width-truncated operator name."""
    from tools.audit_oracle_plans import audit_plan, connect

    con = connect("/root/testdata/sf0.001")
    # single comparisons plan as PIECEWISE_MERGE_JOIN; a two-sided
    # function predicate forces the blockwise NL shape, a bare cross
    # join forces CROSS_PRODUCT
    plan = con.execute(
        "EXPLAIN SELECT a.o_orderkey FROM orders a, orders b "
        "WHERE abs(a.o_custkey - b.o_custkey) < 2"
    ).fetchall()[0][1]
    assert audit_plan(plan) == ["BLOCKWISE_NL_JOIN(PARQUET_SCAN,PARQUET_SCAN)"]
    plan = con.execute(
        "EXPLAIN SELECT count(*) FROM orders a CROSS JOIN orders b"
    ).fetchall()[0][1]
    assert audit_plan(plan) == ["CROSS_PRODUCT(PROJECTION,PROJECTION)"]

    scalar = con.execute(
        "EXPLAIN SELECT o_orderkey FROM orders "
        "CROSS JOIN (SELECT count(*) AS n FROM lineitem) s "
        "WHERE o_orderkey > s.n"
    ).fetchall()[0][1]
    assert audit_plan(scalar) == [], "scalar-total cross join false-flagged"

    cte = con.execute(
        "EXPLAIN WITH tot AS MATERIALIZED (SELECT count(*) AS n FROM lineitem) "
        "SELECT o_orderkey FROM orders, tot WHERE o_orderkey > tot.n"
    ).fetchall()[0][1]
    assert audit_plan(cte) == [], "materialized scalar CTE side false-flagged"


def test_bench_regression_comparator_is_noise_immune():
    """Round-8 verdict ask #7: the normalized-ratio comparator must flag
    a seeded 2x constant-factor regression, stay green on a pure
    host-speed shift (every wall x1.4 moves the anchor identically), and
    ignore sub-floor plan-overhead movers."""
    from tools.bench_regression import anchor_wall, compare, normalize

    base_walls = {"tpch_q1": 0.2, "tpch_q6": 0.1, "tpch_q9": 0.3,
                  "big_query": 2.0, "tiny_query": 0.3}
    baseline = normalize(base_walls)
    assert anchor_wall(base_walls) == 0.2
    assert baseline["big_query"] == 10.0

    # pure host-speed shift: all walls x1.4 - ratios identical, no flags
    slow_host = {n: round(t * 1.4, 4) for n, t in base_walls.items()}
    assert compare(normalize(slow_host), baseline, slow_host) == []

    # real 2x regression in one query - flagged
    regressed = dict(base_walls, big_query=4.0)
    msgs = compare(normalize(regressed), baseline, regressed)
    assert len(msgs) == 1 and "big_query" in msgs[0]

    # sub-floor mover (0.3 -> 0.45 s) - noise, not flagged
    noisy = dict(base_walls, tiny_query=0.45)
    assert compare(normalize(noisy), baseline, noisy) == []

    # unstable median (spread > half the wall) - advisory, not a flag
    wobble = dict(base_walls, big_query=4.0)
    msgs = compare(normalize(wobble), baseline, wobble, {"big_query": 2.5})
    assert len(msgs) == 1 and msgs[0].startswith("UNSTABLE")

    # new query absent from the baseline - not flagged
    grown = dict(base_walls, brand_new=5.0)
    assert compare(normalize(grown), baseline, grown) == []


def test_ladder_advisories_catch_seeded_noise():
    """Round-9 verdict ask #1: the ladder's re-measure advisory must fire
    on a seeded non-monotone rung (a lower-mult wall >2x the next higher
    one, above the 1 s floor — the contention signature of the round-9
    concurrent sweep), fire on a rep spread > wall/2, stay silent on a
    clean monotone ladder, and ignore sub-floor wobble. Also pins the
    _persist contract from the round-9 ADVICE: the caller's merge unit
    is never mutated (mutating it re-published stale snapshots of other
    writers' rows)."""
    import json

    from tools.ladder import _persist, advisories

    clean = [(8, 1.0), (16, 1.9), (32, 3.8), (64, 7.5)]
    assert advisories(clean) == []

    contended = [(8, 1.0), (16, 1.9), (32, 25.0), (64, 2.1)]
    msgs = advisories(contended)
    assert len(msgs) == 1 and "non-monotone" in msgs[0] and "x32" in msgs[0]

    # sub-floor non-monotone pair (0.5 s > 2 * 0.2 s) is plan overhead
    assert advisories([(8, 0.5), (16, 0.2), (32, 0.4), (64, 0.8)]) == []

    # rep spread > wall/2 on a super-floor rung
    msgs = advisories(clean, {"64": 4.0})
    assert len(msgs) == 1 and "unstable" in msgs[0] and "x64" in msgs[0]
    assert advisories(clean, {"64": 1.0}) == []

    # _persist never mutates the caller's merge unit (tmp file)
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "LADDER.json")
        with open(path, "w") as f:
            json.dump({"other_writer_row": {"t": {"8": 1.0}}}, f)
        own = {"my_row": {"t": {"8": 2.0}, "provenance": {"8": "solo"}}}
        snapshot = json.loads(json.dumps(own))
        merged = _persist(path, own)
        assert own == snapshot, "_persist mutated the caller's merge unit"
        assert set(merged) == {"other_writer_row", "my_row"}
        with open(path) as f:
            assert set(json.load(f)) == {"other_writer_row", "my_row"}


def test_warmup_lives_only_in_timing():
    """The session warm-up exists once, in tools/timing.warm. bench.py
    and the tools call it; none pastes its region.parquet scan or its
    per-core mapInPandas (the block had been copied into six files)."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    paths = [os.path.join(root, "bench.py")] + glob.glob(
        os.path.join(root, "tools", "*.py")
    )
    copies = sorted(
        os.path.relpath(p, root)
        for p in paths
        if os.path.basename(p) != "timing.py"
        and any(tok in open(p).read() for tok in ("mapInPandas", "region.parquet"))
    )
    assert copies == [], f"warm-up copied outside tools/timing.py: {copies}"


def test_pair_fragment_lives_only_in_pairs():
    """The in-list i<j pair explode exists once, in
    functions/pairs.list_pairs (it had been pasted into 15 places).
    DuckDB oracles pair with generate_series, so they never match."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    copies = sorted(
        os.path.relpath(p, pkg)
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if os.path.relpath(p, pkg) != os.path.join("functions", "pairs.py")
        and "slice(" in (src := open(p).read())
        and "i + 2" in src
    )
    assert copies == [], f"pair fragment copied outside functions/pairs.py: {copies}"


_POSTING_SPELLINGS = {
    "posting list": re.compile(r"sort_array\((?:F\.)?collect_(?:set|list)\("),
    "filter pairing": re.compile(r"filter\(\s*\w+\s*,\s*y\s*->\s*y\b"),
    "cross expansion": re.compile(r"transform\(\s*\w+\s*,\s*\w+\s*->\s*transform\(\s*\w+\s*,"),
}


def _posting_sites(src: str, spellings: dict = _POSTING_SPELLINGS) -> dict[tuple[str, str], int]:
    """{(top-level def, spelling): count} of ``spellings`` (by default
    hand-built posting lists and pair expansions) in one module's code.
    ``ast.unparse`` merges adjacent string literals, so a fragment split
    over lines is seen whole; docstrings and decorators (the DuckDB
    twins) are dropped first."""
    import ast
    from collections import Counter

    tree = ast.parse(src)
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
                node.body = body[1:] or [ast.Pass()]
        if hasattr(node, "decorator_list"):
            node.decorator_list = []
    sites: Counter = Counter()
    for stmt in tree.body:
        code = ast.unparse(stmt)
        for spelling, rx in spellings.items():
            sites[(getattr(stmt, "name", "<module>"), spelling)] += len(rx.findall(code))
    return {k: n for k, n in sites.items() if n}


def test_posting_lists_live_only_in_pairs():
    """Every posting list is built by functions/pairs.postings (or its
    spark.sql form postings_sql) and paired only by list_pairs /
    cross_pairs (13 lists, 4 cross expansions and 2 filter pairings had
    been written by hand). The allowlist names the three ordered
    multisets (the sorted-fold sum and extras.py's per-order quantity
    lists), where repeats are data."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    allowed = {
        ("functions/numeric.py", "sorted_sum", "posting list"): 1,
        ("queries/extras.py", "q_scalar_array_fns", "posting list"): 1,
        ("queries/extras.py", "q_scalar_map_fns", "posting list"): 1,
    }
    found = {}
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(p, pkg).replace(os.sep, "/")
        if rel != "functions/pairs.py":
            for (site, spelling), n in _posting_sites(open(p).read()).items():
                found[(rel, site, spelling)] = n
    assert found == allowed


def test_posting_lint_catches_seeded_copies():
    seeded = '''
@query("q", oracle="SELECT list_filter(ids, y -> y > 1)")
def q_seeded(df):
    """sort_array(collect_set(x)) in a docstring is prose."""
    a = df.groupBy("k").agg(F.sort_array(F.collect_list("v")).alias("ids"))
    b = a.selectExpr("explode(flatten(transform(ids, x -> transform("
                     "filter(ids, y -> y > x), y -> struct(x, y)))))")
    return b.selectExpr("flatten(transform(ma, p ->"
                        " transform(mb, q -> struct(p, q))))")
'''
    assert _posting_sites(seeded) == {
        ("q_seeded", "posting list"): 1,
        ("q_seeded", "filter pairing"): 1,
        ("q_seeded", "cross expansion"): 1,
    }


_PREFERENCE_SPELLINGS = {
    "MM term": re.compile(r"\*(?:\s|\\n)*1048576(?:\s|\\n)*\+(?:\s|\\n)*0\.5"),
    "greedy loop": re.compile(r"picked\.append\("),
}


def _spark_side(src: str) -> str:
    """``src`` without its oracle SQL: the module-level names that only
    ``@query`` decorators read (a DuckDB twin's text or builder) are
    dropped, and so are the decorators. A constant the Spark body reads
    too stays."""
    import ast

    tree = ast.parse(src)
    oracle = set()
    for node in ast.walk(tree):
        for d in getattr(node, "decorator_list", []):
            oracle |= {n.id for n in ast.walk(d) if isinstance(n, ast.Name)}
        if hasattr(node, "decorator_list"):
            node.decorator_list = []
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}

    def defines(stmt) -> set:
        if isinstance(stmt, ast.Assign):
            return {t.id for t in stmt.targets if isinstance(t, ast.Name)}
        return {getattr(stmt, "name", None)}

    tree.body = [s for s in tree.body if not (defines(s) & oracle) or defines(s) & used]
    return ast.unparse(tree)


def test_preference_kernels_live_only_in_preference():
    """The Bradley-Terry MM step and the MMR greedy are written once, in
    operators/preference.py (mm_step, mmr_pick); the MM step had been
    written twice (integration.py, rlhf.py) and the greedy twice
    (rlhf.py, analytics.py). The DuckDB twins keep their own SQL."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    found = {}
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(p, pkg).replace(os.sep, "/")
        if rel != "operators/preference.py":
            src = _spark_side(open(p).read())
            for (site, spelling), n in _posting_sites(src, _PREFERENCE_SPELLINGS).items():
                found[(rel, site, spelling)] = n
    assert found == {}


def test_preference_lint_catches_seeded_copies():
    seeded = '''
_TWIN = """SELECT CAST(floor(n / (a.r0 + b.r0) * 1048576
             + 0.5) AS BIGINT) AS t FROM dir"""
_SHARED = "floor(n_ij / (_ri + _rj) * 1048576 + 0.5)"


@query("q", oracle=_TWIN)
def q_seeded(spark, rel):
    """floor(n / (r_i + r_j) * 1048576 + 0.5) in a docstring is prose."""
    den = spark.sql(f"""SELECT sum(CAST(floor(n_ij / (r0_i + r0_j) * 1048576
                       + 0.5) AS BIGINT)) FROM dirs""")
    picked = []
    while len(picked) < 5:
        picked.append(min(rel, key=lambda x: (-rel[x], x)))
    return den.selectExpr(_SHARED)
'''
    assert _posting_sites(_spark_side(seeded), _PREFERENCE_SPELLINGS) == {
        ("q_seeded", "MM term"): 1,
        ("q_seeded", "greedy loop"): 1,
        ("<module>", "MM term"): 1,
    }


_ORDER_STAT_SPELLINGS = {
    "fraction sweep": re.compile(r"approx_percentile\(.*?,\s*array\("),
    "offset lookup": re.compile(r"element_at\(.*?,\s*[\w{}]*bk\s*\+\s*1\s*\)"),
    "private step": re.compile(
        r"distrank(?:\s+import\s+[^\n]*?\b|\.)"
        r"(?:_\w+|percentile_boundaries|bucket_expr|exclusive_prefixes)\b"
    ),
    "scalar literal": re.compile(r"\+\s*['\"][DL]['\"]|\}[DL]\b"),
}


def test_order_statistics_live_only_in_distrank():
    """Every global rank, running sum and prefix max goes through
    operators/distrank.rank_buckets: the boundary sweep, the bucket
    offset lookup and the driver-value D/L literal are spelled there
    only (the recipe had been pasted into 12 queries and the range
    join). A scalar approx_percentile quality gate is not a sweep."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    found = {}
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(p, pkg).replace(os.sep, "/")
        if rel != "operators/distrank.py":
            for (site, spelling), n in _posting_sites(open(p).read(), _ORDER_STAT_SPELLINGS).items():
                found[(rel, site, spelling)] = n
    assert found == {}


def test_order_statistics_lint_catches_seeded_copies():
    seeded = '''
@query("q", oracle="SELECT approx_percentile(v, array(0.5D), 100)")
def q_seeded(spark, df):
    """approx_percentile(k, array(0.5D)) in a docstring is prose."""
    from distgrep_spark.operators.distrank import _boundaries, ntile_expr
    gate = df.agg(F.expr("approx_percentile(o_totalprice, 0.5, 10000)"))
    fracs = ", ".join(repr(i / 64) + "D" for i in range(1, 64))
    bs = df.agg(F.expr(f"approx_percentile(k, array({fracs}), 10000)")).first()
    cut = " + ".join(f"CAST(k > {int(b)}L AS INT)" for b in bs[0])
    return df.selectExpr(f"element_at({array_lit(pre, 'bigint')}, {d}_bk + 1)",
                         f"element_at({w}, bucket + 1)")
'''
    assert _posting_sites(seeded, _ORDER_STAT_SPELLINGS) == {
        ("q_seeded", "fraction sweep"): 1,
        ("q_seeded", "offset lookup"): 1,
        ("q_seeded", "private step"): 1,
        ("q_seeded", "scalar literal"): 2,
    }


_LITERAL_SPELLINGS = {
    "json.dumps": re.compile(r"json\.dumps\("),
    "createDataFrame": re.compile(r"createDataFrame\("),
    "one-row range": re.compile(r"range\(\s*0\s*,\s*1\s*,\s*1\s*,\s*1\s*\)"),
}


def _literal_sites(rel: str, src: str) -> dict[str, int]:
    """{spelling: count} of driver-value-to-plan spellings in one package
    module. functions/literals.py is their home; sources/jsonl_sink.py
    may json.dumps the rows it writes to output files."""
    if rel == "functions/literals.py":
        return {}
    allowed = {"json.dumps"} if rel == "sources/jsonl_sink.py" else set()
    sites = {s: len(rx.findall(src)) for s, rx in _LITERAL_SPELLINGS.items() if s not in allowed}
    return {s: n for s, n in sites.items() if n}


def test_driver_literals_live_only_in_literals():
    """Every driver-computed constant enters a plan through
    functions/literals (array_lit, col_lit, local_table); the from_json
    literal and the one-row inline table had been written by hand in 15
    places, two of them as a Python-pickled createDataFrame."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    found = {}
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(p, pkg).replace(os.sep, "/")
        for spelling, n in _literal_sites(rel, open(p).read()).items():
            found[(rel, spelling)] = n
    assert found == {}


def test_literal_lint_catches_seeded_copies():
    seeded = """
def q_seeded(spark, cents, rows):
    c = F.from_json(F.lit(json.dumps(cents)), "array<array<double>>")
    t = spark.range(0, 1, 1, 1).select(F.inline(F.from_json(F.lit(json.dumps(rows)), T)))
    return spark.createDataFrame(rows, "a bigint").crossJoin(t).select(c)
"""
    everything = {"json.dumps": 2, "createDataFrame": 1, "one-row range": 1}
    assert _literal_sites("queries/seeded.py", seeded) == everything
    assert _literal_sites("sources/jsonl_sink.py", seeded) == {
        "createDataFrame": 1,
        "one-row range": 1,
    }
    assert _literal_sites("functions/literals.py", seeded) == {}


def _unset_keywords(defs: dict[str, str], calls: list[str]) -> set[tuple[str, str]]:
    """(function, parameter) for every defaulted parameter of a function
    in the ``defs`` modules ({path: source}) that no call in ``calls``
    (module sources) passes, by keyword or by position. Registered
    ``q_*`` queries are skipped: their signature is the driver contract.
    A call matches on the callee's bare name, so a same-named function
    elsewhere can only make the scan more lenient. ``f(**kw)`` inside a
    function whose own ``**kw`` it is forwards to ``f`` every keyword
    that function's callers pass."""
    import ast
    from collections import defaultdict

    params = []  # (function, parameter, positional index or None)
    for src in defs.values():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                for d in fn.decorator_list
            ):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            self_arg = 1 if pos and pos[0].arg in ("self", "cls") else 0
            first = len(pos) - len(a.defaults)
            params += [(fn.name, p.arg, i - self_arg) for i, p in enumerate(pos) if i >= first]
            params += [
                (fn.name, p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
    keywords: dict = defaultdict(set)
    positional: dict = defaultdict(int)
    forwards = []  # (callee, function whose **kw the call passes on)
    for src in calls:
        tree = ast.parse(src)
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            starred = any(isinstance(a, ast.Starred) for a in call.args)
            positional[name] = max(positional[name], 1 << 30 if starred else len(call.args))
            for k in call.keywords:
                if k.arg is not None:
                    keywords[name].add(k.arg)
                    continue
                fn = parent.get(call)
                while fn is not None and not (
                    isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and fn.args.kwarg is not None
                    and isinstance(k.value, ast.Name)
                    and fn.args.kwarg.arg == k.value.id
                ):
                    fn = parent.get(fn)
                if fn is not None:
                    forwards.append((name, fn.name))
    changed = True
    while changed:
        changed = False
        for callee, via in forwards:
            if not keywords[via] <= keywords[callee]:
                keywords[callee] |= keywords[via]
                changed = True
    return {
        (fn, name)
        for fn, name, i in params
        if name not in keywords[fn] and (i is None or i >= positional[fn])
    }


# Defaulted package parameters that only tests set, each with a test that
# sets it: dropping one would delete checked behaviour.
_TEST_ONLY_KEYWORDS = {
    ("centroids_by", "group_col"): "test_clustering.py::test_centroids_by_label_long_form",
    ("minhash_lsh_pairs", "n"): "test_dedup.py::test_minhash_estimate_invariants",
    ("minhash_lsh_pairs", "num_hashes"): "test_dedup.py::test_minhash_rejects_indivisible_bands",
    ("minhash_lsh_pairs", "bands"): "test_dedup.py::test_minhash_rejects_indivisible_bands",
    ("salted_join", "how"): "test_dedup.py::test_salted_join_rejects_right_preserving",
    ("connected_components", "max_iter"): "test_graph.py::test_convergence_guard_raises",
    ("connected_components_star", "max_iter"): "test_graph.py::test_star_cc_convergence_guard_raises",
    ("connected_components_star", "pre_contract"):
        "test_graph.py::test_star_cc_precontract_matches_plain_on_all_shapes",
    ("count_greater_join", "n_buckets"):
        "test_rangejoin_property.py::test_banded_count_greater_matches_quadratic",
    ("ann_lsh_topk", "dim"): "test_similarity.py::test_ann_deterministic",
    ("ann_lsh_topk", "num_planes"): "test_similarity.py::test_zero_vector_scores_null_and_ranks_last",
    ("ann_lsh_topk", "num_tables"): "test_similarity.py::test_zero_vector_scores_null_and_ranks_last",
    ("countmin_build", "d"): "test_sketches_property.py::test_countmin_never_undercounts_and_builds_agree",
    ("countmin_build", "w"): "test_sketches_property.py::test_countmin_never_undercounts_and_builds_agree",
    ("countmin_probe", "d"): "test_sketches_property.py::test_countmin_unseen_key_estimates_bounded",
    ("countmin_probe", "w"): "test_sketches_property.py::test_countmin_unseen_key_estimates_bounded",
    ("grid_neighbor_pairs", "hot_threshold"): "test_spatial.py::test_salted_equals_unsalted",
    ("grid_neighbor_pairs", "max_splits"): "test_spatial.py::test_split_factor_cap",
    ("read_csv", "sep"): "test_sources.py::test_read_csv_explicit_schema",
    ("sessionize_with_timeout", "watermark"): "test_streaming.py::test_sessionize_with_timeout",
}


def test_operator_keywords_have_a_caller():
    """An operator parameter exists only when a caller outside the tests
    sets it; a default nobody overrides is a literal at its use site (94
    such parameters in 45 functions had piled up). Callers are the
    package, tools/, bench.py, __spark_entry__.py and perfbench/. The
    allowlist must stay exact: each entry is still unset outside the
    tests and still set by one."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..")

    def sources(*patterns):
        paths = sorted({p for pat in patterns for p in glob.glob(os.path.join(root, pat), recursive=True)})
        return {os.path.relpath(p, root): open(p).read() for p in paths}

    pkg = sources("distgrep_spark/**/*.py")
    callers = list(pkg.values()) + list(
        sources("tools/**/*.py", "bench.py", "__spark_entry__.py", "perfbench/**/*.py").values()
    )
    tests = list(sources("tests/**/*.py").values())
    unset = _unset_keywords(pkg, callers)
    assert sorted(unset - set(_TEST_ONLY_KEYWORDS)) == []
    assert sorted(set(_TEST_ONLY_KEYWORDS) - unset) == []
    assert sorted(_unset_keywords(pkg, callers + tests) & set(_TEST_ONLY_KEYWORDS)) == []


def test_keyword_lint_catches_seeded_option():
    seeded = """
@query("q")
def q_seeded(spark, sf_dir, limit=10):
    return op(spark.table("t"), 3)

def op(df, k=2, text_col="text", *, how="inner", id_col="doc_id"):
    return run(df, how="left")

def run(df, **kw):
    return join(df, **kw)

def join(df, how="inner", tie="id"):
    return df
"""
    assert _unset_keywords({"seeded.py": seeded}, [seeded]) == {
        ("op", "text_col"),
        ("op", "how"),
        ("op", "id_col"),
        ("join", "tie"),
    }
    assert _unset_keywords({"seeded.py": seeded}, [seeded, "op(df, how='x', id_col='y')"]) == {
        ("op", "text_col"),
        ("join", "tie"),
    }


def test_tokenizer_lives_only_in_textfns():
    """The token rule is spelled once per engine, in functions/textfns.py
    (tokens / tokens_sql / TOKENS_DUCK); it had been pasted into 15 Spark
    sites and 46 DuckDB twins. No split-on-regex tokenizer survives, and
    no other module spells the rule's regexes."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    banned = ("split(trim(", "F.split(F.trim(", "string_split_regex(")
    rule = (r"(?U)\S+", r"(?U)\\S+", r"\p{Z}")  # Python and SQL spellings
    copies = []
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel, src = os.path.relpath(p, pkg), open(p).read()
        copies += [(rel, b) for b in banned if b in src]
        if rel != os.path.join("functions", "textfns.py"):
            copies += [(rel, r) for r in rule if r in src]
    assert copies == [], f"tokenizer spelled outside functions/textfns.py: {copies}"


def test_copurchase_graph_lives_only_in_graph():
    """The part co-purchase graph is built once, by
    operators/graph.part_baskets / copurchase_edges (it had been pasted
    into 10 queries), and pairs only through list_pairs: no
    hand-written filter(ps, y -> y ...) pairing anywhere."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    sources = {
        os.path.relpath(p, pkg): open(p).read()
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    }
    baskets = sorted(
        rel
        for rel, src in sources.items()
        if rel != os.path.join("operators", "graph.py")
        and 'collect_set("l_partkey")' in src
    )
    assert baskets == [], f"part baskets built outside operators/graph.py: {baskets}"
    pairings = sorted(rel for rel, src in sources.items() if "filter(ps, y -> y" in src)
    assert pairings == [], f"hand-written basket pairing: {pairings}"


def test_vector_kernels_live_only_in_similarity():
    """The int8 grid, the integer squared L2 and the PQ subvector
    explode exist once, in operators/similarity.py (they had been
    pasted 7, 7 and 3 times). The DuckDB oracle copies spell
    `least(127.0,` and `list_zip`, so they never match."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    markers = ("least(127.0D", "(a - b) * (a - b)", "AS m, slice(qv")
    copies = sorted(
        (os.path.relpath(p, pkg), m)
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if os.path.relpath(p, pkg) != os.path.join("operators", "similarity.py")
        for m in markers
        if m in open(p).read()
    )
    assert copies == [], f"vector kernel copied outside operators/similarity.py: {copies}"


def test_throttle_rule_lives_once():
    """The TTL-suppression rule exists once, in streaming/stateful.py:
    _suppress holds the only shift-predecessor anchor and
    _throttle_stream the only 256-bucket key hash (both had been pasted
    into the arrival-order and the watermark-buffered machines)."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    hits: dict[str, list[str]] = {".shift(1)": [], "F.lit(_THROTTLE_BUCKETS)": []}
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        for i, line in enumerate(open(p), 1):
            for marker, where in hits.items():
                if marker in line:
                    where.append(f"{os.path.relpath(p, pkg)}:{i}")
    assert len(hits[".shift(1)"]) == 1, f"shift anchor pasted: {hits['.shift(1)']}"
    assert len(hits["F.lit(_THROTTLE_BUCKETS)"]) == 1, (
        f"bucketed stream pasted: {hits['F.lit(_THROTTLE_BUCKETS)']}"
    )


def test_sorted_sum_lives_only_in_numeric():
    """The order-stable sorted-fold sum is spelled once, in
    functions/numeric.sorted_sum (it had been pasted five times: four SQL
    strings and one Python-lambda Column)."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "distgrep_spark")
    copies = sorted(
        os.path.relpath(p, pkg)
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if os.path.relpath(p, pkg) != os.path.join("functions", "numeric.py")
        and "aggregate(sort_array(collect_list(" in open(p).read()
    )
    assert copies == [], f"sorted-fold sum copied outside functions/numeric.py: {copies}"


def test_bench_normalized_baseline_is_committed_and_covers_registry():
    """The committed baseline must exist and cover the registry (minus
    queries newer than the last rebase - tracked by the note field);
    regenerate with `python bench.py && python tools/bench_regression.py
    --rebase` after a deliberate perf change."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH_NORMALIZED_BASELINE.json"
    )
    assert os.path.exists(path), (
        "BENCH_NORMALIZED_BASELINE.json missing - run bench.py then "
        "tools/bench_regression.py --rebase"
    )
    with open(path) as f:
        base = json.load(f)
    assert base["anchor_wall_s"] > 0
    covered = set(base["ratios"])
    missing = sorted(set(q.QUERIES) - covered)
    # allow a small trailing window of queries added after the rebase
    assert len(missing) <= 10, (
        f"baseline stale - {len(missing)} registered queries missing: "
        f"{missing[:12]}; rebase after the next bench run"
    )

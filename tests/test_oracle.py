"""Oracle harness: run every registered query in Spark AND its DuckDB
oracle SQL on the same parquet, compare row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by their
full tuple, floats rounded)."""

from __future__ import annotations

import math

import duckdb
import pytest

from us_accidents_bigdata_pipeline_spark.plans import REGISTRY

from .conftest import SF_ORACLE

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def _norm_rows(cols, rows):
    """Sort columns by name, then rows by stringified tuple (an
    order-insensitive comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)

# Queries where BroadcastNestedLoopJoin is the CORRECT plan: a 1-row
# scalar-subquery (or k-row query-point) broadcast joined without a
# key. Everything else must be flag-free — the audit rides the oracle
# sweep so every catalog query's plan is linted on every run.
_AUDIT_ALLOW: dict[str, set[str]] = {
    "idle_customer_balance": {"nested_loop"},      # 1-row global avg
    "token_coverage_curve": {"nested_loop"},       # 1-row corpus totals
    # 6-row literal (b,r) grid frame: its rank window and the
    # grid x |buckets|-histogram cross join are both aggregate-sized
    "lsh_banding_planner_docs": {"nested_loop", "single_partition_window"},
    "padding_waste_planner_docs": {"nested_loop"},  # 3-row strategy grid
    "ivf_recall_curve": {"nested_loop"},  # 3 query points broadcast
    "chi2_event_type_bucket": {"nested_loop"},     # 1-row grand total
    "above_nation_avg_balance": {"nested_loop"},   # decorrelated scalar
    "knn_cosine_topk": {"nested_loop"},            # 1 query point
    "knn_cosine_batch": {"nested_loop"},           # k query points
    "knn_label_vote": {"nested_loop"},             # k query points
    "corpus_report": {"nested_loop"},              # scalar-agg assembly
    "global_mean": {"nested_loop"},                # scalar assembly
    "median_exact": {"nested_loop"},               # scalar assembly
    "describe_stats": {"nested_loop"},             # scalar assembly
    "robust_outliers_price": {"nested_loop"},      # 1-row median/MAD
    "token_kl_by_source": {"nested_loop"},         # 1-row corpus total
    "bm25_doc_scores": {"nested_loop"},            # 1-row N/avgdl stats
    "bigram_lm_perplexity": {"nested_loop"},       # 1-row vocab size
    "rolling_7d_distinct_users": {"nested_loop"},  # 1-row date bounds
    "mutual_information_type_daypart": {"nested_loop"},  # 1-row N
    "hard_negative_mining": {"nested_loop"},       # k query points
    "equi_depth_histogram_price": {"nested_loop"}, # 1-row decile bounds
    "psi_price_drift": {"nested_loop"},            # 1-row decile bounds
    "ks_statistic_price_periods": {"nested_loop"}, # 1-row sample sizes
    "shard_uniformity_chi2": {"nested_loop"},      # 1-row expectation
    "int8_vs_float_topk": {"nested_loop"},         # 1 query point
    # int8_vs_float scoring (1 query point) + 5-row depth suffix frame
    "rbo_int8_vs_float": {"nested_loop", "single_partition_window"},
    "pq_ann_verified_topk": {"nested_loop"},       # 1 query point re-rank
    "lsh_ann_candidates": {"nested_loop"},         # 1 query point + 5-row
    # exact-top-5 left join against the 50-row candidate broadcast
    "zorder_keys_events": {"nested_loop"},         # 1-row min/max bounds
    "dow_seasonality_index": {"nested_loop"},      # 1-row overall avg
    "temperature_mixture_sample_docs": {"nested_loop"},  # 1-row Σwt
    "quantile_normalize_events": {"nested_loop"},  # 1-row global N
    # skyline dominance anti-join runs on the |suppliers|-row
    # AGGREGATE (tie-correct exact form); sort-sweep is the scale path
    "pareto_frontier_suppliers": {"nested_loop"},
    "tfidf_top_terms": {"nested_loop"},            # 1-row doc count
    # quadratic audit tier (eager max_rows cap) + 1-row moments
    "hubness_profile_embeddings": {"nested_loop"},
    # k^2 centroid pairs + 1-row extrema/meta frames
    "dunn_index_embeddings": {"nested_loop"},
    # day-pair sign join (theil_sen discipline) + 1-row totals
    "mann_kendall_daily_revenue": {"nested_loop"},
    # two 1-row frames (totals + tail moments) cross-joined
    "degree_powerlaw_fit_copurchase": {"nested_loop"},
    # 1-row corpus totals broadcast onto the |sources|-row frame
    "loo_source_impact_docs": {"nested_loop"},
    # per-column 1-row split-size totals broadcast onto the CDF scan
    "split_ks_report_orders": {"nested_loop"},
    # 1-row doc_id bounds broadcast onto the <=10-row checkpoint frame
    "dedup_growth_curve_docs": {"nested_loop"},
    # 1-row edge-count frame broadcast onto |sources|-row Q terms
    "source_modularity_neardup_docs": {"nested_loop"},
    "part_revenue_concentration": {"nested_loop"}, # 1-row revenue total
    "top_revenue_suppliers": {"nested_loop"},      # 1-row scalar max
    "dsir_importance_weights": {"nested_loop"},    # 1-row vocab totals
    "skew_report_lineitem_suppkey": {"nested_loop"},  # 1-row key totals
    "benford_first_digit": {"nested_loop"},        # 1-row grand total
    "part_affinity_lift": {"nested_loop"},         # 1-row basket count
    "truncated_dim_topk_overlap": {"nested_loop"}, # k query points
    "prefix_ndcg_eval": {"nested_loop"},           # k query points
    "rrf_fused_topk": {"nested_loop"},             # k query points
    # non-equi pairwise-slope join over the calendar-BOUNDED daily
    # aggregate (quadratic in days, never in facts)
    "theil_sen_daily_revenue": {"nested_loop"},
    # 1-row point-estimate assembly over the bootstrapped aggregate
    "bootstrap_ci_daily_revenue": {"nested_loop"},
    # 1-row CUPED moment frame (theta, xbar, vy) broadcast back
    "cuped_order_value_by_segment": {"nested_loop"},
    # 9-row decile-index frame broadcast onto the ranked slices
    "qte_value_click_purchase": {"nested_loop"},
    # B<=20-row bin aggregate: the j<=k range frame and the j<=i<=k
    # membership join are non-equi joins over at most B^2/B^3 slim
    # rows — never the fact table
    "isotonic_calibration_value_purchase": {"nested_loop"},
    # 1-row pe-numerator frame broadcast onto the 1-row totals
    "cohens_kappa_filter_agreement": {"nested_loop"},
    # three 1-row count frames (truth/candidates/hits) broadcast onto
    # the 1-row doc-count frame — the pair sets themselves equi-join
    "blocking_quality_report_docs": {"nested_loop"},
    # 1-row doc_id min/max bounds + 1-row OLS moment frame broadcast
    # onto the <=10-row checkpoint frame
    "heaps_law_fit_docs": {"nested_loop"},
    # 1-row (n, k) meta frame broadcast onto the 1-row B/W sums
    "calinski_harabasz_embeddings": {"nested_loop"},
    # 1-row vector-count meta frame broadcast onto the 1-row DB avg
    "davies_bouldin_embeddings": {"nested_loop"},
    # 1-row token-mass total broadcast onto the |sources|-row frame
    "source_diversity_profile_docs": {"nested_loop"},
    # 1-row row-count total broadcast onto the <=16x24 flow frame
    "reshard_movement_report_docs": {"nested_loop"},
    # 6-row literal temperature grid crossed onto the |sources| frame
    "temperature_sweep_plan_docs": {"nested_loop"},
    # 17-row shard grid broadcast onto the id spine (HRW argmax)
    "consistent_vs_mod_reshard_docs": {"nested_loop"},
    # 1-row normalizer broadcast onto the |classes|-row frame
    "class_balanced_weights_orderstatus": {"nested_loop"},
    # 1-row q-hat order statistic broadcast onto the test slice
    "conformal_interval_daily_revenue": {"nested_loop"},
    # Python UDTFs are row-evaluated by design (BatchEvalPythonUDTF);
    # the query exists to check the LATERAL surface — the JVM
    # explode/slice formulation is the at-scale trigram path
    "udtf_trigrams_docs": {"python_row_udf"},
    # same rationale: the analyze()-hook surface is the point; the JVM
    # unpivot twin is the at-scale path
    "udtf_dynamic_unpivot_orders": {"python_row_udf"},
}

# SinglePartition windows are acceptable ONLY over aggregate-sized
# frames (the window runs AFTER reduction — daily/monthly rollups,
# deciles, per-customer summaries; tens to thousands of rows at any
# SF). Each entry here declares that the windowed frame is an
# aggregate, NOT the fact table; a new query tripping the flag without
# a declaration here must switch to layout.global_running_sum's
# range-exchange formulation.
for _name in (
    "daily_revenue_change",          # per-day revenue (dates)
    "locf_hourly_values",            # hourly spine per key
    "interp_hourly_values",          # 72-row hourly spine
    "rfm_customer_segments",         # per-customer aggregate
    "missing_orderkey_ranges",       # gap rows only
    "abc_part_classification",       # per-part aggregate
    "yoy_monthly_revenue",           # per-month aggregate
    "gini_customer_revenue",         # per-customer aggregate
    "repurchase_interval_profile",   # per-customer gaps
    "time_to_conversion_profile",    # per-user firsts
    "ewma_daily_revenue",            # per-day revenue
    "kaplan_meier_customer_churn",   # per-interval lifetable
    "bigram_lm_perplexity",          # vocab-bounded model rows
    "rolling_median_daily_revenue",  # per-day revenue
    "daily_revenue_autocorrelation", # per-day revenue
    "cusum_changepoint_daily_revenue",  # per-day revenue
    "largest_remainder_allocation",  # per-group shares
    "mixture_epoch_plan",            # per-source apportionment
    "shard_balance_report",          # 16-row shard aggregate
    "geometric_mean_daily_growth",   # per-day revenue
    "bootstrap_ci_daily_revenue",    # 2399-row daily aggregate + 200 means
    "seasonal_naive_backtest_revenue",  # per-day revenue
    "mann_whitney_value_click_purchase",  # distinct-value aggregate
    "energy_distance_click_purchase",  # distinct-value aggregate
    "wasserstein_click_purchase",      # distinct-value aggregate
    "spearman_quantity_price",         # per-distinct-value rank maps
    "cramers_v_priority_status",       # cells-frame sequential fold
    "class_balanced_weights_orderstatus",  # |classes|-row fold
    "cmh_odds_ratio_priority_value",   # |segments|-row 2x2 cells frame
    "conformal_interval_daily_revenue",  # per-day revenue aggregate
    "theil_sen_daily_revenue",       # order stat over bounded day-pairs
    "hour_uniformity_bh_by_type",    # |segments|-row BH family frame
    "msprt_guardrail_click_purchase",  # |days|-row daily aggregate
    "isotonic_calibration_value_purchase",  # B<=20-row bin aggregate
    "lorenz_curve_deciles",          # per-customer deciles
    "psi_price_drift",               # decile bins
    "ks_statistic_price_periods",    # 1-row assembly windows
    "ivf_assignment_drift",          # <=k-row cell-occupancy frame
    "domain_reweight_step_docs",     # |domains|-row weight frame
    "heaps_law_fit_docs",            # <=10-row checkpoint frame
    "dedup_growth_curve_docs",       # <=10-row checkpoint frame
    "neyman_allocation_docs",        # |sources|-row apportionment
):
    _AUDIT_ALLOW.setdefault(_name, set()).add("single_partition_window")


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    from us_accidents_bigdata_pipeline_spark.plans.audit import audit_plan

    spec = REGISTRY[name]
    sdf = spec.builder(spark, SF_ORACLE)
    flags = set(audit_plan(sdf)) - _AUDIT_ALLOW.get(name, set())
    assert not flags, f"{name}: scale-killer plan flags {flags}"
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    res = duck.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row counts differ spark={len(srows)} duckdb={len(drows)}"
    )
    ncols, nsrows = _norm_rows(scols, srows)
    _, ndrows = _norm_rows(dcols, drows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(nsrows, ndrows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}; cols={ncols}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    spec = REGISTRY[name]
    sdf = spec.builder(spark, SF_ORACLE)
    rows = sdf.collect()
    assert rows is not None
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_simhash_near_dups_close(spark):
    """SimHash semantics: the corpus's planted near-duplicates must land
    within small Hamming distance; random pairs far."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(200)
    sh = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    dups = ngram_jaccard_pairs(docs, threshold=0.5).collect()

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    dup_pairs = [(r.doc_a, r.doc_b) for r in dups if r.doc_a in sh and r.doc_b in sh]
    assert dup_pairs, "expected planted near-dups in the first 200 docs"
    dup_dists = [hamming(sh[a], sh[b]) for a, b in dup_pairs]
    ids = sorted(sh)[:20]
    rand_dists = [
        hamming(sh[a], sh[b]) for a in ids for b in ids if a < b
        if (a, b) not in set(dup_pairs)
    ]
    # the corpus's ~40-word shared vocabulary correlates all simhashes
    # (random-pair mean ≈ 18 of 60 bits, not 30), so assert SEPARATION
    # rather than absolute distances: near-dups must sit clearly below
    # random pairs
    mean_dup = sum(dup_dists) / len(dup_dists)
    mean_rand = sum(rand_dists) / len(rand_dists)
    assert max(dup_dists) < 16, dup_dists
    assert mean_rand > mean_dup + 5, (mean_dup, mean_rand)

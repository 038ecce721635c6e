"""Oracle-differential tests: every registered query with an oracle is run
through Spark AND DuckDB and compared with driver semantics, and its
executed plan is audited for anti-patterns.

Runs at sf0.001 for speed in the default suite; set
SPARK_GRAFT_ORACLE_SF=sf0.01 to reproduce the driver's exact gate.
"""

from __future__ import annotations

import os
import re

import pytest

from big_data_imdb_classifier_spark import plans

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_harness import compare

plans.load_all()

ORACLE_NAMES = sorted(plans.ORACLES)

# scale factor -> (testdata dir, DuckDB fixture with that SF's views)
ORACLE_SFS = {"sf0.001": (SF_SMOKE, "duck_smoke"), "sf0.01": (SF_ORACLE, "duck")}

# Queries whose logical semantics ARE a bounded cross product (scalar
# broadcast or an intentional small-dims cartesian): the only places a
# nested-loop/cartesian operator is acceptable.
CROSS_WHITELIST = {
    "cross_join_region_priority",   # intentional 5x5 dims cartesian
    "heavy_hitters_suppkey",        # scalar-threshold broadcast join
    "event_funnel_conversion",      # single-row stage-count crossJoins
    "sketch_rollup_daily_users",    # single-row sketch-union crossJoin
    "decontaminate_ngram_overlap",  # broadcast benchmark-shingle set
    "knn_exact_cosine",             # documented O(QxN) broadcast baseline
    "dq_profile_orders",            # single-row profile crossJoin
    # blocked-GEMM cosine: the block-pair grid (two tiny block-id lists,
    # BNLJ on b1 <= b2) is metadata-scale — B² int pairs, not row data;
    # the row-data path is the Arrow matmul over co-grouped blocks.
    "dedup_embedding_cosine",
    "graph_copurchase_pagerank",    # single-row node-count broadcast per iter
    "histogram_equidepth_price",    # single-row edge-vector broadcast + the
    # ≤18-row rank-probe broadcast range join of the distributed-exact
    # quantile machinery (BroadcastNestedLoop over a constant-size side)
    "quality_unigram_surprisal",    # single-row LM-total + 2-sigma-cut broadcasts
    "dsir_importance_select",       # single-row (n_target, n_raw) totals
    # crossJoin onto the 1024-row bucket table — constant-size both sides
    "user_rfm_segments",            # 1-row corpus-max + tercile-cut broadcasts
    # group_quantiles rank-probe: a |groups|×2·|pcts|-row broadcast range
    # join (BroadcastNestedLoop over a constant-size side) — the price of
    # distributed exact order statistics with no per-group value buffering
    "stats_percentiles_by_flag",
    "stats_mad_outliers",
    "winsorize_extendedprice",
    "event_daily_anomalies",        # single-row median/MAD scalar broadcasts
    "event_weekday_seasonality",    # single-row global-mean scalar broadcast
    "zorder_bucket_profile",        # single-row min/max-bounds scalar broadcast
    "basket_pair_lift",             # single-row user-total scalar broadcast
    "stats_ks_two_sample",          # single-row (n1, n2) sample-size broadcast
    "stats_chi_square_independence",  # marginal-grid crossJoins (R x C <= 15 rows)
    "stats_benford_leading_digit",  # single-row corpus-total scalar broadcast
    "event_cusum_changepoint",      # single-row baseline mu0/sigma0 broadcast
    "text_entropy_kl_by_source",    # single-row grand-total scalar broadcast
    "heavy_hitters_mg_tokens",      # single-row corpus-total scalar broadcast
    "sim_maxsim_multivector",       # documented O(QxN) broadcast baseline, as
    # knn_exact_cosine (5 query rows; scale path = ANN shortlist + re-rank)
    "stats_bootstrap_ci_mean",      # constant-B (50-row) resample-index
    # broadcast + 1-row baseline-mean broadcast — the Poisson-bootstrap fan-out
    "text_length_quantile_normalize",  # single-row global-total (N) broadcast
    # feeding h = pr*(N-1); the rank lookup itself is hash-join + window
    "event_markov_stationary",      # single-row state-count (k) broadcast
    # seeding the uniform pi0; each iteration is a hash join on <=25 rows
    "event_welch_ttest_value",      # 1-row x 1-row arm-stats crossJoin
    "text_bm25_topk",               # single-row (avgdl, n_docs) corpus-stats
    # broadcast; the posting lists themselves travel through hash joins
    "tpch_q22_global_sales_opportunity",  # Q22's scalar AVG subquery as a
    # 1-row broadcast (Spark's own scalar-subquery planning does the same)
    "stats_trend_forecast_by_nation",     # single-row min-month scalar
    # broadcast anchoring the month index
    "knn_matryoshka_dim_recall",    # documented O(QxN) broadcast exact
    # baseline per truncation width (5 query rows), as knn_exact_cosine
    "knn_hard_negative_mining",     # same broadcast exact baseline with a
    # label-mismatch join residual (5 query rows)
    "vocab_coverage_curve",         # 3-row coverage-level probe BNLJ onto
    # the vocab-sized ranked frequency table (constant-size broadcast side)
    # The five partsupp-backed TPC-H queries: the derived partsupp table
    # (plans/queries_tpch_ps.py) seeds its dbgen supplier-association
    # formula with the 1-row supplier-count scalar broadcast; Q11
    # additionally broadcasts its 1-row HAVING-threshold aggregate (the
    # standard scalar-subquery shape, as tpch_q22).
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q16_parts_supplier_relationship",
    "tpch_q20_potential_part_promotion",
}


def audit_plan(name: str, plan: str) -> list[str]:
    """Anti-patterns in a query's physical plan: a row-at-a-time Python
    UDF (Arrow batches are the floor; Python UDTFs are per-row by
    definition and exempt), or a cartesian or nested-loop join in a query
    that is not a bounded cross product."""
    flags = []
    if re.search(r"BatchEvalPython(?!UDTF)", plan):
        flags.append("row-at-a-time Python UDF")
    if (("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan)
            and name not in CROSS_WHITELIST):
        flags.append("cartesian or nested-loop join")
    return flags


@pytest.fixture(scope="module")
def oracle_sf(request):
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.001")
    if sf not in ORACLE_SFS:
        raise ValueError(
            f"SPARK_GRAFT_ORACLE_SF={sf!r}: supported are {sorted(ORACLE_SFS)}"
        )
    sf_dir, duck_fixture = ORACLE_SFS[sf]
    return sf_dir, request.getfixturevalue(duck_fixture)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(name, spark, oracle_sf):
    sf_dir, con = oracle_sf
    df = plans.QUERIES[name](spark, sf_dir)
    compare(df, con, plans.ORACLES[name])
    # compare() ran the frame's own query execution: this is its final plan.
    assert audit_plan(name, df._jdf.queryExecution().executedPlan().toString()) == []


def test_audit_plan_flags_row_python_and_unlisted_nested_loop():
    row_python = "BatchEvalPython [f(x#1)#2], [pythonUDF0#3]"
    nested_loop = "BroadcastNestedLoopJoin BuildRight, Inner, (a#1 < b#2)"
    assert audit_plan("pricing_summary", row_python) == ["row-at-a-time Python UDF"]
    assert audit_plan("pricing_summary", nested_loop) == ["cartesian or nested-loop join"]
    assert audit_plan("cross_join_region_priority", nested_loop) == []
    assert audit_plan("pricing_summary", "BatchEvalPythonUDTF f#1") == []
    assert CROSS_WHITELIST <= set(plans.QUERIES)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"nation", "custkey", "cust_name", "revenue"}

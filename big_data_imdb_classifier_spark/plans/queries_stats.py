"""Statistical aggregate surface: exact percentiles, correlation /
regression aggregates, deterministic mode, arg-min/max, heavy hitters,
fixed-width histograms.

The reference's analytics live in notebook EDA cells
(/root/reference/eda/process_data.ipynb) and scaler fit statistics
(/root/reference/movie_pipeline/classifier_pipeline.py:400-407); this
module re-expresses that profiling surface as first-class distributed
aggregates — every one a single partial+final hash aggregate (or one
window shuffle), nothing driver-side.

Scale notes: all group-bys key on low-cardinality columns (returnflag /
linestatus) so partial aggregation absorbs nearly all rows map-side;
``heavy_hitters_suppkey`` folds the global count in as a broadcast
scalar, not a second pass over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table
from .registry import ROUND_DIGITS, format_doc, query

_R = ROUND_DIGITS


@query(
    "stats_percentiles_by_flag",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), {_R}) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.50), {_R}) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.75), {_R}) AS p75_price,
           round(quantile_cont(l_extendedprice, 0.95), {_R}) AS p95_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolated percentiles per group — computed by the
    DISTRIBUTED order-statistics operator (``operators.stats.
    group_quantiles``), not the builtin ``F.percentile`` aggregate: the
    builtin buffers and sorts every value of a group inside one
    ObjectHashAggregate buffer, so with a 3-value grouping key each
    final-merge reducer holds a THIRD of the fact table — fine at sf0.1,
    an OOM at 100 TB. group_quantiles replaces that with one
    distinct-value-counts shuffle, a per-key two-level prefix sum, and a
    constant-size rank-probe broadcast join; results are bit-identical
    (same interpolation as quantile_cont). For profiling where exactness
    isn't required, ``approx_percentile_price`` shows the
    mergeable-sketch path."""
    from ..operators.stats import group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    names = ["p25_price", "p50_price", "p75_price", "p95_price"]
    q = group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.25, 0.50, 0.75, 0.95]
    )
    return (
        q.select(
            "l_returnflag",
            *[
                F.round(F.col("q")[i], _R).alias(name)
                for i, name in enumerate(names)
            ],
        )
        .orderBy("l_returnflag")
    )


@query(
    "stats_corr_regr",
    oracle=f"""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), {_R}) AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity) / 1000, {_R}) AS covar_k,
           round(regr_slope(l_extendedprice, l_quantity), {_R}) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), {_R}) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), {_R}) AS r2
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation + least-squares regression aggregates (y = price,
    x = quantity) per group — the feature-relationship profile the
    reference's EDA notebook computes by hand. All five are single-pass
    streaming aggregates (co-moment accumulators), one shuffle total;
    covariance is scaled to thousands before rounding so both engines
    round the same magnitude."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr(y, x), _R).alias("corr_price_qty"),
            F.round(F.covar_samp(y, x) / 1000, _R).alias("covar_k"),
            F.round(F.regr_slope(y, x), _R).alias("slope"),
            F.round(F.regr_intercept(y, x), _R).alias("intercept"),
            F.round(F.regr_r2(y, x), _R).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "stats_argminmax_by_flag",
    oracle=f"""
    SELECT l_returnflag,
           arg_min(l_orderkey, l_extendedprice) AS cheapest_orderkey,
           arg_max(l_orderkey, l_extendedprice) AS priciest_orderkey,
           round(min(l_extendedprice), {_R}) AS min_price,
           round(max(l_extendedprice), {_R}) AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_argminmax_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min / arg-max (``min_by`` / ``max_by``): 'which row holds the
    extreme' in ONE aggregate pass — replaces the sort-then-first or
    self-join-on-max patterns that cost an extra shuffle. Extreme prices
    are unique in this data (verified at every SF), so the arg is
    deterministic and oracle-checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min_by("l_orderkey", "l_extendedprice").alias("cheapest_orderkey"),
            F.max_by("l_orderkey", "l_extendedprice").alias("priciest_orderkey"),
            F.round(F.min("l_extendedprice"), _R).alias("min_price"),
            F.round(F.max("l_extendedprice"), _R).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "exact_mode_quantity",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_quantity, cnt AS mode_count FROM (
      SELECT l_returnflag, l_quantity, count(*)::BIGINT AS cnt,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY count(*) DESC, l_quantity ASC
             ) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1 ORDER BY l_returnflag
    """,
)
def exact_mode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact mode: double aggregation (value-count, then
    top-1 by count with a smallest-value tiebreak) instead of the engine
    ``mode()`` whose tie choice is arbitrary — determinism is what makes
    it both oracle-checkable and reproducible across cluster runs. The
    first group-by collapses the data to (group × distinct-value) rows, so
    the window pass is tiny."""
    li = load_table(spark, sf_dir, "lineitem")
    counted = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_quantity"),
            F.col("cnt").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "heavy_hitters_suppkey",
    oracle="""
    SELECT l_suppkey, count(*)::BIGINT AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > (SELECT count(*) FROM lineitem) / 600.0
    ORDER BY n_items DESC, l_suppkey
    """,
)
def heavy_hitters_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: keys exceeding a 1/600 frequency threshold.
    The global total is a one-row aggregate folded in as a BROADCAST
    scalar (crossJoin with a 1-row frame) — no second fact-table pass, no
    driver round-trip, and the per-key counts shuffle only distinct keys.
    At 100 TB this is the exact companion to a count-min sketch: same
    output contract, one extra reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.count("*").alias("_total"))
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_items") > F.col("_total") / 600.0)
        .select("l_suppkey", "n_items")
        .orderBy(F.col("n_items").desc(), "l_suppkey")
    )


@query(
    "histogram_price_bins",
    oracle=f"""
    SELECT (floor(l_extendedprice / 10000) * 10000)::BIGINT AS bin_lo,
           count(*)::BIGINT AS n_items,
           round(sum(l_extendedprice), 2) AS bin_total
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (10k-wide price bins): binning is a pure
    projection so the whole histogram is one map-side-combined aggregate —
    the right 100 TB shape (vs. sort-based bucketing). Bin count is
    data-bounded, so the reduce side is trivially small."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            (F.floor(F.col("l_extendedprice") / 10000) * 10000)
            .cast("long")
            .alias("bin_lo")
        )
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("bin_total"),
        )
        .orderBy("bin_lo")
    )


@query(
    "approx_percentile_price",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.50), {_R}) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), {_R}) AS p95_exact,
           TRUE AS ap50_ok, TRUE AS ap95_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch
    (``percentile_approx``, accuracy 10000 → ~0.01% rank error): the
    100 TB path where the exact per-group sort buffer of
    ``stats_percentiles_by_flag`` would dominate. Sketches merge
    associatively, so partial aggregation stays map-side.

    Sketch values differ engine-to-engine, so the oracle pins the EXACT
    percentiles (hash-matched) plus in-query booleans asserting each
    sketch estimate lands within 1% of its exact value — a sketch
    regression fails the driver gate, same pattern as
    approx_distinct_parts. The sketch pair rides one shuffle (array-form
    percentile_approx: ONE GK sketch per group serves both quantiles);
    the exact reference values come from the distributed order-statistics
    operator, not a builtin sort buffer."""
    from ..operators.stats import group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    # Exact side via the DISTRIBUTED order-statistics operator, not the
    # builtin F.percentile: the builtin buffers and sorts every group
    # value in one ObjectHashAggregate buffer — exactly the 100 TB OOM
    # shape this query exists to show the way around. The exact frame
    # has one row per flag and joins the sketch aggregate as a
    # broadcast.
    ps = F.array(F.lit(0.5), F.lit(0.95))
    exact = group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.95]
    ).select("l_returnflag", F.col("q").alias("_ex"))
    ap = F.percentile_approx("l_extendedprice", ps, F.lit(10000))
    p50, p95 = F.col("_ex")[0], F.col("_ex")[1]
    ap50, ap95 = F.col("_ap")[0], F.col("_ap")[1]
    return (
        li.groupBy("l_returnflag")
        .agg(ap.alias("_ap"))
        .join(F.broadcast(exact), "l_returnflag")
        .select(
            "l_returnflag",
            F.round(p50, _R).alias("p50_exact"),
            F.round(p95, _R).alias("p95_exact"),
            (F.abs(ap50 - p50) / p50 <= 0.01).alias("ap50_ok"),
            (F.abs(ap95 - p95) / p95 <= 0.01).alias("ap95_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sketch_rollup_daily_users",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '{{fmt}}') AS day,
             count(DISTINCT user_id)::BIGINT AS exact_users
      FROM events GROUP BY 1
    )
    SELECT day, exact_users, TRUE AS day_est_ok, TRUE AS merge_ok
    FROM daily
    UNION ALL
    SELECT 'ALL' AS day,
           (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS exact_users,
           TRUE AS day_est_ok, TRUE AS merge_ok
    ORDER BY day
    """.replace("{fmt}", "%Y-%m-%d %H:%M:%S"),
)
def sketch_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern: build
    one DataSketches HLL per day (``hll_sketch_agg``), then answer the
    over-all-days question by UNIONING the daily sketches
    (``hll_union_agg``) instead of rescanning raw events. At scale the
    daily sketch table is bytes per day; any date-range cardinality is a
    sketch-union over it.

    Sketch binaries differ across engines, so the oracle pins the EXACT
    per-day distinct counts (hash-matched) plus two in-query invariants:
    every per-day estimate within 5% of its exact count (``day_est_ok``),
    and the unioned all-days estimate within 5% of the true overall
    count AND bit-identical to the single-shot whole-table sketch
    (``merge_ok`` — the merge-consistency property that makes the
    pre-aggregation valid). A sketch regression flips a boolean and
    fails the driver hash gate."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    per_day = daily.select(
        "day",
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("day_est_ok"),
        F.lit(True).alias("merge_ok"),
    )
    # Whole-table truth: exact count, single-shot sketch, and the union
    # of the daily sketches — all in one pass over the tiny daily frame
    # plus one exact aggregate over events.
    overall = ev.agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_direct"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_merged")
    )
    all_row = overall.crossJoin(merged).select(
        F.lit("ALL").alias("day"),
        "exact_users",
        (
            F.abs(F.col("_merged") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("day_est_ok"),
        (F.col("_merged") == F.col("_direct")).alias("merge_ok"),
    )
    return per_day.unionAll(all_row).orderBy("day")


@query(
    "skew_profile_orders_custkey",
    oracle=f"""
    WITH per_key AS (
      SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
    )
    SELECT count(*)::BIGINT AS n_keys,
      CAST(sum(c) AS BIGINT) AS total_rows,
      max(c)::BIGINT AS max_per_key,
      round(sum(c) * 1.0 / count(*), {_R}) AS mean_per_key,
      round(quantile_cont(c, 0.99), {_R}) AS p99_per_key,
      round(max(c) * count(*) * 1.0 / sum(c), {_R}) AS skew_ratio,
      round(max(c) * 1.0 / sum(c), {_R}) AS hot_key_frac,
      round(ln(sum(c)) - sum(c * ln(c)) / sum(c), {_R}) AS key_entropy
    FROM per_key
    """,
)
def skew_profile_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for a join/agg key: the distribution of
    rows-per-key for orders.o_custkey — max vs mean (skew ratio), the
    hottest key's share of all rows, p99 rows-per-key, and Shannon
    entropy of the key distribution. This is the profile you run BEFORE
    shuffling 100 TB on a key: skew_ratio ≈ 1 and entropy ≈ ln(n_keys)
    mean a balanced exchange; a large skew_ratio says salt this key or
    rely on AQE skew splitting (both implemented — see
    operators/relational.py count_enrich_salted and the AQE plan tests).

    One partial+final hash aggregate builds per-key counts, then a
    single-row global aggregate; the entropy folds in algebraically
    (ln N − Σc·ln c / N) so no per-key probability column or second
    pass over the fact table is needed."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count("*").alias("c"))
    c = F.col("c")
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum(c).alias("total_rows"),
        F.max(c).alias("max_per_key"),
        F.round(F.sum(c) / F.count("*"), _R).alias("mean_per_key"),
        F.round(F.percentile(c, F.lit(0.99)), _R).alias("p99_per_key"),
        F.round(F.max(c) * F.count("*") / F.sum(c), _R).alias("skew_ratio"),
        F.round(F.max(c) / F.sum(c), _R).alias("hot_key_frac"),
        F.round(
            F.log(F.sum(c)) - F.sum(c * F.log(c)) / F.sum(c), _R
        ).alias("key_entropy"),
    )


_ED_BINS = 10


@query(
    "histogram_equidepth_price",
    oracle=f"""
    WITH edges AS (
      SELECT quantile_cont(l_extendedprice,
        [{", ".join(str(i / _ED_BINS) for i in range(1, _ED_BINS))}]) AS e
      FROM lineitem
    )
    SELECT len(list_filter(e, x -> l_extendedprice > x))::BIGINT AS bin,
           count(*)::BIGINT AS n_rows,
           round(min(l_extendedprice), {_R}) AS lo,
           round(max(l_extendedprice), {_R}) AS hi
    FROM lineitem, edges
    GROUP BY 1 ORDER BY 1
    """,
)
def histogram_equidepth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (the optimizer-statistics twin of the
    fixed-width ``histogram_price_bins``): exact interpolated decile
    edges, then every row binned by how many edges it exceeds —
    near-equal bin populations by construction, which is what makes
    equi-depth the right shape for selectivity estimation and
    range-partition planning over skewed columns.

    The edges are computed by DISTRIBUTED exact order statistics — no
    reducer ever buffers the column (the naive ``percentile(col,
    array(...))`` aggregate ships every value to one ObjectHashAggregate
    reducer, the engine's last single-reducer bottleneck before this
    rewrite). Shape: (1) groupBy value → (value, count) — the only
    full-data shuffle, partial aggs absorb duplicates map-side; (2) a
    two-level prefix sum over the distinct values (running counts within
    equal-width value buckets + a per-bucket offset frame, the blocked
    scan event_session_concurrency runs over calendar days) gives every
    distinct value its exact global rank interval [cum−c, cum); (3) the
    ≤18 target ranks (floor/ceil of h=(n−1)p, exploded from the 1-row
    total, never collected) probe that interval with a broadcast join,
    and linear interpolation ``lo + frac·(hi−lo)`` reproduces
    quantile_cont bit-for-bit; (4) the 9-double edge row
    broadcasts to the binning scan — a JVM higher-order filter — and the
    final count groups on ≤10 keys. Every stage is partial-aggregated or
    broadcast; at 100 TB the cost is one value-shuffle of the distinct
    domain, not an all-values sort on one task."""
    from ..operators.stats import group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    # ONE corpus-sized pass (round 9): every output column is a function
    # of the VALUE alone (bin index, min, max) or a row count, so the
    # whole query runs off the distinct (value, count) domain. The
    # domain aggregate is built ONCE here and feeds both branches — the
    # edge pass consumes it pre-aggregated (weight_col +
    # assume_distinct: rank intervals over cumulative weights equal the
    # expanded multiset exactly, so the interpolated edges are
    # bit-identical to the former row-level pass), and the binning
    # re-aggregates the SAME frame with weighted counts instead of
    # rescanning + crossJoin-broadcasting over the fact table a second
    # time (guide §2.2/§6). Both branches share the identical
    # scan→partial-agg→Exchange(_v) subtree, which AQE's runtime stage
    # reuse executes once. NULL prices keep their weight in the domain
    # and land in bin 0 with min/max ignoring them — the identical
    # semantics the row-level shape had.
    vc = li.groupBy(x.alias("_v")).agg(F.count("*").alias("_c"))
    edges = group_quantiles(
        vc,
        [],
        "_v",
        [i / _ED_BINS for i in range(1, _ED_BINS)],
        weight_col="_c",
        assume_distinct=True,
    ).select(F.col("q").alias("e"))
    v = F.col("_v")
    bin_idx = F.size(F.filter(F.col("e"), lambda e: v > e))
    return (
        vc.crossJoin(F.broadcast(edges))
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.sum("_c").alias("n_rows"),
            F.round(F.min(v), _R).alias("lo"),
            F.round(F.max(v), _R).alias("hi"),
        )
        .orderBy("bin")
    )


_MAD_K = 1.4826  # consistency constant: MAD ≈ σ for normal data
_MAD_CUT = 3.0


@query(
    "stats_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l.l_returnflag,
             any_value(med) AS med,
             quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
      FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
      GROUP BY l.l_returnflag
    )
    SELECT l.l_returnflag,
      round(any_value(mad.med), {_R}) AS median_price,
      round(any_value(mad.mad), {_R}) AS mad_price,
      count(*) FILTER (abs(l_extendedprice - mad.med)
                       > {_MAD_CUT} * {_MAD_K} * mad.mad)::BIGINT
        AS n_outliers,
      round(count(*) FILTER (abs(l_extendedprice - mad.med)
                             > {_MAD_CUT} * {_MAD_K} * mad.mad)
            * 1.0 / count(*), {_R}) AS outlier_frac
    FROM lineitem l JOIN mad ON l.l_returnflag = mad.l_returnflag
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection per group: median absolute deviation
    (median of |x − median|, scaled by 1.4826) with a 3-MAD cut — the
    estimator that, unlike mean/stddev z-scores (text_zscore_by_source),
    is not itself dragged by the outliers it hunts (50% breakdown point
    vs 0%). The data-quality screen a curation pipeline runs on numeric
    columns before imputation picks fill values.

    ONE corpus scan: every output is a function of the price VALUE and a
    row count, so the query runs off the distinct ``(flag, price,
    count)`` domain, built once with ``groupBy(...).count()`` (the
    ``histogram_equidepth_price`` shape). The median pass consumes it
    pre-aggregated; the deviation median's inputs are ``(flag, |price −
    med|, count)`` — a projection, no rescan — and the outlier cut is a
    weighted count over the same rows. Both medians run through the
    DISTRIBUTED order-statistics operator — the builtin ``F.percentile``
    aggregate would buffer a third of the fact table per flag on one
    reducer (see stats_percentiles_by_flag). NULL prices keep their
    weight in the domain, so the final denominator counts them exactly
    like the oracle's ``count(*)``."""
    from ..operators.stats import group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    vc = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("_v")
    ).agg(F.count("*").alias("_c"))
    med = group_quantiles(
        vc, ["l_returnflag"], "_v", [0.5], weight_col="_c",
        assume_distinct=True,
    ).select("l_returnflag", F.col("q")[0].alias("med"))
    # Left joins keep flags whose prices are all NULL (no quantile row):
    # the oracle reports them with NULL statistics and zero outliers.
    with_med = vc.join(F.broadcast(med), "l_returnflag", "left")
    dev = F.abs(F.col("_v") - F.col("med"))
    # |price − med| folds values mirrored around the median onto one
    # deviation, so this pass keeps the operator's dedup aggregation.
    mad = group_quantiles(
        with_med.select("l_returnflag", dev.alias("_dev"), "_c"),
        ["l_returnflag"], "_dev", [0.5], weight_col="_c",
    ).select("l_returnflag", F.col("q")[0].alias("mad"))
    n_out = F.sum(
        F.when(dev > _MAD_CUT * _MAD_K * F.col("mad"), F.col("_c"))
        .otherwise(0)
    )
    return (
        # NULL flags are dropped, like the oracle's equi-joins.
        with_med.where(F.col("l_returnflag").isNotNull())
        .join(F.broadcast(mad), "l_returnflag", "left")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("med"), _R).alias("median_price"),
            F.round(F.any_value("mad"), _R).alias("mad_price"),
            n_out.alias("n_outliers"),
            F.round(n_out / F.sum("_c"), _R).alias("outlier_frac"),
        )
        .orderBy("l_returnflag")
    )


_WINS_LO = 0.01
_WINS_HI = 0.99


@query(
    "winsorize_extendedprice",
    oracle=f"""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, {_WINS_LO}) AS lo,
             quantile_cont(l_extendedprice, {_WINS_HI}) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
      round(any_value(cuts.lo), {_R}) AS p01,
      round(any_value(cuts.hi), {_R}) AS p99,
      (count(*) FILTER (l_extendedprice < cuts.lo))::BIGINT AS n_clipped_lo,
      (count(*) FILTER (l_extendedprice > cuts.hi))::BIGINT AS n_clipped_hi,
      round(avg(least(greatest(l_extendedprice, cuts.lo), cuts.hi)), {_R})
        AS mean_winsorized
    FROM lineitem l JOIN cuts ON l.l_returnflag = cuts.l_returnflag
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def winsorize_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE WINSORIZATION per group (clip to [p01, p99]) — the
    standard robust feature-prep transform a training pipeline applies
    to heavy-tailed numerics before scaling (mean/σ scalers are
    otherwise dominated by the tail the clip removes; cf.
    stats_mad_outliers, which DETECTS what this op repairs). Emits the
    audit frame — cut values, clip counts per side, winsorized mean —
    rather than the (row-sized) repaired column, which is the same
    clamp expression applied in a projection.

    Shape: the cuts come from ``operators.stats.group_quantiles``
    (distributed exact order statistics, no per-group value buffering),
    broadcast back as a 3-row frame; the clip+aggregate is one
    partial+final pass over the fact table. Two scans total, zero
    driver round-trips."""
    from ..operators.stats import group_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    x = F.col("l_extendedprice")
    # The clip+aggregate deliberately stays ROW-LEVEL: folding it into
    # the weighted (value, count) domain would turn the oracle's
    # row-order avg() into a sum(v·c) accumulation — a different FP
    # summation order for mean_winsorized, i.e. a hash-equality risk
    # for zero structural gain (the clip pass is already one
    # partial+final aggregate over two pruned columns).
    cuts = group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [_WINS_LO, _WINS_HI]
    ).select(
        "l_returnflag",
        F.col("q")[0].alias("lo"),
        F.col("q")[1].alias("hi"),
    )
    clipped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("lo"), _R).alias("p01"),
            F.round(F.any_value("hi"), _R).alias("p99"),
            F.count(F.when(x < F.col("lo"), 1)).alias("n_clipped_lo"),
            F.count(F.when(x > F.col("hi"), 1)).alias("n_clipped_hi"),
            F.round(F.avg(clipped), _R).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "stats_gini_customer_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY o_custkey
    ),
    r AS (SELECT rev, row_number() OVER (ORDER BY rev) AS i FROM rev)
    SELECT count(*)::BIGINT AS n_customers,
           round(sum(rev), 2) AS total_rev,
           round(2.0 * sum(i * rev) / (count(*) * sum(rev))
                 - (count(*) + 1.0) / count(*), {_R}) AS gini
    FROM r
    """,
)
def stats_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer revenue concentration — the
    inequality summary behind "top-X% of customers drive Y% of revenue"
    dashboards and, in corpus curation, domain/source concentration
    screens. G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted
    per-customer revenue.

    The rank-weighted sum needs every row's GLOBAL rank — the classic
    single-reducer trap (row_number over an unpartitioned window). Here
    ranks come compressed and distributed: group revenues into distinct
    (value, count) pairs, two-level prefix sum (operators.stats.
    distributed_cumsum) gives each value its exact rank interval
    (prev, cum], and the tied block's rank-weight Σ i for i in that
    interval is the closed form (cum(cum+1) − prev(prev+1))/2 — exact
    under ties because tied values share x. One distinct-value shuffle +
    one constant-size broadcast; no global sort, no data-sized window.
    Revenue rounds to cents BEFORE ranking on both engines so FP sum
    order cannot perturb rank boundaries (same intermediate-rounding
    pattern as graph_copurchase_pagerank's _MID_R)."""
    from ..operators.stats import distributed_cumsum

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    vc = rev.groupBy("rev").agg(F.count("*").alias("_c"))
    cum = distributed_cumsum(vc, [], "rev", ["_c"])
    prev = F.col("_c_cum") - F.col("_c")
    # Σ of ranks occupied by this tied value block, in closed form.
    rank_wt = (
        F.col("_c_cum") * (F.col("_c_cum") + 1) - prev * (prev + 1)
    ) / 2.0
    return cum.agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("rev") * F.col("_c")).alias("_sx"),
        F.sum(F.col("rev") * rank_wt).alias("_six"),
    ).select(
        F.col("_n").alias("n_customers"),
        F.round(F.col("_sx"), 2).alias("total_rev"),
        F.round(
            2.0 * F.col("_six") / (F.col("_n") * F.col("_sx"))
            - (F.col("_n") + 1.0) / F.col("_n"),
            _R,
        ).alias("gini"),
    )


_KS_A = "1-URGENT"
_KS_B = "5-LOW"
_KS_C95 = 1.358  # Kolmogorov critical coefficient at alpha = 0.05


@query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH f AS (
      SELECT o_totalprice AS v,
             count(*) FILTER (o_orderpriority = '{_KS_A}') AS c1,
             count(*) FILTER (o_orderpriority = '{_KS_B}') AS c2
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
      GROUP BY 1
    ),
    c AS (
      SELECT sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1c,
             sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2c
      FROM f
    ),
    t AS (
      -- greatest(n, 1) guard, mirrored in the engine: an empty arm
      -- would otherwise divide by zero, where Spark's Infinity and
      -- DuckDB's inf render/hash differently (latent: both arms exist
      -- at every testdata SF)
      SELECT sum(c1) AS n1, sum(c2) AS n2,
             greatest(sum(c1), 1) AS d1, greatest(sum(c2), 1) AS d2
      FROM f
    )
    SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
           round(max(abs(c1c / d1 - c2c / d2)), {_R}) AS ks_d,
           round({_KS_C95} * sqrt((d1 + d2) / (1.0 * d1 * d2)), {_R})
             AS crit_95,
           round(max(abs(c1c / d1 - c2c / d2)), {_R})
             > round({_KS_C95} * sqrt((d1 + d2) / (1.0 * d1 * d2)), {_R})
             AS reject_95
    FROM c, t GROUP BY n1, n2, d1, d2
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV test: D = max |F₁(v) − F₂(v)| over
    the pooled support, comparing order-value distributions between
    urgent and low-priority orders — the standard drift / A-B
    distribution check (train-vs-serve feature drift, corpus snapshot
    shift) that needs the WHOLE distribution, not a moment summary.

    The empirical CDFs are step functions evaluated at every distinct
    value — a global cumulative count, i.e. exactly the two-level
    prefix sum (distributed_cumsum, both samples' counters carried in
    one pass). No sort-to-one-reducer: the shuffle is the distinct
    value domain, the offset frame has one row per value bucket. The
    max-deviation aggregate and the α=0.05 decision (critical value
    1.358·√((n₁+n₂)/(n₁n₂))) are scalar arithmetic on integer-derived
    doubles — bit-identical cross-engine."""
    from ..operators.stats import distributed_cumsum

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_KS_A, _KS_B)
    )
    vc = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.when(F.col("o_orderpriority") == _KS_A, 1)).alias("c1"),
        F.count(F.when(F.col("o_orderpriority") == _KS_B, 1)).alias("c2"),
    )
    cum = distributed_cumsum(vc, [], "v", ["c1", "c2"])
    tot = vc.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.greatest(F.sum("c1"), F.lit(1)).alias("d1"),
        F.greatest(F.sum("c2"), F.lit(1)).alias("d2"),
    )
    # d1/d2 denominators (mirrored in the oracle): an empty arm must
    # not divide by zero — inf/NULL render differently cross-engine.
    d = F.abs(
        F.col("c1_cum") / F.col("d1") - F.col("c2_cum") / F.col("d2")
    )
    crit = F.round(
        _KS_C95
        * F.sqrt((F.col("d1") + F.col("d2")) / (1.0 * F.col("d1") * F.col("d2"))),
        _R,
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2", "d1", "d2")
        .agg(F.round(F.max(d), _R).alias("ks_d"))
        .select(
            "n1",
            "n2",
            "ks_d",
            crit.alias("crit_95"),
            (F.col("ks_d") > crit).alias("reject_95"),
        )
    )


@query(
    "stats_chi_square_independence",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s,
             count(*)::DOUBLE AS n
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT p, sum(n) AS rn FROM obs GROUP BY 1),
    ct AS (SELECT s, sum(n) AS cn FROM obs GROUP BY 1),
    tt AS (SELECT sum(n) AS t, count(*) AS cells FROM obs),
    cells AS (
      SELECT coalesce(obs.n, 0.0) AS n, rt.rn * ct.cn / tt.t AS e
      FROM rt CROSS JOIN ct CROSS JOIN tt
      LEFT JOIN obs ON obs.p = rt.p AND obs.s = ct.s
    )
    SELECT (SELECT t FROM tt)::BIGINT AS n_orders,
           (((SELECT count(*) FROM rt) - 1)
            * ((SELECT count(*) FROM ct) - 1))::BIGINT AS dof,
           round(sum((n - e) * (n - e) / e), {_R}) AS chi2,
           round(sqrt(sum((n - e) * (n - e) / e)
                 / ((SELECT t FROM tt)
                    * least((SELECT count(*) FROM rt) - 1,
                            (SELECT count(*) FROM ct) - 1))), {_R})
             AS cramers_v
    FROM cells
    """,
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON χ² TEST OF INDEPENDENCE between order priority and order
    status (5×3 contingency table), plus Cramér's V effect size — the
    categorical-association screen feature pipelines run before
    one-hot-encoding correlated columns, and data-quality monitors run
    to catch status/priority coupling drift.

    Shape: ONE partial+final aggregate over the fact table builds the
    observed cells; marginals, the zero-cell-completing grid (R×C rows
    via crossJoin of the two marginal frames), expected counts, and the
    χ² sum are all broadcast-side arithmetic on ≤15 rows. Zero cells
    matter: a missing (priority, status) combination still contributes
    (0−e)²/e, so the grid is built from the marginals, not from the
    observed frame."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("s"),
    ).agg(F.count("*").cast("double").alias("n"))
    rt = obs.groupBy("p").agg(F.sum("n").alias("rn"))
    ct = obs.groupBy("s").agg(F.sum("n").alias("cn"))
    tt = obs.agg(
        F.sum("n").alias("t"),
        F.count_distinct("p").alias("nr"),
        F.count_distinct("s").alias("nc"),
    )
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tt))
        .join(F.broadcast(obs), ["p", "s"], "left")
        .select(
            F.coalesce("n", F.lit(0.0)).alias("n"),
            (F.col("rn") * F.col("cn") / F.col("t")).alias("e"),
            "t",
            "nr",
            "nc",
        )
    )
    term = (F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")
    return cells.groupBy("t", "nr", "nc").agg(
        F.sum(term).alias("_chi2")
    ).select(
        F.col("t").cast("long").alias("n_orders"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round("_chi2", _R).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("_chi2")
                / (F.col("t") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            _R,
        ).alias("cramers_v"),
    )


@query(
    "stats_benford_leading_digit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]')
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM counts)
    SELECT g.digit,
           coalesce(counts.n, 0)::BIGINT AS n_orders,
           round(coalesce(counts.n, 0) / (1.0 * tot.t), {_R}) AS p_obs,
           round(log10(1.0 + 1.0 / g.digit), {_R}) AS p_benford,
           round(abs(coalesce(counts.n, 0) / (1.0 * tot.t)
                     - log10(1.0 + 1.0 / g.digit)), {_R}) AS abs_dev
    FROM generate_series(1, 9) AS g(digit)
    LEFT JOIN counts ON counts.digit = g.digit
    CROSS JOIN tot
    ORDER BY g.digit
    """,
)
def stats_benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW screen: leading-digit distribution of order values
    vs the log₁₀(1+1/d) expectation — the classic fabricated-data /
    fraud / synthetic-contamination detector a data-quality gate runs
    over monetary and count columns.

    The leading digit comes from the double's STRING rendering
    (first [1-9] char), not floor(v/10^floor(log10 v)): both engines
    print shortest-roundtrip decimals, so the extracted digit is
    identical by construction, while libm log10 at exact powers of ten
    is allowed to land an ulp under the integer and shear the digit
    cross-engine. One partial+final count by 9 keys; the digit spine is
    a 9-row range joined broadcast-side so absent digits still report
    their Benford deficit."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    counts = o.select(
        F.regexp_extract(F.col("o_totalprice").cast("string"), "[1-9]", 0)
        .cast("long")
        .alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    p_obs = F.coalesce("n", F.lit(0)) / (1.0 * F.col("t"))
    p_ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.round(p_obs, _R).alias("p_obs"),
            F.round(p_ben, _R).alias("p_benford"),
            F.round(F.abs(p_obs - p_ben), _R).alias("abs_dev"),
        )
        .orderBy("digit")
    )


_BOOT_B = 50  # bootstrap resamples
# Poisson(1) inverse-CDF steps (cumulative), capped at 5: the weight a
# row carries in one Poisson-bootstrap resample. Constants are shared
# verbatim with the oracle so both engines draw identical weights from
# identical md5-uniforms.
_POIS_CDF = [0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015]


def _pois_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {i}" for i, c in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


@query(
    "stats_bootstrap_ci_mean",
    oracle=f"""
    WITH draws AS (
      SELECT b.b,
        o.o_totalprice AS v,
        {_pois_case_sql(
            "CAST(('0x' || substr("
            "md5((1 + CAST(floor((b.b - 1) / 4) AS BIGINT))"
            " || ':' || o.o_orderkey), "
            "1 + 8 * ((b.b - 1) % 4), 8)) AS BIGINT) / 4294967296.0"
        )} AS w
      FROM orders o
      CROSS JOIN (SELECT unnest(generate_series(1, {_BOOT_B})) AS b) b
    ),
    means AS (
      SELECT b, sum(w * v) / sum(w) AS m FROM draws GROUP BY b
      HAVING sum(w) > 0
    ),
    base AS (SELECT avg(o_totalprice) AS mean_price FROM orders)
    SELECT round(any_value(base.mean_price), {_R}) AS mean_price,
           count(*)::BIGINT AS n_resamples,
           round(quantile_cont(m, 0.025), {_R}) AS ci_lo,
           round(quantile_cont(m, 0.975), {_R}) AS ci_hi,
           round(quantile_cont(m, 0.025), {_R})
             <= round(any_value(base.mean_price), {_R})
           AND round(any_value(base.mean_price), {_R})
             <= round(quantile_cont(m, 0.975), {_R}) AS ci_covers_mean
    FROM means CROSS JOIN base
    """,
)
def stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the mean order value —
    the distributed-resampling trick (Chamandy et al., 'Estimating
    Uncertainty for Massive Data Streams', Google TR 2012): classical
    bootstrap needs N draws-with-replacement per resample (a global
    operation), but each row's multiplicity in resample b is ≈Poisson(1)
    INDEPENDENTLY, so every row computes its own 50 weights from a hash
    and the resample means fall out of one partial+final aggregate. No
    RNG (md5-derived uniforms, engine-portable and reproducible at any
    parallelism — the sample_by_hash convention), no shuffle of the
    fact table, no global sort; the 50-row resample-mean frame reduces
    to the percentile CI driver-side-free.

    The CI quantiles use the builtin exact percentile ON 50 ROWS (the
    buffering objection to F.percentile is about data-sized groups;
    this group is B-sized by construction). The hash bill is ⌈B/4⌉,
    not B, per row: one md5 yields 128 bits = four independent 32-bit
    uniform lanes, carved by substring (measured 12.0 → 6.8 s at
    sf0.1). Round-5 rewrite of the weight derivation (6.8 → ~1 s):

    - PLAIN COLUMN EXPRESSIONS, no higher-order-function lambdas — the
      old per-element transform/flatten/slice chain ran interpreted
      outside whole-stage codegen and dominated the cost. B is a
      compile-time constant, so the 50 weight columns unroll
      statically: one projection binds the ⌈B/4⌉-digest hex string,
      the next binds the 50 uniforms as ATTRIBUTES (each conv runs
      once — a CASE over an inline conv would re-evaluate it per
      branch), the third folds them to Poisson weights.
    - Stage shape stays posexplode → groupBy(b): 2·B scalar aggregates
      in a single-group HashAggregate was tried and is WORSE — 101
      aggregate buffers trips spark.sql.codegen.maxFields (=100) and
      the whole stage falls back to interpreted mode (measured 22 s).
      The B×N fan-out rows never leave the map side (partial
      aggregation into B groups).
    - CPU REPARTITION: the sf0.1 orders file is one 2.6 MB split, so
      Spark plans ONE task and 31 cores idle under ~10⁷ md5/conv
      calls. Fan the scan out to defaultParallelism first (the
      documents-table convention, operators/text.repartition_for_cpu)
      — compute-bound per-row work scales with cores, not bytes. At
      100 TB the scan is already wide and AQE coalesces nothing here.

    The oracle carves the identical lanes, so the weights stay
    bit-equal."""
    from ..operators.text import repartition_for_cpu
    from .queries_text import _scan_partitions_estimate

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # Scan width from orders-file metadata, not df.rdd (round 9): the
    # RDD round-trip compiled the plan on the driver per construction;
    # the estimate mirrors FilePartition arithmetic exactly (same fix
    # as queries_text._docs, generalized to any table).
    est = _scan_partitions_estimate(spark, sf_dir, "orders")
    if est < spark.sparkContext.defaultParallelism:
        o = repartition_for_cpu(o, "o_orderkey")
    n_hashes = (_BOOT_B + 3) // 4

    # Per row: ⌈B/4⌉ md5 digests concatenated into one flat hex string;
    # lane b (1-based) = hex window (b-1)%4 of digest (b-1)//4, i.e.
    # characters [32·((b-1)//4) + 8·((b-1)%4) + 1, +8).
    #
    # The 50 uniform lanes and the 50 Poisson CASE folds are built as
    # SQL strings parsed by one F.expr each (round 9): the Column-API
    # form issued ~10.8k py4j round-trips (~2 s of construction-time
    # driver socket I/O, cProfile-measured — the `pois` when-chain
    # alone was 1.9 s). The parsed trees are the same operators (the
    # CASE fold is _pois_case_sql, shared VERBATIM with the oracle),
    # so weights stay bit-equal and the plan is unchanged.
    hexes = F.concat(
        *[
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(g)), F.col("o_orderkey").cast("string")
                )
            )
            for g in range(1, n_hashes + 1)
        ]
    )
    u_cols = [
        F.expr(
            f"(CAST(conv(substring(_h, "
            f"{32 * ((b - 1) // 4) + 8 * ((b - 1) % 4) + 1}, 8), 16, 10) "
            f"AS BIGINT) / 4294967296.0D) AS _u{b}"
        )
        for b in range(1, _BOOT_B + 1)
    ]
    ws = F.expr(
        "array("
        + ", ".join(
            _pois_case_sql(f"_u{b}") for b in range(1, _BOOT_B + 1)
        )
        + ")"
    )
    draws = (
        o.select(F.col("o_totalprice").alias("v"), hexes.alias("_h"))
        .select("v", *u_cols)
        .select("v", F.posexplode(ws).alias("b0", "w"))
        .select((F.col("b0") + 1).alias("b"), "v", "w")
    )
    means = (
        draws.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("v")).alias("_sv"),
            F.sum("w").alias("_sw"),
        )
        .where(F.col("_sw") > 0)
        .select((F.col("_sv") / F.col("_sw")).alias("m"))
    )
    base = o.agg(F.avg("o_totalprice").alias("mean_price"))
    ci = means.agg(
        F.count("*").alias("n_resamples"),
        F.round(F.percentile("m", F.lit(0.025)), _R).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), _R).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(base)).select(
        F.round("mean_price", _R).alias("mean_price"),
        "n_resamples",
        "ci_lo",
        "ci_hi",
        (
            (F.col("ci_lo") <= F.round("mean_price", _R))
            & (F.round("mean_price", _R) <= F.col("ci_hi"))
        ).alias("ci_covers_mean"),
    )


_CM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CM_PAIRS = [
    (a, b) for i, a in enumerate(_CM_COLS) for b in _CM_COLS[i + 1:]
]


@query(
    "stats_corr_matrix",
    oracle=f"""
    WITH m AS (
      SELECT
        {", ".join(f"round(corr({a}, {b}), {_R}) AS c_{i}"
                   for i, (a, b) in enumerate(_CM_PAIRS))}
      FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, c_{i} AS corr FROM m"
        for i, (a, b) in enumerate(_CM_PAIRS))}
    ORDER BY col_a, col_b
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise correlation matrix of the lineitem numerics (long
    format) — the feature-profiling primitive before feature selection.
    All {len(_CM_PAIRS)} co-moment accumulators run in ONE corpus pass /
    one global aggregate (never a pass per pair, never a driver loop);
    the unpivot to long format is a constant-size stack over the single
    result row."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(a, b), _R).alias(f"c_{i}")
        for i, (a, b) in enumerate(_CM_PAIRS)
    ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(_CM_PAIRS)
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(_CM_PAIRS)}, {stack}) AS (col_a, col_b, corr)"
            )
        )
        .orderBy("col_a", "col_b")
    )


@query(
    "stats_trend_forecast_by_nation",
    oracle=f"""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             date_trunc('month', o.o_orderdate) AS m,
             sum(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT nation, rev,
             datediff('month', (SELECT min(m) FROM monthly), m)::DOUBLE AS i
      FROM monthly
    )
    SELECT nation,
           count(*)::BIGINT AS n_months,
           round(regr_slope(rev, i), {_R}) AS slope,
           round(regr_intercept(rev, i)
                 + regr_slope(rev, i) * (max(i) + 1), {_R}) AS forecast_next
    FROM idx
    GROUP BY nation
    ORDER BY nation
    """,
)
def stats_trend_forecast_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend + next-month forecast via closed-form
    least squares over the monthly series (y = rev, x = months since the
    corpus's first month) — the grouped-forecast shape that needs no ML
    runtime, just regr_* streaming aggregates.

    Scale shape: the monthly rollup is the only corpus-sized work (one
    agg after two dim joins, nation broadcast); the regression runs over
    ~months×nations rows. The global min-month scalar is a broadcast
    1-row frame, not a per-row subquery."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    min_m = monthly.agg(F.min("m").alias("_m0"))
    idx = monthly.crossJoin(F.broadcast(min_m)).select(
        "nation",
        "rev",
        F.months_between(F.col("m"), F.col("_m0")).cast("double").alias("i"),
    )
    rs, ri = F.regr_slope("rev", "i"), F.regr_intercept("rev", "i")
    return (
        idx.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(rs, _R).alias("slope"),
            F.round(ri + rs * (F.max("i") + 1), _R).alias("forecast_next"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Built-in frequent-items sketch (round 7): Spark 4's ``approx_top_k``
# aggregate — the engine-native complement to the hand-built
# Misra-Gries pass (heavy_hitters_mg_tokens, which proves the
# ALGORITHM); this query pins the BUILT-IN's semantics (item/count
# struct array) under the same hash gate.
# ---------------------------------------------------------------------------

_ATK_K = 10
_ATK_FETCH = 64      # > |vocab| at every driver SF (31): the sketch
# returns EVERY item, so counts are exact and the top-10 cut happens
# OUTSIDE the sketch under a deterministic (count, token) order —
# internal tie order at the sketch's own cut can never flip the hash.
_ATK_TRACKED = 10_000  # capacity >= cardinality => no eviction => exact


@query(
    "sketch_approx_top_k_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token
    )
    SELECT row_number() OVER (ORDER BY cnt DESC, token)::BIGINT AS rank,
           token, cnt
    FROM counts
    ORDER BY cnt DESC, token
    LIMIT {_ATK_K}
    """,
)
def sketch_approx_top_k_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters through the engine-native ``approx_top_k``
    sketch, hash-pinned against the exact token counts.

    Exactness argument (what makes a sketch hash-pinnable): with
    ``maxItemsTracked`` ≥ the token cardinality nothing is ever
    evicted, so every reported count is exact and merge-order
    independent; fetching more items than the cardinality moves the
    top-{_ATK_K} cut out of the sketch into an explicit
    (count DESC, token) sort, so sketch-internal tie ordering cannot
    leak into the result. At 100 TB the same query runs with capacity
    below the cardinality: counts gain the documented Misra-Gries-style
    ≤ n/capacity undercount and the gate becomes the exact-recount
    pattern of heavy_hitters_mg_tokens (broadcast the candidate set,
    recount exactly) — the sketch's job is candidate SELECTION, which
    one aggregation pass does without ever shuffling the full
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    sk = toks.agg(
        F.expr(
            f"approx_top_k(token, {_ATK_FETCH}, {_ATK_TRACKED})"
        ).alias("tk")
    )
    items = sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("token"),
        F.col("e.count").cast("long").alias("cnt"),
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        items.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _ATK_K)
        .select("rank", "token", "cnt")
        .orderBy("rank")
    )


format_doc(sketch_approx_top_k_tokens, _ATK_K=_ATK_K)

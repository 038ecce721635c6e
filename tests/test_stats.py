"""Sketch-accuracy gates: the approximate queries (HLL distinct,
Greenwald-Khanna percentiles) are rows-only at the driver, so their
quality contract lives here — bounded relative error vs the exact
aggregate on the same data."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark import plans
from big_data_imdb_classifier_spark.sources.readers import load_table

from .conftest import SF_SMOKE

plans.load_all()


def test_hll_distinct_within_tolerance(spark):
    """The query carries its own in-query tolerance assertion (approx_ok,
    oracle-pinned TRUE); this test re-checks the exact count and the flag
    independently."""
    (row,) = plans.QUERIES["approx_distinct_parts"](spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = li.agg(F.countDistinct("l_partkey").alias("n")).collect()[0]["n"]
    assert row["exact_parts"] == exact
    assert row["approx_ok"] is True


def test_approx_percentile_within_tolerance(spark):
    """The query now asserts sketch-vs-exact tolerance in-query (ap*_ok
    booleans, oracle-pinned TRUE); re-check the flags and the exact
    values independently here."""
    got = {
        r["l_returnflag"]: r
        for r in plans.QUERIES["approx_percentile_price"](spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for flag, row in got.items():
        e50, e95 = exact[flag]
        assert row["ap50_ok"] is True and row["ap95_ok"] is True, (flag,)
        assert abs(row["p50_exact"] - round(e50, 4)) < 1e-9
        assert abs(row["p95_exact"] - round(e95, 4)) < 1e-9


def test_hll_sketch_survives_parquet_roundtrip(spark, tmp_path):
    """The two-job sketch-rollup pattern: job 1 writes per-day HLL
    sketches to parquet (binary column); job 2 reads them back and
    answers the all-days distinct count by sketch union — byte-identical
    to unioning the in-memory sketches, within 5% of the exact count."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    path = str(tmp_path / "daily_sketches")
    daily.write.parquet(path)
    reread = spark.read.parquet(path)
    est = reread.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    exact = ev.agg(F.count_distinct("user_id").alias("n")).collect()[0]["n"]
    direct = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    assert est == direct                      # parquet round-trip is lossless
    assert abs(est - exact) / exact <= 0.05   # documented HLL accuracy


def test_group_quantiles_matches_builtin_percentile(spark):
    """Distributed exact order statistics == the builtin buffering
    aggregate, bit-for-bit, on adversarial data: duplicates, ties across
    range-partition boundaries, NULLs, single-row groups."""
    import random

    from big_data_imdb_classifier_spark.operators.stats import group_quantiles

    rng = random.Random(7)
    rows = []
    for i in range(5000):
        g = ["a", "b", "c"][i % 3]
        # heavy duplication + a null sprinkle
        v = None if i % 97 == 0 else float(rng.choice([1, 2, 2, 3, 5, 8, 13, 21]))
        rows.append((g, v))
    rows.append(("solo", 42.0))  # single-row group: all quantiles = 42
    df = spark.createDataFrame(rows, "g string, v double")
    pcts = [0.1, 0.25, 0.5, 0.9, 0.99]

    got = {
        r["g"]: r["q"]
        for r in group_quantiles(df, ["g"], "v", pcts).collect()
    }
    want = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(p) for p in pcts])).alias("p"))
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g] == want[g], (g, got[g], want[g])
    assert got["solo"] == [42.0] * len(pcts)

    # global (keys=[]) path
    got_g = group_quantiles(df, [], "v", pcts).collect()[0]["q"]
    want_g = df.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in pcts])).alias("p")
    ).collect()[0]["p"]
    assert got_g == want_g


def test_group_quantiles_persisted_input_matches_builtin(spark):
    """Over a persist()-ed lineitem the per-flag medians still equal
    F.percentile: the scan's blocks are a function of the data, so the
    branches that re-read the cached input agree on every row's block.
    (To 1 ulp, as in the property test below.)"""
    from big_data_imdb_classifier_spark.operators.stats import group_quantiles

    li = load_table(spark, SF_SMOKE, "lineitem").persist()
    try:
        got = {
            r["l_returnflag"]: r["q"][0]
            for r in group_quantiles(
                li, ["l_returnflag"], "l_extendedprice", [0.5]
            ).collect()
        }
        want = {
            r["l_returnflag"]: r["p"]
            for r in li.groupBy("l_returnflag")
            .agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("p"))
            .collect()
        }
    finally:
        li.unpersist()
    assert set(got) == set(want)
    for flag, p in want.items():
        assert got[flag] == pytest.approx(p, rel=1e-12), (flag, got[flag], p)


def test_group_quantiles_rank_side_and_single_tail_aggregation(spark):
    """The rank rows come from exploding a literal array over the per-key
    totals — no local relation (LocalTableScan) broadcast into a
    BroadcastNestedLoopJoin — and one aggregation per key follows the
    rank-probe join (no per-percentile aggregation, then a collect)."""
    from big_data_imdb_classifier_spark.operators.stats import group_quantiles

    df = spark.range(1000).selectExpr("id % 3 AS g", "cast(id % 17 AS double) AS v")
    for keys in (["g"], []):
        q = group_quantiles(df, keys, "v", [0.1, 0.5, 0.9])
        # Aggregates between the root and the topmost join (the probe).
        node, aggs = q._jdf.queryExecution().optimizedPlan(), 0
        while node.nodeName() != "Join":
            aggs += node.nodeName() == "Aggregate"
            assert node.children().size() == 1, node.toString()
            node = node.children().head()
        assert aggs == 1, q._jdf.queryExecution().optimizedPlan().toString()
        rank_side = node.children().apply(1).treeString()
        assert "LocalRelation" not in rank_side, rank_side
        assert "Join" not in rank_side, rank_side
    # Keyed, the probe is an equi-join: no nested loop anywhere. (The
    # global probe has only the range condition, so it is one.)
    physical = (
        group_quantiles(df, ["g"], "v", [0.1, 0.5, 0.9])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" not in physical, physical
    assert "BroadcastNestedLoopJoin" not in physical, physical


def test_group_quantiles_weighted_equals_expanded(spark):
    """The weight_col pre-aggregated entry point must equal quantiles
    over the row-expanded multiset — rank intervals are cumulative
    weights, so a (value, count) domain frame stands in for the fact
    table exactly (the one-scan stats_mad_outliers and
    histogram_equidepth_price plans ride on this)."""
    import random

    from big_data_imdb_classifier_spark.operators.stats import group_quantiles

    rng = random.Random(11)
    agg_rows, expanded = [], []
    for g in ["a", "b"]:
        for v in sorted({round(rng.uniform(-5, 5), 2) for _ in range(40)}):
            c = rng.randint(1, 7)
            agg_rows.append((g, v, c))
            expanded.extend((g, v) for _ in range(c))
    wdf = spark.createDataFrame(agg_rows, "g string, v double, n long")
    xdf = spark.createDataFrame(expanded, "g string, v double")
    pcts = [0.05, 0.5, 0.75, 0.95]
    got = {
        r["g"]: r["q"]
        for r in group_quantiles(wdf, ["g"], "v", pcts, weight_col="n").collect()
    }
    want = {
        r["g"]: r["q"]
        for r in group_quantiles(xdf, ["g"], "v", pcts).collect()
    }
    assert got == want

    # assume_distinct=True over a groupBy(...).count() domain that keeps
    # NULL values as their own weighted rows: the NULLs are filtered,
    # never ranked, so the result still equals the expanded multiset.
    null_rows = [("a", None)] * 5 + [("b", None)] * 2
    ndf = spark.createDataFrame(expanded + null_rows, "g string, v double")
    domain = ndf.groupBy("g", "v").agg(F.count("*").alias("n"))
    assert domain.where(F.col("v").isNull()).count() == 2
    got_d = {
        r["g"]: r["q"]
        for r in group_quantiles(
            domain, ["g"], "v", pcts, weight_col="n", assume_distinct=True
        ).collect()
    }
    assert got_d == want


def test_mad_outliers_counts_null_prices(spark, tmp_path):
    """stats_mad_outliers' outlier_frac denominator is the oracle's
    count(*), so NULL-price rows count in it. The fixture also has a
    flag whose prices are all NULL (reported with NULL statistics), a
    NULL flag (dropped by the oracle's joins) and prices mirrored
    around the median (equal deviations from different values)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle_harness import compare

    rows = [("A", float(p)) for p in range(100, 121)]
    rows += [("A", 10000.0)] + [("A", None)] * 5
    rows += [("N", float(p % 7)) for p in range(30)] + [("N", None)]
    rows += [("X", None)] * 3 + [(None, 5.0)]
    flags, prices = zip(*rows)
    path = tmp_path / "lineitem.parquet"
    pq.write_table(
        pa.table({
            "l_returnflag": pa.array(flags, pa.string()),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }),
        path,
    )
    df = plans.QUERIES["stats_mad_outliers"](spark, str(tmp_path))
    got = {r["l_returnflag"]: r for r in df.collect()}
    assert set(got) == {"A", "N", "X"}
    assert got["A"]["n_outliers"] == 1
    assert got["A"]["outlier_frac"] == round(1 / 27, 4)  # 22 prices + 5 NULLs
    assert got["X"]["median_price"] is None and got["X"]["n_outliers"] == 0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    compare(df, con, plans.ORACLES["stats_mad_outliers"])
    con.close()


def test_group_quantiles_property_vs_builtin(spark):
    """Hypothesis differential: random grouped value multisets (heavy
    duplication, negatives, tiny groups) — group_quantiles must equal
    the builtin buffering aggregate. Equality is to 1 ulp: the operator
    interpolates as ``lo + frac·(hi−lo)`` (DuckDB quantile_cont's form —
    the oracle the driver hashes against), while Spark's builtin uses
    ``(1−frac)·lo + frac·hi``; the two differ by at most one rounding
    step, far under the engine's 1e-4 result rounding."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data_imdb_classifier_spark.operators.stats import group_quantiles

    rows_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # group
            st.integers(min_value=-5, max_value=5),         # value (dup-heavy)
        ),
        min_size=1,
        max_size=30,
    )
    pcts_strategy = st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.77, 0.9, 1.0]),
        min_size=1, max_size=4, unique=True,
    )

    @given(rows=rows_strategy, pcts=pcts_strategy)
    @settings(max_examples=12, deadline=None)
    def check(rows, pcts):
        df = spark.createDataFrame(
            [(f"g{g}", float(v)) for g, v in rows], "g string, v double"
        )
        got = {
            r["g"]: r["q"]
            for r in group_quantiles(df, ["g"], "v", pcts).collect()
        }
        want = {
            r["g"]: r["p"]
            for r in df.groupBy("g")
            .agg(
                F.percentile(
                    "v", F.array(*[F.lit(p) for p in pcts])
                ).alias("p")
            )
            .collect()
        }
        assert set(got) == set(want)
        for g in want:
            for a, b in zip(got[g], want[g]):
                assert a == pytest.approx(b, rel=1e-12, abs=1e-12), (
                    g, got[g], want[g]
                )

    check()


def test_autocorrelation_is_bounded_and_pairs_shrink(spark):
    """ACF sanity at the smoke SF: every coefficient is a valid Pearson
    value in [-1, 1], lags are exactly 1..7, and the aligned-pair count
    is non-increasing in the lag (each extra day of shift can only
    drop pairs off the end of the calendar)."""
    from big_data_imdb_classifier_spark.plans import queries_events as QE

    rows = QE.event_ts_autocorrelation(spark, SF_SMOKE).collect()
    assert [r["lag"] for r in rows] == list(range(1, 8))
    assert all(-1.0 <= r["acf"] <= 1.0 for r in rows if r["acf"] is not None)
    pairs = [r["n_pairs"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)


def _scan_variants(spark, df):
    """(label, frame) pairs under which a prefix-scan primitive must give
    one answer: the lazy frame, the frame persisted, and the lazy frame
    under 1 and 7 shuffle partitions. The caller builds and collects its
    result inside each step, so the conf holds while it runs."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    yield "lazy", df
    cached = df.persist()
    yield "persisted", cached
    cached.unpersist()
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            yield f"{n} shuffle partitions", df
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _spark_asc(x):
    """Python sort key for Spark's ascending order of a double:
    NULL first, NaN last."""
    if x is None:
        return (0, 0.0)
    if math.isnan(x):
        return (2, 0.0)
    return (1, x)


def test_distributed_cumsum_matches_window(spark):
    """distributed_cumsum == a plain single-partition window cumsum, on
    signed multi-measure data (the bucket totals must come from the
    raw measure, not the running max) — global and keyed forms. Each
    input also runs persisted and under 1 and 7 shuffle partitions;
    the double-ordered input carries NULL, NaN and ±Infinity order
    values, and one key whose finite order values are constant (zero
    bucket width)."""
    from pyspark.sql.window import Window

    from big_data_imdb_classifier_spark.operators.stats import (
        distributed_cumsum,
    )

    inf = float("inf")
    rows = [
        (k, i, (i * 7 + ord(k)) % 13 - 6, float((i * 3 - ord(k)) % 11 - 5))
        for k in ("a", "b")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k STRING, o INT, m1 INT, m2 DOUBLE")
    special = [None, float("nan"), inf, -inf]
    drows = [
        (k, o, (i * 5) % 9 - 4, float(i % 7 - 3))
        for k, os_ in (
            ("a", [i * 0.5 - 20.0 for i in range(120)] + special),
            ("c", [7.0] + special),
            ("d", [3.25]),
        )
        for i, o in enumerate(os_)
    ]
    ddf = spark.createDataFrame(drows, "k STRING, o DOUBLE, m1 INT, m2 DOUBLE")
    w = Window.partitionBy("k").orderBy("o").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def key(r):  # NaN != NaN: compare order values through their sort key
        return (r["k"], _spark_asc(r["o"]))

    for frame in (df, ddf):
        want = {
            key(r): (r["c1"], r["c2"])
            for r in frame.select(
                "k",
                "o",
                F.sum("m1").over(w).alias("c1"),
                F.sum("m2").over(w).alias("c2"),
            ).collect()
        }
        for label, x in _scan_variants(spark, frame):
            got = {
                key(r): (r["m1_cum"], r["m2_cum"])
                for r in distributed_cumsum(x, ["k"], "o", ["m1", "m2"]).collect()
            }
            assert got == want, label

    # Global form (keys=[]): no key column added or kept.
    gdf = df.where(F.col("k") == "a").select("o", "m1")
    acc, want_g = 0, {}
    for i in range(200):
        acc += (i * 7 + ord("a")) % 13 - 6
        want_g[i] = acc
    for label, x in _scan_variants(spark, gdf):
        gout = distributed_cumsum(x, [], "o", ["m1"])
        assert set(gout.columns) == {"o", "m1", "m1_cum"}
        assert {r["o"]: r["m1_cum"] for r in gout.collect()} == want_g, label

    with pytest.raises(ValueError, match=r"'k'.*string"):
        distributed_cumsum(df, [], "k", ["m1"])


def test_distributed_cumsum_one_domain_exchange(spark):
    """The prefix scans shuffle their rows once: one hash exchange on
    (keys, bucket) under the running window; every other exchange in
    the plan carries partial aggregates (bounds, bucket totals) or
    the small offset frame. No range partitioning anywhere."""
    import re

    from big_data_imdb_classifier_spark.operators.stats import (
        distributed_cumsum,
        rank_value_lookup,
    )

    df = spark.range(1000).selectExpr(
        "id % 3 AS k", "id AS o", "id % 5 AS m"
    )
    markers = spark.range(50).selectExpr("id * 7 AS pos", "cast(id AS double) AS v")
    probes = spark.range(300).selectExpr("id AS pid", "id AS pos")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for out in (
            distributed_cumsum(df, ["k"], "o", ["m"]),
            distributed_cumsum(df, [], "o", ["m"]),
            rank_value_lookup(markers, probes),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            domain = [
                line
                for line, child in zip(lines, lines[1:])
                if re.search(r"\bExchange ", line)
                and "HashAggregate" not in child
                and "SinglePartition" not in line
            ]
            assert len(domain) == 1, plan
            assert "_b#" in domain[0], plan
            assert "rangepartitioning" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")


def test_rank_value_lookup_matches_linear_scan(spark):
    """rank_value_lookup == 'largest marker pos <= probe pos' by brute
    force, including probes before any in-bucket marker (offset-frame
    carry), equal-position ties (marker wins), and sparse markers. Each
    input also runs persisted and under 1 and 7 shuffle partitions; the
    double-positioned input carries NULL, NaN and ±Infinity positions in
    Spark's sort order, and the constant one has every position equal
    (zero bucket width)."""
    from big_data_imdb_classifier_spark.operators.stats import (
        rank_value_lookup,
    )

    inf, nan = float("inf"), float("nan")
    cases = [
        (
            "pos LONG",
            [(p, float(p * 10)) for p in [0, 3, 4, 9, 17, 40, 41, 99]],
            [(i, (i * 13) % 120) for i in range(80)],
        ),
        (
            "pos DOUBLE",
            [(p, float(i)) for i, p in enumerate([-inf, 0.0, 3.5, 9.0, 40.0, inf])],
            [(i, (i * 13) % 120 / 2.0 - 10.0) for i in range(60)]
            + [(60, None), (61, nan), (62, inf), (63, -inf)],
        ),
        ("pos LONG", [(7, 1.0)], [(i, 7) for i in range(20)]),
    ]
    for ptype, marker_rows, probe_rows in cases:
        markers = spark.createDataFrame(marker_rows, f"{ptype}, v DOUBLE")
        probes = spark.createDataFrame(probe_rows, f"pid LONG, {ptype}")
        want = {}
        for pid, pos in probe_rows:
            best = [
                mv
                for mp, mv in sorted(marker_rows, key=lambda m: _spark_asc(m[0]))
                if _spark_asc(mp) <= _spark_asc(pos)
            ]
            want[pid] = best[-1] if best else None
        for label, x in _scan_variants(spark, probes):
            got = {
                r["pid"]: r["v_at"]
                for r in rank_value_lookup(markers, x).collect()
            }
            assert got == want, (ptype, label)

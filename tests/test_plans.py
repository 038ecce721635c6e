"""Physical-plan shape assertions: the scale claims made in docstrings
(pushdown, pruning, broadcast, single-shuffle windows, exchange reuse,
top-n pushdown) checked against ``explain``, so a plan regression fails
CI instead of silently doubling shuffles at 100×."""

from __future__ import annotations

import re

import pytest

from big_data_imdb_classifier_spark import plans
from big_data_imdb_classifier_spark.sources.readers import load_table

from .conftest import SF_SMOKE

plans.load_all()


def _explain(spark, df) -> str:
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _plan(spark, name: str) -> str:
    df = plans.QUERIES[name](spark, SF_SMOKE)
    return _explain(spark, df)


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "filter_project_cast")
    assert "PushedFilters: [" in plan
    # the pushed filter list must be non-empty
    m = re.search(r"PushedFilters: \[(.+?)\]", plan)
    assert m and m.group(1).strip(), plan


def test_column_pruning_reaches_scan(spark):
    df = plans.QUERIES["text_features"](spark, SF_SMOKE)
    plan = _explain(spark, df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the two needed columns are read from the 5-column table
    assert read_cols == {"doc_id", "text"}, read_cols


def test_flagship_broadcasts_dimension(spark):
    plan = _plan(spark, "flagship_top_customer_per_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sort_limit_compiles_to_top_n(spark):
    plan = _plan(spark, "sort_limit_topn")
    assert "TakeOrderedAndProject" in plan


def test_count_enrich_is_single_shuffle(spark):
    plan = _plan(spark, "count_enrich_window")
    # one hash Exchange for the window partitioning (the final orderBy is
    # a range Exchange) and no agg+join-back pair.
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, plan


def test_lsh_self_joins_reuse_exchange(spark):
    """The self-join branches must share one shuffle at runtime (AQE
    stage reuse → ReusedExchange in the final adaptive plan), so the
    shingle/signature pipeline is computed once, not once per branch."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh_pairs"):
        df = plans.QUERIES[name](spark, SF_SMOKE)
        df.collect()  # finalize the adaptive plan
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed, name


def test_semi_and_anti_compile_to_join_types(spark):
    assert re.search(r"LeftSemi", _plan(spark, "semi_join_big_spenders"))
    assert re.search(r"LeftAnti", _plan(spark, "anti_join_no_urgent"))


def test_events_scan_prunes_columns(spark):
    df = load_table(spark, SF_SMOKE, "events").select("event_type")
    plan = _explain(spark, df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # the nanos-ts repair projection must not force reading other columns
    assert "value" not in read_cols and "props" not in read_cols, read_cols


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-bucketed tables must join with zero shuffles: the Exchange is
    paid once at write time (write_bucketed), not per query."""
    from big_data_imdb_classifier_spark.sources.sinks import write_bucketed

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    od = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")

    write_bucketed(li, "b_li", "l_orderkey", 8, path=str(tmp_path / "b_li"))
    write_bucketed(od, "b_od", "l_orderkey", 8, path=str(tmp_path / "b_od"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_li").join(spark.table("b_od"), "l_orderkey")
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in executed, executed
        assert "SortMergeJoin" in executed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_od")


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned layout must prune to one partition's files when
    filtered on the partition column."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.sources.sinks import write_partitioned

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])

    days = [r.day for r in spark.read.parquet(path).select("day").distinct().collect()]
    assert len(days) > 1, "need multiple partitions for a pruning test"

    one = spark.read.parquet(path).where(F.col("day") == days[0])
    plan = _explain(spark, one)
    # partition filter recognized at the scan
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200], plan
    # and the row count matches the partition exactly
    want = ev.where(F.col("day") == days[0]).count()
    assert one.count() == want


def test_ranking_funcs_share_one_window_exchange(spark):
    """ntile/dense_rank/percent_rank/cume_dist all use the same
    (partition, order) spec, so Catalyst must plan exactly ONE hash
    exchange (plus the final orderBy range exchange) and a single Window
    operator — not one per function."""
    plan = _plan(spark, "window_ranking_funcs")
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, plan
    assert len(re.findall(r"\bWindow\b", plan)) <= 2, plan  # one node (+header)


def test_grouping_sets_is_single_aggregate_pass(spark):
    """GROUPING SETS must compile to Expand + one partial/final hash
    aggregate pair — not a union of three separate groupBys."""
    plan = _plan(spark, "grouping_sets_qty")
    assert "Expand" in plan
    assert "Union" not in plan, plan


def test_sql_exists_compiles_to_semi_and_anti(spark):
    """EXISTS/NOT EXISTS de-correlate to one LeftSemi + one LeftAnti hash
    join — the same physical shape as the DataFrame-API formulation."""
    p = _plan(spark, "sql_exists_not_exists")
    assert re.search(r"LeftSemi", p)
    assert re.search(r"LeftAnti", p)


def test_heavy_hitters_broadcasts_scalar_total(spark):
    """The global count folds in as a broadcast (1-row) side, so the fact
    table is scanned once and shuffled only as distinct keys."""
    p = _plan(spark, "heavy_hitters_suppkey")
    assert re.search(r"Broadcast", p)


def test_mode_top1_uses_window_group_limit(spark):
    """exact_mode's rn=1 filter is pushed into WindowGroupLimit (partial
    + final), so each task keeps one candidate row per group instead of
    materializing the full ranked partition — and the window input is the
    pre-aggregated (group x distinct-value) frame, scanning 2 columns."""
    p = _plan(spark, "exact_mode_quantity")
    assert re.search(r"WindowGroupLimit", p)
    assert re.search(r"ReadSchema: struct<l_quantity:double,l_returnflag:string>", p)


def test_aqe_splits_skewed_join_partition(spark):
    """Scale strategy: a hot join key whose shuffle partition exceeds the
    skew threshold is split by AQE's OptimizeSkewedJoin (SortMergeJoin
    gains skew=true) — the runtime half of the engine's skew story, next
    to the explicit salted rewrite in operators/relational.py. Thresholds
    are scaled down to fire on test-sized data; the detection logic is
    identical at production sizes."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    from pyspark.sql import functions as F

    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        # 90% of fact rows share key 0; an incompressible pad keeps the
        # hot partition's *measured* (post-compression) bytes skewed.
        pad = F.concat(
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i))))
                for i in range(2)
            ]
        )
        fact = spark.range(0, 100_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            pad.alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # collect() executes THIS QueryExecution with pad flowing through
        # the shuffle (count() would both re-plan and prune the pad away)
        joined = fact.join(dim, "k").select("k", "pad", "v")
        joined.collect()
        s = _explain_simple(spark, joined)
        assert "isFinalPlan=true" in s
        assert "skew=true" in s
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _explain_simple(spark, df) -> str:
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def test_join_strategy_hints_control_physical_plan(spark):
    """Join-strategy hints give per-query physical control when the
    optimizer's size estimates are wrong (the 100 TB escape hatch for a
    mis-broadcast): broadcast / merge / shuffle_hash each compile to
    their join operator."""
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")

    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, op in cases.items():
        j = li.join(od.hint(hint), li.l_orderkey == od.o_orderkey)
        assert op in _explain(spark, j), hint


def test_persist_materializes_inmemory_relation(spark):
    """persist() swaps the scan for InMemoryTableScan on reuse — the
    explicit materialization point for a frame feeding several downstream
    plans (vs AQE's per-query exchange reuse)."""
    df = load_table(spark, SF_SMOKE, "orders").groupBy("o_orderpriority").count()
    df.persist()
    try:
        df.count()  # materialize
        plan = _explain(spark, df.filter("count > 0"))
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_banded_range_join_avoids_nested_loop(spark):
    """The banded rewrite's reason to exist: a time-range join planned as
    a bucketed equi-join (hash-partitionable, scalable) instead of the
    BroadcastNestedLoopJoin a raw non-equi condition degenerates to."""
    p = _plan(spark, "event_range_join_clicks_before_purchase")
    assert "NestedLoop" not in p, p
    assert "CartesianProduct" not in p, p


def test_dynamic_partition_pruning_injects_subquery_filter(spark, tmp_path):
    """Joining a day-partitioned fact against a selectively-filtered dim
    must inject a dynamicpruning expression into the fact scan's
    PartitionFilters — at 100 TB this is the difference between scanning
    one day's partitions and scanning the whole table before the join
    throws the rows away."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    (
        fact.select("day")
        .distinct()
        .withColumn("tag", F.when(F.rand(42) < 0.2, "keep").otherwise("drop"))
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    dim = spark.read.parquet(dim_path).where(F.col("tag") == "keep")

    joined = fact.join(dim, "day")
    plan = _explain(spark, joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruned result is still correct
    keep_days = {r.day for r in dim.select("day").collect()}
    want = fact.where(F.col("day").isin(list(keep_days))).count()
    assert joined.count() == want


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """With runtime filtering on, a selective dim predicate must inject a
    bloom_filter_agg / might_contain pre-filter on the fact side of a
    shuffle join, so most fact rows die before the exchange instead of
    being shuffled and then dropped. Thresholds are forced down because
    test data is tiny; at real scale the defaults (10 GB probe side)
    gate it to where it pays."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        od = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(od, li.l_orderkey == od.o_orderkey)
        plan = _explain(spark, joined)
        assert "might_contain" in plan.lower(), plan
        # bloom filter is a pre-filter, never drops matching rows
        n_filtered = joined.count()
        for k, v in old.items():
            spark.conf.set(k, v)
        n_plain = li.join(od, li.l_orderkey == od.o_orderkey).count()
        assert n_filtered == n_plain
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_prefix_jaccard_verify_broadcasts_only_candidate_docs(spark):
    """VERDICT r02 #4: the verify stage must not broadcast the corpus-
    sized shingle table. Since round 10 the candidate-filtered shingle
    set is localCheckpointed (one corpus scan for both verify sides), so
    the LeftSemi reduction is invisible in the terminal plan — per the
    r9 checkpointed-subplan probe rule, the O(|candidate docs|)
    reduction is asserted on the pre-checkpoint frame, and the terminal
    plan is asserted to broadcast only checkpointed (already-reduced)
    inputs: no parquet scan may feed a BroadcastExchange."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.plans.queries_text import (
        jaccard_prefix_index,
        jaccard_verify_shingles,
    )

    sh, idx = jaccard_prefix_index(spark, SF_SMOKE)
    cand_ids = idx.select(
        F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    ).limit(1)
    pre = _explain(spark, jaccard_verify_shingles(sh, cand_ids))
    # the shingle table is semi-joined down to candidate ids, with the
    # (tiny) id list broadcast — the corpus side is never moved
    assert re.search(r"LeftSemi.*BuildRight|BroadcastHashJoin LeftSemi", pre), pre
    # terminal plan: the verify join reads ONLY the checkpointed
    # (already candidate-reduced) RDDs — a parquet scan appearing here
    # would mean a corpus-sized input reached the verify broadcasts
    plan = _plan(spark, "dedup_ngram_jaccard_prefix")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_tpch_q6_is_scan_local_aggregate(spark):
    """Q6's whole WHERE clause must push to the parquet scan and the
    ReadSchema must shrink to the referenced columns — no joins, no
    wide read, one aggregate over scan output."""
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[(.+?)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, read_cols
    assert "Join" not in plan


def test_tpch_q19_infers_per_side_pushdown(spark):
    """Q19's disjunctive predicate must yield inferred per-side filters
    below the join: the part scan gets a brand/size constraint and the
    lineitem scan a quantity constraint, so both shrink before joining."""
    plan = _plan(spark, "tpch_q19_discounted_revenue")
    part_scan = plan[plan.index("part.parquet"):] if "part.parquet" in plan else plan
    m = re.findall(r"PushedFilters: \[(.+?)\]", plan)
    joined = " | ".join(m)
    assert "p_brand" in joined or "p_size" in joined, joined
    assert "l_quantity" in joined, joined


def test_tpch_q3_top10_is_take_ordered(spark):
    """Q3's ORDER BY + LIMIT 10 must compile to TakeOrderedAndProject
    (bounded per-partition heaps), never a global Sort + Limit."""
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    """A-ES weighted sampling must compile to TakeOrderedAndProject —
    a top-k reduction, not a global sort materialization."""
    plan = _plan(spark, "sample_weighted_no_replacement")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_triangle_legs_share_persisted_edges(spark):
    """All three triangle-join legs must read the SAME cached edge list
    (InMemoryTableScan ×3), not re-run the fact self-join per leg."""
    plan = _plan(spark, "graph_triangle_count")
    # three references to the cached relation (formatted explain repeats
    # the cached child plan under each reference, so parquet-scan counts
    # are not meaningful here — the InMemoryTableScans are)
    assert plan.count("InMemoryTableScan") >= 3


def test_equidepth_edges_fold_in_as_broadcast_scalar(spark):
    """The decile-edge vector must reach the binning scan as a 1-row
    broadcast (nested-loop on a scalar), never a shuffle."""
    plan = _plan(spark, "histogram_equidepth_price")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_session_concurrency_has_no_global_sort_window(spark):
    """The sweep-line must NOT use a single-partition global window over
    per-timestamp rows: the only unpartitioned window may be the
    day-level frame (bounded by calendar size). Every window over raw
    timestamps must be partitioned."""
    plan = _plan(spark, "event_session_concurrency")
    # Unpartitioned window specs appear as 'Window [...], [day... ASC'
    # with no 'partitionBy'; formatted plans show 'Arguments: [...]'.
    # Cheap proxy: at most one SinglePartition exchange in the plan.
    assert plan.count("SinglePartition") <= 1, plan


def test_zorder_layout_prunes_more_files(spark, tmp_path):
    """The z-order claim, measured on real files: across a panel of 2-D
    box predicates, the z-ordered layout must overlap strictly fewer
    files IN TOTAL than a single-column sort (whose non-leading
    dimension spans every file), while both layouts return identical
    rows. Per-file min/max spans — computed via input_file_name — are
    exactly the statistics parquet row-group/file skipping uses, so
    'fewer overlapping files' is 'fewer files a stats-pruning reader
    touches'. 64 files: curve locality needs granularity (at 16 files a
    box straddling the top Morton split touches most of the curve —
    the realistic regime is thousands of row-groups, not 16)."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.operators.layout import (
        write_zordered,
    )
    from big_data_imdb_classifier_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    p_sorted = str(tmp_path / "li_sorted")
    p_z = str(tmp_path / "li_z")
    (
        li.repartitionByRange(64, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(p_sorted)
    )
    write_zordered(li, p_z, "l_partkey", "l_suppkey", num_files=64)

    # quarter- and eighth-size boxes over (partkey 0..1999, suppkey 0..99),
    # deliberately including one straddling the top-level Morton split
    boxes = [
        (750, 1249, 38, 62),
        (1250, 1499, 50, 61),
        (250, 499, 25, 37),
        (1000, 1249, 75, 87),
    ]

    def overlapping_files(path, lox, hix, loy, hiy) -> int:
        spans = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_partkey").alias("minp"),
                F.max("l_partkey").alias("maxp"),
                F.min("l_suppkey").alias("mins"),
                F.max("l_suppkey").alias("maxs"),
            )
        )
        return spans.where(
            (F.col("minp") <= hix)
            & (F.col("maxp") >= lox)
            & (F.col("mins") <= hiy)
            & (F.col("maxs") >= loy)
        ).count()

    n_sorted = sum(overlapping_files(p_sorted, *b) for b in boxes)
    n_z = sum(overlapping_files(p_z, *b) for b in boxes)
    assert n_z < n_sorted, (n_z, n_sorted)

    lox, hix, loy, hiy = boxes[0]
    box = (F.col("l_partkey").between(lox, hix)) & (
        F.col("l_suppkey").between(loy, hiy)
    )
    a = {tuple(r) for r in spark.read.parquet(p_sorted).where(box).collect()}
    b = {tuple(r) for r in spark.read.parquet(p_z).where(box).collect()}
    assert a == b and len(a) > 0


def test_bloom_pruned_query_injects_filter_under_shuffle_regime(spark):
    """join_runtime_bloom_pruned's docstring claim, pinned: under the
    regime the query meets at 100 TB (no broadcast, thresholds
    satisfied), the optimizer injects might_contain on the lineitem
    side, and the result is identical to the default-regime (broadcast)
    plan."""
    name = "join_runtime_bloom_pruned"
    default_rows = plans.QUERIES[name](spark, SF_SMOKE).collect()

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = plans.QUERIES[name](spark, SF_SMOKE)
        plan = _explain(spark, df)
        assert "might_contain" in plan.lower(), plan
        assert df.collect() == default_rows
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _executed(spark, name: str) -> str:
    """Executed (AQE-final) plan string — FINAL section only."""
    df = plans.QUERIES[name](spark, SF_SMOKE)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_bucketed_join_has_no_exchange_below_join(spark):
    """layout_bucketed_join_colocated's claim: the bucketed scans satisfy
    the SMJ's distribution, so NO Exchange exists below the join — the
    only exchanges are the post-join aggregate and the final sort."""
    final = _executed(spark, "layout_bucketed_join_colocated")
    assert "SortMergeJoin" in final, final
    assert final.count("Bucketed: true") == 2, final
    # everything at and below the join must be exchange-free
    below_join = final[final.index("SortMergeJoin"):]
    assert "Exchange" not in below_join, below_join
    # the exchanges above the join are on the agg/sort key, never orderkey
    for line in final.splitlines():
        if "Exchange" in line:
            assert "orderkey" not in line, line


def test_partition_pruned_scan_uses_partition_filters(spark):
    """layout_partition_pruned_daily's claim: the day IN-list is applied
    by the file index (PartitionFilters), not as a data filter, and the
    partition column is not read from file data at all."""
    final = _executed(spark, "layout_partition_pruned_daily")
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", final)
    assert m, final
    assert "2024-01-05" in m.group(1), m.group(1)
    scan = next(l for l in final.splitlines() if "FileScan" in l)
    assert "DataFilters: []" in scan, scan
    # partition value comes from the directory name, not file contents
    m2 = re.search(r"ReadSchema: (\S+)", scan)
    assert m2 and "day" not in m2.group(1), scan


def test_partitioned_layout_reads_only_matching_days(spark):
    """Behavioral pruning proof: the pruned scan's post-filter file set
    is exactly one file per selected day, and those files live under the
    selected-day directories only."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.plans.queries_layout import (
        _PRUNE_DAYS,
        _ensure_partitioned,
    )

    path = _ensure_partitioned(spark, SF_SMOKE)
    ev = spark.read.parquet(path).where(
        F.col("day").cast("string").isin(_PRUNE_DAYS)
    )
    files = [
        r[0]
        for r in ev.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    ]
    assert len(files) == len(_PRUNE_DAYS), files
    for f in files:
        assert any(f"day={d}" in f for d in _PRUNE_DAYS), f


def test_no_partition_id_and_range_partitioning_only_in_layout_writers():
    """No result in the package may depend on which physical partition a
    row landed in: ``spark_partition_id`` appears nowhere, and
    ``repartitionByRange`` is called only by the file-layout writers,
    where partition order decides file contents, not answers."""
    import pathlib

    import big_data_imdb_classifier_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    pid, ranged = [], []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(root).as_posix()
        if re.search(r"spark_partition_id", src, re.IGNORECASE):
            pid.append(rel)
        if re.search(r"\.repartitionByRange\(", src):
            ranged.append(rel)
    assert pid == []
    assert ranged == ["operators/layout.py", "sources/sinks.py"]

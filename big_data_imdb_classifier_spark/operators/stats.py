"""Distributed exact order statistics.

``F.percentile`` (and DuckDB's quantile_cont) is an ObjectHashAggregate:
every value of a group is buffered and sorted inside one aggregation
buffer, so the final merge concentrates O(group size) memory and work on
a single reducer — fine for small groups, a guaranteed OOM for the
"3 distinct flags over a 100 TB fact table" shape where each group IS a
third of the corpus.

``group_quantiles`` computes the same exact interpolated quantiles with
NO value buffering anywhere:

1. groupBy (keys, value) → counts — the only full-data shuffle; partial
   aggregation absorbs duplicate values map-side.
2. range-repartition the distinct (keys, value) rows and run a
   TWO-LEVEL PREFIX SUM: a within-partition running count (window over
   the partition id) plus a per-(key, partition) offset frame — one row
   per key per shuffle partition, constant-size, never data-sized. Every
   distinct value now carries its exact per-key global rank interval
   [cum − c, cum).
3. the ≤ 2·|pcts| target ranks per key — generated from the per-key
   totals by exploding a literal array of the percentiles, never
   collected — probe those intervals with a broadcast range join; ONE
   aggregation per key then picks each percentile's lo/hi values, and
   linear interpolation ``v_lo + frac·(v_hi − v_lo)`` reproduces
   quantile_cont / F.percentile bit-for-bit (frac = 0 degenerates to the
   exact order statistic on both engines).

Cost model at 100 TB: one shuffle of the distinct value domain + two
constant-size broadcast joins, vs. the builtin's one shuffle of ALL
values into |groups| buffers. The same machinery serves the global case
(keys=[]) — plans/queries_stats.py's equi-depth histogram edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distributed_cumsum(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    measures: list[str],
    with_totals: bool = False,
):
    """Exact running sums of ``measures`` over ``order_col`` within each
    ``keys`` group (global when ``keys`` is empty) WITHOUT a
    single-partition window — the two-level prefix sum every global
    cumulative statistic in this engine rides on (quantile ranks here,
    the sweep-line concurrency profile in operators/relational.py).

    Shape: range-repartition by (keys, order_col); within-partition
    running sums (one window per partition id, data never crosses
    executors); then a per-(key, shuffle-partition) offset frame — one
    row per key per partition, constant-size, never data-sized — whose
    own prefix sum broadcasts back onto the rows. At 100 TB the only
    data-sized movements are the range shuffle and a broadcast join; no
    reducer ever holds more than its range slice.

    PRECONDITION: ``(keys, order_col)`` must be unique per row (pre-
    aggregate ties first) — duplicate order keys would make the running
    sum partition-order dependent and nondeterministic.

    The rows and their offsets must see ONE evaluation of the range
    exchange, which the planner's exchange reuse provides for a lazy
    input. Over a ``persist()``-ed input the branches each plan their
    own range exchange, the sampled bounds differ, ``_pid`` disagrees
    and quantiles come back wrong — do not cache the input.

    Returns ``df``'s columns plus ``{m}_cum`` for each measure. With
    ``with_totals=True``, returns ``(result, totals)`` where totals is
    one row per key carrying ``{m}_tot`` — derived from the CONSTANT-
    SIZE per-partition offset frame, not from the data-sized result, so
    consumers that need per-key grand totals don't re-derive the whole
    cumsum lineage (a second full upstream recomputation when the plan
    can't reuse the exchange).
    """
    spark = df.sparkSession
    dummy = not keys
    if dummy:
        df = df.withColumn("_dc_key", F.lit(0))
        keys = ["_dc_key"]
    nparts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    d = df.repartitionByRange(nparts, *keys, order_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy(*keys, "_pid").orderBy(order_col)
    for m in measures:
        d = d.withColumn(f"_loc_{m}", F.sum(m).over(w_local))
    # Partition totals from the RAW measure (not max of the running sum,
    # which would be wrong for signed measures).
    ptot = d.groupBy(*keys, "_pid").agg(
        *[F.sum(m).alias(f"_pt_{m}") for m in measures]
    )
    w_ofs = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ofs = ptot.select(
        *keys,
        "_pid",
        *[
            F.coalesce(F.sum(f"_pt_{m}").over(w_ofs), F.lit(0)).alias(
                f"_of_{m}"
            )
            for m in measures
        ],
    )
    d = d.join(F.broadcast(ofs), keys + ["_pid"])
    for m in measures:
        d = d.withColumn(f"{m}_cum", F.col(f"_loc_{m}") + F.col(f"_of_{m}"))
    d = d.drop(
        "_pid",
        *[f"_loc_{m}" for m in measures],
        *[f"_of_{m}" for m in measures],
    )
    if dummy:
        d = d.drop("_dc_key")
    if not with_totals:
        return d
    totals = ptot.groupBy(*keys).agg(
        *[F.sum(f"_pt_{m}").alias(f"{m}_tot") for m in measures]
    )
    if dummy:
        totals = totals.drop("_dc_key")
    return d, totals


def group_quantiles(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    pcts: list[float],
    weight_col: str | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Exact interpolated quantiles of ``val_col`` per ``keys`` group
    (global when ``keys`` is empty), computed distributively.

    Returns one row per group: ``keys`` + array column ``q`` holding the
    quantile values in ``pcts`` order. NULL values are excluded (same as
    F.percentile / quantile_cont).

    With ``weight_col``, each input row stands for that many occurrences
    of its value — the PRE-AGGREGATED entry point: a caller that already
    holds a distinct-value frame with counts (a ``groupBy(keys,
    value).count()`` domain, or values derived arithmetically from one)
    feeds it straight in and the fact table is never rescanned.
    Quantiles over weighted values equal quantiles over the expanded
    multiset, because rank intervals are exactly the cumulative weights.
    With
    ``assume_distinct=True`` the caller additionally guarantees (keys,
    value) is unique per row (NULL values still allowed — they are
    filtered here) and the internal dedup aggregation — a full shuffle
    of the domain — is skipped entirely.

    The rank-probe side is |groups| × 2·|pcts| rows — broadcastable up
    to millions of groups; beyond that, drop the broadcast hint and let
    the planner sort-merge on the equi-key part of the condition (the
    range part becomes the join filter).
    """
    if not pcts:
        raise ValueError("group_quantiles: pcts must be non-empty")
    dummy = not keys
    if dummy:
        df = df.withColumn("_gq_key", F.lit(0))
        keys = ["_gq_key"]
    kcols = [F.col(k) for k in keys]

    if assume_distinct:
        vc = df.where(F.col(val_col).isNotNull()).select(
            *kcols,
            F.col(val_col).alias("_v"),
            (F.col(weight_col) if weight_col else F.lit(1)).alias("_c"),
        )
    else:
        vc = (
            df.where(F.col(val_col).isNotNull())
            .groupBy(*kcols, F.col(val_col).alias("_v"))
            .agg(
                (
                    F.sum(weight_col) if weight_col else F.count("*")
                ).alias("_c")
            )
        )
    # (keys, _v) is unique by construction — the distributed_cumsum
    # precondition holds. _c_cum is each distinct value's exact global
    # per-key rank upper bound; [_cum_prev, _cum) its rank interval.
    # Totals come from the constant-size offset frame (with_totals), so
    # the rank-probe side doesn't re-derive the data-sized cumsum plan.
    vc, totals = distributed_cumsum(vc, keys, "_v", ["_c"], with_totals=True)
    vc = vc.withColumnRenamed("_c_cum", "_cum").withColumn(
        "_cum_prev", F.col("_cum") - F.col("_c")
    )

    # One (_i, _p) row per percentile from a literal array: a Generate
    # over the per-key totals, no local relation to broadcast and join.
    ranks_p = totals.select(
        *keys,
        F.col("_c_tot").alias("_n"),
        F.posexplode(F.array(*[F.lit(float(p)) for p in pcts])).alias(
            "_i", "_p"
        ),
    )
    h = (F.col("_n") - 1) * F.col("_p")
    ranks = (
        ranks_p.select(
            *keys,
            "_i",
            F.floor(h).alias("_klo"),
            F.ceil(h).alias("_khi"),
            (h - F.floor(h)).alias("_frac"),
        )
        .select(
            *keys,
            "_i",
            "_frac",
            F.explode(
                F.array(
                    F.struct(F.col("_klo").alias("_k"),
                             F.lit("lo").alias("_side")),
                    F.struct(F.col("_khi").alias("_k"),
                             F.lit("hi").alias("_side")),
                )
            ).alias("_s"),
        )
        .select(*keys, "_i", "_frac",
                F.col("_s._k").alias("_k"), F.col("_s._side").alias("_side"))
    )
    # ranks shares vc's lineage (the totals aggregate the cumsum frame),
    # so the probe is a self-join — explicit dataframe aliases keep the
    # key attributes distinguishable.
    vc_a, ranks_a = vc.alias("_gqv"), ranks.alias("_gqr")
    cond = _and_all(
        [F.col(f"_gqv.{k}") == F.col(f"_gqr.{k}") for k in keys]
        + [
            F.col("_gqr._k") >= F.col("_gqv._cum_prev"),
            F.col("_gqr._k") < F.col("_gqv._cum"),
        ]
    )
    hit = vc_a.join(F.broadcast(ranks_a), cond).select(
        *[F.col(f"_gqv.{k}") for k in keys], "_v", "_i", "_frac", "_side"
    )
    # One aggregation per key: for each percentile index pick its lo and
    # hi values and its frac, then interpolate into the array in pcts
    # order.
    def pick(i, col, side=None):
        at_i = F.col("_i") == i
        if side is not None:
            at_i = at_i & (F.col("_side") == side)
        return F.max(F.when(at_i, F.col(col)))

    out = hit.groupBy(*keys).agg(
        *[
            c
            for i in range(len(pcts))
            for c in (
                pick(i, "_v", "lo").alias(f"_vlo{i}"),
                pick(i, "_v", "hi").alias(f"_vhi{i}"),
                pick(i, "_frac").alias(f"_frac{i}"),
            )
        ]
    ).select(
        *keys,
        F.array(
            *[
                F.col(f"_vlo{i}")
                + F.col(f"_frac{i}") * (F.col(f"_vhi{i}") - F.col(f"_vlo{i}"))
                for i in range(len(pcts))
            ]
        ).alias("q"),
    )
    if dummy:
        out = out.drop("_gq_key")
    return out


def _and_all(conds):
    c = conds[0]
    for x in conds[1:]:
        c = c & x
    return c


def rank_value_lookup(
    markers: DataFrame,
    probes: DataFrame,
    pos_col: str = "pos",
    val_col: str = "v",
    out_col: str = "v_at",
) -> DataFrame:
    """For every probe row, the marker ``val_col`` with the LARGEST
    marker position ≤ the probe's position — a distributed merge-asof
    on an integer axis (here: rank space), the lookup primitive behind
    piecewise-constant/linear interpolation against a distribution
    (quantile transforms, CDF evaluation at arbitrary points).

    A naive formulation is a range join (probe.pos BETWEEN prev AND
    cum) — a BroadcastNestedLoopJoin once the marker side outgrows a
    scalar, quadratic at 100 TB. This is instead the UNION + TWO-LEVEL
    CARRY-FORWARD shape (the global sibling of operators.relational.
    asof_join, which carries within key groups; rank space has no key,
    so cross-partition carry uses the same constant-size offset-frame
    trick as distributed_cumsum): range-partition both streams together
    on (pos, tag) — markers sort before probes at equal positions, so
    "≤" ties resolve to the marker — run last(ignorenulls) within each
    partition, and stitch partitions with a per-partition last-marker
    frame (one row per shuffle partition) whose own carry-forward
    broadcasts back. One range shuffle of markers+probes, two
    constant-size frames; no nested loop anywhere.

    Markers must have distinct positions. Probes keep all their
    columns; the looked-up value lands in ``out_col``.
    """
    spark = markers.sparkSession
    vtype = dict(markers.dtypes)[val_col]
    m = markers.select(
        F.col(pos_col).alias("_pos"),
        F.lit(0).alias("_tag"),
        F.col(val_col).alias("_mv"),
    )
    p = (
        probes.withColumnRenamed(pos_col, "_pos")
        .withColumn("_tag", F.lit(1))
        .withColumn("_mv", F.lit(None).cast(vtype))
    )
    u = m.unionByName(p, allowMissingColumns=True)
    nparts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    d = u.repartitionByRange(nparts, "_pos", "_tag").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("_pos", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_cf", F.last("_mv", ignorenulls=True).over(w_local))
    # Last marker per partition (absent for marker-less partitions),
    # carried forward over the tiny pid frame so probes landing before
    # their partition's first marker read the previous partition's last.
    plast = (
        d.where(F.col("_tag") == 0)
        .groupBy("_pid")
        .agg(F.max_by("_mv", "_pos").alias("_pl"))
    )
    pids = d.select("_pid").distinct()
    w_ofs = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ofs = (
        pids.join(F.broadcast(plast), "_pid", "left")
        .withColumn("_ofs", F.last("_pl", ignorenulls=True).over(w_ofs))
        .select("_pid", "_ofs")
    )
    out = (
        d.where(F.col("_tag") == 1)
        .join(F.broadcast(ofs), "_pid")
        .withColumn(out_col, F.coalesce("_cf", "_ofs"))
        .drop("_pid", "_tag", "_mv", "_cf", "_ofs")
        .withColumnRenamed("_pos", pos_col)
    )
    return out

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
2. a TWO-LEVEL PREFIX SUM over the distinct (keys, value) rows
   (``distributed_cumsum``, Blelloch's scan with blocks defined by the
   data): each row's block is an equal-width bucket of its value
   between the key's exact min and max; a running count within each
   block plus a per-(key, block) offset frame — one row per key per
   block, constant-size, never data-sized. Every distinct value now
   carries its exact per-key global rank interval [cum − c, cum).
3. the ≤ 2·|pcts| target ranks per key — generated from the per-key
   totals by exploding a literal array of the percentiles, never
   collected — probe those intervals with a broadcast range join; ONE
   aggregation per key then picks each percentile's lo/hi values, and
   linear interpolation ``v_lo + frac·(v_hi − v_lo)`` reproduces
   quantile_cont / F.percentile bit-for-bit (frac = 0 degenerates to the
   exact order statistic on both engines).

Blocks are a pure function of the row and of exact aggregates, never a
physical partition id: a branch that re-evaluates the input, an AQE
decision or a cached input cannot move a row to another block.

Cost model at 100 TB: one shuffle of the distinct value domain, small
bounds and block-total aggregates, and constant-size broadcast joins,
vs. the builtin's one shuffle of ALL values into |groups| buffers. The
same machinery serves the global case (keys=[]) — plans/queries_stats.
py's equi-depth histogram edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window


def _bucketed(df: DataFrame, keys: list[str], order_col: str, span=None):
    """The block step of the two-level scan: ``df`` plus ``_b``, the
    equal-width bucket of ``order_col`` between the exact finite
    ``min`` and ``max`` of its ``keys`` group in ``span`` (default
    ``df``).

    ``_b`` is a pure function of the row and of exact aggregates, so
    every branch that re-evaluates it agrees, whatever the planner
    reuses or caches. It is monotone in Spark's ascending order: NULL
    and −Infinity fall in the first bucket, +Infinity and NaN in the
    last, and values outside ``span``'s range in the end buckets; the
    sort inside a bucket orders them. The bucket count is 4 ×
    ``spark.sql.shuffle.partitions``, so value skew spreads over
    several buckets per reducer.
    """
    dtype = df.schema[order_col].dataType
    if not isinstance(dtype, NumericType):
        raise ValueError(
            f"order column {order_col!r} has type {dtype.simpleString()}; "
            "the prefix scan buckets numeric order values only"
        )
    x = F.col(order_col).cast("double")
    finite = F.when(F.abs(x) < float("inf"), x)
    # The NaN flag is part of the bounds key, so that the global case
    # (no keys) still joins its bounds on a real column: a join on a
    # literal key plans as a cross join.
    bounds = (df if span is None else span).groupBy(
        *keys, F.isnan(x).alias("_nan")
    ).agg(F.min(finite).alias("_lo"), F.max(finite).alias("_hi"))
    d = df.withColumn("_nan", F.isnan(x)).join(
        F.broadcast(bounds), [*keys, "_nan"], "left"
    )
    conf = df.sparkSession.conf
    nb = 4 * max(int(conf.get("spark.sql.shuffle.partitions")), 1)
    lo, hi = F.col("_lo"), F.col("_hi")
    b = (
        F.when(F.col("_nan") | (x >= hi), nb - 1)
        .when(x > lo, F.least(F.floor((x - lo) / (hi - lo) * nb), F.lit(nb - 1)))
        .otherwise(0)
    )
    return d.withColumn("_b", b.cast("int")).drop("_nan", "_lo", "_hi")


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
    Gini, KS, sequence packing and quantile normalisation in plans/).

    Shape (Blelloch's two-level scan, blocks defined by the data): each
    row gets an equal-width bucket of ``order_col`` between its key's
    exact min and max (``_bucketed``); one hash exchange on (keys,
    bucket) feeds both the within-bucket running-sum window and the
    per-(key, bucket) totals. Those totals — one row per key per
    bucket, constant-size, never data-sized — get their own prefix sum
    and broadcast back as each bucket's offset. The result does not
    depend on partition order, exchange reuse or caching of ``df``.

    ``order_col`` must be numeric (``ValueError`` otherwise); NULL,
    NaN and ±Infinity order values take their place in Spark's
    ascending sort order. Rows with a NULL key are dropped.

    PRECONDITION: ``(keys, order_col)`` must be unique per row (pre-
    aggregate ties first) — duplicate order keys would make the running
    sum order dependent and nondeterministic.

    Returns ``df``'s columns plus ``{m}_cum`` for each measure. With
    ``with_totals=True``, returns ``(result, totals)`` where totals is
    one row per key carrying ``{m}_tot`` — one aggregate of ``df``, not
    derived from the data-sized result.
    """
    d = _bucketed(df, keys, order_col)
    w_ofs = (
        Window.partitionBy(*keys)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ofs = d.groupBy(*keys, "_b").agg(*[F.sum(m).alias(m) for m in measures])
    ofs = ofs.select(
        *keys,
        "_b",
        *[
            F.coalesce(F.sum(m).over(w_ofs), F.lit(0)).alias(f"_of_{m}")
            for m in measures
        ],
    )
    w = Window.partitionBy(*keys, "_b").orderBy(order_col)
    loc = d.select(
        *df.columns, "_b", *[F.sum(m).over(w).alias(f"_lc_{m}") for m in measures]
    )
    out = loc.join(F.broadcast(ofs), [*keys, "_b"]).select(
        *df.columns,
        *[
            (F.col(f"_lc_{m}") + F.col(f"_of_{m}")).alias(f"{m}_cum")
            for m in measures
        ],
    )
    if not with_totals:
        return out
    tots = [F.sum(m).alias(f"{m}_tot") for m in measures]
    return out, df.groupBy(*keys).agg(*tots)


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
    # Totals are one aggregate of the input (with_totals), so the
    # rank-probe side has no join below it.
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
    # ranks shares vc's lineage (the totals aggregate the same input),
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
    so the carry crosses blocks the way distributed_cumsum's offsets
    do): markers and probes share one stream ordered by (pos, tag) —
    markers sort before probes at equal positions, so "≤" ties resolve
    to the marker — split into equal-width buckets of the markers' pos
    range (``_bucketed``); last(ignorenulls) runs within each bucket,
    and a per-bucket last-marker frame (one row per bucket) carries
    forward and broadcasts back to probes that precede their bucket's
    first marker. One hash shuffle of markers+probes, small aggregates; no
    nested loop anywhere. ``pos`` must be numeric; NULL, NaN and
    ±Infinity positions take their place in Spark's ascending order.

    Markers must have distinct positions. Probes keep all their
    columns; the looked-up value lands in ``out_col``.
    """
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
    # Buckets split the markers' range: a probe beyond it reads the
    # first or the last marker's bucket.
    u = m.unionByName(p, allowMissingColumns=True)
    d = _bucketed(u, [], "_pos", span=m)
    # Last non-NULL marker value per bucket, carried forward over the
    # small bucket frame so that a probe before its bucket's first
    # marker reads the previous buckets' last.
    w_ofs = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    ofs = d.groupBy("_b").agg(
        F.max_by("_mv", F.when(F.col("_mv").isNotNull(), F.col("_pos")))
        .alias("_bl")
    ).select("_b", F.last("_bl", ignorenulls=True).over(w_ofs).alias("_ofs"))
    w = (
        Window.partitionBy("_b")
        .orderBy("_pos", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("_cf", F.last("_mv", ignorenulls=True).over(w))
        .where(F.col("_tag") == 1)
        .join(F.broadcast(ofs), "_b")
        .withColumn(out_col, F.coalesce("_cf", "_ofs"))
        .drop("_b", "_tag", "_mv", "_cf", "_ofs")
        .withColumnRenamed("_pos", pos_col)
    )

"""Core relational operators (SURVEY.md §2.2-2.7).

These re-express the reference's driver-side or join-heavy patterns as
single-shuffle Catalyst plans:

* top-1-per-group ranking window  — reference data_utils.py:326-344 (W1)
* count-enrichment                — reference data_utils.py:316-324 (J4),
  rewritten from groupBy+self-join (two shuffles) to a partition window
  (one shuffle).
* semi/anti joins                 — reference driver-side sets
  (data_utils.py:91,392,414-415, J5/U2) as distributed joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.temporal import epoch_seconds


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the top-k rows per group (W1, reference data_utils.py:326-344).

    ``order_by`` must be a deterministic total order within each group —
    the reference breaks ties arbitrarily by row order (SURVEY §7.5);
    callers here pass an explicit tiebreak column so results are stable
    under any partitioning.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def count_enrich(
    df: DataFrame, key: str, count_col: str
) -> DataFrame:
    """Attach per-key occurrence counts to every row (J4+A1).

    The reference computes ``groupBy(key).count()`` and left-joins it back
    (data_utils.py:316-324) — a shuffle for the agg plus a shuffle for the
    join. A partition window computes the same column in ONE shuffle and
    keeps the row count unchanged (left-join semantics are preserved
    because every row trivially matches its own key).
    """
    w = Window.partitionBy(key)
    return df.withColumn(count_col, F.count(F.lit(1)).over(w))


def semi_join(df: DataFrame, keys_df: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS — replaces driver-materialized `isin(set)` filters (P5/J5)."""
    return df.join(keys_df, on, "left_semi")


def anti_join(df: DataFrame, keys_df: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS — replaces driver set difference (U2, data_utils.py:392)."""
    return df.join(keys_df, on, "left_anti")


def column_means(df: DataFrame, cols: Sequence[str]) -> dict[str, float]:
    """Means of ``cols`` (cast to double) in ONE aggregate job — the
    reference runs one ``agg({col:'avg'}).collect()`` job PER COLUMN
    (data_utils.py:244-264). An all-null column gets 1.0."""
    row = df.agg(*[F.avg(F.col(c).cast("double")).alias(c) for c in cols]).first()
    return {c: (row[c] if row[c] is not None else 1.0) for c in cols}


def impute_mean(
    df: DataFrame,
    cols: Sequence[str],
    means: dict[str, float],
    treat_zero_as_null: bool = False,
) -> DataFrame:
    """Null→mean imputation (P6+A2, reference classifier_pipeline.py:190-204).

    ``means`` are computed once on train (``column_means``) and reused on
    test — the reference's ``mean_dict`` contract — and are folded into
    the plan as literals.
    """
    out = df
    for c in cols:
        fill = F.lit(float(means[c]))
        cond = F.col(c).isNull()
        if treat_zero_as_null:
            cond = cond | (F.col(c) == 0.0)
        out = out.withColumn(c, F.when(cond, fill).otherwise(F.col(c)))
    return out


def repair_year_bounds(
    df: DataFrame, start_col: str = "startYear", end_col: str = "endYear",
    default_year: int = 2000,
) -> DataFrame:
    """Cross-column null fill + bound repair (P6,
    reference classifier_pipeline.py:197-204,354-360).

    start←end / end←start coalesce, both-null→default, end<start→start.
    Pure column expressions — the reference does this with four chained
    ``withColumn(when(...))`` passes; Catalyst collapses ours into one
    Project either way, but we also avoid its pandas round-trip upstream.
    """
    start = F.coalesce(F.col(start_col), F.col(end_col), F.lit(default_year))
    end = F.coalesce(F.col(end_col), F.col(start_col), F.lit(default_year))
    end = F.greatest(end, start)
    return df.withColumn(start_col, start).withColumn(end_col, end)


def count_enrich_salted(
    df: DataFrame, key: str, count_col: str, salt_buckets: int = 16
) -> DataFrame:
    """Skew-safe two-phase variant of ``count_enrich`` for hot keys.

    An unordered window over a single key gives AQE no skew mitigation —
    at 100× a hot key lands its entire partition on one task. Here the
    count is a two-phase aggregate: partial count on (key, salt) spreads
    a hot key over ``salt_buckets`` tasks, the final sum is one tiny agg,
    and the per-key totals broadcast-join back to the rows. Two shuffles
    of COUNTS (not rows) instead of one shuffle of all rows — the right
    trade exactly when the row shuffle would skew.

    The salt is deterministic (row content hash), so results are stable.
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    totals = partial.groupBy(key).agg(F.sum("_c").alias(count_col))
    return df.join(F.broadcast(totals), key, "left").select(
        *df.columns, count_col
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    carry: Sequence[str],
    strict: bool = True,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """As-of join (full pandas ``merge_asof`` semantics): attach to each
    left row the nearest right row on the ``direction`` side, matched on
    ``keys`` — an operator Spark lacks natively.

    * ``direction='backward'``: LATEST right row with ``right.ts < left.ts``
      (``<=`` when strict=False).
    * ``direction='forward'``: EARLIEST right row with ``right.ts > left.ts``
      (``>=`` when strict=False).
    * ``tolerance_sec``: matches farther than this many seconds from the
      left timestamp yield null (no closer match can exist, because the
      carried match is already the nearest one).

    Among right rows tied on timestamp the largest carry payload wins —
    an explicit deterministic total order (SURVEY §7.5: the reference
    breaks ties by arbitrary row order).

    Implemented as the union+window rewrite, not a range join: tag both
    sides, sort within each key group by (ts, side) — descending for
    forward, so "carry the last right row seen" always means "nearest on
    the match side" — and propagate the right payload with
    ``last_value(ignorenulls)``. ONE shuffle on the keys, state bounded
    by one row of carry columns — the shape that survives 100 TB, where
    an interval/range join would explode to |left|×|right-per-key|
    comparisons. Strictness is encoded purely in the sort order of ties
    (left-before-right for strict, right-before-left otherwise — in both
    directions, because the tie rule "equal ts must not match" is
    direction-symmetric).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    carry_in = list(carry) + [ts_col]  # right ts rides along for tolerance
    r_payload = [f"_r_{c}" for c in carry_in]
    lt = left.withColumn("_is_r", F.lit(0))
    rt = (
        right.select(
            *keys, ts_col, *[F.col(c).alias(f"_r_{c}") for c in carry_in]
        )
        .withColumn("_is_r", F.lit(1))
    )
    u = lt.unionByName(rt, allowMissingColumns=True)

    ts_order = F.asc(ts_col) if direction == "backward" else F.desc(ts_col)
    side_order = F.asc("_is_r") if strict else F.desc("_is_r")
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, side_order, *[F.asc(f"_r_{c}") for c in carry])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in carry_in:
        u = u.withColumn(
            f"{c}{suffix}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    out = u.where(F.col("_is_r") == 0).drop("_is_r", *r_payload)
    matched_ts = f"{ts_col}{suffix}"
    if tolerance_sec is not None:
        gap = (
            epoch_seconds(ts_col) - epoch_seconds(matched_ts)
            if direction == "backward"
            else epoch_seconds(matched_ts) - epoch_seconds(ts_col)
        )
        keep = gap <= F.lit(tolerance_sec)
        for c in carry:
            out = out.withColumn(
                f"{c}{suffix}",
                F.when(keep, F.col(f"{c}{suffix}")),
            )
    return out.drop(matched_ts)


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lookback_sec: int,
    count_col: str = "n_in_range",
    bucket_sec: int | None = None,
) -> DataFrame:
    """Banded range join: for each left row, count right rows with
    ``left_ts - lookback < right_ts < left_ts`` on the same keys.

    A naive time-range join degenerates to per-key cross products. Here
    both sides are bucketed into ``bucket_sec`` time bands (default: the
    lookback window) and each left row probes only its own and the
    previous covering buckets — an EQUI-join on (keys, bucket) whose
    fan-out is bounded by ceil(lookback/bucket)+1, followed by the exact
    range predicate. This is the standard rewrite that makes interval
    joins shuffle-bounded at 100 TB.
    """
    bucket_sec = bucket_sec or lookback_sec
    n_buckets = lookback_sec // bucket_sec + 1

    r = right.select(
        *keys, epoch_seconds(right_ts).alias("_rts")
    ).withColumn("_bkt", (F.col("_rts") / bucket_sec).cast("long"))

    l = left.withColumn("_lts", epoch_seconds(left_ts)).withColumn(
        "_bkt0", (F.col("_lts") / bucket_sec).cast("long")
    )
    probes = F.array(*[F.col("_bkt0") - i for i in range(n_buckets + 1)])
    le = l.withColumn("_bkt", F.explode(probes))

    joined = le.join(r, [*keys, "_bkt"], "left").withColumn(
        "_hit",
        F.when(
            (F.col("_rts") < F.col("_lts"))
            & (F.col("_rts") > F.col("_lts") - lookback_sec),
            1,
        ).otherwise(0),
    )
    group_cols = [c for c in left.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(F.sum("_hit").cast("long").alias(count_col))
    )


def interval_concurrency_profile(
    intervals: DataFrame,
    start_col: str = "s_start",
    end_col: str = "s_end",
) -> DataFrame:
    """Interval sweep-line as a DISTRIBUTED prefix sum: per calendar day,
    the peak number of simultaneously open intervals (closed-interval
    semantics: an interval is open at ts iff start ≤ ts ≤ end; two
    intervals touching at one instant count as concurrent) and the
    number of intervals started.

    Never enumerates the O(n²) overlapping pairs. Each interval emits
    (+1 at start, −1 at end); deltas reduce per timestamp; the running
    count factors into (a) day-level partials cumulated in a window over
    the tiny calendar frame — the only unpartitioned window, bounded by
    days, not data — plus (b) a within-day running sum partitioned by
    day. Concurrency at ts is c − net + pos, which equals
    #{i : start_i ≤ ts ≤ end_i} and is independent of within-timestamp
    ordering (required for cross-engine determinism). Peaks are reported
    for days containing at least one interval endpoint (concurrency only
    changes at endpoints).

    Used by ``event_session_concurrency`` (plans/queries_events.py);
    property-tested against a brute-force overlap count in
    tests/test_property_joins.py."""
    deltas = intervals.select(
        F.col(start_col).alias("ts"), F.lit(1).alias("d")
    ).unionAll(
        intervals.select(F.col(end_col).alias("ts"), F.lit(-1).alias("d"))
    )
    per_ts = (
        deltas.groupBy("ts")
        .agg(
            F.count(F.when(F.col("d") == 1, 1)).alias("pos"),
            F.sum("d").alias("net"),
        )
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    day_off = (
        per_ts.groupBy("day")
        .agg(F.sum("net").alias("_dn"))
        .select(
            "day",
            F.coalesce(F.sum("_dn").over(w_days), F.lit(0)).alias("_off"),
        )
    )
    w_in_day = (
        Window.partitionBy("day")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_ts.join(F.broadcast(day_off), "day").withColumn(
        "_c", F.col("_off") + F.sum("net").over(w_in_day)
    )
    conc = F.col("_c") - F.col("net") + F.col("pos")
    return cum.groupBy(F.col("day")).agg(
        F.max(conc).cast("bigint").alias("peak_concurrency"),
        F.sum("pos").cast("bigint").alias("intervals_started"),
    )

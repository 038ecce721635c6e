"""Streaming execution mode: the readStream wrappers must reproduce the
batch event-time results (same expressions, different executor)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.sources.readers import load_table
from big_data_imdb_classifier_spark.streaming import streams as ST

from .conftest import SF_SMOKE


def test_tumbling_stream_matches_batch(spark):
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    got = ST.run_to_memory(
        spark,
        ST.tumbling_counts_stream(ev_stream),
        "t_tumbling",
        output_mode="complete",
    )

    ev_batch = load_table(spark, SF_SMOKE, "events")
    want = (
        ev_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w
    assert len(g) > 0


def test_session_window_stream_matches_batch_session_count(spark):
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    got = ST.run_to_memory(
        spark,
        ST.session_window_stream(ev_stream),
        "t_sessions",
        output_mode="complete",
    )
    # native session_window (streaming) vs batch gaps-and-islands must
    # agree on sessions-per-user and total event counts
    from big_data_imdb_classifier_spark.plans import queries_events as QE

    batch = QE.event_sessionization(spark, SF_SMOKE)
    got_per_user = {
        (r.user_id, r.n): None
        for r in got.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("n_events").alias("tot"))
        .collect()
    }
    want_per_user = {
        (r.user_id, r.n): None
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("n_events").alias("tot"))
        .collect()
    }
    assert got_per_user == want_per_user


def test_dedup_stream_drops_duplicate_keys(spark):
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    deduped = ST.dedup_stream(ev_stream, keys=["user_id", "event_type"])
    got = ST.run_to_memory(spark, deduped, "t_dedup", output_mode="append")

    ev_batch = load_table(spark, SF_SMOKE, "events")
    n_keys = ev_batch.select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys
    assert got.select("user_id", "event_type").distinct().count() == n_keys


def test_stateful_running_totals_matches_batch(spark):
    """applyInPandasWithState custom operator: one availableNow batch →
    per-user totals must equal the batch groupBy."""
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    got = ST.run_to_memory(
        spark,
        ST.running_user_totals_stream(ev_stream),
        "t_state_totals",
        output_mode="update",
    )
    ev_batch = load_table(spark, SF_SMOKE, "events")
    want = ev_batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("sum_value"),
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_to_parquet_sink_with_checkpoint(spark, tmp_path):
    """File-sink streaming: availableNow drain into a partitioned parquet
    sink with a checkpoint; a second start with the same checkpoint must
    be a no-op (exactly-once file sink semantics), not a duplicate."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        ev = ST.load_events_stream(spark, SF_SMOKE)
        q = (
            ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("day")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    n_batch = load_table(spark, SF_SMOKE, "events").count()
    assert spark.read.parquet(out).count() == n_batch
    drain()  # same checkpoint, no new input -> no duplicates
    assert spark.read.parquet(out).count() == n_batch


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream range join must produce exactly the
    batch join's (purchase, click) pairs."""
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    got = ST.run_to_memory(
        spark,
        ST.clicks_before_purchase_join_stream(ev_stream, lookback_minutes=30),
        "t_ss_join",
        output_mode="append",
    )

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = purchases.join(
        clicks,
        F.expr(
            """p_user = c_user
               AND click_ts >= purchase_ts - INTERVAL 30 MINUTES
               AND click_ts < purchase_ts"""
        ),
    ).select("purchase_id", "click_id")

    g = {(r.purchase_id, r.click_id) for r in got.collect()}
    w = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert g == w
    assert len(g) > 0


def test_stream_foreachbatch_upsert_cache(spark, tmp_path):
    """foreachBatch upsert sink: streaming dedup drained into the keyed
    parquet cache; a second (idempotent) run must not grow the cache."""
    cache = str(tmp_path / "cache.parquet")

    def run(ckpt: str) -> None:
        ev = ST.load_events_stream(spark, SF_SMOKE)
        latest = ST.dedup_stream(ev, keys=["user_id"])
        ST.stream_upsert_into_cache(
            spark,
            latest.select("user_id", "event_type", "value"),
            cache,
            key="user_id",
            checkpoint_dir=ckpt,
        )

    run(str(tmp_path / "ckpt1"))
    n_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    first = spark.read.parquet(cache)
    assert first.count() == n_users
    assert first.select("user_id").distinct().count() == n_users

    run(str(tmp_path / "ckpt2"))  # fresh checkpoint => batch re-delivered
    again = spark.read.parquet(cache)
    assert again.count() == n_users  # key-dedup keeps the cache stable


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Watermark semantics across micro-batches: after batch 1 advances
    the watermark past a window's end (append-mode emission), a late
    event for that window arriving in batch 2 must be DROPPED — the
    finalized window row is never updated or duplicated. Checkpointed
    watermark state survives the availableNow restart."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    src = tmp_path / "in"
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame([Row(ts=t, v=v) for t, v in rows], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet"
        ).parquet(str(src) + "/*")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
            .select(F.col("w.start").alias("window_start"), "n", "total")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two events in hour 0, one at hour 3 (advances watermark to 2h,
    # so the hour-0 window finalizes and emits)
    write_batch("b1", [(base + dt.timedelta(minutes=10), 1),
                       (base + dt.timedelta(minutes=20), 2),
                       (base + dt.timedelta(hours=3), 10)])
    run_once()

    # batch 2: a LATE event for hour 0 (beyond watermark -> dropped) and a
    # fresh event at hour 5 (advances watermark, finalizing hour 3)
    write_batch("b2", [(base + dt.timedelta(minutes=30), 100),
                       (base + dt.timedelta(hours=5), 20)])
    run_once()

    out = {
        r.window_start: (r.n, r.total)
        for r in spark.read.parquet(sink).collect()
    }
    hour0 = base
    # hour-0 window emitted exactly once, WITHOUT the late v=100 event
    assert out[hour0] == (2, 3), out
    # hour-3 window finalized by batch 2's watermark advance
    assert out[base + dt.timedelta(hours=3)] == (1, 10), out


def test_stream_static_dim_join_matches_batch(spark):
    """Stream-static broadcast enrichment: one availableNow pass over the
    events stream joined to the customer dim must equal the batch join."""
    dim = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = ST.enrich_stream_with_static_dim(
        ST.load_events_stream(spark, SF_SMOKE), dim, key="user_id"
    ).groupBy("c_nationkey").count()
    got = ST.run_to_memory(
        spark, enriched, "t_stream_static", output_mode="complete"
    )
    want = (
        load_table(spark, SF_SMOKE, "events")
        .join(dim, "user_id", "left")
        .groupBy("c_nationkey")
        .count()
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_statestore_reader_pins_checkpoint_state_to_batch_agg(spark, tmp_path):
    """Offline state introspection (Spark 4 statestore source): after an
    availableNow drain of a grouped count, the checkpoint's state store
    must contain EXACTLY the batch groupBy result — key for key, count
    for count — and the state-metadata source must describe the
    operator that owns it. This is the ops path for auditing what a
    stateful query believes without touching the query."""
    ev = ST.load_events_stream(spark, SF_SMOKE)
    counts = ev.groupBy("event_type").count()
    ckpt = str(tmp_path / "ckpt")
    q = (
        counts.writeStream.format("memory")
        .queryName("t_state_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = ST.read_state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0]["operatorName"] == "stateStoreSave"

    state = ST.read_state(spark, ckpt, operator_id=meta[0]["operatorId"])
    got = {
        (r["key"][0], r["value"]["count"]) for r in state.collect()
    }
    want = {
        (r["event_type"], r["count"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert got == want


def test_pattern_funnel_stream_matches_batch(spark):
    """Streaming row-pattern state op: one availableNow drain must equal
    the batch encode→collapse→regex computation per user."""
    ev_stream = ST.load_events_stream(spark, SF_SMOKE)
    got = ST.run_to_memory(
        spark,
        ST.pattern_funnel_stream(ev_stream),
        "t_pattern_funnels",
        output_mode="update",
    )
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
    )
    want = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda s: s["ch"],
                ),
            ).alias("seq")
        )
        .select(
            "user_id",
            F.regexp_count("seq", F.lit("vc*p")).alias("n_funnels"),
            F.when(F.col("seq").rlike("v[^e]*p"), 1).otherwise(0).alias("clean"),
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def _drain_with_ckpt(spark, df, table, ckpt):
    """availableNow drain that SURVIVES checkpoint restarts (the memory
    sink refuses recovery): foreachBatch collects each micro-batch's
    update-mode output into a plain list of Rows."""
    rows = []
    q = (
        df.writeStream.foreachBatch(
            lambda batch_df, _bid: rows.extend(batch_df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_running_totals_state_evicted_after_idle_retention(spark, tmp_path):
    """The per-user totals state is BOUNDED (round-7 verdict task 1 —
    the engine's last unbounded-state operator): a key idle past
    ``idle_retention_ms`` in event time is removed from the state store,
    while an active key keeps its cross-batch accumulator. Three
    availableNow drains on one checkpoint = three micro-batches with the
    watermark advancing between them."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(
            [Row(user_id=u, ts=t, value=v) for u, t, v in rows], schema
        ).coalesce(1).write.parquet(str(src / name))

    def drain(tag):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        return _drain_with_ckpt(
            spark,
            ST.running_user_totals_stream(stream),
            f"t_totals_evict_{tag}",
            ckpt,
        )

    # Batch 1: both users active. Watermark is still 0 here — under a
    # bare watermark+retention deadline both keys would be mass-evicted
    # in batch 2 (the r7 funnel regression); event-time anchoring is
    # what this drain pins.
    write_batch("b1", [(1, t0, 10.0), (1, t0, 5.0), (2, t0, 1.0)])
    drain("b1")
    # Batch 2: only user 2, 3 days later. Watermark at batch start is
    # still behind user 1's deadline (t0+24h) — no eviction yet; the
    # batch advances it to t0+3d-2h.
    write_batch("b2", [(2, t0 + dt.timedelta(days=3), 2.0)])
    out2 = drain("b2")
    r2 = {(r["user_id"], r["n_events"], r["sum_value"]) for r in out2}
    assert (2, 2, 3.0) in r2  # cross-batch accumulation survived
    # Batch 3: user 1 is now idle > 24h behind the watermark → its
    # timeout fires during this batch and the key is removed; user 2
    # keeps accumulating.
    write_batch("b3", [(2, t0 + dt.timedelta(days=3, hours=1), 4.0)])
    out3 = drain("b3")
    assert {(r["user_id"], r["n_events"], r["sum_value"]) for r in out3} == {
        (2, 3, 7.0)
    }

    meta = ST.read_state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    state = ST.read_state(spark, ckpt, operator_id=meta[0]["operatorId"])
    keys = {r["key"][0] for r in state.collect()}
    assert keys == {2}, f"idle key not evicted / active key lost: {keys}"


def test_pattern_funnel_no_mass_evict_on_first_watermark_advance(
    spark, tmp_path
):
    """Regression for the r7 −62% funnel throughput cliff: batch-1 keys
    were armed while the watermark was still 0 (deadline = 1970 +
    retention) and mass-evicted on the first watermark advance,
    destroying their cross-batch sequence state. With the deadline
    anchored to the key's own last event time, a key idle only a few
    hours must RETAIN its accumulated sequence across batches — its
    funnel count reflects events from both batches."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
        ]
    )
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(
            [
                Row(user_id=u, ts=t, event_id=i, event_type=e)
                for u, t, i, e in rows
            ],
            schema,
        ).coalesce(1).write.parquet(str(src / name))

    def drain(tag):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        return _drain_with_ckpt(
            spark,
            ST.pattern_funnel_stream(stream),
            f"t_funnel_no_evict_{tag}",
            ckpt,
        )

    # Batch 1: user 7 starts a funnel: view, click (no purchase yet).
    write_batch(
        "b1",
        [(7, t0, 1, "view"), (7, t0 + dt.timedelta(minutes=1), 2, "click")],
    )
    drain("b1")
    # Batch 2, six hours later (far under the 24h retention): the
    # purchase completes the v c p funnel ONLY IF batch-1 state
    # survived the watermark advance.
    write_batch(
        "b2", [(7, t0 + dt.timedelta(hours=6), 3, "purchase")]
    )
    out2 = drain("b2")
    rows = {(r["user_id"], r["n_funnels"]) for r in out2}
    assert (7, 1) in rows, (
        f"batch-1 state lost on first watermark advance: {rows}"
    )


def test_totals_early_timeout_fire_rearms_instead_of_evicting(
    spark, tmp_path
):
    """Lazy re-arming (round 9, VERDICT r8 task 3) must not change
    eviction SEMANTICS: the store timeout is re-armed only when the
    policy deadline drifts a slack window past the armed one, so a
    key's timeout can fire EARLY — between its armed and policy
    deadlines. That firing must re-arm at the policy deadline and keep
    the accumulator (the key was not idle past retention); only a
    watermark past the POLICY deadline evicts. Retention 24h, slack
    2.4h, watermark delay 2h throughout."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(
            [Row(user_id=u, ts=t0 + dt.timedelta(hours=h), value=v)
             for u, h, v in rows],
            schema,
        ).coalesce(1).write.parquet(str(src / name))

    def drain(tag):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        return _drain_with_ckpt(
            spark,
            ST.running_user_totals_stream(stream),
            f"t_totals_early_fire_{tag}",
            ckpt,
        )

    # b1: key 1 armed at t0+24h (policy == armed).
    write_batch("b1", [(1, 0, 1.0)])
    drain("b1")
    # b2: key 1 advances its policy to t0+25h — WITHIN the 2.4h slack
    # of the armed t0+24h, so the store timeout is NOT re-armed; key 9
    # pushes the max event time to t0+26.5h.
    write_batch("b2", [(1, 1, 2.0), (9, 26.5, 0.5)])
    drain("b2")
    # b3: watermark at batch start = t0+26.5h - 2h = t0+24.5h — past
    # key 1's ARMED deadline but short of its POLICY one. The timeout
    # fires early; the lazy scheme must re-arm, not evict.
    write_batch("b3", [(9, 28, 0.5)])
    drain("b3")
    # b4: key 1 returns (ts >= watermark so the row is not late-dropped);
    # its accumulator must still carry batches 1-2.
    write_batch("b4", [(1, 26.5, 4.0)])
    out4 = drain("b4")
    rows4 = {(r["user_id"], r["n_events"], r["sum_value"]) for r in out4}
    assert (1, 3, 7.0) in rows4, (
        f"early timeout fire destroyed state: {rows4}"
    )
    # b5/b6: key 1 goes truly idle; once the watermark passes its
    # policy deadline (t0+26.5h + 24h = t0+50.5h) it must be evicted.
    write_batch("b5", [(9, 80, 0.5)])
    drain("b5")
    write_batch("b6", [(9, 90, 0.5)])
    drain("b6")

    meta = ST.read_state_metadata(spark, ckpt).collect()
    state = ST.read_state(spark, ckpt, operator_id=meta[0]["operatorId"])
    keys = {r["key"][0] for r in state.collect()}
    assert 1 not in keys, f"idle key survived past policy deadline: {keys}"
    assert 9 in keys

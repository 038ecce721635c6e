"""Source-layer regression tests.

The round-1 driver gate failed on ``events.parquet``: the nanos-timestamp
conf lived only in the engine's session factory, but the driver passes in
its own vanilla SparkSession. ``load_table`` must therefore set the conf
at runtime on whatever session it is handed.
"""

from __future__ import annotations

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.sources.readers import load_table

from .conftest import SF_ORACLE, SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_read_without_preset_nanos_conf(spark):
    """Simulate the driver's vanilla session: the nanos conf is absent at
    call time and load_table must still produce proper timestamps."""
    spark.conf.unset(NANOS_CONF)
    try:
        df = load_table(spark, SF_ORACLE, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.count() == 10_000
        row = df.orderBy("event_id").first()
        assert row.ts.year == 2024
    finally:
        spark.conf.set(NANOS_CONF, "true")


@pytest.mark.parametrize("name", ["events", "lineitem", "orders"])
def test_timestamp_columns_are_timestamps(spark, name):
    df = load_table(spark, SF_SMOKE, name)
    ts_cols = {
        "events": ["ts"],
        "lineitem": ["l_shipdate"],
        "orders": ["o_orderdate"],
    }[name]
    for c in ts_cols:
        # load_table must normalize every physical encoding (nanos-long,
        # micros-NTZ, micros-LTZ) to plain TimestampType so downstream
        # epoch casts are always legal.
        assert isinstance(df.schema[c].dataType, T.TimestampType), (
            c,
            df.schema[c].dataType,
        )


def test_csv_corrupt_record_isolation(spark, tmp_path):
    """PERMISSIVE scan isolates malformed rows into _corrupt_record
    instead of failing the job — the resilience contract a 100 TB ingest
    needs (one bad row must not kill a 6-hour scan)."""
    from pyspark.sql import types as T

    p = tmp_path / "dirty.csv"
    p.write_text("id,val\n1,10\nnot_a_number_row_with,too,many,cols\n3,30\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("val", T.LongType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    good = df.where(df._corrupt_record.isNull())
    bad = df.where(df._corrupt_record.isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert "too,many,cols" in bad.first()._corrupt_record


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: later files add a column; mergeSchema unions the
    schemas and back-fills nulls — the append-mostly table contract."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        p + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) >= {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.select("id", "score").collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_compact_parquet_small_files(spark, tmp_path):
    """32 tiny files compact to the target count without a shuffle
    (coalesce path) and with byte-identical content."""
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from big_data_imdb_classifier_spark.sources.sinks import compact_parquet

    from .conftest import SF_SMOKE

    src = str(tmp_path / "shattered")
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    li.repartition(32).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 32
    before = li.count()

    total_bytes = sum(
        f.stat().st_size for f in (tmp_path / "shattered").glob("*.parquet")
    )
    n = compact_parquet(spark, src, target_file_bytes=total_bytes // 2 + 1)
    assert n <= 2
    after = spark.read.parquet(src)
    assert after.count() == before
    assert len(after.inputFiles()) == n


def test_observe_collects_metrics_without_extra_pass(spark):
    """The Observation API rides data-quality metrics on an existing
    action — no second scan: row count, null count, and sum collected
    during the same job that materializes the result."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.sources.readers import load_table

    from .conftest import SF_SMOKE

    obs = Observation("dq")
    o = load_table(spark, SF_SMOKE, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )
    out = o.groupBy("o_orderpriority").count()
    out.collect()  # ONE job; metrics observed en route
    m = obs.get
    want_rows = load_table(spark, SF_SMOKE, "orders").count()
    assert m["n_rows"] == want_rows
    assert m["null_custkey"] == 0
    assert m["sum_price"] > 0


def test_clustered_write_yields_skippable_row_groups(spark, tmp_path):
    """write_clustered must produce near-disjoint per-file min/max ranges
    on the cluster column (checked via parquet footer stats), which is
    what lets a pushed-down point/range predicate skip most row groups."""
    import glob as _glob

    import pyarrow.parquet as pq

    from big_data_imdb_classifier_spark.sources.readers import load_table
    from big_data_imdb_classifier_spark.sources.sinks import write_clustered

    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    path = str(tmp_path / "clustered")
    write_clustered(li, path, "l_extendedprice", files=8)

    ranges = []
    for f in sorted(_glob.glob(path + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "l_extendedprice"
        )
        lo = min(
            md.row_group(g).column(col_idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(col_idx).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))

    assert len(ranges) >= 4
    ranges.sort()
    # consecutive file ranges must not overlap (range partitioner boundaries)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)

    # and the data survives intact
    assert spark.read.parquet(path).count() == li.count()


def test_zordered_write_skips_on_both_columns(spark, tmp_path):
    """write_zordered must tighten per-file min/max ranges on BOTH
    clustered columns (multi-dimension skipping), where single-column
    clustering leaves the second column's per-file range ~global."""
    import glob as _glob

    import pyarrow.parquet as pq

    from big_data_imdb_classifier_spark.sources.readers import load_table
    from big_data_imdb_classifier_spark.sources.sinks import (
        write_clustered,
        write_zordered,
    )

    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )

    def avg_range_frac(path, col):
        rs = []
        for f in sorted(_glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            st = [
                md.row_group(g).column(idx).statistics
                for g in range(md.num_row_groups)
            ]
            rs.append((min(s.min for s in st), max(s.max for s in st)))
        glo = max(h for _, h in rs) - min(l for l, _ in rs)
        return sum(h - l for l, h in rs) / len(rs) / glo

    zp = str(tmp_path / "z")
    write_zordered(li, zp, ["l_partkey", "l_extendedprice"], files=16)
    # both dimensions skippable
    assert avg_range_frac(zp, "l_partkey") < 0.6
    assert avg_range_frac(zp, "l_extendedprice") < 0.6
    assert spark.read.parquet(zp).count() == li.count()

    # contrast: clustering on price alone leaves partkey unskippable
    cp = str(tmp_path / "c")
    write_clustered(li, cp, "l_extendedprice", files=16)
    assert avg_range_frac(cp, "l_partkey") > 0.8


# ---------------------------------------------------------------------------
# Timestamp physical-encoding matrix (VERDICT r02 #9)
# ---------------------------------------------------------------------------
# The driver-generated events.parquet has changed encoding between rounds
# (r01: TIMESTAMP(NANOS) → nanos-as-long; r02: TIMESTAMP(MICROS,
# isAdjustedToUTC=false) → TIMESTAMP_NTZ). load_table must normalize ALL
# plausible encodings to plain TimestampType with identical instants.

_TS_MICROS_UTC = [1_704_067_200_000_000, 1_704_070_800_123_456]  # 2024-01-01T00/01 UTC


@pytest.mark.parametrize(
    "encoding",
    ["nanos", "micros_ntz", "micros_utc", "millis_ntz", "millis_utc", "int96"],
)
def test_load_table_normalizes_all_timestamp_encodings(spark, tmp_path, encoding):
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_type = {
        "nanos": pa.timestamp("ns"),
        "micros_ntz": pa.timestamp("us"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
        "millis_ntz": pa.timestamp("ms"),
        "millis_utc": pa.timestamp("ms", tz="UTC"),
        "int96": pa.timestamp("us", tz="UTC"),
    }[encoding]
    millis = encoding.startswith("millis")
    # millisecond encodings hold the instants truncated to whole millis
    want = [v // 1000 * 1000 for v in _TS_MICROS_UTC] if millis else _TS_MICROS_UTC
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    v * 1000 if encoding == "nanos" else v // 1000 if millis else v
                    for v in _TS_MICROS_UTC
                ],
                arrow_type,
            ),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(
        tbl,
        f"{sf_dir}/events.parquet",
        use_deprecated_int96_timestamps=encoding == "int96",
    )

    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        encoding,
        df.schema["ts"].dataType,
    )
    # identical instants regardless of encoding: epoch micros must match
    from pyspark.sql import functions as F

    got = [
        r[0]
        for r in df.orderBy("event_id")
        .select(F.unix_micros(F.col("ts")))
        .collect()
    ]
    assert got == want, (encoding, got)
    # and the epoch-seconds helper (used by sessionization / range joins)
    # must be legal and exact over the normalized column
    from big_data_imdb_classifier_spark.functions.temporal import epoch_seconds

    secs = [
        r[0]
        for r in df.orderBy("event_id").select(epoch_seconds("ts")).collect()
    ]
    assert secs == [v // 1_000_000 for v in want], (encoding, secs)


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    """``footer_schema`` must give exactly the schema Spark infers, so
    ``load_table`` can skip the inference job: every testdata table, a
    Spark-written part-file directory (schema stored in the footer), a
    pyarrow all-NULL column (Spark: int, Arrow: null), INT96 (Spark:
    timestamp, Arrow: int64 nanos) and the other timestamp encodings.
    A type with no mapping, or a path with no parquet, raises."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_imdb_classifier_spark.sources.footer import footer_schema

    from .conftest import TESTDATA_ROOT

    paths = sorted(glob.glob(os.path.join(TESTDATA_ROOT, "*", "*.parquet")))
    assert paths, TESTDATA_ROOT

    spark_dir = str(tmp_path / "spark_written.parquet")
    spark.range(20).selectExpr(
        "id",
        "cast(id as int) AS i",
        "timestamp_micros(id) AS ts",
        "array(id) AS a",
        "map('k', id) AS m",
        "named_struct('x', id, 'y', cast(id as string)) AS s",
        "cast(id as decimal(5, 1)) AS d",
    ).repartition(3).write.parquet(spark_dir)
    paths.append(spark_dir)

    mixed = str(tmp_path / "mixed.parquet")
    pq.write_table(
        pa.table(
            {
                "nulls": pa.array([None, None], pa.null()),
                "i8": pa.array([1, 2], pa.int8()),
                "u32": pa.array([1, 2], pa.uint32()),
                "dec": pa.array([1, 2], pa.decimal128(10, 2)),
                "bin": pa.array([b"a", b"b"]),
                "ts_ms": pa.array([1, 2], pa.timestamp("ms")),
                "ts_ms_utc": pa.array([1, 2], pa.timestamp("ms", tz="UTC")),
                "ts_ns": pa.array([1, 2], pa.timestamp("ns")),
                "lst": pa.array([[1.0], [2.0]], pa.list_(pa.float32())),
                "st": pa.array([{"a": 1, "b": "x"}] * 2),
                "mp": pa.array([[("k", 1)]] * 2, pa.map_(pa.string(), pa.int64())),
            }
        ),
        mixed,
    )
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    paths += [mixed, int96]

    for path in paths:
        assert footer_schema(path) == spark.read.parquet(path).schema, path
    got = footer_schema(mixed)
    assert got["nulls"].dataType == T.IntegerType()
    assert got["ts_ns"].dataType == T.LongType()
    assert footer_schema(int96)["ts"].dataType == T.TimestampType()

    unmapped = str(tmp_path / "time.parquet")
    pq.write_table(pa.table({"t": pa.array([1, 2], pa.time32("ms"))}), unmapped)
    with pytest.raises(ValueError, match=r"'t'.*Time.*time\.parquet"):
        footer_schema(unmapped)
    with pytest.raises(ValueError, match="nope"):
        footer_schema(str(tmp_path / "nope.parquet"))
    garbage = tmp_path / "garbage.parquet"
    garbage.write_bytes(b"not parquet")
    with pytest.raises(ValueError, match="garbage"):
        footer_schema(str(garbage))


def test_table_reads_run_no_spark_job(spark):
    """Building a ``load_table`` read or the events stream runs no Spark
    job: both take their schema from the parquet footer. The same probe
    sees the inference job of a plain ``spark.read.parquet``, so a zero
    is not the probe missing jobs."""
    import os

    from big_data_imdb_classifier_spark.sources.schemas import TABLE_NAMES
    from big_data_imdb_classifier_spark.streaming.streams import (
        load_events_stream,
    )

    sc = spark.sparkContext

    def jobs_of(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of(
        "footer-test-infer",
        lambda: spark.read.parquet(os.path.join(SF_SMOKE, "region.parquet")),
    )
    for name in TABLE_NAMES:
        assert jobs_of(
            f"footer-test-{name}", lambda: load_table(spark, SF_SMOKE, name)
        ) == [], name
    assert jobs_of(
        "footer-test-stream", lambda: load_events_stream(spark, SF_SMOKE)
    ) == []


class TestSyntheticEventsDataSource:
    """Spark 4 Python DataSource API: the storage-free deterministic
    events generator (sources/pyds.py)."""

    def _load(self, spark, **opts):
        from big_data_imdb_classifier_spark.sources import pyds

        pyds.register(spark)
        r = spark.read.format("synthetic_events")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def test_row_count_schema_and_partitioning(self, spark):
        from pyspark.sql import functions as F

        df = self._load(spark, rows=5000, partitions=8, users=50)
        assert df.count() == 5000
        assert [f.name for f in df.schema.fields] == [
            "event_id", "ts", "user_id", "event_type", "value",
        ]
        # generation is genuinely distributed: all 8 planned partitions
        # produced rows (no driver-side loop)
        nparts = df.select(
            F.spark_partition_id().alias("p")
        ).distinct().count()
        assert nparts == 8
        assert df.agg(F.countDistinct("user_id")).collect()[0][0] <= 50

    def test_deterministic_across_reads_and_layouts(self, spark):
        from pyspark.sql import functions as F

        def digest(df):
            return df.agg(
                F.md5(
                    F.concat_ws(
                        ",",
                        F.sort_array(
                            F.collect_list(
                                F.concat_ws(
                                    "|", "event_id", "ts", "user_id",
                                    "event_type", "value",
                                )
                            )
                        ),
                    )
                )
            ).collect()[0][0]

        a = digest(self._load(spark, rows=2000, partitions=4, seed=7))
        b = digest(self._load(spark, rows=2000, partitions=4, seed=7))
        # repartitioning the plan must not change the data
        c = digest(self._load(spark, rows=2000, partitions=16, seed=7))
        assert a == b == c
        d = digest(self._load(spark, rows=2000, partitions=4, seed=8))
        assert d != a  # the seed actually matters

    def test_generated_domain(self, spark):
        from pyspark.sql import functions as F

        from big_data_imdb_classifier_spark.sources.pyds import EVENT_TYPES

        df = self._load(spark, rows=1000, partitions=4)
        types = {
            r.event_type
            for r in df.select("event_type").distinct().collect()
        }
        assert types <= set(EVENT_TYPES)
        bounds = df.agg(
            F.min("value"), F.max("value"), F.min("ts"), F.max("ts")
        ).collect()[0]
        assert 0.0 <= bounds[0] and bounds[1] < 1000.0
        assert bounds[2].year == 2024


class TestJsonLinesSinkDataSource:
    """Python DataSource WRITER half (sources/pyds.py JsonLinesSink):
    executor-side partition files, overwrite semantics, commit counts."""

    def test_round_trip(self, spark, tmp_path):
        from big_data_imdb_classifier_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "jsonl_out")
        df = (
            spark.range(0, 1000, 1, 4)
            .selectExpr(
                "id",
                "concat('u', id % 7) AS tag",
                "CAST(id AS DOUBLE) * 1.5 AS v",
            )
        )
        df.write.format("jsonl_sink").option("path", out).mode(
            "overwrite"
        ).save()

        import glob

        parts = sorted(glob.glob(out + "/part-*.jsonl"))
        assert len(parts) == 4  # one file per input partition, no driver fan-in
        back = spark.read.schema(df.schema).json(out)
        assert back.count() == 1000
        a = {tuple(r) for r in df.select("id", "tag", "v").collect()}
        b = {
            (r["id"], r["tag"], r["v"])
            for r in back.select("id", "tag", "v").collect()
        }
        assert a == b

    def test_overwrite_replaces_previous_output(self, spark, tmp_path):
        from big_data_imdb_classifier_spark.sources import pyds

        pyds.register(spark)
        out = str(tmp_path / "jsonl_out2")
        spark.range(0, 50, 1, 2).write.format("jsonl_sink").option(
            "path", out
        ).mode("overwrite").save()
        spark.range(0, 10, 1, 1).write.format("jsonl_sink").option(
            "path", out
        ).mode("overwrite").save()
        assert spark.read.json(out).count() == 10


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source round trip (the third columnar format after
    parquet and the clustered/z-ordered layouts): values survive, and a
    predicate on the ORC scan reaches the reader as a pushed filter."""
    from big_data_imdb_classifier_spark.sources.readers import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "lineitem_orc")
    li.write.mode("overwrite").orc(path)

    back = spark.read.orc(path)
    assert back.count() == li.count()
    a = {tuple(r) for r in li.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b

    plan = (
        back.where(F.col("l_quantity") > 40)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "l_quantity" in plan


def test_jsonl_sink_rejects_append(spark, tmp_path):
    """Append would silently replace same-numbered part files; the sink
    must refuse it up front."""
    from big_data_imdb_classifier_spark.sources import pyds

    pyds.register(spark)
    out = str(tmp_path / "jsonl_append")
    df = spark.range(0, 10, 1, 1)
    df.write.format("jsonl_sink").option("path", out).mode(
        "overwrite"
    ).save()
    with pytest.raises(Exception, match="overwrite"):
        df.write.format("jsonl_sink").option("path", out).mode(
            "append"
        ).save()


def test_synthetic_events_stream_matches_batch(spark):
    """Streaming half of the Python DataSource: an availableNow drain of
    the synthetic stream (micro-batched by rows_per_batch) must equal
    the batch read of the same row count, byte for byte."""
    from big_data_imdb_classifier_spark.sources import pyds

    pyds.register(spark)
    n = 3000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 700)   # uneven: forces 5 micro-batches
        .option("max_rows", n)
        .option("partitions", 4)
        .option("seed", 7)
        .load()
    )
    # incremental offsets need a recurring trigger (availableNow asks
    # latestOffset once and would drain a single micro-batch)
    q = (
        stream.writeStream.format("memory")
        .queryName("syn_stream")
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table("syn_stream").count() >= n:
            break
        _time.sleep(0.5)
    q.stop()
    got = spark.table("syn_stream")
    batch = (
        spark.read.format("synthetic_events")
        .option("rows", n)
        .option("partitions", 4)
        .option("seed", 7)
        .load()
    )
    assert got.count() == n
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_synthetic_events_stream_zipf_matches_batch(spark):
    """The zipf option must flow through the STREAM reader too (round-7
    ADVICE: the stream reader dropped it, silently producing uniform
    keys): a drained zipf=2 stream equals the zipf=2 batch read
    byte-for-byte, and its hot key is the skewed one — which the uniform
    draw could never produce."""
    import time as _time

    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.sources import pyds

    pyds.register(spark)
    n = 3000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 1100)
        .option("max_rows", n)
        .option("partitions", 4)
        .option("seed", 3)
        .option("users", 500)
        .option("zipf", 2)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("syn_stream_zipf")
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table("syn_stream_zipf").count() >= n:
            break
        _time.sleep(0.5)
    q.stop()
    got = spark.table("syn_stream_zipf")
    batch = (
        spark.read.format("synthetic_events")
        .option("rows", n).option("partitions", 4)
        .option("seed", 3).option("users", 500).option("zipf", 2)
        .load()
    )
    assert got.count() == n
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    top = got.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert top["user_id"] == 0 and top["count"] > 10 * (n // 500)


def test_jsonl_stream_writer_round_trip(spark, tmp_path):
    """Streaming write half of the Python DataSource: synthetic stream →
    jsonl_sink via writeStream; committed part files carry every row
    exactly once across micro-batches."""
    from big_data_imdb_classifier_spark.sources import pyds

    pyds.register(spark)
    out = str(tmp_path / "jsonl_stream_out")
    n = 2000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 600)
        .option("max_rows", n)
        .option("partitions", 3)
        .option("seed", 11)
        .load()
    )
    q = (
        stream.writeStream.format("jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    import glob
    import time as _time

    deadline = _time.time() + 120

    def _rows():
        back = spark.read.json(out) if glob.glob(out + "/part-*") else None
        return back.count() if back is not None else 0

    while _time.time() < deadline and _rows() < n:
        _time.sleep(0.5)
    q.stop()

    batch = (
        spark.read.format("synthetic_events")
        .option("rows", n)
        .option("partitions", 3)
        .option("seed", 11)
        .load()
    )
    back = spark.read.schema(batch.schema).json(out)
    assert back.count() == n
    assert back.exceptAll(batch).count() == 0
    assert batch.exceptAll(back).count() == 0
    assert not glob.glob(out + "/_tmp-*")  # no orphan tmp files


def test_xml_round_trip_explicit_schema(spark, tmp_path):
    """Spark 4 native XML source/sink: values survive a write/read
    round trip, an explicit schema skips the inference pass, and the
    row tag drives record boundaries. Nulls round-trip as absent
    elements."""
    import pyspark.sql.types as T

    from big_data_imdb_classifier_spark.sources.readers import (
        load_table,
        load_xml,
    )
    from big_data_imdb_classifier_spark.sources.sinks import write_xml

    nat = load_table(spark, SF_SMOKE, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    write_xml(nat, path, row_tag="nation", root_tag="nations")

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = load_xml(spark, path, row_tag="nation", schema=schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in nat.collect()
    }

    inferred = load_xml(spark, path, row_tag="nation")
    assert set(inferred.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    assert inferred.count() == nat.count()


def test_synthetic_events_zipf_keys(spark):
    """zipf=1 draws Zipf(s≈1) user keys for the skew rehearsal: the hot
    key holds ~1/ln(U) of all rows (vs ~1/U uniform), the key domain is
    unchanged, rows stay deterministic across reads and partitionings,
    and every non-key field is identical to the uniform read (the zipf
    option touches ONLY the user_id draw)."""
    import math

    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.sources import pyds

    pyds.register(spark)

    def load(zipf, partitions=8):
        return (
            spark.read.format("synthetic_events")
            .option("rows", 20_000).option("seed", 3)
            .option("users", 500).option("partitions", partitions)
            .option("zipf", zipf).load()
        )

    z = load(1)
    top = z.groupBy("user_id").count().orderBy(F.desc("count")).first()
    expected_hot = 20_000 * math.log(2) / math.log(501)
    # hot key ≈ ln(2)/ln(U+1) of rows; allow wide statistical slack but
    # demand an order of magnitude over the uniform share (40 rows)
    assert top["user_id"] == 0
    assert top["count"] > 10 * (20_000 // 500)
    assert abs(top["count"] - expected_hot) / expected_hot < 0.25
    assert z.agg(F.max("user_id")).first()[0] < 500
    # determinism across partitionings
    z2 = load(1, partitions=3)
    assert z.exceptAll(z2).count() == 0 and z2.exceptAll(z).count() == 0
    # non-key fields identical to the uniform draw
    u = load(0)
    assert (
        z.drop("user_id").exceptAll(u.drop("user_id")).count() == 0
    )
    # heavy mode (s=1.5, Pareto inverse): hot key ~29% of ALL rows
    h = load(2)
    htop = h.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert htop["user_id"] == 0
    assert abs(htop["count"] / 20_000 - 0.29) < 0.05

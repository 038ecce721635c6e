"""Source readers (SURVEY.md §2.1, S1-S6).

Every reader returns a lazy DataFrame with a declared schema — no
``inferSchema`` double-scans (reference anti-pattern, data_utils.py:119),
no driver-side ``json.load`` of whole files (reference anti-pattern,
data_utils.py:66-100). Parquet tables get theirs from the footer
(``footer.footer_schema``), so building a read runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .footer import footer_row_count, footer_schema
from .schemas import TESTDATA_SCHEMAS


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table (columnar scan, pushdown-capable).

    The schema comes from the parquet footer, read on the driver
    (``footer.footer_schema``), and is passed to ``.schema(...)``, so the
    read runs no schema-inference job. The footer also tells which
    timestamp encoding the file uses.

    Normalizes timestamp columns to plain ``TimestampType`` (LTZ)
    regardless of how the parquet file encodes them — the testdata's
    physical encoding has changed between driver rounds, so every
    encoding is handled:

    - ``TIMESTAMP(NANOS)``: Spark can only scan nanos as nano-epoch longs
      (``spark.sql.legacy.parquet.nanosAsLong``); convert via integer
      division to microseconds — exactly DuckDB's nanos→micros truncation,
      so oracle comparisons agree.
    - ``TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false)``: scanned as
      ``TIMESTAMP_NTZ``, which Spark refuses to cast to numeric types.
      Cast to LTZ. The session timezone is pinned to UTC first so the
      wall-clock field values are reinterpreted as UTC instants — the same
      thing DuckDB does when it runs ``epoch(ts)`` on a naive timestamp —
      independent of the host JVM's default zone.
    - ``TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=true)`` and ``INT96``:
      already LTZ, untouched.

    Each conversion is a codegen'd projection on top of the scan;
    pushdown/pruning on other columns is unaffected.
    """
    # These are *runtime* SQL confs; set them on whatever session we are
    # handed (the driver contract passes in a vanilla session that did not
    # go through our factory — round-1 CORRECTNESS failure mode).
    for conf_key, conf_val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # NTZ→LTZ reinterpretation below must not depend on the host JVM's
        # default timezone (driver sessions inherit it).
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(conf_key, conf_val)
        except Exception:
            pass  # conf locked down (e.g. Spark Connect policy) — read may still work
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(path)
    df = spark.read.schema(schema).parquet(path)
    declared = TESTDATA_SCHEMAS.get(name)
    if declared is not None:
        actual = {f.name: f.dataType for f in schema}
        for field in declared.fields:
            if not isinstance(field.dataType, T.TimestampType):
                continue
            scanned = actual.get(field.name)
            if isinstance(scanned, T.LongType):
                # integer `div`: float division would lose precision at
                # nano-epoch magnitudes (~1.7e18 > 2^53).
                df = df.withColumn(
                    field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
                )
            elif isinstance(scanned, T.TimestampNTZType):
                # Session TZ is pinned UTC above, so this cast maps the
                # naive wall-clock to the identical UTC instant.
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Rows of the table ``load_table`` reads for ``name``, from its
    parquet footers on the driver — no Spark job. Query construction
    reads it where a ``count()`` would cost a cluster action (index
    sizing, sample strides, IDF numerators). A missing path or a
    non-parquet payload raises ``ValueError`` naming the path, as the
    schema read in ``load_table`` does."""
    return footer_row_count(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several testdata tables at once; defaults to all of them."""
    use = names or tuple(TESTDATA_SCHEMAS)
    return {n: load_table(spark, sf_dir, n) for n in use}


def load_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    null_value: str | None = "\\N",
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (S1, reference data_utils.py:102-119).

    The IMDB '\\N' sentinel is handled at scan time via ``nullValue``
    instead of a post-hoc ``when(col == '\\N', None)`` projection
    (reference data_utils.py:239) — one less pass, and the scan output is
    already clean for casting.
    """
    reader = spark.read.schema(schema).option("header", header)
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    return reader.csv(path)


def load_csv_glob(
    spark: SparkSession, pattern: str, schema: T.StructType, **kw
) -> DataFrame:
    """Multi-file shard scan (S2).

    The reference globs on the driver and folds a loop of positional
    ``union`` calls (data_utils.py:121-157); Spark globs natively in the
    scan node, so N shards become one multi-file FileScan — no union
    operator, no driver listing, and partition planning sees all files.
    """
    return load_csv(spark, pattern, schema, **kw)


def load_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """Record-oriented JSON scan (S3, reference data_utils.py:47-64)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def load_column_dict_json(
    spark: SparkSession, path: str, columns: list[str], key_name: str = "_idx"
) -> DataFrame:
    """Column-dict JSON pivot (S4) — fully distributed.

    Input shape (reference ``imdb/directing.json``):
    ``{"movie": {"0": "tt..."}, "director": {"0": "nm..."}}`` — parallel
    index→value maps. The reference ``json.load``s the entire file on the
    driver and zips key-intersections in Python (data_utils.py:66-100).

    Spark-first: read the document as one row of MapType columns, explode
    each map to (index, value) rows, and inner-join the columns on the
    index — the join reproduces the reference's key-intersection
    semantics. Caveat: a multiLine JSON document is necessarily scanned
    as ONE row in ONE task, so the scan itself is single-task (bounded by
    one executor's memory — fine for the reference's ~400 KB file, not
    for a multi-GB one, which should be pre-split or stored columnar);
    the explicit repartition after the explode fans the exploded rows out
    so everything downstream of the scan is distributed.
    """
    doc_schema = T.StructType(
        [
            T.StructField(c, T.MapType(T.StringType(), T.StringType()), True)
            for c in columns
        ]
    )
    doc = spark.read.schema(doc_schema).option("multiLine", True).json(path)

    out: DataFrame | None = None
    for c in columns:
        col_df = doc.select(
            F.explode(F.col(c)).alias(key_name, c)
        ).repartition(key_name)
        out = col_df if out is None else out.join(col_df, key_name, "inner")
    assert out is not None
    return out.drop(key_name)


def load_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan via Spark 4's NATIVE xml data source (mainlined from
    spark-xml in 4.0 — no external package). ``row_tag`` names the
    repeating element that becomes one row; attributes surface as
    ``_attr`` columns, nested elements as structs.

    Pass ``schema`` in production: inference buys a full extra pass
    over the files, exactly like the CSV/JSON scans (reference reads
    its inputs with explicit dtypes for the same reason —
    /root/reference/movie_pipeline/data_loader.py). XML parsing is
    per-record CPU-heavy relative to columnar formats; the scan is
    still a distributed multi-file FileScan, but at 100 TB this is an
    INGEST-ONCE format — land it, convert to parquet, query the
    parquet (see sinks.compact_parquet for the follow-up step).
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)

"""Parquet footers read on the driver: table layout, Spark schema, row
count — metadata only, no Spark job.

A table path is either one parquet file or a Spark-written directory of
part files; ``_part_files`` is the one place that knows the difference.
``footer_schema`` builds the ``StructType`` that
``spark.read.parquet(path).schema`` would infer (``mergeSchema`` off:
Spark reads the first part file's footer in path order), so a reader
can pass it to ``.schema(...)`` and skip Spark's schema-inference job.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

# Footer key under which Spark stores the schema it wrote; Spark's own
# inference prefers it over converting the Parquet schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _part_files(path: str) -> list[str]:
    """The parquet files Spark scans for ``path``: the file itself, or
    the data files of a directory in path order (names starting with
    ``_`` or ``.``, e.g. ``_SUCCESS`` and ``.crc`` files, are skipped as
    Spark skips them). Raises ``ValueError`` when there is none."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if not n.startswith(("_", "."))
            and os.path.isfile(os.path.join(path, n))
        )
        if files:
            return files
    raise ValueError(f"no parquet file at {path}")


def _read_footer(file: str) -> pq.FileMetaData:
    """One file's footer; ``ValueError`` naming the file if pyarrow
    cannot open it (missing, not parquet, corrupt)."""
    try:
        return pq.read_metadata(file)
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"cannot read parquet footer of {file}: {exc}") from exc


def footer_row_count(path: str) -> int:
    """Rows in the table at ``path``: ``num_rows`` summed over the part
    footers."""
    return sum(_read_footer(f).num_rows for f in _part_files(path))


def footer_schema(path: str) -> T.StructType:
    """The Spark schema of the table at ``path``, from the first part
    file's footer, equal to what ``spark.read.parquet(path).schema``
    infers with the session defaults plus
    ``spark.sql.legacy.parquet.nanosAsLong`` (which ``load_table`` sets):
    every field nullable, as Spark makes file-source schemas.

    A Spark-written file carries its schema in the footer and that is
    used as is. Otherwise each leaf column maps from its Parquet
    physical and logical type (INT96 → timestamp, a NULL-typed column
    → int, ``TIMESTAMP(NANOS)`` → bigint, ``isAdjustedToUTC=false`` →
    timestamp_ntz) and the Arrow schema supplies only the nesting.
    A type with no mapping raises ``ValueError`` naming the column, the
    type and the path.
    """
    file = _part_files(path)[0]
    md = _read_footer(file)
    stored = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return _nullable(T.StructType.fromJson(json.loads(stored)))
    leaves = iter(md.schema.column(i) for i in range(md.num_columns))
    arrow = md.schema.to_arrow_schema()
    return T.StructType(
        [T.StructField(f.name, _spark_type(f.type, leaves, file), True) for f in arrow]
    )


def _spark_type(arrow_type: pa.DataType, leaves, file: str) -> T.DataType:
    """Nesting from Arrow, leaves from the Parquet columns, which come
    in the same depth-first order."""
    if pa.types.is_struct(arrow_type):
        return T.StructType(
            [
                T.StructField(f.name, _spark_type(f.type, leaves, file), True)
                for f in arrow_type
            ]
        )
    if pa.types.is_map(arrow_type):
        key = _spark_type(arrow_type.key_type, leaves, file)
        return T.MapType(key, _spark_type(arrow_type.item_type, leaves, file), True)
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        return T.ArrayType(_spark_type(arrow_type.value_type, leaves, file), True)
    return _leaf_type(next(leaves), file)


def _leaf_type(col: pq.ColumnSchema, file: str) -> T.DataType:
    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if physical == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if physical == "FLOAT" and kind == "None":
        return T.FloatType()
    if physical == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if physical == "INT96" and kind == "None":
        return T.TimestampType()
    if physical == "INT32":
        if kind in ("None", "Null"):
            return T.IntegerType()
        if kind == "Date":
            return T.DateType()
        if kind == "Int":
            signed = {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType()}
            unsigned = {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType()}
            mapped = (signed if logical["isSigned"] else unsigned).get(
                logical["bitWidth"]
            )
            if mapped is not None:
                return mapped
    if physical == "INT64":
        if kind == "None" or (kind == "Int" and logical["isSigned"]):
            return T.LongType()
        if kind == "Int":
            return T.DecimalType(20, 0)
        if kind == "Timestamp":
            if logical["timeUnit"] == "nanoseconds":
                return T.LongType()
            if logical["isAdjustedToUTC"]:
                return T.TimestampType()
            return T.TimestampNTZType()
    if physical == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON"):
            return T.StringType()
        if kind in ("None", "BSON"):
            return T.BinaryType()
    if physical == "FIXED_LEN_BYTE_ARRAY" and kind == "None":
        return T.BinaryType()
    raise ValueError(
        f"no Spark type for parquet column {col.path!r} "
        f"({physical}, {col.logical_type}) in {file}"
    )


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable —
    what Spark does to a file source's schema."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt

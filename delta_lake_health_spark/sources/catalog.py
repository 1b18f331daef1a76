"""Parquet table catalog over the driver-generated testdata layout.

``load(spark, sf_dir, name)`` returns a DataFrame for one table;
``register_all`` creates temp views so every query is also runnable
via ``spark.sql``. Reads are plain ``spark.read.parquet`` so Catalyst
gets full predicate pushdown / column pruning on the scan. The schema
comes from the file's parquet footer, read on the driver
(``footer_schema``), so a load launches no schema-inference job.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_PRIMITIVES = (
    (pa.types.is_boolean, T.BooleanType),
    (pa.types.is_int8, T.ByteType),
    (pa.types.is_int16, T.ShortType),
    (pa.types.is_int32, T.IntegerType),
    (pa.types.is_int64, T.LongType),
    (pa.types.is_float32, T.FloatType),
    (pa.types.is_float64, T.DoubleType),
    (lambda t: pa.types.is_string(t) or pa.types.is_large_string(t), T.StringType),
    (lambda t: pa.types.is_binary(t) or pa.types.is_large_binary(t), T.BinaryType),
    (pa.types.is_date32, T.DateType),
)


def _timestamp_type(column: pq.ColumnSchema) -> T.DataType:
    """Spark's type for a parquet timestamp leaf: INT96 and UTC-adjusted
    instants are TIMESTAMP, local date-times TIMESTAMP_NTZ, and NANOS
    the raw long (the reader's ``nanosAsLong`` mode)."""
    if column.physical_type == "INT96":
        return T.TimestampType()
    logical = json.loads(column.logical_type.to_json())
    if logical.get("timeUnit") == "nanoseconds":
        return T.LongType()
    return T.TimestampType() if logical["isAdjustedToUTC"] else T.TimestampNTZType()


def _spark_type(t: pa.DataType, leaf: pq.ColumnSchema | None) -> T.DataType | None:
    """The type Spark infers for arrow type ``t`` (everything nullable),
    or None for a type this mapping does not cover. ``leaf`` is the
    parquet column of a top-level timestamp."""
    for test, spark_type in _PRIMITIVES:
        if test(t):
            return spark_type()
    if pa.types.is_timestamp(t):
        return None if leaf is None else _timestamp_type(leaf)
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _spark_type(t.value_type, None)
        return None if elem is None else T.ArrayType(elem, True)
    if pa.types.is_struct(t):
        fields = [_spark_type(t.field(i).type, None) for i in range(t.num_fields)]
        if any(f is None for f in fields):
            return None
        return T.StructType(
            [T.StructField(t.field(i).name, f, True) for i, f in enumerate(fields)]
        )
    return None


def footer_schema(path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for the single
    parquet file ``path``, read from its footer with pyarrow: no Spark
    job. None for a directory or a type the mapping does not cover; the
    caller then lets Spark infer."""
    if not os.path.isfile(path):
        return None
    with pq.ParquetFile(path) as pf:
        parquet, arrow = pf.schema, pf.schema_arrow
    leaves = {c.path: c for c in (parquet.column(i) for i in range(len(parquet)))}
    fields = []
    for f in arrow:
        t = _spark_type(f.type, leaves.get(f.name))
        if t is None:
            return None
        fields.append(T.StructField(f.name, t, True))
    return T.StructType(fields)


def _read(spark: SparkSession, path: str) -> DataFrame:
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which the
        # vectorized reader only accepts as raw long nanos) and as plain
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) in newer testdata drops.
        # Normalize both to a session-TZ TIMESTAMP: long nanos become epoch
        # micros (same truncation DuckDB applies); NTZ micros cast 1:1 under
        # the engine's UTC session timezone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = _read(spark, table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, T.LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read(spark, table_path(sf_dir, name))


def load_many(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load(spark, sf_dir, n) for n in names)


def register_all(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

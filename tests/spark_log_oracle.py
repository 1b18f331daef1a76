"""An independent Delta log reader for parity tests: Spark's JSON and
parquet readers over ``_delta_log``, with the add-wins reconciliation as
a window over versions.

The package answers every log question from the driver-side replay in
``sources/log_replay.py``. Tests that check those answers compare them
with this module, which shares no replay code with it: commits are read
by ``spark.read.json`` under ``ACTION_SCHEMA``, checkpoints (v1, multi-part
and v2 with sidecars) by ``spark.read.parquet``, and liveness is decided
per path by a ``row_number`` window over (version desc, add before
remove)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructType
from pyspark.sql.window import Window

from delta_lake_health_spark.sources import log_replay
from delta_lake_health_spark.sources.delta_log import ACTION_SCHEMA

_STR_MAP = MapType(StringType(), StringType())


def _conform_column(col, src_type, dst_type):
    """Align a checkpoint column to ACTION_SCHEMA's (possibly wider) type.

    Spark cannot cast a struct with fewer fields to a wider struct, so
    structs are rebuilt field by field: present subfields conformed
    recursively, missing ones null-filled, NULL struct values kept NULL
    (a struct of nulls would resurrect an absent action)."""
    if col is None or src_type is None:
        return F.lit(None).cast(dst_type)
    if isinstance(dst_type, StructType):
        if not isinstance(src_type, StructType):
            return F.lit(None).cast(dst_type)
        src_fields = {f.name: f.dataType for f in src_type.fields}
        rebuilt = F.struct(
            *[
                _conform_column(
                    col.getField(f.name) if f.name in src_fields else None,
                    src_fields.get(f.name),
                    f.dataType,
                ).alias(f.name)
                for f in dst_type.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None).cast(dst_type)).otherwise(rebuilt)
    return col.cast(dst_type)


def _read_v2_checkpoint(spark: SparkSession, table_path: str, info: dict) -> DataFrame:
    """A V2 checkpoint as one DataFrame shaped like a V1 checkpoint: the
    top-level file's non-index rows plus its sidecars' rows."""
    log_dir = os.path.join(table_path, log_replay.LOG_DIR)
    top = spark.read.parquet(os.path.join(log_dir, info["path"]))
    side_names = log_replay.sidecar_names(table_path, info)
    others = top.where(
        F.col("sidecar").isNull() & F.col("checkpointMetadata").isNull()
    ).drop("checkpointMetadata", "sidecar")
    if not side_names:
        return others
    sides = spark.read.parquet(
        *[os.path.join(log_dir, "_sidecars", n) for n in side_names]
    )
    return others.unionByName(sides, allowMissingColumns=True)


def actions(spark: SparkSession, table_path: str, use_checkpoint: bool = True) -> DataFrame:
    """Every action tagged with its version: the checkpoint's rows plus
    the commit JSONs after it, or every commit JSON when
    ``use_checkpoint`` is False."""
    log_dir = os.path.join(table_path, log_replay.LOG_DIR)
    info = log_replay.last_checkpoint_info(table_path) if use_checkpoint else None
    ckpt_version = None if info is None else int(info["version"])
    json_files = [
        log_replay.commit_path(table_path, v)
        for v in log_replay.commit_versions(table_path)
        if ckpt_version is None or v > ckpt_version
    ]
    parts = []
    if ckpt_version is not None:
        if info.get("format") == "v2":
            ckpt = _read_v2_checkpoint(spark, table_path, info)
        else:
            ckpt = spark.read.parquet(
                *[os.path.join(log_dir, n) for n in log_replay.checkpoint_file_names(info)]
            )
        ver = (
            F.col("version").cast("long")
            if "version" in ckpt.columns
            else F.lit(ckpt_version).cast("long")
        )
        src_types = {f.name: f.dataType for f in ckpt.schema.fields}
        parts.append(
            ckpt.select(
                *[
                    _conform_column(
                        F.col(c) if c in src_types else None,
                        src_types.get(c),
                        ACTION_SCHEMA[c].dataType,
                    ).alias(c)
                    for c in ACTION_SCHEMA.fieldNames()
                ],
                ver.alias("version"),
            )
        )
    if json_files:
        df = spark.read.schema(ACTION_SCHEMA).option("mode", "FAILFAST").json(json_files)
        parts.append(
            df.withColumn(
                "version",
                F.regexp_extract(F.col("_metadata.file_path"), r"(\d{20})\.json$", 1).cast("long"),
            )
        )
    if not parts:
        raise FileNotFoundError(f"empty delta log: {log_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _newest_per_path(acts: DataFrame, add_cols: list, remove_cols: list) -> DataFrame:
    """Per path, the top action by (version desc, add before remove),
    with an ``is_add`` flag."""
    adds = acts.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path"), *add_cols, "version", F.lit(1).alias("is_add")
    )
    removes = acts.where(F.col("remove").isNotNull()).select(
        F.col("remove.path").alias("path"), *remove_cols, "version", F.lit(0).alias("is_add")
    )
    w = Window.partitionBy("path").orderBy(F.desc("version"), F.desc("is_add"))
    return (
        adds.unionByName(removes)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def active_files(spark: SparkSession, table_path: str, as_of: int | None = None) -> DataFrame:
    """(path, partitionValues, size, num_records, version) per live file
    at ``as_of``."""
    use_ckpt = log_replay.Snapshot(table_path).replays_checkpoint(as_of)
    acts = actions(spark, table_path, use_checkpoint=use_ckpt)
    if as_of is not None:
        acts = acts.where(F.col("version") <= as_of)
    return (
        _newest_per_path(
            acts,
            [
                F.col("add.partitionValues").alias("partitionValues"),
                F.col("add.size").alias("size"),
                F.get_json_object("add.stats", "$.numRecords").cast("long").alias("num_records"),
            ],
            [
                F.lit(None).cast(_STR_MAP).alias("partitionValues"),
                F.lit(None).cast("long").alias("size"),
                F.lit(None).cast("long").alias("num_records"),
            ],
        )
        .where(F.col("is_add") == 1)
        .drop("is_add")
    )


def tombstones(spark: SparkSession, table_path: str) -> DataFrame:
    """(path, version, deletionTimestamp) per file whose newest action is
    a remove."""
    return (
        _newest_per_path(
            actions(spark, table_path),
            [F.lit(None).cast("long").alias("deletionTimestamp")],
            [F.col("remove.deletionTimestamp").alias("deletionTimestamp")],
        )
        .where(F.col("is_add") == 0)
        .select("path", "version", "deletionTimestamp")
    )

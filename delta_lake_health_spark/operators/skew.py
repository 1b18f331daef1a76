"""Partition-skewness operators.

Same semantics as the reference's ``DeltaPythonAnalyzer.analyze_skewness``
(reference: src/delta_lake_health/health_analyzers/delta_python_analyzer.py:33-88):

- ``max``     method: ``(max_count - min_count) / max_count``
- ``average`` method: mean absolute deviation of partition counts / mean

but computed Spark-first: the reference materialises the whole table into
pandas/Polars on one node and iterates partition counts in Python; here the
counts are ONE distributed ``groupBy`` (map-side partial agg) and the
normalised skew is ONE tiny second-stage aggregate over the per-partition
counts — the only thing that ever reaches the driver is the final scalar
row. That works unchanged at 100 TB: stage 1 shuffles |partitions| rows,
stage 2 reduces them to one.

``skew_metrics`` is the same formula in plain Python over a
{partition_key: count} dict, for callers that already hold the counts
(the health report derives them from the log's per-file record counts).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SKEW_THRESHOLD_DEFAULT = 0.1


def records_per_partition(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """(partition_key string, cnt long) — key rendering matches the
    reference: single column → plain str, multi column → str(tuple)."""
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    if len(partition_cols) == 1:
        key = F.col(partition_cols[0]).cast("string")
    else:
        key = F.concat(
            F.lit("("),
            F.concat_ws(
                ", ", *[F.concat(F.lit("'"), F.col(c).cast("string"), F.lit("'")) for c in partition_cols]
            ),
            F.lit(")"),
        )
    return (
        df.groupBy(key.alias("partition_key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def skewness_agg(counts: DataFrame) -> DataFrame:
    """One-row DataFrame with both skew methods + partition count, from a
    (partition_key, cnt) DataFrame. Two-pass-free: mean is computed in the
    same aggregate via sum/count, abs-dev needs the mean first, so this is
    one extra tiny shuffle over |partitions| rows (never over data rows).
    """
    stats = counts.agg(
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.avg("cnt").alias("mean_cnt"),
        F.count(F.lit(1)).alias("n_partitions"),
    )
    dev = (
        counts.join(F.broadcast(stats))
        .agg(
            F.avg(F.abs(F.col("cnt") - F.col("mean_cnt"))).alias("avg_abs_dev"),
            F.first("max_cnt").alias("max_cnt"),
            F.first("min_cnt").alias("min_cnt"),
            F.first("mean_cnt").alias("mean_cnt"),
            F.first("n_partitions").alias("n_partitions"),
        )
    )
    skew_max = F.when(
        (F.col("n_partitions") <= 1) | (F.col("max_cnt") == 0), F.lit(0.0)
    ).otherwise((F.col("max_cnt") - F.col("min_cnt")) / F.col("max_cnt"))
    skew_avg = F.when(
        (F.col("n_partitions") <= 1) | (F.col("mean_cnt") == 0), F.lit(0.0)
    ).otherwise(F.col("avg_abs_dev") / F.col("mean_cnt"))
    return dev.select(
        F.round(skew_max, 6).alias("skewness_max"),
        F.round(skew_avg, 6).alias("skewness_average"),
        F.col("n_partitions").cast("long").alias("n_partitions"),
    )


def partition_key(values: list[str | None]) -> str | None:
    """The ``records_per_partition`` key of one partition's values, in
    Python: single column → the value, multi column → ``('a', 'b')``
    with nulls skipped (``concat_ws`` drops them)."""
    if len(values) == 1:
        return values[0]
    return "(" + ", ".join(f"'{v}'" for v in values if v is not None) + ")"


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the decimal
    string of ``x``."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def skew_metrics(
    counts: dict,
    partition_cols: list[str],
    threshold: float = SKEW_THRESHOLD_DEFAULT,
    collect_partitions: bool = True,
) -> dict:
    """Reference-shaped dict (delta_python_analyzer.py:80-86) from
    {partition_key: count} — ``skewness_agg``'s formulas on the driver:
    the counts are one entry per partition, never data rows."""
    vals = list(counts.values())
    n = len(vals)
    skew_max = skew_avg = 0.0
    if n > 1:
        mx, mn = max(vals), min(vals)
        mean = float(sum(vals)) / n
        if mx != 0:
            skew_max = (mx - mn) / mx
        if mean != 0:
            skew_avg = sum(abs(c - mean) for c in vals) / n / mean
    skew_max, skew_avg = _round6(skew_max), _round6(skew_avg)
    out = {
        "partition_columns": list(partition_cols),
        "skewness_max": skew_max,
        "skewness_average": skew_avg,
        "is_skewed": skew_max > threshold,
    }
    if collect_partitions:
        out["records_per_partition_dict"] = dict(counts)
    return out

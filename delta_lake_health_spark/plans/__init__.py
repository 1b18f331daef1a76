"""Registry query plans, one module per family.

Shared here: the bound on the state an iterative plan may pull to the
driver. A plan whose iterations run over a small materialized state
(LR training's distinct feature tuples, dedup's candidate pairs) collects
that state once with :func:`collect_bounded` and iterates in Python; past
``DRIVER_STATE_ROWS`` it keeps its distributed loop, so driver memory
stays bounded at any corpus size.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Rows of driver-side iteration state; a few tens of MB of arrow columns.
DRIVER_STATE_ROWS = 1_000_000


def collect_bounded(df: DataFrame, query: str) -> pa.Table | None:
    """``df`` as one arrow table when it has at most ``DRIVER_STATE_ROWS``
    rows, from one action that never pulls more than one row past the
    bound; None, with a warning naming ``query``, when it is larger."""
    table = df.limit(DRIVER_STATE_ROWS + 1).toArrow()
    if table.num_rows > DRIVER_STATE_ROWS:
        warnings.warn(
            f"{query}: more than {DRIVER_STATE_ROWS} rows of state; "
            "running the distributed loop",
            stacklevel=2,
        )
        return None
    return table


def local_relation(
    spark: SparkSession, columns: dict[str, list], schema: StructType
) -> DataFrame:
    """``columns`` as a DataFrame of ``schema`` built from an arrow table
    (a LocalRelation: no Python worker, no Spark job to build or read)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.table(columns, schema=to_arrow_schema(schema)), schema
    )

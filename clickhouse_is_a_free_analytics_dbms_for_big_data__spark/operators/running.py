"""Block-scoped helper shims: runningDifference, runningAccumulate,
rowNumberInAllBlocks, blockNumber.

Reference: Functions/FunctionsMiscellaneous.cpp — these operate within
a processing block and are documented as order-dependent helpers.
Spark has no stable block order, so the shims take an explicit
ordering (and optional partitioning) and use Window functions — the
deterministic superset (SURVEY.md §2.5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _window(order_by: Sequence[Column], partition_by: Sequence[str] | None):
    w = Window.orderBy(*order_by)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return w


def running_difference(
    df: DataFrame,
    col: str,
    order_by: Sequence[Column],
    partition_by: Sequence[str] | None = None,
    out: str | None = None,
) -> DataFrame:
    """runningDifference(x): x - lag(x), 0 for the first row."""
    w = _window(order_by, partition_by)
    name = out or f"runningDifference_{col}"
    return df.withColumn(
        name, F.col(col) - F.lag(col, 1, None).over(w)
    ).withColumn(name, F.coalesce(F.col(name), F.lit(0)))


def running_accumulate(
    df: DataFrame,
    col: str,
    order_by: Sequence[Column],
    partition_by: Sequence[str] | None = None,
    out: str | None = None,
) -> DataFrame:
    """runningAccumulate: cumulative sum in order (reference applies a
    -State aggregate cumulatively; sum is the canonical use)."""
    w = _window(order_by, partition_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out or f"runningAccumulate_{col}", F.sum(col).over(w))


def block_number(df: DataFrame, out: str = "block_number") -> DataFrame:
    """Partition id — the closest Spark analog of a block id."""
    return df.withColumn(out, F.spark_partition_id())


def row_number_in_block(df: DataFrame, out: str = "row_number_in_block") -> DataFrame:
    """rowNumberInBlock (FunctionsMiscellaneous.cpp): 0-based row index
    within the current block.  monotonically_increasing_id packs
    (partition_id << 33) | row_in_partition, so the low 33 bits are
    exactly the within-partition row number — no window, no shuffle."""
    return df.withColumn(
        out, F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    )

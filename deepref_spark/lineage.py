"""Per-partition lineage + metrics rows (north_rule; SURVEY.md §2.8).

The reference tracks a driver-side AverageMeter (framework/utils.py:1-29).
Distributed equivalent: a grouped count of rows per physical partition,
emitted as side rows into a metrics table. Metrics rows carry
(stage, partition_id, rows) — enough to reconstruct
per-partition balance (the skew evidence) after a run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """One row per physical partition: (stage, partition_id, rows).
    Built-in only: spark_partition_id + groupBy, no python boundary."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(F.lit(stage).alias("stage"), "partition_id", "rows")
    )

"""Skew-aware aggregation (SURVEY.md §2.8 / §4.1).

Hot canonical entities (a handful of surface forms appearing in a large
fraction of triples) make a plain groupBy(entity) shuffle lopsided. The
standard fix, expressed once here: two-phase aggregation with a salt
column — partial aggregate on (key, salt), then final aggregate on key.
Result is identical to the unsalted groupBy (the DuckDB oracle IS the
unsalted SQL), only the shuffle distribution changes.

AQE's skew-join handling covers joins; this helper covers aggregations,
which AQE does not rebalance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_SALT = 16


def salted_count(df: DataFrame, key_cols: list[str], salt: int = DEFAULT_SALT,
                 count_alias: str = "n") -> DataFrame:
    """count(*) by key, two-phase over a deterministic row-hash salt."""
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_pc"))
    return partial.groupBy(*key_cols).agg(F.sum("_pc").cast("long").alias(count_alias))

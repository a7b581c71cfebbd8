"""Uniqueness check on a declared key, e.g. (conv_id, turn_idx)
(BASELINE.json north_star).

Hash-aggregate shape: groupBy(keys).count() gets map-side partial
aggregation, so even a hot key contributes one partial row per input
partition — no salting needed for counting dupes. AQE handles any
residual reduce-side skew (skewed-partition split is enabled in
session.py)."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def uniqueness_violations(df: DataFrame, keys: Sequence[str],
                          sample_per_key: int = 0) -> DataFrame:
    """Return one row per duplicated key with its multiplicity.

    Output: <keys...>, dup_count (only keys appearing more than once).
    """
    out = (df
           .groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("dup_count"))
           .filter(F.col("dup_count") > 1))
    return out


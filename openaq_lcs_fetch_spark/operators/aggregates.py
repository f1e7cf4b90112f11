"""Aggregation operators (SURVEY.md §2.5 A1-A4) + windowed rollups
(A6/C7/T6).

All are plain groupBy/agg so Spark's partial+final hash aggregation
(map-side combine) applies — the reference's single-process array math
(measure.js:20-28 running min/max) becomes a two-phase distributed agg.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def watermark_bounds(df: DataFrame, ts_col: str, keys: Sequence[str] = ()) -> DataFrame:
    """A1/A2: running min/max watermark of the batch (Measures.push
    maintains from/to, measure.js:20-28; greatestTimestamp cmu.js:89-91).
    """
    aggs = [
        F.min(ts_col).alias("from_ts"),
        F.max(ts_col).alias("to_ts"),
        F.count(F.lit(1)).alias("n"),
    ]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def distinct_count(df: DataFrame, keys: Sequence[str], col: str, approx: bool = False) -> DataFrame:
    """A4: distinct cardinality (aernode.js:115 Set().size). Exact for
    oracle parity; ``approx=True`` switches to HLL for the 100 TB path.
    """
    agg = (
        F.approx_count_distinct(col) if approx else F.countDistinct(col)
    ).alias(f"n_{col}")
    return df.groupBy(*keys).agg(agg)


def hourly_rollup(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    hour_ending: bool = False,
) -> DataFrame:
    """A6/T6: tumbling-hour aggregation; ``hour_ending=True`` relabels
    hour-beginning → hour-ending (+1h) like data354.js:108-110 /
    aernode.js:119 / iqair.js:142 (C7).
    """
    bucket = F.date_trunc("hour", F.col(ts_col))
    if hour_ending:
        bucket = bucket + F.expr("INTERVAL 1 HOUR")
    # exact-decimal average (registry parity rule: raw double sums are
    # partition-order dependent in the last ulp); min/max are exact
    # selections and need no rounding
    return (
        df.groupBy(bucket.alias("hour"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col(value_col).cast("decimal(27,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )

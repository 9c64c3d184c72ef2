"""Time-rollup rows: the hypertable continuous-aggregate analog.

The reference materializes exactly one derived layout (the
partitioned log table). A query layer usually also wants pre-aggregated
rollups (per-hour/day counters) kept current as batches land. A rollup
row holds MERGEABLE aggregates only (count, sum, min, max — avg is
derived at read time as sum/count), so the rollup of a union is the
re-aggregation of the parts' rollups: ``run_stream_rollup`` writes one
contribution per micro-batch with :func:`rollup_events`, and
``read_stream_rollup`` merges them with :func:`_merge` — no
reprocessing of raw history. Rows carry the window's date as ``dt``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROLLUP_AGGS = ("n_rows", "sum_value", "min_value", "max_value")


def rollup_events(
    df: DataFrame,
    window_seconds: int = 3600,
    by: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One rollup row per (window, by...): mergeable aggregates +
    the dt partition column."""
    by = list(by)
    w = (F.unix_timestamp(F.col(ts_col)) - F.pmod(F.unix_timestamp(F.col(ts_col)), F.lit(window_seconds))).alias("w")
    out = (
        df.select(w, *by, F.col(value_col))
        .groupBy("w", *by)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )
    return out.withColumn(
        "dt", F.date_format(F.timestamp_seconds(F.col("w")), "yyyyMMdd")
    )


def _merge(rollup_rows: DataFrame, by: Sequence[str]) -> DataFrame:
    """Re-aggregate rollup rows with the same key — the mergeability
    that makes the update incremental."""
    return rollup_rows.groupBy("w", *by, "dt").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )

"""G1-G6 windowing + D1 dedup semantics tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3logs_parquet_spark.config import ALLBUCKETS, EngineConfig
from s3logs_parquet_spark.functions.timeops import (
    align_left,
    partition_prefix,
    strftime_to_java,
)
from s3logs_parquet_spark.operators.dedup import dedup_log_rows
from s3logs_parquet_spark.operators.windows import with_agg_window, with_bucket_key


def test_align_boundaries(spark):
    # left-closed alignment at k*900-1, k*900, k*900+1 (FIXTURES.md §1)
    k = 1715500800 // 900
    df = spark.createDataFrame(
        [(k * 900 - 1,), (k * 900,), (k * 900 + 1,)], ["e"]
    )
    rows = df.select(align_left(F.col("e"), 900).alias("l")).collect()
    assert [r["l"] for r in rows] == [(k - 1) * 900, k * 900, k * 900]


def test_strftime_translation(spark):
    assert strftime_to_java("%Y-%m-%d-%H-%M-%S") == "yyyy'-'MM'-'dd'-'HH'-'mm'-'ss"
    ts = F.timestamp_seconds(F.lit(1715500800))
    row = spark.range(1).select(
        partition_prefix(ts, "%Y-%m-%d-%H-%M-%S").alias("s"),
        partition_prefix(ts, "year=%Y/month=%m/day=%d/hour=%H").alias("p"),
    ).collect()[0]
    assert row["s"] == "2024-05-12-08-00-00"
    assert row["p"] == "year=2024/month=05/day=12/hour=08"


def test_partition_prefix_tz_offset(spark):
    # UTC+8 shifts the partition hour east (reference transform.sh:19 usage)
    df = spark.createDataFrame([(1715500800,)], ["e"])
    row = df.select(
        partition_prefix(
            F.timestamp_seconds(F.col("e")), "year=%Y/month=%m/day=%d/hour=%H", 8 * 3600
        ).alias("p")
    ).collect()[0]
    assert row["p"] == "year=2024/month=05/day=12/hour=16"


def test_window_assignment_unordered_input(spark):
    # windowing must not depend on input order (FIXTURES.md adversarial)
    ts = [1715500800 + d for d in (3000, 5, 2999, 900, 899, 1800)]
    df = spark.createDataFrame([(t,) for t in ts], ["epoch"]).select(
        F.timestamp_seconds("epoch").alias("ts")
    )
    w = with_agg_window(df, align_seconds=900)
    counts = {
        r["agg_window"]: r["count"] for r in w.groupBy("agg_window").count().collect()
    }
    base = 1715500800
    assert counts == {base: 2, base + 900: 1, base + 1800: 1, base + 2700: 2}
    assert sum(counts.values()) == len(ts)  # G6 invariant


def test_bucket_key_merge_modes(spark):
    df = spark.createDataFrame([("a",), ("b",)], ["Bucket"])
    merged = with_bucket_key(df, EngineConfig(merge_orig_buckets=True))
    assert {r["bucket_key"] for r in merged.collect()} == {ALLBUCKETS}
    split = with_bucket_key(df, EngineConfig(merge_orig_buckets=False))
    assert {r["bucket_key"] for r in split.collect()} == {"a", "b"}


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["bucket_key", "agg_window", "RequestID", "payload"])


def test_dedup_within_window(spark):
    cfg = EngineConfig()
    df = _mk(
        spark,
        [
            ("ALL", 0, "R1", "x"),
            ("ALL", 0, "R1", "x"),  # dup in window → dropped
            ("ALL", 0, "R2", "y"),
            ("ALL", 900, "R1", "x"),  # same id, next window → kept (D1 is window-scoped)
            ("B2", 0, "R1", "x"),  # same id+window, other bucket → kept
        ],
    )
    out = dedup_log_rows(df, cfg)
    assert out.count() == 4
    assert out.filter((F.col("agg_window") == 0) & (F.col("RequestID") == "R1")).count() == 2


def test_dedup_disabled_short_circuit(spark):
    cfg = EngineConfig(deduplication=False)
    df = _mk(spark, [("ALL", 0, "R1", "x"), ("ALL", 0, "R1", "x")])
    assert dedup_log_rows(df, cfg) is df

"""Windowing / grouping operators G1-G5 (SURVEY.md §2.5).

The reference's grouping machinery — sorted-vector range splits
(utils.rs:616-645), per-(bucket, window) file groups (:982-1022),
streaming BTreeMap partition maps (output.rs:673-693) — all collapse
into DataFrame column derivations + groupBy/partitionBy: Spark's hash
exchange IS the reference's staging tier. Crucially we do NOT replicate
the reference's global sort (O1, utils.rs:607): it exists only to make
range-splitting easy single-threaded, and at 100 TB a global sort is a
needless full shuffle. Window assignment here is a stateless map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import ALLBUCKETS, EngineConfig
from s3logs_parquet_spark.functions.timeops import window_start
from s3logs_parquet_spark.schema import BUCKET_FIELD


def with_agg_window(
    df: DataFrame, ts_col: str = "ts", align_seconds: int = 900, out_col: str = "agg_window"
) -> DataFrame:
    """G1/G2 — assign each row its tumbling-window start (epoch s).

    Replaces the reference's sort+split (utils.rs:607-645): the window id
    is a pure function of the timestamp, so no ordering requirement and
    no shuffle; downstream groupBy/partitionBy hashes on it.
    """
    return df.withColumn(out_col, window_start(F.col(ts_col), align_seconds))


def bucket_key(cfg: EngineConfig, bucket: Column | None = None) -> Column:
    """G3 — grouping bucket: the row's source bucket, or the ALLBUCKETS
    sentinel when merge is on (default true; s3logs/src/utils.rs:693-700,
    README.md:54). Positional under a config-file schema: the source
    bucket is the 2nd loaded field (utils.rs:44), whatever its name;
    ``bucket`` overrides that column (the batch ETL reads it straight
    from the token array)."""
    if cfg.merge_orig_buckets:
        return F.lit(ALLBUCKETS)
    if bucket is None:
        bucket = F.col(cfg.schema_fields[1] if cfg.schema_fields else BUCKET_FIELD)
    return bucket


def with_bucket_key(
    df: DataFrame, cfg: EngineConfig, out_col: str = "bucket_key", bucket: Column | None = None
) -> DataFrame:
    return df.withColumn(out_col, bucket_key(cfg, bucket))

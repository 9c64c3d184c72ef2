"""Parquet table loader for the testdata star schema.

The events table is written with TIMESTAMP(NANOS), which Spark's
parquet reader rejects outright. We flip the documented escape hatch
(spark.sql.legacy.parquet.nanosAsLong) at runtime, read the physical
INT64 nanos, and convert to a proper timestamp at microsecond
precision (floor) — matching how DuckDB surfaces TIMESTAMP_NS to
clients. All other tables pass through untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from s3logs_parquet_spark.session import prebuilt


TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The scan of one testdata table, resolved once per session.

    ``spark.read.parquet`` resolves the schema from the file footers
    synchronously on the driver, 41-52 ms per call at sf0.1. A query
    that mentions a table several times pays that each time: holding
    the resolved scan cuts ``tpch_q8``'s construction from 451 ms to
    104 ms. The entry is plan state only (``session.prebuilt``): every
    execution still reads the parquet files, and testdata tables are
    immutable by contract."""
    return prebuilt(spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # Integer floor-division: (ts/1000).cast('long') goes through
        # float64, whose ulp at ~1.7e18 nanos is 0.25 — sub-microsecond
        # remainders can round UP across the integer boundary, diverging
        # from DuckDB's truncation by 1µs. `div` stays in int64.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every testdata table as a temp view so users get the
    full ad-hoc `spark.sql` layer (the reference's output exists to be
    queried by Athena/Hadoop; this is the equivalent surface here)."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_log_table(
    spark: SparkSession, parquet_path: str, view: str = "s3_access_logs"
) -> DataFrame:
    """Expose an engine-produced log table for SQL (partition pruning on
    year/month/day/hour comes from the Hive layout)."""
    df = spark.read.parquet(parquet_path)
    df.createOrReplaceTempView(view)
    return df

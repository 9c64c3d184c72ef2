"""Batch sources S1-S4 (SURVEY.md §2.1).

The reference's scans are: S3 GET streamed as lines (S1,
transfer.rs:226-250), local buffered file read (S2, utils.rs:573-582),
a validity/quiescence-filtered directory listing (S3, utils.rs:911-980)
and multi-file concat (S4, utils.rs:1195-1198). In Spark S1/S2/S4 are
all the same `spark.read.text` over one-or-many paths/globs (s3a:// or
file://). S3's quiescence-filtered listing has no counterpart: the
staging tier is Parquet, which `transform --staged` reads directly.

`input_file_name()` is exposed so P5 (key-date passthrough) and
filename-derived grouping remain possible without any custom source.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Event-time-carrying object key suffix used by streaming passthrough
# mode (P5): ...YYYY-MM-DD-HH-MM-SS-{16 uppercase hex}
# (s3logd-stream/src/output.rs:34).
KEY_DATE_PATTERN = r"(\d{4}-\d{2}-\d{2})-(\d{2})-\d{2}-\d{2}-[0-9A-F]{16}$"


def read_log_lines(spark: SparkSession, paths: str | Sequence[str], with_filename: bool = False) -> DataFrame:
    """S1/S2/S4 — one logical line stream over any number of objects/
    files/globs. Returns `value: string` (+ `input_file` if asked)."""
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.text(list(paths))
    if with_filename:
        df = df.withColumn("input_file", F.input_file_name())
    return df

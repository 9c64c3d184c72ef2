"""Partitioned Parquet sink: W3-W5 of SURVEY.md §2.7.

The reference hand-rolls chunked Arrow writes (200k-row batches,
utils.rs:1050-1140), atomic rename commits (:1200-1241), and multipart
S3 uploads (transfer.rs:62-224). In Spark all three are the Parquet
file sink + committer; what remains of W3-W5 is *configuration*:
compression / row-group size from the reference's writer-properties INI
(s3logs/src/conf.rs:7-105), and the Hive partition columns derived from
event time per the prefix format family (README.md:61).

Scale posture: `partitionBy` + AQE coalescing keeps file counts sane;
`maxRecordsPerFile` plays the role of the reference's rotation
thresholds (T3). No collect, no driver-side writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import os

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.timeops import shifted

# Hive partition columns implied by the default prefix format
# year=%Y/month=%m/day=%d/hour=%H (README.md:61).
PARTITION_COLS = ("year", "month", "day", "hour")


def with_partition_columns(df: DataFrame, cfg: EngineConfig, ts_col: str = "ts") -> DataFrame:
    """Derive the four Hive partition columns from event time in the
    configured fixed TZ (W5 key calc, s3logs/src/utils.rs:1396-1415).
    Kept as zero-padded strings to byte-match the reference's prefixes.
    One projection: chained withColumn calls re-analyze the plan each."""
    ts = shifted(F.col(ts_col), cfg.tz_offset_seconds)
    return df.withColumns(
        {c: F.date_format(ts, fmt) for c, fmt in zip(PARTITION_COLS, ("yyyy", "MM", "dd", "HH"))}
    )


def _input_bytes_hadoop(paths: list[str], spark) -> int:
    """Total input bytes through the Hadoop FileSystem API — works for
    any scheme Spark can read (s3a://, hdfs://, file://), including
    glob patterns, so the writer salt is sized correctly on a cluster,
    not just against the local filesystem."""
    jvm = spark._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(hconf)
        statuses = fs.globStatus(jpath)
        if statuses is None:
            continue
        for st in statuses:
            if st.isDirectory():
                total += fs.getContentSummary(st.getPath()).getLength()
            else:
                total += st.getLen()
    return total


def _input_bytes_local(paths: list[str]) -> int:
    import glob as _glob

    total = 0
    for p in paths:
        p = p.removeprefix("file://")
        for hit in _glob.glob(p) or [p]:
            if os.path.isdir(hit):
                for r, _d, fs in os.walk(hit):
                    total += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
            elif os.path.isfile(hit):
                total += os.path.getsize(hit)
    return total


def auto_files_per_partition(
    input_paths: str | list[str],
    target_input_bytes_per_file: int = 32 * 1024 * 1024,
    max_salt: int = 128,
    spark=None,
) -> int:
    """Size-based salt for the writer exchange.

    The exchange on partition columns alone has a failure mode at the
    other extreme from tiny-files: DENSE data (all rows in a couple of
    event-hours) collapses onto that many writer tasks — observed as a
    1M-row job writing 292 MB through 2 cores. Salting by
    ceil(input_bytes / target) restores write parallelism proportional
    to data volume while sparse inputs (many partitions, few rows each)
    keep salt=1 and avoid file explosion.

    With ``spark`` given, sizes through Hadoop ``FileSystem`` /
    ``getContentSummary`` so remote inputs (s3a://, hdfs://) are
    measured — a local-only stat would silently return salt=1 for them
    and reintroduce the dense-write collapse at exactly the scale that
    matters. Local os.stat is the no-session fallback.
    """
    paths = [input_paths] if isinstance(input_paths, str) else list(input_paths)
    total = 0
    if spark is not None:
        try:
            total = _input_bytes_hadoop(paths, spark)
        except Exception:
            total = 0
    if total == 0:
        total = _input_bytes_local(paths)
    return max(1, min(max_salt, (total + target_input_bytes_per_file - 1) // target_input_bytes_per_file))


def output_has_data(spark, path: str) -> bool:
    """True iff ``path`` exists and holds at least one non-hidden file.

    Goes through Hadoop ``FileSystem`` so s3a://, hdfs:// and local
    paths all answer correctly on a cluster. The recursive listing is
    an iterator and stops at the FIRST data file, so the check is O(1)
    on a populated table; a local-only stat is the no-JVM fallback."""
    try:
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(hconf)
        if not fs.exists(jpath):
            return False
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                return True
        return False
    except Exception:
        p = path.removeprefix("file://")
        if not os.path.isdir(p):
            return os.path.isfile(p)
        for _r, _d, files in os.walk(p):
            if any(not f.startswith(("_", ".")) for f in files):
                return True
        return False


def writer_exchange(df: DataFrame, files_per_partition: int = 1) -> DataFrame:
    """The exchange ahead of the partitioned sink (W3).

    It is the load-bearing line of the write: without it every shuffle
    task holds a writer per Hive partition it touches (tasks ×
    partitions tiny files — 4320 files for a 720-hour span in
    profiling, a 10× write slowdown). With it each output partition is
    produced by exactly one task → one right-sized file, the same
    rotation intent as the reference's per-partition writers (T3).
    ``files_per_partition`` > 1 salts hot partitions (a skewed hour at
    100 TB) across that many tasks/files."""
    parts = [F.col(c) for c in PARTITION_COLS]
    if files_per_partition > 1:
        parts.append(F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition)))
    # Explicit partition count: repartition(*cols) alone lets AQE
    # coalesce the writer exchange by byte size, which at many-Hive-
    # partitions/small-bytes shapes collapses to ~1 task writing every
    # partition file SERIALLY (measured 5.9-9.2 s for a 720-hour span at
    # sf0.1; 4.1-4.4 s with the count pinned to shuffle.partitions).
    # A user-specified count is exempt from AQE coalescing, and hash
    # partitioning on the partition cols still routes each Hive
    # partition to exactly one task, so the one-file-per-partition
    # invariant is unchanged — we just keep the write fan-out at the
    # cluster's configured parallelism.
    n_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n_tasks, *parts)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    cfg: EngineConfig,
    mode: str = "append",
) -> None:
    """W2-W5 — the partitioned columnar sink. It adds no exchange: the
    file layout is whatever partitioning ``df`` arrives with, so route
    it through :func:`writer_exchange` first.

    maxRecordsPerFile mirrors the reference's bulk/rotation thresholds
    (utils.rs:71-72, output.rs:39); parquet.block.size its row-group
    cap. Commit atomicity comes from the FileOutputCommitter (W4's
    rename protocol, built-in)."""
    (
        df.write.mode(mode)
        .option("compression", cfg.compression)
        .option("maxRecordsPerFile", cfg.threshold_lines)
        .option("parquet.block.size", min(cfg.max_row_group_size, 512 * 1024 * 1024))
        # INI writer_version 1.0/2.0 (conf.rs:29-38) -> parquet-mr's
        # format-version switch; footer readback pinned in
        # tests/test_writer_props.py
        .option(
            "parquet.writer.version",
            "PARQUET_2_0" if cfg.writer_version == "2.0" else "PARQUET_1_0",
        )
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )


def write_gzip_text_archive(lines_df: DataFrame, path: str) -> None:
    """W7 — optional raw-line archive, gzip text (utils.rs:1273-1294)."""
    lines_df.write.mode("append").option("compression", "gzip").text(path)


def s3a_committer_profile(
    upload_threads: int = 32,
    multipart_mb: int = 64,
    buffer_dir: str | None = None,
) -> dict[str, str]:
    """The tested config profile for writing this engine's sinks
    straight to ``s3a://`` paths — W4/W5's object-store posture as
    CONFIGURATION, replacing the reference's hand-rolled multipart
    uploader + rename-commit protocol (s3logs/src/transfer.rs:62-224,
    chunked multipart with a 5 MiB floor / 10k-part ceiling
    transfer.rs:14-16; s3logd-stream/src/output.rs:842-916's
    ``.uploading``-suffix rename commit).

    Spark equivalence: the S3A **magic committer** commits each task's
    files via in-flight multipart uploads completed only at job commit
    — zero rename, zero copy, atomic-per-file, task-retry safe — which
    is exactly the property the reference's suffix-rename protocol
    approximates on a store without atomic rename. The classic
    FileOutputCommitter (v1/v2) must NOT be used against S3: v1's
    directory rename is an O(data) copy on an object store and v2 is
    non-atomic on failure.

    Apply at session build (committer classes bind at write time, so
    these must be set before the first S3A write):

        builder = SparkSession.builder
        for k, v in s3a_committer_profile().items():
            builder = builder.config(k, v)

    Requirements at runtime (NOT bundled here, by design): the
    ``spark-hadoop-cloud`` module (PathOutputCommitProtocol) and
    ``hadoop-aws`` on the classpath — add
    ``--packages org.apache.spark:spark-hadoop-cloud_2.13:<spark ver>``
    on a cluster. This sandbox has no object store, so the profile is
    pinned by schema/content tests (tests/test_writer_props.py), not a
    live S3 write; every key below is the public Hadoop/Spark cloud
    committer contract.

    ``dynamic partitionOverwriteMode`` (the rollup and band-index
    stores) is NOT supported by the magic committer — those sinks keep
    the default committer against a cluster filesystem, or use
    append+idempotent batch dirs as run_stream_curation does. The
    profile covers the append/overwrite sinks: the batch ETL, which
    appends each batch once at its final width, wide or not, and the
    archive paths.
    """
    prof = {
        # bind Spark's commit protocol to Hadoop's PathOutputCommitter
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        # the zero-rename committer itself
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        # multipart sizing — the reference floors chunks at 5 MiB and
        # scales up to stay under 10k parts (transfer.rs:62-80); S3A
        # does the same given the part size, so only the part size is
        # ours to pick
        "spark.hadoop.fs.s3a.multipart.size": f"{int(multipart_mb)}M",
        "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
        # parallel part uploads per JVM: the reference's async_tasks
        # knob (conf.rs TRANSFORM section)
        "spark.hadoop.fs.s3a.threads.max": str(int(upload_threads)),
        "spark.hadoop.fs.s3a.connection.maximum": str(max(int(upload_threads) * 2, 96)),
        # directory listings back the streaming file source + replay
        # guards; v2 list is the modern default but pin it explicitly
        "spark.hadoop.fs.s3a.list.version": "2",
    }
    if buffer_dir is not None:
        prof["spark.hadoop.fs.s3a.buffer.dir"] = buffer_dir
    return prof

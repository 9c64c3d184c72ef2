"""The fused batch job: aggregate + transform as ONE Spark job.

Reference topology (§3.1 + §3.2): stage 1 appends raw lines into
per-(bucket, 900 s window) staging files on shared disk
(utils.rs:559-735); stage 2 re-reads each file group, parses, dedups,
and writes partitioned Parquet (utils.rs:1472-1506, 1050-1140). The
staging tier exists only because the Rust pipeline has no shuffle — so
the correct Spark design fuses both stages: the exchange introduced by
dropDuplicates IS the staging tier. One pass over the raw bytes instead
of two, no disk staging, no file locks, no rename/recovery protocol
(Spark's committer + task retry subsume W4/W6 and the crash-recovery
machinery at utils.rs:1298-1394).

M3 (schema widening, SURVEY §1.3) costs no extra pass: the tokens past
the base schema ride the dedup shuffle as one array column (``_tail``,
empty on normal lines), and the batch is materialized once behind the
writer exchange while that same job observes max(n_fields). The write
job then projects exactly the learned number of ``ExtraField{N}``
columns from the materialized blocks — one read of the input, one
write, in append mode, for empty and populated tables alike.

At 100 TB: parse is map-only; the dedup shuffle is keyed by
(bucket_key, agg_window, RequestID) — high-cardinality and uniform, so
no skew — and the writer exchange routes each Hive partition (times
its salt) to one task. The materialized blocks are executor-local
(``localCheckpoint``): losing an executor between the two jobs fails
the batch, which is then safe to rerun, because nothing commits before
the write job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import extract_ts, parse_s3_access_log
from s3logs_parquet_spark.operators.dedup import dedup_log_rows
from s3logs_parquet_spark.operators.windows import with_agg_window, with_bucket_key
from s3logs_parquet_spark.session import materialize, release
from s3logs_parquet_spark.sources.text_source import read_log_lines
from s3logs_parquet_spark.writer import (
    PARTITION_COLS,
    auto_files_per_partition,
    with_partition_columns,
    write_gzip_text_archive,
    write_partitioned_parquet,
    writer_exchange,
)


@dataclass
class TransformResult:
    rows_in: int
    rows_parsed: int
    rows_out: int
    extra_fields: int


def _window_and_dedup(clean: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F1-clean rows → windowed (G1), bucket-keyed (G3), deduplicated (D1)."""
    windowed = with_agg_window(clean, align_seconds=cfg.aggregate_second)
    return dedup_log_rows(with_bucket_key(windowed, cfg), cfg)


def parse_and_dedup(lines: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Raw lines → parsed, filtered (F1), windowed (G1), bucket-keyed
    (G3), deduplicated (D1) rows at the base schema width. Pure plan
    builder — no action."""
    parsed = parse_s3_access_log(lines, fields=cfg.schema_fields)
    return _window_and_dedup(parsed.filter(F.col("ts").isNotNull()), cfg)


def corrupt_lines(lines: DataFrame) -> DataFrame:
    """F1 side channel — the lines the reference silently drops
    (utils.rs:596-602), kept observable."""
    return lines.filter(extract_ts(F.col("value")).isNull())


def run_batch_transform(
    spark: SparkSession,
    input_paths: str | list[str],
    output_path: str,
    cfg: EngineConfig | None = None,
    corrupt_path: str | None = None,
    archive_path: str | None = None,
) -> TransformResult:
    """End-to-end: text in, partitioned deduplicated Parquet out.

    The written table runs the M3 widening protocol: if any parseable
    line has more than the base schema's fields, the table gets
    nullable ``ExtraField{27..N}`` columns (naming per
    utils.rs:1217-1222). The width is learned, not probed: job one
    parses, dedups and runs the writer exchange into executor-local
    blocks while observing rows in, rows parsed with max(n_fields), and
    rows out; job two projects the base columns, the learned extra
    fields and the partition columns from those blocks and appends them
    once. The M3 cost is one max() riding the job that already runs,
    plus storing the exchanged batch once. Every batch pays that
    store, narrow ones (the common case) too: instead of one streaming
    write job that Spark can recompute from lineage, the whole
    exchanged batch sits in executor block storage, and a lost
    executor between the two jobs fails the batch (rerun-safe, see the
    module docstring). The cost is measured in local mode only (dense
    level, PERF.md "Batch ETL writes each batch once"), not on a
    cluster. Empty and populated
    destinations take the same path; nothing is rewritten, so no
    dynamic partition overwrite is needed (the reference restarts its
    file pass on mid-write widening instead,
    s3logs/src/utils.rs:1066-1069).
    Unlike the reference we never crash on empty input
    (divergence noted at SURVEY.md §7.4.6).
    """
    return _transform_lines(
        spark,
        read_log_lines(spark, input_paths),
        output_path,
        cfg or EngineConfig(),
        auto_files_per_partition(input_paths, spark=spark),
        corrupt_path,
        archive_path,
    )


def _transform_lines(
    spark: SparkSession,
    lines: DataFrame,
    output_path: str,
    cfg: EngineConfig,
    files_per_partition: int,
    corrupt_path: str | None = None,
    archive_path: str | None = None,
) -> TransformResult:
    """:func:`run_batch_transform` over a frame of raw lines (one
    ``value`` column), shared with the staged CLI path (``transform
    --staged``) so both write the same table: M3 widening, the writer
    salt ``files_per_partition`` and the counts."""
    n_base = cfg.n_base_fields
    # Metrics ride the materializing job itself via Observation nodes —
    # no second pass and no output read-back, and rows_parsed is by
    # construction the SAME ts-not-null predicate the pipeline filters on.
    obs_in, obs_parsed, obs_out = Observation(), Observation(), Observation()
    parsed = parse_s3_access_log(
        lines.observe(obs_in, F.count(F.lit(1)).alias("n")),
        fields=cfg.schema_fields,
        keep_fields_array=True,
    )
    toks = F.col("_fields")
    clean = (
        parsed.withColumn(
            "_tail", F.slice(toks, n_base + 1, F.greatest(F.size(toks) - n_base, F.lit(0)))
        )
        .drop("_fields")
        .filter(F.col("ts").isNotNull())  # F1: drop unparseable
        .observe(obs_parsed, F.count(F.lit(1)).alias("n"), F.max("n_fields").alias("m"))
    )
    rows = with_partition_columns(_window_and_dedup(clean, cfg), cfg).drop(
        "n_fields", "ts", "agg_window", "bucket_key"
    )
    staged = materialize(
        writer_exchange(rows.observe(obs_out, F.count(F.lit(1)).alias("n")), files_per_partition)
    )
    try:
        extra = max(0, int(obs_parsed.get["m"] or 0) - n_base)
        tail = F.col("_tail")
        base = [c for c in staged.columns if c not in ("_tail", *PARTITION_COLS)]
        wide = staged.select(
            *base,
            *(F.get(tail, j).alias(f"{cfg.extra_field_prefix}{n_base + j + 1}") for j in range(extra)),
            *PARTITION_COLS,
        )
        write_partitioned_parquet(wide, output_path, cfg)
    finally:
        release(staged)

    if corrupt_path is not None:
        # F1 side channel: the reference silently drops unparseable
        # lines (utils.rs:596-602); we keep them observable on request.
        # Uses the un-observed `lines` lineage (an Observation may only
        # be attached to one completed query).
        corrupt_lines(lines).write.mode("append").text(corrupt_path)
    if archive_path is not None:
        # W7: gzip raw-line archive of processed input (utils.rs:1273-1294)
        write_gzip_text_archive(lines, archive_path)

    return TransformResult(
        int(obs_in.get["n"]), int(obs_parsed.get["n"]), int(obs_out.get["n"]), extra
    )

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

At 100 TB: parse is map-only; the single shuffle is keyed by
(bucket_key, agg_window, RequestID) — high-cardinality and uniform, so
no skew; output files land partitioned by event-time prefix with AQE
choosing file counts. The optional two-pass schema widening (M3) adds
one cheap map-side-combined max() aggregate, same asymptotics as the
reference's full re-scan (utils.rs:1213-1235) but over columnar
pruned data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import extract_ts, max_field_count, parse_s3_access_log
from s3logs_parquet_spark.operators.dedup import dedup_log_rows
from s3logs_parquet_spark.operators.windows import with_agg_window, with_bucket_key
from s3logs_parquet_spark.sources.text_source import read_log_lines
from s3logs_parquet_spark.writer import with_partition_columns, write_partitioned_parquet


@dataclass
class TransformResult:
    rows_in: int
    rows_parsed: int
    rows_out: int
    extra_fields: int


def parse_and_dedup(
    lines: DataFrame,
    cfg: EngineConfig,
    extra_fields: int = 0,
) -> DataFrame:
    """Raw lines → parsed, filtered (F1), windowed (G1), bucket-keyed
    (G3), deduplicated (D1) rows. Pure plan builder — no action."""
    parsed = parse_s3_access_log(
        lines,
        extra_fields=extra_fields,
        extra_prefix=cfg.extra_field_prefix,
        fields=cfg.schema_fields,
    )
    clean = parsed.filter(F.col("ts").isNotNull())  # F1: drop unparseable
    windowed = with_agg_window(clean, align_seconds=cfg.aggregate_second)
    keyed = with_bucket_key(windowed, cfg)
    return dedup_log_rows(keyed, cfg)


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

    The written table runs the M3 widening protocol: if any
    parseable line has > 26 fields, it projects nullable
    ``ExtraField{27..N}`` columns (naming per utils.rs:1217-1222).
    The classic protocol is a dedicated probe
    pass — a SECOND full read of the input, a 2× read tax at backfill
    scale. When the destination holds no data yet (the backfill case)
    we instead write optimistically at the 26-column schema while the
    same job observes max(n_fields); in the rare wide case the write
    is redone widened under dynamic partition overwrite, which
    replaces exactly the partitions pass 1 created — safe because the
    table was empty. Appends into a non-empty table keep the probe
    pass: dynamic overwrite there could clobber earlier batches'
    rows, and incremental batches are small enough that the probe is
    cheap. (The reference also restarts its file pass on mid-write
    widening, s3logs/src/utils.rs:1066-1069.)
    Unlike the reference we never crash on empty input
    (divergence noted at SURVEY.md §7.4.6).
    """
    from s3logs_parquet_spark.writer import auto_files_per_partition

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
    from pyspark.sql import Observation

    from s3logs_parquet_spark.writer import output_has_data

    extra = 0
    optimistic = not output_has_data(spark, output_path)
    if not optimistic:
        probe = parse_s3_access_log(lines).select("n_fields", "ts")
        widest = max_field_count(probe.filter(F.col("ts").isNotNull()))
        extra = max(0, widest - cfg.n_base_fields)

    # Metrics ride the write job itself via Observation nodes — no
    # second pass and no output read-back (which double-counted
    # pre-existing rows under mode=append), and rows_parsed is by
    # construction the SAME ts-not-null predicate the pipeline filters
    # on, not a lookalike regex.
    obs_in, obs_parsed, obs_out = Observation(), Observation(), Observation()
    obs_width = Observation() if optimistic else None

    def _build(extra_fields: int, observe: bool):
        src = lines.observe(obs_in, F.count(F.lit(1)).alias("n")) if observe else lines
        parsed = parse_s3_access_log(
            src,
            extra_fields=extra_fields,
            extra_prefix=cfg.extra_field_prefix,
            fields=cfg.schema_fields,
        )
        clean_plain = parsed.filter(F.col("ts").isNotNull())  # F1: drop unparseable
        clean = clean_plain
        if observe:
            clean = clean.observe(obs_parsed, F.count(F.lit(1)).alias("n"))
        if observe and optimistic:
            clean = clean.observe(obs_width, F.max("n_fields").alias("m"))
        windowed = with_agg_window(clean, align_seconds=cfg.aggregate_second)
        keyed = with_bucket_key(windowed, cfg)
        result = dedup_log_rows(keyed, cfg)
        out_plain = with_partition_columns(result, cfg).drop(
            "n_fields", "ts", "agg_window", "bucket_key"
        )
        out = out_plain.observe(obs_out, F.count(F.lit(1)).alias("n")) if observe else out_plain
        return out, clean_plain, out_plain

    out, clean_plain, out_plain = _build(extra, observe=True)
    write_partitioned_parquet(out, output_path, cfg, files_per_partition=files_per_partition)

    if optimistic:
        try:
            widest = int(obs_width.get["m"] or 0)
        except Exception:
            # empty-relation propagation left the observation schema-less
            widest = max_field_count(clean_plain)
        extra = max(0, widest - cfg.n_base_fields)
        if extra > 0:
            wide, _cp, _op = _build(extra, observe=False)
            write_partitioned_parquet(
                wide,
                output_path,
                cfg,
                mode="overwrite_partitions",
                files_per_partition=files_per_partition,
            )

    if corrupt_path is not None:
        # F1 side channel: the reference silently drops unparseable
        # lines (utils.rs:596-602); we keep them observable on request.
        # Uses the un-observed `lines` lineage (an Observation may only
        # be attached to one completed query).
        corrupt_lines(lines).write.mode("append").text(corrupt_path)
    if archive_path is not None:
        # W7: gzip raw-line archive of processed input (utils.rs:1273-1294)
        from s3logs_parquet_spark.writer import write_gzip_text_archive

        write_gzip_text_archive(lines, archive_path)

    def _obs_count(obs, fallback_df: DataFrame) -> int:
        # When the whole plan collapses to an empty relation (zero
        # parseable lines), AQE's empty-relation propagation leaves the
        # observation a schema-less row that pyspark can't convert —
        # recount directly then (trivially cheap: the plan is empty).
        try:
            return int(obs.get["n"])
        except Exception:
            return fallback_df.count()

    return TransformResult(
        _obs_count(obs_in, lines),
        _obs_count(obs_parsed, clean_plain),
        _obs_count(obs_out, out_plain),
        extra,
    )

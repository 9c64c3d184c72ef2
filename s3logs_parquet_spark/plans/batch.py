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

D1 moves one array, not the parsed row: each line is tokenized once
into ``_toks`` and the timestamp, the window, the bucket key and the
RequestID key are read from it. ``dropDuplicates`` plans as a
SortAggregate with one ``first()`` per non-key column (``first`` over
strings and arrays has no hash-aggregate buffer), so the width of the
frame it gets is the width of both sorts, of the aggregation buffers
and of the shuffle: it gets ``[_toks, ts]`` (two ``first()``s, not the
27 of the parsed row), and the writer exchange and the materialized
batch hold only ``[_toks, year, month, day, hour]``. The fields are
projected once, after both shuffles (functions/parse.py:field_exprs).

M3 (schema widening, SURVEY §1.3) costs no extra pass: the batch is
materialized once behind the writer exchange while that same job
observes max(size(_toks)). The write job then projects the base fields
and exactly the learned number of ``ExtraField{N}`` columns from the
materialized tokens — one read of the input, one write, in append
mode, for empty and populated tables alike.

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
from s3logs_parquet_spark.functions.parse import (
    TS_EXPR,
    field_expr,
    field_exprs,
    with_tokens,
)
from s3logs_parquet_spark.operators.dedup import dedup_log_rows
from s3logs_parquet_spark.operators.windows import with_agg_window, with_bucket_key
from s3logs_parquet_spark.schema import LOG_FIELDS
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


def _clean_tokens(lines: DataFrame) -> DataFrame:
    """Raw lines → ``[_toks, ts]``, unparseable lines dropped (F1)."""
    ts = F.expr(TS_EXPR)
    return with_tokens(lines).select("_toks", ts.alias("ts")).filter(ts.isNotNull())


def _dedup_tokens(clean: DataFrame, cfg: EngineConfig) -> DataFrame:
    """``[_toks, ts]`` → windowed (G1), bucket-keyed (G3), deduplicated
    (D1) ``[_toks, ts]``. The keys are positional like the reference's
    (bucket = field 2, RequestID = field 6; utils.rs:44, 1076) and read
    from ``_toks`` with the parser's '' padding, so the dedup carries
    nothing but the two columns it returns."""
    windowed = with_agg_window(clean, align_seconds=cfg.aggregate_second)
    keyed = with_bucket_key(windowed, cfg, bucket=F.expr(field_expr(1))).withColumn(
        "_id", F.expr(field_expr(5))
    )
    return dedup_log_rows(keyed, cfg, id_col="_id").select("_toks", "ts")


def parse_and_dedup(lines: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Raw lines → parsed, filtered (F1), windowed (G1), bucket-keyed
    (G3), deduplicated (D1) rows: the base schema fields and ``ts``.
    The batch ETL's narrow dedup, then the one field projection. Pure
    plan builder — no action."""
    rows = _dedup_tokens(_clean_tokens(lines), cfg)
    return rows.selectExpr(*field_exprs(cfg.schema_fields or LOG_FIELDS), "ts")


def corrupt_lines(lines: DataFrame) -> DataFrame:
    """F1 side channel — the lines the reference silently drops
    (utils.rs:596-602), kept observable: exactly the lines
    :func:`_clean_tokens` drops, by the same ``TS_EXPR`` predicate over
    the same token array."""
    return with_tokens(lines).filter(F.expr(TS_EXPR).isNull()).select(lines.columns)


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
    tokenizes, dedups the token arrays and runs the writer exchange
    into executor-local blocks while observing rows in, rows parsed
    with max(size(_toks)), and rows out; job two projects the base
    fields, the learned extra fields and the partition columns from
    the materialized tokens and appends them once. The M3 cost is one
    max() riding the job that already runs, plus storing the exchanged
    batch once. Every batch pays that store, narrow ones (the common
    case) too: instead of one streaming write job that Spark can
    recompute from lineage, the exchanged token arrays sit in executor
    block storage, and a lost executor between the two jobs fails the
    batch (rerun-safe, see the module docstring). The cost is measured
    in local mode only (PERF.md "Batch ETL writes each batch once" and
    "Narrow D1 dedup"), not on a cluster. Empty and populated
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
    # Metrics ride the materializing job itself via Observation nodes —
    # no second pass and no output read-back, and rows_parsed is by
    # construction the SAME ts-not-null predicate the pipeline filters on.
    obs_in, obs_parsed, obs_out = Observation(), Observation(), Observation()
    clean = _clean_tokens(lines.observe(obs_in, F.count(F.lit(1)).alias("n"))).observe(
        obs_parsed, F.count(F.lit(1)).alias("n"), F.max(F.size("_toks")).alias("m")
    )
    rows = with_partition_columns(_dedup_tokens(clean, cfg), cfg).drop("ts")
    staged = materialize(
        writer_exchange(rows.observe(obs_out, F.count(F.lit(1)).alias("n")), files_per_partition)
    )
    try:
        extra = max(0, int(obs_parsed.get["m"] or 0) - cfg.n_base_fields)
        wide = staged.selectExpr(
            *field_exprs(cfg.schema_fields or LOG_FIELDS, extra, cfg.extra_field_prefix),
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

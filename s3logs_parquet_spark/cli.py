"""Command-line entry points, mirroring the reference CLI surface.

Reference commands (s3logs/src/main.rs:50-114, s3logd-stream):
    s3logs aggregate <input>     — stage 1: lines → staging tier
    s3logs transform <staging>   — stage 2: staging → parquet → upload
    s3logd-stream -c config.ini  — streaming daemon

Ours:
    python -m s3logs_parquet_spark.cli transform  IN... -o OUT
        the fused one-job path (recommended; §3.1+§3.2 in one pass)
    python -m s3logs_parquet_spark.cli aggregate  IN... -o STAGING
        optional two-stage parity: writes the staging tier as a
        window/bucket-partitioned parquet dataset of raw lines
    python -m s3logs_parquet_spark.cli transform --staged STAGING -o OUT
        stage 2 over a staging dataset produced by `aggregate`
    python -m s3logs_parquet_spark.cli stream IN -o OUT -k CKPT
        streaming mode (availableNow by default for drain semantics)

Engine knobs come from the reference's environment variables
(EngineConfig.from_env; README.md:49-79 names).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import extract_bucket, extract_ts
from s3logs_parquet_spark.functions.timeops import window_start
from s3logs_parquet_spark.plans.batch import run_batch_transform
from s3logs_parquet_spark.session import get_spark
from s3logs_parquet_spark.sources.text_source import read_log_lines
from s3logs_parquet_spark.streaming.job import StreamingJobConfig, run_streaming_transform


def _band_sort_cols(spark, store: str) -> tuple[str, str] | None:
    """``("band", "band_hash")`` for a dirs-layout curation ``bands/``
    store, whose fold keeps each band bucket's rows in contiguous row
    groups for the probe's bucket lookups; None for any other store (a
    bucketed store keeps the sort order recorded at its creation)."""
    from pyspark.errors import AnalysisException

    from s3logs_parquet_spark.plans.band_index import IndexStore

    if IndexStore.layout_of(spark, store) == "bucketed":
        return None
    try:
        cols = spark.read.parquet(store).columns
    except AnalysisException:  # an empty store has no schema to read
        return None
    return ("band", "band_hash") if {"band", "band_hash"} <= set(cols) else None


def run_aggregate(spark, inputs: list[str], staging: str, cfg: EngineConfig) -> int:
    """Stage 1 (W6 parity): raw lines → staging dataset partitioned by
    (bucket_key, stag_window). The reference appends to flocked files
    per (bucket, window) (utils.rs:693-735); here the partitioned write
    is the same layout with the committer replacing the locks. Lines are
    kept raw (single `value` column) so transform re-parses exactly like
    the reference's stage 2."""
    from s3logs_parquet_spark.config import ALLBUCKETS

    lines = read_log_lines(spark, inputs)
    bkey = F.lit(ALLBUCKETS) if cfg.merge_orig_buckets else extract_bucket(F.col("value"))
    staged = (
        lines.withColumn("_ts", extract_ts(F.col("value")))
        .filter(F.col("_ts").isNotNull())  # F1 at stage 1, like utils.rs:596-602
        .withColumn("bucket_key", bkey)
        .withColumn("stag_window", window_start(F.col("_ts"), cfg.stagging_second))
        .select("value", "bucket_key", "stag_window")
    )
    (
        staged.repartition("bucket_key", "stag_window")
        .write.mode("append")
        .partitionBy("bucket_key", "stag_window")
        .parquet(staging)
    )
    return 0


def run_transform_staged(spark, staging: str, output: str, cfg: EngineConfig) -> int:
    """Stage 2 over the staging tier: read staged raw lines and run the
    same job as the fused ``transform``."""
    from s3logs_parquet_spark.plans.batch import _transform_lines
    from s3logs_parquet_spark.writer import auto_files_per_partition

    lines = spark.read.parquet(staging).select("value")
    salt = auto_files_per_partition(staging, spark=spark)
    _report(_transform_lines(spark, lines, output, cfg, salt))
    return 0


def _report(res) -> None:
    print(
        f"rows_in={res.rows_in} rows_out={res.rows_out} extra_fields={res.extra_fields}",
        file=sys.stderr,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="s3logs-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pa = sub.add_parser("aggregate", help="stage 1: raw lines -> staging tier")
    pa.add_argument("inputs", nargs="+")
    pa.add_argument("-o", "--output", required=True, help="staging dir")

    pt = sub.add_parser("transform", help="lines/staging -> partitioned parquet")
    pt.add_argument("inputs", nargs="*", default=[])
    pt.add_argument("--staged", help="staging dir from `aggregate`")
    pt.add_argument("-o", "--output", required=True)

    pm = sub.add_parser(
        "maintenance",
        help="table upkeep: compact small files / fold stream batch dirs",
        description=(
            "The ops loop the reference drives from scripts/transform.sh:45-64 "
            "(periodic cleanup passes between transforms): `compact` rewrites "
            "partitions with many small parquet files to the target size; "
            "`fold` merges a drained manifest stream's batch=<id> commit dirs "
            "into dt partitions (pass -k to verify the stream checkpoint "
            "committed every batch before folding; --final drops the batch "
            "level entirely for a finished stream)."
        ),
    )
    pm.add_argument("action", choices=["compact", "fold", "fold-index"])
    pm.add_argument("table", help="parquet table root (fold-index: one per-batch index store — curation digests/bands or the semantic index)")
    pm.add_argument("--target-file-bytes", type=int, default=128 * 1024 * 1024)
    pm.add_argument("--min-files", type=int, default=2)
    pm.add_argument("-k", "--checkpoint", help="(fold) stream checkpoint dir to verify commits against")
    pm.add_argument("--final", action="store_true", help="(fold) drop the batch= level entirely")
    pm.add_argument("--files-per-dt", type=int, default=1)

    ps = sub.add_parser("stream", help="streaming transform")
    ps.add_argument("input", help="input dir watched for new files")
    ps.add_argument("-o", "--output", required=True)
    ps.add_argument("-k", "--checkpoint", required=True)
    ps.add_argument("--granularity", choices=["day", "hour"], default="day")
    ps.add_argument("--passthrough", action="store_true")
    ps.add_argument("--follow", action="store_true", help="keep running (default: drain and exit)")
    ps.add_argument(
        "--pidfile",
        help="(--follow) write the driver pid here for a process supervisor; "
        "SIGTERM/SIGINT then drain available input and stop (T6; the "
        "reference daemon's pidfile+signal shell, s3logd-stream/src/main.rs:317-521)",
    )
    ps.add_argument(
        "--drain-timeout",
        type=float,
        default=None,
        help="(--follow) max seconds to drain on SIGTERM before hard stop "
        "(replay-safe either way)",
    )

    args = p.parse_args(argv)

    # fail fast with a clear message on missing local inputs (a bare
    # Hadoop FileNotFoundException buries the path in a JVM stack)
    local_inputs = getattr(args, "inputs", None) or (
        [args.input] if hasattr(args, "input") else []
    )
    import glob as _glob

    for path in local_inputs:
        if "://" in path:
            continue  # remote FS: let Hadoop resolve
        if not _glob.glob(path) and not os.path.exists(path):
            p.error(f"input path does not exist: {path}")

    cfg = EngineConfig.from_env()
    spark = get_spark(app_name=f"s3logs-{args.cmd}")

    if args.cmd == "aggregate":
        return run_aggregate(spark, args.inputs, args.output, cfg)
    if args.cmd == "transform":
        if args.staged:
            return run_transform_staged(spark, args.staged, args.output, cfg)
        if not args.inputs:
            p.error("transform needs input paths or --staged")
        _report(run_batch_transform(spark, args.inputs, args.output, cfg))
        return 0
    if args.cmd == "maintenance":
        if "://" not in args.table and not os.path.exists(args.table):
            p.error(f"table path does not exist: {args.table}")
        if args.action == "compact":
            from s3logs_parquet_spark.plans.compact import compact_partitions

            res = compact_partitions(
                spark,
                args.table,
                target_file_bytes=args.target_file_bytes,
                min_files_to_compact=args.min_files,
            )
            for pdir, (nb, na) in res.items():
                print(f"compacted {pdir}: {nb} -> {na} files", file=sys.stderr)
            print(f"partitions_compacted={len(res)}", file=sys.stderr)
            return 0
        if args.action == "fold-index":
            # one per-batch index store (either layout, as the store
            # reports it): the drain-window fold of the README's
            # step-5 cadence. Pass -k CKPT (the owning stream's
            # checkpointLocation) to enforce drained-stream safety.
            from s3logs_parquet_spark.plans.compact import compact_index_store

            res = compact_index_store(
                spark,
                args.table,
                checkpoint_dir=args.checkpoint,
                sort_cols=_band_sort_cols(spark, args.table),
            )
            print(
                f"batches={res['batches_before']}->{res['batches_after']} "
                f"files={res['files_before']}->{res['files_after']}",
                file=sys.stderr,
            )
            return 0
        from s3logs_parquet_spark.plans.compact import fold_stream_batches

        res = fold_stream_batches(
            spark,
            args.table,
            files_per_dt=args.files_per_dt,
            final=args.final,
            checkpoint_dir=args.checkpoint,
        )
        print(
            f"batches={res['batches_before']}->{res['batches_after']} "
            f"files={res['files_before']}->{res['files_after']}",
            file=sys.stderr,
        )
        return 0
    if args.cmd == "stream":
        from s3logs_parquet_spark.streaming.monitor import ThroughputListener

        listener = ThroughputListener()
        spark.streams.addListener(listener)
        scfg = StreamingJobConfig(
            partition_granularity=args.granularity,
            passthrough=args.passthrough,
            available_now=not args.follow,
        )
        q = run_streaming_transform(spark, args.input, args.output, args.checkpoint, cfg, scfg)
        if args.follow:
            from s3logs_parquet_spark.streaming.job import install_stream_supervisor

            install_stream_supervisor(
                q, pidfile=args.pidfile, drain_timeout_sec=args.drain_timeout
            )
        try:
            q.awaitTermination()
        finally:
            # remove on EVERY exit path (ADVICE round 10): a query
            # failure raising out of awaitTermination must not leave a
            # stale pidfile behind for a supervisor to signal a
            # recycled PID
            if args.follow and args.pidfile and os.path.exists(args.pidfile):
                os.remove(args.pidfile)
        # listener events are delivered asynchronously; give the bus a
        # moment to drain before reporting
        import time as _time

        deadline = _time.time() + 5
        while listener.stats.batches_total == 0 and _time.time() < deadline:
            _time.sleep(0.2)
        # mon.rs-style summary (s3logd-stream/src/mon.rs:154-167)
        st = listener.stats
        print(
            f"rows={st.rows_total} batches={st.batches_total} "
            f"mean5m={st.mean_rows_per_sec(5):.1f}/s mean15m={st.mean_rows_per_sec(15):.1f}/s",
            file=sys.stderr,
        )
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())

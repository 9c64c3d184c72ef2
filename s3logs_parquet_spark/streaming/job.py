"""Structured Streaming pipeline: the s3logd-stream topology (SURVEY.md
§2.8, §3.3) as readStream → parse → event-date routing → partitioned
parquet sink.

Reference topology: SQS events name newly-arrived log objects; rows are
parsed and routed to per-event-date channels, each drained by a
rotating Parquet writer that uploads + acks
(s3logd-stream/src/output.rs:737-785, 812-965). Spark equivalences:

- T1 (daily/hourly tumbling partitions, fixed TZ) → an event-date
  column derived from the parsed timestamp; `partitionBy` on the sink.
- T2 (no watermark; a writer for an old partition is re-created when a
  late row arrives — unbounded lateness) → the file sink appends into
  any partition at any time; we deliberately set NO watermark by
  default, reproducing unbounded lateness exactly.
- T3 (rotation at threshold_lines / idle) → `maxRecordsPerFile` +
  micro-batch boundaries; idle teardown is Spark's trigger scheduling.
- T4 (receipt ack after upload; redelivery dupes handled by D1) →
  checkpoint WAL of the file source + idempotent task commit; optional
  `dedup_watermark` switches on dropDuplicatesWithinWatermark for
  redelivery dupes while keeping bounded state.
- T5 (bounded channels backpressure) → `maxFilesPerTrigger`.
- T6 (graceful drain) → `query.stop()` + checkpoint recovery, or
  Trigger.AvailableNow for drain-everything-then-stop.

The SQS event source (S5) is replaced by the file-listing stream
source: S3 `ObjectCreated` notifications and directory listing both
yield "process exactly the new objects once", which the source's
checkpointed file log guarantees.

Passthrough mode (P5, output.rs:621-635): event date comes from the
object key, not per-line parsing — file-granularity work instead of
row-granularity. The reference only supports UTC+0 here (panics
otherwise, output.rs:629-635); we inherit that restriction by simply
not applying an offset in passthrough mode.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import (
    DataStreamWriter,
    StreamingQuery,
    StreamingQueryListener,
)

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import parse_s3_access_log
from s3logs_parquet_spark.functions.timeops import shifted
from s3logs_parquet_spark.session import materialize, release
from s3logs_parquet_spark.sources.text_source import KEY_DATE_PATTERN

_log = logging.getLogger(__name__)

# Streaming plan probe (round 13, VERDICT r12 #4): the batch-query
# shuffle budgets (tests/plan_budgets.json) gate all 100 registry
# plans, but the per-trigger plans inside foreachBatch — where the
# r9/r10 scale defects actually lived — were pinned only by targeted
# band-index tests. When ARMED (capture_stream_plans(sink)), each
# stream job records the AQE *initial* physical plan of its
# representative per-trigger output frame into the sink, once per key
# (the first micro-batch that reaches it), so the plan-budget gate can
# count Exchange/BroadcastExchange on stream-side plans exactly like
# batch queries. Disarmed (the default) this is a None-check per
# trigger — zero planning or string cost in production.
_PLAN_PROBE: dict | None = None


def capture_stream_plans(sink: dict | None) -> None:
    """Arm (or, with None, disarm) the per-trigger plan probe. Armed,
    subsequent foreachBatch invocations record each instrumented
    frame's initial physical plan string into ``sink`` under its
    ``stream:<job>/<stage>`` key — first micro-batch wins, so one
    availableNow drain yields one representative plan per stage."""
    global _PLAN_PROBE
    _PLAN_PROBE = sink


def _probe_plan(key: str, df: DataFrame) -> None:
    if _PLAN_PROBE is None or key in _PLAN_PROBE:
        return
    s = df._jdf.queryExecution().executedPlan().toString()
    marker = "== Initial Plan =="
    _PLAN_PROBE[key] = s.split(marker, 1)[1] if marker in s else s


@dataclass
class StreamingJobConfig:
    """Streaming knobs (s3logd-stream/example.ini analogs)."""

    partition_granularity: str = "day"  # 'day' (86400 s) | 'hour' (3600 s), output.rs:197-221
    passthrough: bool = False  # P5 key-date mode
    max_files_per_trigger: int = 100  # T5 backpressure (queue len analog)
    dedup_watermark: str | None = None  # e.g. '1 hour' → dropDuplicatesWithinWatermark
    available_now: bool = False  # T6 drain-and-stop
    processing_time: str = "10 seconds"  # micro-batch cadence otherwise

    @classmethod
    def from_ini(cls, path: str, **overrides) -> "StreamingJobConfig":
        """Load the daemon's INI (s3logd-stream/example.ini) verbatim:
        [OUTPUT] hourly_partition → partition_granularity,
        event_time_key_format=false → passthrough (key-date mode,
        output.rs:621-635), [STREAM] max_recv_queue_len → the trigger
        backpressure cap (T5 — the reference's receive-queue bound)."""
        from s3logs_parquet_spark.config import load_ini

        ini = load_ini(path)
        merged = {**ini.get("DEFAULT", {}), **ini.get("STREAM", {}), **ini.get("OUTPUT", {})}
        kw: dict = {}
        if "hourly_partition" in merged:
            kw["partition_granularity"] = (
                "hour" if merged["hourly_partition"].lower() in ("1", "true", "yes") else "day"
            )
        if "event_time_key_format" in merged:
            # true = parse event time from rows; false = take it from
            # the object key (P5 passthrough)
            kw["passthrough"] = merged["event_time_key_format"].lower() not in (
                "1",
                "true",
                "yes",
            )
        if "max_recv_queue_len" in merged:
            kw["max_files_per_trigger"] = int(merged["max_recv_queue_len"])
        kw.update(overrides)
        return cls(**kw)


def _event_date_col(cfg: EngineConfig, scfg: StreamingJobConfig) -> F.Column:
    """T1 — the dt partition value (dt=%Y%m%d daily / %Y%m%d%H hourly,
    output.rs:37, 197-221)."""
    if scfg.passthrough:
        # P5: date from the object key ...YYYY-MM-DD-HH-MM-SS-HEX16
        date = F.regexp_extract(F.input_file_name(), KEY_DATE_PATTERN, 1)
        base = F.to_timestamp(date, "yyyy-MM-dd")
    else:
        base = shifted(F.col("ts"), cfg.tz_offset_seconds)
    fmt = "yyyyMMdd" if scfg.partition_granularity == "day" else "yyyyMMddHH"
    return F.date_format(base, fmt)


def _start(
    writer: DataStreamWriter, checkpoint_dir: str, scfg: StreamingJobConfig
) -> StreamingQuery:
    """Start every streaming job the same way: checkpointed at
    ``checkpoint_dir``, triggered availableNow (drain what is there,
    then stop) or every ``scfg.processing_time``."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if scfg.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=scfg.processing_time)
    return writer.start()


def _parquet_stream(
    spark: SparkSession, input_dir: str, schema, scfg: StreamingJobConfig
) -> DataFrame:
    """The parquet file stream every foreachBatch job but the manifest
    one reads: fixed schema, ``scfg.max_files_per_trigger`` files per
    micro-batch (T5)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", scfg.max_files_per_trigger)
        .parquet(input_dir)
    )


class _Trigger:
    """What :func:`_foreach_batch` hands each ``process`` call.
    ``mark(label)`` closes a timed stage (driver wall time since the
    previous mark: foreachBatch runs on the driver, so timing its eager
    actions IS the per-stage breakdown; lazy sections read ~0).
    ``keep(df)`` materializes ``df`` for the rest of the trigger, and
    ``hold(df)`` takes a frame something else already materialized;
    the skeleton releases both when the trigger ends, failed or not, so
    a long-running stream's executor storage stays bounded by ONE
    batch."""

    def __init__(self) -> None:
        self.stages: list[tuple[str, float]] = []
        self._held: list[DataFrame] = []
        self._t0 = time.perf_counter()

    def mark(self, label: str) -> None:
        now = time.perf_counter()
        self.stages.append((label, now - self._t0))
        self._t0 = now

    def keep(self, df: DataFrame) -> DataFrame:
        return self.hold(materialize(df))

    def hold(self, df: DataFrame) -> DataFrame:
        self._held.append(df)
        return df

    def release_all(self) -> None:
        while self._held:
            release(self._held.pop())


def _foreach_batch(
    name: str,
    stream: DataFrame,
    process,
    checkpoint_dir: str,
    scfg: StreamingJobConfig,
) -> StreamingQuery:
    """The one foreachBatch skeleton: start ``stream`` (:func:`_start`)
    with ``process(batch_df, batch_id, trigger)`` run per micro-batch,
    release whatever ``process`` kept (:class:`_Trigger`) in a
    ``finally``, and log one DEBUG record per trigger —
    ``<name> batch=<id> stage_s={...}`` with the marked stages."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        trigger = _Trigger()
        try:
            process(batch_df, batch_id, trigger)
        finally:
            trigger.release_all()
        _log.debug(
            "%s batch=%d stage_s=%s",
            name,
            batch_id,
            json.dumps({k: round(v, 2) for k, v in trigger.stages}),
        )

    return _start(stream.writeStream.foreachBatch(_run), checkpoint_dir, scfg)


def _write_batch(
    df: DataFrame, root: str, batch_id: int, probe_key: str | None = None
) -> None:
    """Commit one micro-batch's output as ``root/batch=<id>`` with
    mode=overwrite: a replayed batch rewrites its own directory
    bit-identically (the run_manifest_stream T4 shape). ``probe_key``
    names the frame for the per-trigger plan probe."""
    if probe_key is not None:
        _probe_plan(probe_key, df)
    df.write.mode("overwrite").parquet(f"{root}/batch={batch_id}")


def build_stream(
    spark: SparkSession,
    input_dir: str,
    cfg: EngineConfig | None = None,
    scfg: StreamingJobConfig | None = None,
) -> DataFrame:
    """The streaming logical plan: file stream → parse → F1 → dt column.
    Returned unstarted so tests/callers can attach any sink."""
    cfg = cfg or EngineConfig()
    scfg = scfg or StreamingJobConfig()
    lines = (
        spark.readStream.option("maxFilesPerTrigger", scfg.max_files_per_trigger)
        .text(input_dir)
    )
    # Same EngineConfig ⇒ same table as the batch path: a config-file
    # schema (cfg.schema_fields) must flow through the streaming parse
    # too, and the watermark-dedup key is POSITIONAL like the batch
    # dedup's (the 6th loaded field, utils.rs:1076), not a hardcoded
    # name the custom schema may not contain.
    parsed = parse_s3_access_log(lines, fields=cfg.schema_fields)
    clean = parsed.filter(F.col("ts").isNotNull())  # F1
    out = clean.withColumn("dt", _event_date_col(cfg, scfg))
    if scfg.dedup_watermark:
        dedup_id = cfg.schema_fields[5] if cfg.schema_fields else "RequestID"
        out = out.withWatermark("ts", scfg.dedup_watermark).dropDuplicatesWithinWatermark(
            ["dt", dedup_id]
        )
    return out.drop("n_fields")


def run_manifest_stream(
    spark: SparkSession,
    manifest_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    scfg: StreamingJobConfig | None = None,
    scheme: str = "file://",
    object_root: str | None = None,
) -> StreamingQuery:
    """S5 end-to-end: queue-driven ingestion, manifests instead of SQS.

    The reference daemons long-poll SQS and process exactly the objects
    named by `ObjectCreated` events (s3logd-stream/src/main.rs:112-139,
    s3logd/src/main.rs:104-132). Here the event documents arrive as
    JSON-lines manifest files (the S3-notification → queue → dump
    shape); ``readStream`` over the manifest directory is the queue:
    its checkpointed file log delivers each manifest exactly once, and
    each micro-batch's F2-filtered events name the objects to ingest.

    ``foreachBatch`` then runs the *batch* parse→F1→window→dedup plan
    over exactly those objects and commits the batch to
    ``output_dir/batch=<id>`` with mode=overwrite: a replayed batch
    (restart between sink write and checkpoint commit) rewrites the
    same directory instead of appending duplicates — the commit unit is
    the batch directory, the same upload-then-ack receipt shape as the
    reference (s3logd-stream/src/output.rs:812-965, T4). The output
    root stays one readable parquet table (`batch` becomes a partition
    column on read).

    A long-running stream accumulates one batch directory per
    micro-batch; run ``plans/compact.py fold_stream_batches`` against
    the output root in drain windows to fold them into dt partitions
    (the documented maintenance companion — see its docstring for the
    drained-stream precondition and atomicity).

    Passthrough (P5) takes the dt from the object KEY, which the batch
    already holds on the driver: the objects are grouped by key date,
    each group is deduplicated on its own and gets its dt as a literal,
    and the groups are written once. (A per-row ``input_file_name()``
    cannot work here: it reads '' after the dedup shuffle.)

    ``object_root`` rebases object keys for testing (bucket/key →
    object_root/bucket/key); production leaves it None with
    scheme='s3a://'.
    """
    from s3logs_parquet_spark.sources.manifest_source import parse_s3_events

    cfg = cfg or EngineConfig()
    scfg = scfg or StreamingJobConfig()
    events = parse_s3_events(
        spark.readStream.option("maxFilesPerTrigger", scfg.max_files_per_trigger).text(
            manifest_dir
        )
    )
    dated_rows = _key_dated_rows if scfg.passthrough else _event_dated_rows

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        # Collect object NAMES only (one row per created object — small
        # by construction; the reference holds the same list in its SQS
        # receive buffer).
        root = f"{object_root}/" if object_root else ""
        paths = sorted(
            f"{scheme}{root}{r['bucket']}/{r['key']}"
            for r in batch_df.select("bucket", "key").distinct().collect()
        )
        if not paths:
            return
        out = dated_rows(spark, paths, cfg, scfg)
        out.write.mode("overwrite").option("compression", cfg.compression).option(
            "maxRecordsPerFile", cfg.threshold_lines
        ).partitionBy("dt").parquet(f"{output_dir}/batch={batch_id}")

    return _foreach_batch("manifest", events, _process, checkpoint_dir, scfg)


def _event_dated_rows(
    spark: SparkSession, paths: list[str], cfg: EngineConfig, scfg: StreamingJobConfig
) -> DataFrame:
    """The batch ETL's parse→F1→window→dedup rows of ``paths`` with the
    event-time dt (T1)."""
    from s3logs_parquet_spark.plans.batch import parse_and_dedup
    from s3logs_parquet_spark.sources.text_source import read_log_lines

    rows = parse_and_dedup(read_log_lines(spark, paths), cfg)
    return rows.withColumn("dt", _event_date_col(cfg, scfg)).drop("ts")


def _key_dated_rows(
    spark: SparkSession, paths: list[str], cfg: EngineConfig, scfg: StreamingJobConfig
) -> DataFrame:
    """P5 for the manifest stream: rows of ``paths`` whose dt is their
    object's key date (hour 00 under hourly granularity, like
    :func:`_event_date_col`). One dedup per key-date group, so the D1
    shuffle carries nothing more than the batch ETL's."""
    import datetime
    import functools
    import re

    from s3logs_parquet_spark.plans.batch import parse_and_dedup
    from s3logs_parquet_spark.sources.text_source import read_log_lines

    groups: dict[str, list[str]] = {}
    for path in paths:
        m = re.search(KEY_DATE_PATTERN, path)
        if m is None:
            raise ValueError(
                "run_manifest_stream: passthrough takes the date from the "
                "object key (...YYYY-MM-DD-HH-MM-SS-<16 hex>), which "
                f"{path} does not have"
            )
        groups.setdefault(m.group(1), []).append(path)
    fmt = "%Y%m%d" if scfg.partition_granularity == "day" else "%Y%m%d%H"
    frames = [
        parse_and_dedup(read_log_lines(spark, group), cfg)
        .drop("ts")
        .withColumn("dt", F.lit(datetime.datetime.strptime(day, "%Y-%m-%d").strftime(fmt)))
        for day, group in sorted(groups.items())
    ]
    return functools.reduce(DataFrame.unionByName, frames)


def run_streaming_transform(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Start the end-to-end streaming job: partitioned parquet sink with
    checkpointing (T4's at-least-once → effectively-once)."""
    cfg = cfg or EngineConfig()
    scfg = scfg or StreamingJobConfig()
    df = build_stream(spark, input_dir, cfg, scfg)
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("compression", cfg.compression)
        .option("maxRecordsPerFile", cfg.threshold_lines)  # T3 count rotation
        .partitionBy("dt")
        .outputMode("append")
    )
    return _start(writer, checkpoint_dir, scfg)


def run_stream_asof_enrich(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    dim_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    by: tuple[str, ...] = ("user_id",),
    right_cols: list[str] | None = None,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Streaming enrichment against a slowly-changing dimension: each
    micro-batch of arriving fact rows is as-of joined (inner,
    backward-inclusive — operators/temporal.py) to the most recent
    dimension row at-or-before its event time, then committed to
    ``batch=<id>`` exactly-once dirs like run_manifest_stream.

    Composition point: streaming reuses the BATCH temporal operator
    inside ``foreachBatch`` — correct because as-of enrichment is
    per-row against a static right side, so micro-batch boundaries
    can't change the answer (no cross-batch fact state). For a
    dimension that itself streams, snapshot it per trigger upstream.
    The dimension is re-planned per batch; persist() it for hot loops,
    broadcast happens automatically when it's small.
    """
    from s3logs_parquet_spark.operators.temporal import asof_join

    scfg = scfg or StreamingJobConfig()

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        enriched = asof_join(
            batch_df, dim_df, time_col=time_col, by=list(by), right_cols=right_cols
        )
        _write_batch(enriched, output_dir, batch_id)

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("asof_enrich", stream, _process, checkpoint_dir, scfg)


def run_stream_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    index_path: str,
    centroids: list[list[float]],
    threshold: float,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    update_index: bool = True,
    index_layout: str = "bucketed",
    index_buckets: int | None = None,
    fold_every_n_batches: int | None = None,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuous-ingest SemDeDup: each micro-batch of NEW vectors is
    flagged against the PERSISTED semantic index (history) and against
    itself (within-batch), then — when ``update_index`` — the kept
    representatives are appended to the index so later batches dedup
    against them. The streaming closure of
    operators/dedup.semantic_dedup_incremental, composed the same way
    run_stream_asof_enrich composes the batch as-of join: micro-batch
    boundaries can't change the answer because every batch sees
    exactly the index state left by prior COMMITTED batches.

    ``index_layout`` (round 11 — the last O(history) exchange class,
    VERDICT r10 #1): with ``"bucketed"`` (default) the persisted index
    is a plans/band_index.py PARTITIONED + BUCKETED catalog table,
    bucketed on the quantizer ``cell`` key at WRITE time — so the
    per-trigger history probe (a cell-keyed cogroup,
    _semantic_probe_flags_blas) and the pair-budget count aggregate
    read the index pre-partitioned and exchange ONLY the O(batch)
    side; the ``batch < id`` replay guard becomes partition pruning.
    Under ``"dirs"`` (the round-10 plain-parquet layout, portable and
    catalog-free) every trigger re-shuffles the ENTIRE accumulated
    index on cell — the same O(history) exchange run_stream_curation's
    stores shed in round 10. Both layouts live behind
    plans/band_index.py:IndexStore; a store keeps the layout it was
    created with, and mixing fails loud at start. ``index_buckets`` sets the
    bucket count at store creation (default
    ``spark.sql.shuffle.partitions``; a write-time property — size it
    for the cluster, it cannot drift across resumes).

    ``index_path`` holds semantic_assign output under ``batch=<id>``
    partitions; seed the initial corpus at ``batch=-1`` (bucketed:
    through ``plans.band_index.write_contribution(..., batch_id=-1,
    bucket_cols=("cell",), dedup_cols=(id_col,))`` so the seed shares
    the bucket spec AND records the fold's dedup key — dedup_cols is a
    creation-time property, and without it every later fold skips
    dropDuplicates, so the documented crash-window healing never
    happens (ADVICE r11 #1; this function fails loud on such a store
    when ``fold_every_n_batches`` is set); dirs: a plain ``batch=-1``
    parquet dir). Per micro-batch the index is
    read with ``batch < current_id`` — strictly the history BEFORE
    this batch. That filter is what makes replays exactly-once: a
    batch replayed after a crash (its own ``batch=<id>`` append
    already on disk) would otherwise probe against ITSELF, flag every
    row a duplicate, and rewrite its append as empty; pruning its own
    partition makes the rerun bit-identical, and both writes are
    overwrites of per-batch units (the run_manifest_stream commit
    shape, T4).

    ``fold_every_n_batches`` (round 11, VERDICT r10 #4): opt-in
    auto-fold cadence for the forever-stream, bucketed layout only —
    every N batches, BEFORE the trigger's probe, the store folds the
    partitions no earlier fold covered into one
    (IndexStore.fold_before states why that is replay-safe), bounding
    the index's file/partition count without an operator remembering
    to run ``maintenance fold-index`` in drain windows.

    Output rows: (id_col, cell, is_corpus_dup, is_batch_dup) per
    batch vector — corpus = duplicates history, batch = a LOWER-id
    same-batch vector sits above the threshold (semantic_dedup's
    keep-min-id representative rule). Appended to the index: rows
    with NEITHER flag.
    """
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup,
        semantic_dedup_incremental,
    )
    from s3logs_parquet_spark.plans.band_index import IndexStore
    from s3logs_parquet_spark.plans.compact import _max_committed

    scfg = scfg or StreamingJobConfig()
    # a vec arrives in exactly one batch → its id keys the store, and
    # folds dedup on it; the probe's cell key buckets it
    index = IndexStore.open(
        spark, index_path, index_layout, ("cell",), (id_col,),
        n_buckets=index_buckets, fold_every=fold_every_n_batches,
        resumed=update_index and _max_committed(spark, checkpoint_dir) >= 0,
        owner="run_stream_semantic_dedup",
    )

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        if index.fold_before(batch_id):
            trigger.mark("auto-fold")
        # Assignment-reuse (round 10, the curation-stream fusion
        # applied here): the r9 shape ran the assignment kernel up to
        # THREE times per trigger (inside the history probe, inside
        # the within-batch dedup, and a third pass for the index
        # contribution) and round-tripped its own output through the
        # sink to sever lineage. Assign ONCE (semantic_assign returns
        # it checkpointed) and feed all three consumers from the
        # blocks; the output frame is checkpointed instead of re-read
        # from parquet.
        assigned = trigger.hold(semantic_assign(batch_df, id_col, vec_col, centroids))
        trigger.mark("assign")
        history = index.history(batch_id)
        if history is not None:
            hist = semantic_dedup_incremental(
                batch_df,
                history,
                id_col,
                vec_col,
                centroids,
                threshold,
                batch_assigned=assigned,
                check_index=index.first_probe(),
            ).select(id_col, "cell", F.col("is_semdup").alias("is_corpus_dup"))
        else:
            # no history yet (unseeded first batch): nothing can be a
            # corpus dup
            hist = assigned.select(
                id_col, "cell", F.lit(False).alias("is_corpus_dup")
            )
        within = semantic_dedup(
            batch_df, id_col, vec_col, centroids, threshold, assigned=assigned
        ).select(id_col, F.col("is_semdup").alias("is_batch_dup"))
        out = hist.join(within, on=id_col)
        _probe_plan("stream:semdedup/flags", out)
        out = trigger.keep(out)
        trigger.mark("flags")
        _write_batch(out, output_dir, batch_id)
        trigger.mark("out-write")
        if update_index:
            kept = out.filter(
                ~F.col("is_corpus_dup") & ~F.col("is_batch_dup")
            ).select(id_col)
            index.write(assigned.join(kept, on=id_col), batch_id)
            trigger.mark("index-write")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("semdedup", stream, _process, checkpoint_dir, scfg)


def run_stream_inference(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    output_dir: str,
    checkpoint_dir: str,
    model_fn,
    input_cols: tuple[str, ...],
    output_schema: str,
    weights=None,
    passthrough_cols: tuple[str, ...] = (),
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuous batched inference: each arriving micro-batch is
    scored through :func:`operators.inference.batched_inference`
    (Arrow batches via mapInPandas, input projection before the Python
    boundary) and committed to ``batch=<id>`` exactly-once dirs (the
    run_manifest_stream T4 shape — a replayed batch rewrites its
    directory bit-identically because ``model_fn`` is a pure function
    of its batch; the batched_inference contract).

    The weights payload is broadcast ONCE PER RUN here, not once per
    trigger: batched_inference broadcasts per call, which on a
    long-lived stream would re-ship the model every micro-batch and
    leak one broadcast per trigger on the driver. The scorer closure
    carries only the broadcast HANDLE (bytes-size), so tasks still
    fetch the payload once per executor — the inference.py design
    constraint, kept under streaming.

    Micro-batch boundaries cannot change answers (stateless per-row
    scoring), so stream output == batch scoring of the same rows —
    pinned by tests/test_streaming.py::test_stream_inference_equals_batch.
    """
    from s3logs_parquet_spark.operators.inference import batched_inference

    scfg = scfg or StreamingJobConfig()
    bc = spark.sparkContext.broadcast(weights) if weights is not None else None

    def _scorer(pdf, _w_unused):
        return model_fn(pdf, bc.value if bc is not None else None)

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        scored = batched_inference(
            batch_df,
            _scorer,
            input_cols=list(input_cols),
            output_schema=output_schema,
            weights=None,  # per-run broadcast above, not per-trigger
            passthrough_cols=list(passthrough_cols),
        )
        _write_batch(scored, output_dir, batch_id, "stream:inference/scored")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    query = _foreach_batch("inference", stream, _process, checkpoint_dir, scfg)
    if bc is not None:
        # per-run broadcast, per-run CLEANUP (ADVICE round 10): without
        # this, repeated run/stop cycles in one long-lived driver leak
        # one model payload per run. A query-scoped listener unpersists
        # the broadcast when THIS query terminates (events are async —
        # tasks are done by then) and unregisters itself.
        spark.streams.addListener(_RunBroadcastCleanup(spark, query.id, bc))
    return query


class _RunBroadcastCleanup(StreamingQueryListener):
    """Query-scoped broadcast release for :func:`run_stream_inference`
    (ADVICE round 10): unpersists the per-run model broadcast when the
    owning query terminates, then unregisters itself — so run/stop
    cycles in one long-lived driver don't accumulate one payload per
    run. Module-level so the latch/cleanup logic unit-tests without a
    live stream (tests/test_streaming.py)."""

    def __init__(self, spark: SparkSession, query_id, bc) -> None:
        self._spark = spark
        self._qid = str(query_id)
        self._bc = bc

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.id) != self._qid:
            return
        try:
            self._bc.unpersist()
        finally:
            self._spark.streams.removeListener(self)


def run_stream_kmv(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    sketch_path: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    k: int = 64,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuously-maintained KMV cardinality sketches over a stream —
    the mergeable-sketch property in its production form (incremental
    per-group distinct-count reporting without reprocessing history).

    Each micro-batch writes its OWN k-min contribution (≤ k rows per
    group present in the batch: operators/sketches.group_kmins) to
    ``{sketch_path}/batch=<id>`` with mode=overwrite — the per-batch
    commit shape of run_manifest_stream (T4): a replayed batch
    rewrites its directory bit-identically, so crash/replay cannot
    corrupt the sketch, and no cross-batch state is ever mutated.

    The CURRENT sketch is derived on read (:func:`read_kmv_sketch`):
    per-group k smallest over all contributions — because k-mins of a
    union are the k-mins of concatenated k-min sets, the streamed
    sketch is EXACTLY the sketch :func:`kmv_distinct` computes over
    the full history (a tested equivalence, not an approximation of an
    approximation). The read merges ≤ k·groups·batches tiny rows; fold
    old contribution dirs in drain windows (plans/compact.py
    fold_stream_batches) exactly like any batch=... stream output —
    folding replaces many per-batch k-min sets by their merged k-min
    set, which the mergeable property keeps lossless.
    """
    from s3logs_parquet_spark.operators.sketches import group_kmins

    scfg = scfg or StreamingJobConfig()

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        contrib = group_kmins(batch_df, [group_col], value_col, k)
        _write_batch(contrib, sketch_path, batch_id, "stream:kmv/contribution")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("kmv", stream, _process, checkpoint_dir, scfg)


def read_kmv_sketch(
    spark: SparkSession, sketch_path: str, group_col: str, k: int = 64
) -> DataFrame:
    """Merge the per-batch k-min contributions under ``sketch_path``
    into the current per-group sketch and apply the KMV estimator:
    (group, n_seen, est_distinct) — bit-identical to running
    :func:`~s3logs_parquet_spark.operators.sketches.kmv_distinct`
    over the full ingested history."""
    from pyspark.sql import Window

    from s3logs_parquet_spark.operators.sketches import kmv_estimate_from_kmins

    contrib = spark.read.parquet(sketch_path).select(group_col, "_h").distinct()
    w = Window.partitionBy(group_col).orderBy("_h")
    merged = (
        contrib.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    return kmv_estimate_from_kmins(merged, [group_col], k)


def run_stream_mg(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    sketch_path: str,
    checkpoint_dir: str,
    item_col: str,
    k: int = 128,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuously-maintained Misra–Gries frequent-items state over a
    stream — the heavy-hitter complement of :func:`run_stream_kmv`
    (incremental "what's trending" reporting without reprocessing
    history).

    Each micro-batch writes its OWN bounded summary contribution
    (≤ (k+1) rows per batch partition:
    operators/sketches.mg_partition_summaries, sentinel rows carrying
    the batch's item totals) to ``{sketch_path}/batch=<id>`` with
    mode=overwrite — the per-batch commit shape of run_manifest_stream
    (T4): a replayed batch rewrites its directory bit-identically, so
    crash/replay cannot corrupt the sketch and no cross-batch state is
    ever mutated.

    Because MG summary sums are associative with merged undercount
    ≤ N/(k+1) (Agarwal et al. PODS'12), the appended contributions are
    just another partitioning of the full history: feeding them to
    sketches.heavy_hitters_from_summaries (via :func:`read_mg_sketch`)
    yields EXACTLY the heavy hitters the batch operator computes over
    everything ingested — a tested equivalence. The store stays tiny
    (≤ (k+1)·partitions rows per batch); fold old contribution dirs in
    drain windows like any batch=... stream output.

    One property KMV has that MG fundamentally lacks: k-min merges are
    duplicate-insensitive, summary SUMS are not. Same-lineage replay is
    safe (a replayed batch id re-derives the same file set and
    overwrites its directory), but re-ingesting history under a FRESH
    checkpoint would double-count — point a re-ingest at a fresh
    ``sketch_path``.
    """
    from s3logs_parquet_spark.operators.sketches import mg_partition_summaries

    scfg = scfg or StreamingJobConfig()

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        contrib = mg_partition_summaries(batch_df, item_col, k)
        _write_batch(contrib, sketch_path, batch_id, "stream:mg/contribution")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("mg", stream, _process, checkpoint_dir, scfg)


def run_stream_rollup(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    rollup_path: str,
    checkpoint_dir: str,
    window_seconds: int = 3600,
    by=("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuously-maintained materialized time-rollup over a stream —
    the hypertable continuous aggregate kept current per micro-batch
    (the streaming closure of plans/rollup.py).

    Each micro-batch writes its OWN rollup contribution
    (plans/rollup.rollup_events over just the batch — mergeable
    count/sum/min/max rows) to ``{rollup_path}/batch=<id>`` with
    mode=overwrite — the per-batch commit shape of run_manifest_stream
    (T4): a replayed batch rewrites its directory bit-identically, so
    crash/replay cannot corrupt the table. This is deliberately NOT an
    in-place additive fold: under streaming retry semantics a fold
    would double-count a replayed batch, while per-batch contribution
    dirs make replays idempotent with no cross-batch mutation.

    The CURRENT rollup is derived on read (:func:`read_stream_rollup`)
    by re-aggregating contributions with the same (window, by..., dt)
    key — mergeability makes the streamed table EXACTLY equal to
    rollup_events over the full ingested history (a tested
    equivalence). Contribution dirs accumulate ≤ windows·groups rows
    per batch; fold old ones in drain windows
    (plans/compact.fold_stream_batches) — the fold concatenates rows
    losslessly because the read-side merge is the aggregator.

    Like run_stream_mg (and unlike KMV's duplicate-insensitive
    k-mins), contribution SUMS are not replay-insensitive across
    lineages: same-lineage replay is safe (same batch id → same dir
    overwritten bit-identically), but re-ingesting history under a
    FRESH checkpoint double-counts — point a re-ingest at a fresh
    ``rollup_path``.
    """
    from s3logs_parquet_spark.plans.rollup import rollup_events

    scfg = scfg or StreamingJobConfig()

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        contrib = rollup_events(batch_df, window_seconds, list(by), ts_col, value_col)
        _write_batch(contrib, rollup_path, batch_id, "stream:rollup/contribution")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("rollup", stream, _process, checkpoint_dir, scfg)


def read_stream_rollup(
    spark: SparkSession, rollup_path: str, by=("event_type",)
) -> DataFrame:
    """Merge the per-batch rollup contributions under ``rollup_path``
    into the current table: one row per (window, by..., dt) with
    count/sum/min/max — bit-identical to
    plans/rollup.rollup_events over the full ingested history."""
    from s3logs_parquet_spark.plans.rollup import _merge

    return _merge(spark.read.parquet(rollup_path), list(by))


def read_mg_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The accumulated MG contribution store under ``sketch_path``, in
    the exact shape sketches.heavy_hitters_from_summaries consumes
    (``_mg_item``/``_mg_lb`` with NULL-item sentinels) — per-batch
    summaries concatenate losslessly because the downstream merge is a
    sum."""
    return spark.read.parquet(sketch_path).select("_mg_item", "_mg_lb")


def run_stream_curation(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.3,
    lsh_max_bucket_size: int | None = 10_000,
    index_dropped: bool = True,
    band_index_max_bucket: int | None = None,
    band_index_layout: str = "bucketed",
    index_buckets: int | None = None,
    fold_every_n_batches: int | None = None,
    scfg: StreamingJobConfig | None = None,
) -> StreamingQuery:
    """Continuous training-data curation — plans/curation.py's pipeline
    (quality/language gate → exact dedup → near-dup dedup) as a
    streaming job over persisted indexes, the shape a 100 TB ingestion
    pipeline actually runs: each arriving micro-batch is curated
    against EVERYTHING already ingested in O(batch) work, never
    reprocessing history. To seed pre-stream history, write digest /
    band contributions under ``batch=-1`` in ``index_dir`` (the same
    convention run_stream_semantic_dedup documents; under the default
    bucketed layout, seed through
    ``plans.band_index.write_contribution(..., batch_id=-1)`` so the
    seed shares the store's bucket spec); the replay guard matches
    negative ids, so seeded history is deduped against from the first
    micro-batch.

    ``band_index_layout`` (round 10, the hotprobe scale fix): with
    ``"bucketed"`` (default) both index stores are PARTITIONED +
    BUCKETED catalog tables (plans/band_index.py) — one overwritable
    ``batch=<id>`` partition per micro-batch (T4 contract unchanged),
    scans hash-partitioned on the probe keys at WRITE time. The two
    per-trigger O(history) exchanges of the dirs layout disappear: the
    band probe join and the digest anti-join exchange only the
    O(batch) side (plan-pinned: no Exchange above the index scan), the
    probe's signature lookup rides the band join itself
    (incremental_neardup_pairs carry_signatures), the bucket-cap count
    aggregates exchange-free on the bucket keys, and the ``batch <
    id`` replay guard becomes partition pruning instead of a recursive
    directory listing. What remains O(history) per trigger is the
    column-pruned SCAN of the index (sequential parquet read, no
    network) — bound it with ``band_index_max_bucket`` /
    ``index_dropped=False`` on flood corpora and fold the per-batch
    files with ``maintenance fold-index``. ``"dirs"`` keeps the round-9
    plain-directory layout (portable, catalog-free). Both layouts live
    behind plans/band_index.py:IndexStore; a store created under one
    layout must keep it — mixing fails loud at start.
    ``index_buckets`` sets the bucket count at store CREATION (default
    ``spark.sql.shuffle.partitions``; size it like shuffle width at
    the target scale — it is a write-time property that cannot drift
    across resumes, so pick for the cluster, not the first batch).

    Per micro-batch: (1) quality/langid filter (plans/curation.py
    quality_gate); (2) exact dedup within the batch (min-id canonical)
    and against the persisted digest index; (3) near-dup dedup within
    the batch (near_dup_canonicals: LSH candidates → CC → min-id
    canonical, curate_documents' own stage) and against the persisted
    MinHash band index via incremental_neardup_pairs; (4) append
    survivors (assign_split) to ``{out_dir}/batch=<id>`` and the
    batch's contributions to ``{index_dir}/digests|bands/batch=<id>``
    — all mode=overwrite per-batch units, the T4 commit shape.

    With ``index_dropped=True`` (default) the BAND index covers every
    exact-unique arrived doc that passed the quality gate (INCLUDING
    near-dup-dropped ones), so a future doc matching only a dropped
    doc is still caught — the longest arrival-order transitive chain
    the online setting can honor. The cost on template-flood corpora:
    dropped variants pile into the same band buckets, so the
    batch×corpus probe join grows with HISTORY, not batch.
    ``index_dropped=False`` indexes survivors only — near-dup
    canonicals, so flood buckets hold one representative per family
    and the probe stays O(batch) — trading away the dropped-doc
    transitive chain (a doc similar only to a dropped variant, below
    threshold against its surviving canonical, now survives). The
    DIGEST index always covers all arrived exact-uniques either way
    (16-byte rows; an exact copy of a dropped doc must always drop).

    ``fold_every_n_batches`` (round 11, VERDICT r10 #4): opt-in
    auto-fold cadence, bucketed layout only — every N batches, BEFORE
    that trigger's probe, both index stores fold the partitions no
    earlier fold covered into one (IndexStore.fold_before states why
    that is replay-safe), bounding the per-trigger directory/file
    growth the round-10 hotprobe measured (+10% per-trigger per 2x
    history from the index scan term) without an operator remembering
    to run ``maintenance fold-index`` in drain windows: O(batch·N)
    rows per fold, cumulative O(H), partition count bounded by H/N
    (+ the untouched seed). Folding the whole store every time cost
    O(history) per fold (PERF.md round 11, 40x50k hotprobe: 20 s at
    4M rows growing to 67 s at 12M); that fold is the occasional
    drain-window ``maintenance fold-index``. Pick the cadence for the
    file-count bound (object-store listing is where unfolded stores
    hurt).

    ``band_index_max_bucket`` (round 9) bounds the warned O(history)
    probe blowup that ``index_dropped=False`` alone cannot: when a
    family contributes at most ONE member per batch, within-batch dedup
    collapses nothing and each batch's family member both survives to
    the probe AND (as a batch canonical) enters the survivors-only
    index, so history buckets fatten in BOTH modes and per-trigger
    probe cost grows linearly with history (measured: +25% per-trigger
    over 20 batches on the hotprobe corpus, PERF.md round 9). With a
    cap K, a batch's band contribution is rank-capped per
    (band, band_hash) bucket against the bucket's REMAINING capacity
    (K minus its history count) — first-K-arrivals representatives,
    the star-policy analog applied at WRITE time, so no bucket ever
    holds more than K joinable rows and the probe stays O(batch x K)
    strictly. A doc whose band-0 row is capped away while other band
    rows survive keeps a NULL-band_hash band-0 carrier row (signature
    lookup stays intact; NULL never equi-joins, so carriers add no
    candidates and no bucket mass). The per-trigger cost is one
    2-column count aggregate over the prior band keys (no signatures
    read). Recall trade-off, stated honestly:
    a future doc similar ONLY to a hot family's later members — below
    threshold against all of its first K — now survives; hot buckets
    are near-identical families in practice (the same argument as
    minhash_lsh_pairs' star policy), where rep-similarity ~
    member-similarity. Default None keeps exact accumulate-everything
    semantics. Measured at the 100-batch/5M-doc horizon (PERF.md
    round 13): the cap's fixed per-trigger machinery (O(index) counts
    pass + capacity window + lineage checkpoint) costs 33-49% MORE
    wall than fattened buckets do at <=40M index rows, and cap=8
    admits 1,907 duplicates / cap=64 admits 463 that uncapped
    catches. Leave it OFF at bounded horizons; it is the escape hatch
    for a reported adversarial hot bucket, not a steady-state
    optimizer.

    Online-vs-offline semantics, stated honestly: the streamed output
    guarantees NO SURVIVOR IS AN EXACT OR NEAR DUP OF ANY
    EARLIER-ARRIVED DOC (and within a batch, cluster-min canonicals —
    a single drained batch reproduces curate_documents exactly; both
    pinned by pytest). It does NOT equal global batch curation on
    every history: offline CC closes transitive chains through
    LATER-arriving hubs (doc A ~ C and B ~ C with A≁B: offline keeps
    min(A,B,C) only; online keeps A and B if C arrives last) — the
    inherent online/offline clustering gap, not an implementation
    artifact.

    Replay safety: contribution reads exclude the current batch id
    (IndexStore.history), so a crashed attempt's own writes are
    invisible to its retry and the rewrite is bit-identical.
    """
    from pyspark.sql import Window

    from s3logs_parquet_spark.operators.dedup import (
        _content_digest,
        band_signatures,
        incremental_neardup_pairs,
        minhash_signatures,
    )
    from s3logs_parquet_spark.plans.band_index import IndexStore
    from s3logs_parquet_spark.plans.compact import _max_committed
    from s3logs_parquet_spark.plans.curation import (
        assign_split,
        near_dup_canonicals,
        quality_gate,
    )

    scfg = scfg or StreamingJobConfig()
    resumed = _max_committed(spark, checkpoint_dir) >= 0

    def _open(store: str, bucket_cols: tuple[str, ...], dedup_cols: tuple[str, ...]):
        return IndexStore.open(
            spark, f"{index_dir}/{store}", band_index_layout, bucket_cols, dedup_cols,
            n_buckets=index_buckets, fold_every=fold_every_n_batches,
            resumed=resumed, owner="run_stream_curation",
        )

    digest_store = _open("digests", ("_dg",), ("_dg",))
    # a doc arrives in exactly one batch and appears once per band
    # (carrier rows included) → (id, band) keys the store; folds dedup
    # on it (see write_contribution)
    band_store = _open("bands", ("band", "band_hash"), (id_col, "band"))

    def _process(batch_df: DataFrame, batch_id: int, trigger: _Trigger) -> None:
        folded = [store.fold_before(batch_id) for store in (digest_store, band_store)]
        if any(folded):
            trigger.mark("auto-fold")
        # A micro-batch arrives with the SOURCE's split count — often
        # ONE partition (a 50k-doc file is a single <128 MB split), and
        # the quality/langid expressions are the pipeline's most
        # CPU-heavy map work. Without this exchange that stage runs on
        # one core while 31 idle: profiled at 22.7 s of a 30 s trigger
        # (PERF.md round 9). Rebalance to the session's shuffle width
        # first; one narrow exchange of the raw batch buys full-width
        # CPU for everything downstream of the source.
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        kept = quality_gate(batch_df.repartition(n_shuffle), text_col, min_quality, languages)
        # Fused gate→dedup pass (round-10 job-count rework): the r9
        # shape checkpointed `kept` separately because exact_dedup's
        # narrow path scans its input twice; keying the within-batch
        # exact dedup directly on the digest (one window over _dg —
        # same min-id-per-digest survivor, `_dg` is exact_dedup's own
        # key) folds quality/langid, within-batch dedup and the
        # history digest anti-join into ONE lineage and ONE
        # materialization, eliminating a full write+re-read of the
        # batch's text. The window's hash partitioning on _dg is
        # reused by the anti-join (same key), whose history side scans
        # pre-partitioned under the bucketed layout — so the whole
        # pass exchanges the O(batch) side twice (rebalance + _dg),
        # nothing else.
        w_dg = Window.partitionBy("_dg").orderBy(id_col)
        base = (
            kept.withColumn("_dg", _content_digest(text_col))
            .withColumn("_rn", F.row_number().over(w_dg))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        hist = digest_store.history(batch_id)
        if hist is not None:
            base = base.join(hist, on="_dg", how="left_anti")
        base = trigger.keep(base)
        trigger.mark("gate+dedup")

        # Signature-reuse (round-9 rework, fused further in round 10):
        # compute MinHash signatures ONCE per trigger and carry them as
        # a column of the single frame every consumer scans — the
        # within-batch self-join, the history probe, the index
        # contribution, the digest write and the survivors output all
        # read `fresh` (the per-band explode is a cheap re-derivation
        # from its signature blocks). Left join: a doc too short to
        # shingle has a NULL signature — it is never banded/paired
        # (exactly the r9 behavior, where it was simply absent from the
        # signature frame) but stays eligible to survive and still
        # contributes its digest.
        sigs = minhash_signatures(base, id_col, text_col, num_hashes, shingle_k)
        fresh = trigger.keep(base.join(sigs, on=id_col, how="left"))
        # `base` is read only through `fresh` from here on: free its
        # blocks now rather than at the end of the trigger
        release(base)
        trigger.mark("signatures")
        banded_fresh = band_signatures(
            fresh.filter(F.col("signature").isNotNull()).select(id_col, "signature"),
            id_col,
            num_hashes,
            bands,
        )
        canon = near_dup_canonicals(
            fresh, id_col, text_col, num_hashes, bands, shingle_k,
            jaccard_threshold, lsh_max_bucket_size, banded=banded_fresh,
        )
        trigger.mark("lsh+cc")
        survivors = fresh.join(canon, id_col, "left_semi")

        idx = band_store.history(batch_id)
        if idx is not None:
            hits = incremental_neardup_pairs(
                survivors,
                idx,
                id_col,
                text_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                jaccard_threshold=jaccard_threshold,
                batch_banded=banded_fresh.join(canon, id_col, "left_semi"),
                # bucketed: the index scan is hash-partitioned on
                # (band, band_hash) — carry signatures through the
                # exchange-free band join instead of rejoining the
                # band-0 slice (the round-9 O(history) exchange)
                carry_signatures=band_store.bucketed,
                check_index=band_store.first_probe(),
            )
            # the r9/r10 scale defects lived exactly here: the
            # batch x history probe join's index side must plan
            # exchange-free against the bucketed store
            _probe_plan("stream:curation/history_probe", hits)
            dup_ids = hits.select(F.col("batch_id").alias(id_col)).distinct()
            survivors = survivors.join(dup_ids, id_col, "left_anti")

        # digest contributions always cover every exact-unique ARRIVED
        # doc; band contributions follow index_dropped (see docstring)
        def _write_digests() -> None:
            digest_store.write(fresh.select("_dg"), batch_id)

        def _write_bands(band_out: DataFrame) -> None:
            """Optional bucket cap + band contribution write."""
            if band_index_max_bucket is not None:
                # first-K-arrivals bucket cap (see docstring): rank-cap
                # the batch's contribution per bucket AGAINST the
                # bucket's remaining capacity (K − history count), so a
                # bucket never exceeds K rows — the first shipped cut
                # skipped only already-full buckets and independently
                # rank-capped the batch, letting a bucket at K−1 reach
                # 2K−1 (ADVICE round 9). The history pass reads TWO int
                # columns (band, band_hash) — no signatures — and
                # aggregates to one row per distinct bucket, so its
                # cost tracks distinct buckets, not rows.
                K = int(band_index_max_bucket)
                w = Window.partitionBy("band", "band_hash").orderBy(id_col)
                band_pre = band_out
                capacity = F.lit(K)
                if idx is not None:
                    # bucketed: partial+final agg on the bucket keys with
                    # NO exchange (scan is already hash-partitioned)
                    counts = (
                        idx.groupBy("band", "band_hash")
                        .agg(F.count("*").alias("_hist_n"))
                    )
                    band_out = band_out.join(counts, ["band", "band_hash"], "left")
                    capacity = F.lit(K) - F.coalesce(F.col("_hist_n"), F.lit(0))
                band_out = (
                    band_out.withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") <= capacity)
                    .drop("_rk", "_hist_n")
                )
                # Signature-carrier invariant (ADVICE round 9):
                # consumers read a doc's signature from its band-0 row,
                # so capping a doc's band-0 row while OTHER band rows
                # survive would silently drop every candidate pair
                # found through those bands. Re-add the band-0 row for
                # each id that kept >= 1 band row but lost band 0 —
                # with a NULL band_hash, so the restored row carries
                # the signature WITHOUT joining any candidate bucket or
                # counting against bucket capacity (equi-joins and
                # groupBys on band_hash never match NULL).
                kept0 = band_out.filter(F.col("band") == 0).select(id_col)
                restored = (
                    band_pre.filter(F.col("band") == 0)
                    .join(band_out.select(id_col).distinct(), id_col, "left_semi")
                    .join(kept0, id_col, "left_anti")
                    .withColumn(
                        "band_hash",
                        F.lit(None).cast(dict(band_pre.dtypes)["band_hash"]),
                    )
                )
                band_out = band_out.unionByName(restored)
            # survivors-only band_out and the cap's history counts READ
            # the bands store this write overwrites
            band_store.write(
                band_out,
                batch_id,
                reads_store=idx is not None
                and (not index_dropped or band_index_max_bucket is not None),
            )

        def _write_survivors() -> None:
            _write_batch(
                assign_split(survivors, id_col), out_dir, batch_id,
                "stream:curation/survivors",
            )

        band_in = (
            banded_fresh
            if index_dropped
            else banded_fresh.join(survivors.select(id_col), id_col, "left_semi")
        )
        if index_dropped:
            # Sink concurrency (round 10): in the default full-recall
            # mode the three sinks share no lineage beyond the already-
            # checkpointed `fresh`/`banded_fresh` (the band contribution
            # is arrival-based, not survivor-based), so the digest and
            # band writes are submitted from worker threads while the
            # main thread runs the probe + survivors write — the
            # scheduler interleaves their stages across one executor
            # pool, hiding the serial sink tail (~2 s of a ~8 s
            # trigger, PERF.md round 10). Write ordering is
            # commit-irrelevant: each sink owns its batch=<id> unit and
            # the probe's history scan prunes to batch < id, so a
            # concurrently-committed current-batch contribution is
            # never visible to it. Since round 13 write_contribution
            # runs each insert on a PRIVATE session clone with its own
            # SQLConf (dynamic overwrite + AQE off), so the concurrent
            # sink threads touch NO shared session conf at all — the
            # conf-race class this region used to pin around is gone
            # by construction. The survivors-only mode stays
            # sequential — its band contribution derives FROM the
            # survivors frame.
            import concurrent.futures as _cf

            with _cf.ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="s3lps-sink"
            ) as pool:
                f_dg = pool.submit(_write_digests)
                f_bd = pool.submit(_write_bands, band_in)
                _write_survivors()
                f_bd.result()
                f_dg.result()
            trigger.mark("sinks-parallel+probe")
        else:
            _write_digests()
            trigger.mark("digest-write")
            _write_bands(band_in)
            trigger.mark("band-write")
            _write_survivors()
            trigger.mark("probe+out-write")

    stream = _parquet_stream(spark, input_dir, input_schema, scfg)
    return _foreach_batch("curation", stream, _process, checkpoint_dir, scfg)


def graceful_drain(query: StreamingQuery, timeout_sec: float | None = None) -> None:
    """T6 drain protocol for a long-lived (``--follow``) stream: finish
    processing everything already available at the source, then stop —
    the reference daemon's orderly-shutdown path (signal → stop
    receivers → drain per-writer channels → flush/upload → exit,
    s3logd-stream/src/main.rs:317-521 + output.rs:869-901). Spark
    equivalence: ``processAllAvailable()`` blocks until the sink has
    consumed every offset available at call time, then ``stop()``
    terminates the trigger loop. A hard kill is ALSO safe here (T4:
    checkpoint WAL + idempotent per-batch commits replay cleanly) —
    draining just avoids replaying a partial batch on the next start.

    ``timeout_sec`` bounds the drain for supervisors that escalate to
    SIGKILL on a deadline: past it, skip straight to stop() and let
    replay handle the partial batch.
    """
    import threading

    try:
        if timeout_sec is None:
            query.processAllAvailable()
        else:
            t = threading.Thread(target=query.processAllAvailable, daemon=True)
            t.start()
            t.join(timeout_sec)
    finally:
        query.stop()


def install_stream_supervisor(
    query: StreamingQuery,
    pidfile: str | None = None,
    drain_timeout_sec: float | None = None,
):
    """Daemon-ops shell for ``cli.py stream --follow`` (the reference's
    daemonize/pidfile/signal block, s3logd-stream/src/main.rs:317-521):
    writes ``pidfile`` for a process supervisor (the systemd/runit
    equivalent of the reference's self-daemonization — Spark drivers
    should be supervised, not self-forking) and installs SIGTERM/SIGINT
    handlers that run :func:`graceful_drain` on a daemon thread — the
    handler itself must not issue blocking JVM calls, since it
    interrupts the main thread's ``awaitTermination``. Returns the
    handler for tests. Caller removes the pidfile after
    ``awaitTermination`` returns (cli.py does so in a finally block, so
    failure exits clean it up too).

    Repeated signals are a no-op after the first (ADVICE round 10): a
    once-latch ensures exactly one drain thread — supervisors that
    re-signal on a deadline were otherwise racing concurrent
    ``processAllAvailable``/``stop`` calls. Exceptions inside the drain
    thread (e.g. ``stop()`` interrupting a timed-out
    ``processAllAvailable``) are swallowed: past the latch the process
    is shutting down and T4 replay covers any partial batch.
    """
    import os
    import signal
    import threading

    if pidfile:
        with open(pidfile, "w") as fh:
            fh.write(str(os.getpid()))

    draining = threading.Event()

    def _drain():
        try:
            graceful_drain(query, drain_timeout_sec)
        except Exception:
            # the query is stopping either way; T4 replay covers a
            # partial batch — don't spray stderr from a daemon thread
            pass

    def _handler(signum=None, frame=None):
        if draining.is_set():
            return
        draining.set()
        threading.Thread(target=_drain, daemon=True).start()

    signal.signal(signal.SIGTERM, _handler)
    signal.signal(signal.SIGINT, _handler)
    return _handler

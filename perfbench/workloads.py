"""The benchmark's workloads: one closed-loop caller each.

A workload's operation is one ``plans.batch.run_batch_transform`` call
over the whole input into an empty table. Each output is then read
back through ``sources.tables.register_log_table`` with a fixed set of
Athena-style queries, the read set. The first ``WARM_OPS`` operations
are not timed, and only the last ``READ_WARM`` of them are read back;
the timed operations and read sets follow for ``--seconds``.

Untraced, a run reports the end-to-end metrics. Traced, it reports the
per-layer metrics instead: each layer's public function is called from
here under its own Spark job group, and the self time of a layer is
its call's wall time minus that of the call one layer down:

- functions.parse: noop sink of ``parse_s3_access_log(read_log_lines())``
  after the F1 filter;
- operators.dedup: noop sink of ``parse_and_dedup``, minus parse;
- writer: ``run_batch_transform``, minus ``parse_and_dedup``.

So the three self times add up to the traced ``run_batch_transform``
wall time by construction. The traced run also drains a few of the
input's objects through ``streaming.job.run_manifest_stream`` with a
``StreamingQueryListener`` attached, and runs the read set once under
a job group.

Every output is checked against the generator's ground truth. A failed
check or an exception fails its operation; the run goes on.
"""

from __future__ import annotations

import functools
import itertools
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import TIME_FORMAT, parse_s3_access_log
from s3logs_parquet_spark.plans.batch import parse_and_dedup, run_batch_transform
from s3logs_parquet_spark.sources.tables import register_log_table
from s3logs_parquet_spark.sources.text_source import read_log_lines
from s3logs_parquet_spark.streaming.job import StreamingJobConfig, run_manifest_stream

from inputs import AGG_SECONDS, Inputs
from probe import ProgressLog, StageMetrics, files_scanned, peak_rss_mb

N_SETUPS = 3  # set-ups per run; setup_s is their median
# Operations on the measured input before timing starts. On a busy
# 4-core host the JIT took eight to ten operations to settle, and the
# first ones ran twice as long as those after them. Only the last
# READ_WARM of them are read back, to warm the read path.
WARM_OPS = 8
READ_WARM = 2
WARM_ITERATIONS = 4  # untimed iterations of the traced run's split (3 calls each)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ledger:
    """Operations attempted, and those that raised or failed a check."""

    attempted: int = 0
    failed: int = 0

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"FAILED {what}: {problems}")

    def run(self, what: str, fn):
        """Call ``fn``; an exception fails the operation and yields None."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation must not end the run
            self.record(what, [traceback.format_exc(limit=3)])
            return None


def _expect(problems: list, what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got!r}, want {want!r}")


def parquet_stats(path: str) -> tuple[int, int, int]:
    """(files, partition directories, bytes) of the parquet files under ``path``."""
    files = nbytes = 0
    dirs = set()
    for root, _d, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith("."):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
                dirs.add(root)
    return files, len(dirs), nbytes


def read_set(spark, path: str, truth: dict) -> tuple[list, list[str]]:
    """Register the Hive-partitioned table at ``path`` and run the fixed
    read queries; returns the collected frames and the problems found
    against ``truth``. Partition values read back as integers."""
    register_log_table(spark, path)
    stamp, n_point = next(iter(truth["hours"].items()))
    y, m, d, h = (int(x) for x in stamp.split("-"))
    day = "make_date(year, month, day)"
    lo, hi = truth["day_range"]
    frames = [
        spark.sql(
            "SELECT count(*) AS n FROM s3_access_logs "
            f"WHERE year = {y} AND month = {m} AND day = {d} AND hour = {h}"
        ),
        spark.sql(
            f"SELECT CAST({day} AS STRING) AS d, count(*) AS n, "
            "sum(CASE WHEN HTTPStatus <> '200' THEN 1 ELSE 0 END) AS errors, "
            "avg(CASE WHEN HTTPStatus <> '200' THEN 1.0 ELSE 0.0 END) AS error_rate "
            "FROM s3_access_logs GROUP BY 1 ORDER BY 1"
        ),
        spark.sql(
            "SELECT RemoteIP, count(*) AS n FROM s3_access_logs "
            f"WHERE {day} BETWEEN DATE'{lo}' AND DATE'{hi}' "
            "GROUP BY RemoteIP ORDER BY n DESC, RemoteIP LIMIT 10"
        ),
    ]
    point, days, top = (f.collect() for f in frames)
    problems: list[str] = []
    _expect(problems, "one-hour count", point[0]["n"], n_point)
    _expect(problems, "per-day rows/errors", {r["d"]: [r["n"], r["errors"]] for r in days}, truth["days"])
    _expect(problems, "top requesters", [[r["RemoteIP"], r["n"]] for r in top], truth["top_ips"])
    return frames, problems


def check_batches(spark, outputs: list[tuple], truth: dict) -> list[list[str]]:
    """The problems found in each ``(TransformResult, output dir)`` of
    ``outputs``. The table checks of all of them run as one Spark job:
    rows per hour partition, and D1 keys (window, RequestID; buckets
    are merged by default) that appear more than once."""
    ts = F.unix_timestamp(F.try_to_timestamp(F.col("Time"), F.lit(TIME_FORMAT)))
    parts = ("year", "month", "day", "hour")
    table = functools.reduce(DataFrame.unionAll, (
        spark.read.parquet(out).select(F.lit(i).alias("op"), *parts, "Time", "RequestID")
        for i, (_result, out) in enumerate(outputs)
    ))
    per_key = table.groupBy("op", *parts, (ts - ts % AGG_SECONDS).alias("w"), "RequestID").count()
    hours = [{} for _ in outputs]
    dups = [0] * len(outputs)
    for r in per_key.groupBy("op", *parts).agg(
        F.sum("count").alias("n"), F.count_if(F.col("count") > 1).alias("dups")
    ).collect():
        hours[r["op"]][f"{r['year']:04d}-{r['month']:02d}-{r['day']:02d}-{r['hour']:02d}"] = r["n"]
        dups[r["op"]] += r["dups"]
    found = []
    for (result, _out), op_hours, op_dups in zip(outputs, hours, dups):
        problems: list[str] = []
        _expect(problems, "rows_in", result.rows_in, truth["lines"])
        _expect(problems, "rows_parsed", result.rows_parsed, truth["parsed"])
        _expect(problems, "rows_out", result.rows_out, truth["rows"])
        _expect(problems, "extra_fields", result.extra_fields, truth["extra_fields"])
        _expect(problems, "rows per hour partition", dict(sorted(op_hours.items())), truth["hours"])
        _expect(problems, "D1 keys appearing more than once", op_dups, 0)
        found.append(problems)
    return found


def check_stream(spark, out: str, truth: dict) -> list[str]:
    """Stream output rows per ``dt`` partition (D1 runs within each
    micro-batch, i.e. within each object)."""
    days = {
        f"{r['dt'] // 10000:04d}-{r['dt'] // 100 % 100:02d}-{r['dt'] % 100:02d}": r["n"]
        for r in spark.read.parquet(out).groupBy("dt").agg(F.count("*").alias("n")).collect()
    }
    problems: list[str] = []
    _expect(problems, "rows per dt partition", dict(sorted(days.items())),
            {d: n for d, (n, _errors) in truth["days"].items()})
    return problems


@dataclass
class Workload:
    """One benchmark workload over generated ``Inputs``."""

    name: str
    inputs: Inputs
    work: str
    start_session: object  # () -> SparkSession
    spark: object = None  # the live session, once set up
    ledger: Ledger = field(default_factory=Ledger)
    _n: int = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self) -> list[float]:
        """Start the session and run the warm-up pass, ``N_SETUPS``
        times (the first also launches the JVM); returns each set-up's
        seconds and leaves the last session in ``self.spark``. The
        warm-up pass is the operation and the read set over the
        separate warm-up input, checked like any output."""
        times = []
        for _ in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            out = self.fresh("warm")
            run_batch_transform(self.spark, self.inputs.warm_dir, out, EngineConfig())
            self.ledger.record("warm-up read_set", read_set(self.spark, out, self.inputs.truth["warm"])[1])
            times.append(time.perf_counter() - t0)
            log(f"setup {times[-1]:.3f}s")
        return times

    # -- untraced run: end-to-end metrics ---------------------------------

    def run(self, seconds: float) -> dict:
        setups = self.setup()
        spark = self.spark
        truth = self.inputs.truth["batch"]
        # (operation s, read set s or None, output dir, TransformResult, timed)
        done = []
        # the first WARM_OPS operations warm up; then the timed ones run
        # for ``seconds`` (at least one). Each output is read back at
        # once, so both timings sample the same stretch of the run.
        deadline = math.inf
        attempts = 0
        while attempts <= WARM_OPS or time.perf_counter() < deadline:
            if attempts == WARM_OPS:
                deadline = time.perf_counter() + seconds
            attempts += 1
            timed = attempts > WARM_OPS
            out = self.fresh("out")
            t0 = time.perf_counter()
            result = self.ledger.run(
                "run_batch_transform",
                lambda: run_batch_transform(spark, self.inputs.objects_dir, out, EngineConfig()),
            )
            wall = time.perf_counter() - t0
            if result is None:
                continue
            scan = None
            if attempts > WARM_OPS - READ_WARM:
                t0 = time.perf_counter()
                got = self.ledger.run("read_set", lambda: read_set(spark, out, truth))
                if got is not None:
                    scan = time.perf_counter() - t0
                    self.ledger.record("read_set", got[1])
            done.append((wall, scan, out, result, timed))
            log(f"{'op' if timed else 'warm op'} {wall:.3f}s" + ("" if scan is None else f" read set {scan:.3f}s"))
        walls = [d[0] for d in done if d[4]]
        scans = [d[1] for d in done if d[4] and d[1] is not None]
        if not walls or not scans:
            raise RuntimeError("no timed operation and read set completed")
        try:
            checked = check_batches(spark, [(d[3], d[2]) for d in done], truth)
        except Exception:  # noqa: BLE001 - an unchecked output counts as failed
            checked = [[traceback.format_exc(limit=3)]] * len(done)
        for problems in checked:
            self.ledger.record(self.name, problems)
        return {
            "setup_s": median(setups),
            "lines_per_s": truth["lines"] / median(walls),
            "out_bytes_per_in_byte": median(parquet_stats(d[2])[2] for d in done) / truth["in_bytes"],
            "logtable_scan_s": median(scans),
        }

    # -- traced run: per-layer metrics ------------------------------------

    def trace(self, seconds: float) -> dict:
        self.setup()
        stages = StageMetrics(self.spark)
        stream = self._stream_leg(stages)
        split = self._split_loop(stages, seconds)
        read = self._read_leg(stages, split.pop("out"))
        return {
            **split,
            **stream,
            **read,
            "session.peak_rss_mb": peak_rss_mb(self.spark._jvm.ProcessHandle.current().pid()),
        }

    def _timed(self, stages: StageMetrics, group: str, fn) -> tuple[float, object, dict, float]:
        """(wall s, result, stage totals, bookkeeping s) of ``fn`` under ``group``."""
        with stages.group(group):
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        totals = stages.totals(group)
        return wall, result, totals, time.perf_counter() - t1

    def _split_loop(self, stages: StageMetrics, seconds: float) -> dict:
        spark, cfg = self.spark, EngineConfig()
        objects, truth = self.inputs.objects_dir, self.inputs.truth["batch"]

        def parse_noop():
            parsed = parse_s3_access_log(read_log_lines(spark, objects), fields=cfg.schema_fields)
            parsed.filter(F.col("ts").isNotNull()).write.format("noop").mode("overwrite").save()

        def dedup_noop():
            parse_and_dedup(read_log_lines(spark, objects), cfg).write.format("noop").mode("overwrite").save()

        def transform():
            out = self.fresh("split")
            return run_batch_transform(spark, objects, out, cfg), out

        rows = []
        # the first WARM_ITERATIONS iterations warm up and are not reported
        deadline = math.inf
        for i in itertools.count():
            if i == WARM_ITERATIONS:
                deadline = time.perf_counter() + seconds
            if rows and time.perf_counter() >= deadline:
                break
            got = self.ledger.run("split", lambda: (
                self._timed(stages, f"functions.parse#{i}", parse_noop),
                self._timed(stages, f"operators.dedup#{i}", dedup_noop),
                self._timed(stages, f"plans.batch#{i}", transform),
            ))
            if got is None:
                if time.perf_counter() >= deadline:
                    raise RuntimeError("no traced split succeeded")
                continue
            parse, dedup, batch = got
            result, out = batch[1]
            problems = self.ledger.run("check", lambda: check_batches(spark, [(result, out)], truth)[0])
            if problems is None:
                continue
            self.ledger.record("run_batch_transform", problems)
            if i < WARM_ITERATIONS:
                continue
            files, parts, nbytes = parquet_stats(out)
            rows.append({
                "functions.parse.s": parse[0],
                "functions.parse.corrupt_rows": result.rows_in - result.rows_parsed,
                "operators.dedup.s": dedup[0] - parse[0],
                "operators.dedup.rows_dropped": result.rows_parsed - result.rows_out,
                "operators.dedup.shuffle_bytes": dedup[2]["shuffle_write_bytes"],
                "writer.s": batch[0] - dedup[0],
                "writer.files": files,
                "writer.partitions": parts,
                "writer.out_bytes": nbytes,
                "plans.batch.s": batch[0],
                "plans.batch.task_s": batch[2]["task_s"],
                "plans.batch.gc_s": batch[2]["gc_s"],
                "plans.batch.spill_bytes": batch[2]["spill_bytes"],
                "plans.batch.jobs": batch[2]["jobs"],
                "trace.overhead_s": parse[3] + dedup[3] + batch[3],
            })
            log("split " + " ".join(f"{k}={v:.3f}" for k, v in rows[-1].items() if k.endswith(".s")))
        # report one whole iteration, the median one by transform time, so
        # the three self times still add up to plans.batch.s
        rows.sort(key=lambda r: r["plans.batch.s"])
        return {**rows[(len(rows) - 1) // 2], "out": out}

    def _stream_leg(self, stages: StageMetrics) -> dict:
        """An availableNow drain of manifests naming a few input objects,
        one per trigger, with a progress listener attached."""
        spark, listener = self.spark, ProgressLog()
        out, ckpt = self.fresh("stream"), self.fresh("ckpt")

        def drain():
            spark.streams.addListener(listener)
            try:
                query = run_manifest_stream(
                    spark, self.inputs.manifests, out, ckpt,
                    scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
                    scheme="file://", object_root=self.inputs.object_root,
                )
                query.awaitTermination()
                listener.wait_for(len(query.recentProgress))  # events arrive asynchronously
            finally:
                spark.streams.removeListener(listener)
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            return query

        query = self.ledger.run("run_manifest_stream", drain)
        if query is None or not listener.progress:
            raise RuntimeError("traced stream drain failed")
        problems = self.ledger.run("check", lambda: check_stream(spark, out, self.inputs.truth["stream"]))
        if problems is not None:
            self.ledger.record("run_manifest_stream", problems)
        jobs = stages.totals(str(query.runId))["jobs"]
        # the query's first trigger also starts it; p50s are over the rest
        steady = [p.durationMs for p in listener.progress[1:]] or [listener.progress[0].durationMs]

        def p50(key: str) -> float:
            return median(d.get(key, 0) for d in steady) / 1000.0

        return {
            "streaming.job.trigger_p50_s": p50("triggerExecution"),
            "streaming.job.add_batch_p50_s": p50("addBatch"),
            "streaming.job.overhead_p50_s": median(
                d["triggerExecution"] - d.get("addBatch", 0) for d in steady) / 1000.0,
            "streaming.job.wal_commit_p50_s": p50("walCommit"),
            "streaming.job.planning_p50_s": p50("queryPlanning"),
            "streaming.job.jobs_per_batch": jobs / len(listener.progress),
            "sources.manifest_source.latest_offset_p50_s": p50("latestOffset"),
        }

    def _read_leg(self, stages: StageMetrics, out: str) -> dict:
        wall, got, totals, _ = self._timed(
            stages, "sources.tables", lambda: read_set(self.spark, out, self.inputs.truth["batch"])
        )
        frames, problems = got
        self.ledger.record("read_set", problems)
        return {
            "sources.tables.s": wall,
            "sources.tables.files_read": sum(files_scanned(f) for f in frames),
            "sources.tables.bytes_read": totals["input_bytes"],
        }

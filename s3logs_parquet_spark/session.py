"""SparkSession builder with scale-ready defaults.

Single place where engine sessions are configured so tests, bench and
the driver entry all agree on: UTC session time (DuckDB-oracle parity),
AQE on (runtime re-plan / skew-join at 100 TB), Arrow for the few
Pandas-UDF operators, and sane shuffle-partition defaults for local
runs (a real cluster would size shuffle partitions to ~128 MB each;
AQE coalescing makes the static number non-critical).
"""

from __future__ import annotations

import itertools
import os
import threading

from pyspark.sql import SparkSession


def materialize(df, durable: bool = False):
    """Materialize an intermediate DataFrame that later stages re-scan
    (LSH signature tables, CC edge lists — anything feeding a self-join
    or an iterative loop).

    durable=False → ``localCheckpoint(eager=True)``: blocks are
    executor-resident, fastest, but an executor loss loses the blocks
    and fails the job. Right default for local mode and short jobs.

    durable=True → reliable ``checkpoint(eager=True)`` into the
    session's checkpoint dir: survives executor loss — the 100 TB
    posture. The dir comes from ``SPARK_GRAFT_CHECKPOINT_DIR`` (default
    ``/tmp/s3logs-parquet-spark-ckpt``); on a cluster point it at a
    shared filesystem (HDFS/S3A) so any executor can re-read blocks.
    """
    if not durable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/s3logs-parquet-spark-ckpt")
        )
    return df.checkpoint(eager=True)


def release(df) -> None:
    """Free the storage blocks of a frame returned by :func:`materialize`.

    Iterative operators (connected components) materialize a new
    generation every round; without an explicit release the dead
    generations accumulate until the heap dies — the exact OOM the 10M
    curation bench hit (PERF.md "Curation at 10M docs", round 6).
    ``Dataset.unpersist()``
    cannot do it: checkpoint blocks aren't registered with the cache
    manager (verified — storage info unchanged after unpersist). A
    checkpointed frame's analyzed plan IS a ``LogicalRDD`` though, so
    we drop its cached RDD directly via the context.

    The frame is DEAD afterwards — localCheckpoint severed its lineage,
    so the blocks cannot be recomputed. Only release a generation after
    the next one has been eagerly materialized. Quietly does nothing
    for frames that aren't checkpoint-backed (durable checkpoints keep
    their files; only residual memory blocks are dropped).
    """
    # drain any registry entries holding this exact frame (ADVICE r12
    # #2): the documented attribute path release(pairs._s3lps_postings)
    # must not leave a dead handle accumulating in _TRACKED forever
    with _TRACKED_LOCK:
        for tag in list(_TRACKED):
            kept = [e for e in _TRACKED[tag] if e[1] is not df]
            if len(kept) != len(_TRACKED[tag]):
                if kept:
                    _TRACKED[tag] = kept
                else:
                    del _TRACKED[tag]
    try:
        plan = df._jdf.queryExecution().analyzed()
        rdd_id = plan.rdd().id()
    except Exception:
        return
    sc = df.sparkSession.sparkContext
    # private[spark] in Scala = public in bytecode; removes blocks on
    # every executor, blocking so the memory is back before we return
    sc._jsc.sc().unpersistRDD(rdd_id, True)


# key -> (session that asked for it, value); see prebuilt()
_PREBUILT: dict = {}


def prebuilt(spark, key, build):
    """Return what ``build()`` made for ``key`` in session ``spark``,
    calling it only on the session's first request. This is the one
    build-once cache, and its timed-region contract: repeat calls (the
    bench's timed runs, production query batches) skip the build.

    - A plan entry (an unexecuted DataFrame, plus at most a tiny
      driver-side collect) saves plan construction only; every
      execution still recomputes from the parquet inputs.
    - An index entry (checkpointed blocks, an on-disk index) is the
      write-side one-off that later calls probe. Where another
      registry query keeps the build cost measured, the gate's
      docstring names it.

    A call from another session (a stopped test fixture,
    ``newSession()``) rebuilds and replaces the entry, so checkpoint
    blocks that died with their session are never returned. The
    caller's session is stored, not ``value.sparkSession``, so a value
    bound to a ``plan_heavy``/``build_flat`` clone still hits.
    """
    hit = _PREBUILT.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    value = build()
    _PREBUILT[key] = (spark, value)
    return value


# Checkpoint handles registered by operators whose RETURNED frame is
# not the materialized one (tfidf_similar_pairs' postings table,
# ADVICE r11 #3): an attribute stashed on a DataFrame does not survive
# .filter()/.select()/.join() — each transformation returns a NEW
# frame — so callers that transform before releasing silently keep the
# blocks alive. This registry is the transformation-proof path: the
# operator records its handle under a tag at call time; long-lived
# drivers call release_tracked(tag) once the consumer action has run.
#
# Round 13 (ADVICE r12 #2, VERDICT r12 #5): entries are (token, frame)
# pairs behind a lock. Each track() also mints a per-call token
# (``tag#N``, stashed on the frame as ``_s3lps_track_token``) so
# CONCURRENT callers sharing a tag can release exactly their own frame
# — release_tracked(tag) remains the single-tenant release-all hook.
# release() drains matching registry entries too, so the documented
# attribute path (release(pairs._s3lps_postings)) no longer leaks
# registry handles in a long-lived driver.
_TRACKED: dict[str, list] = {}
_TRACKED_LOCK = threading.Lock()
_TRACK_IDS = itertools.count()


def track(df, tag: str):
    """Register a materialized frame for later :func:`release_tracked`.
    Returns ``df`` so call sites can wrap in-line; the minted per-call
    token is stashed on the frame as ``_s3lps_track_token`` for
    callers that must release only their own frame under a shared
    tag."""
    token = f"{tag}#{next(_TRACK_IDS)}"
    with _TRACKED_LOCK:
        _TRACKED.setdefault(tag, []).append((token, df))
    df._s3lps_track_token = token
    return df


def release_tracked(tag_or_token: str) -> int:
    """Release tracked frames and return how many were released.

    A bare tag (``"tfidf_postings"``) releases EVERY frame registered
    under it — the release-all hook for a single-tenant driver invoking
    an operator in a loop. A token (``"tfidf_postings#7"``, from the
    frame's ``_s3lps_track_token``) releases exactly that frame,
    leaving concurrent callers' still-in-flight frames alone — the
    multi-tenant path (What's wrong r12 #1: a shared-tag release used
    to unpersist the OTHER caller's postings mid-query). Safe to call
    repeatedly; unknown tags/tokens release nothing."""
    tag, sep, _ = tag_or_token.partition("#")
    with _TRACKED_LOCK:
        entries = _TRACKED.pop(tag, [])
        if sep:
            keep = [e for e in entries if e[0] != tag_or_token]
            if keep:
                _TRACKED[tag] = keep
            entries = [e for e in entries if e[0] == tag_or_token]
    for _, df in entries:
        release(df)
    return len(entries)


def _default_driver_memory() -> str:
    """Heap for the local-mode driver JVM, which hosts all executor
    threads and so IS the executor heap. 8g starved 32 threads at the
    10M-doc scale bench (GCLocker churn, then OOM); 48g of a 128 GB
    host left room for Python workers and page cache. Keep that 3/8
    share on smaller hosts: a fixed 48g heap on a 15 GB swapless host
    grows until the kernel kills the JVM mid-run."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(kib * 3 // 8 // 1024, 48 * 1024)}m"


def get_spark(
    app_name: str = "s3logs-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The engine's expanded arithmetic kernels (pair cosine, minhash
        # match count, banding) generate single methods past HotSpot's
        # HugeMethodLimit (8,000 bytecode bytes): by default the JIT
        # REFUSES them and the hottest per-pair loops run bytecode-
        # interpreted (measured 7.2 s -> 1.1 s on the emb_neardup pair
        # scorer at sf0.1 with the refusal lifted; PERF.md round 7
        # "huge-method JIT"). Whole-stage codegen can't split a single
        # expression across methods, so lifting the limit is the right
        # engine-level default. Executor option included for the real
        # multi-JVM cluster; in local mode the driver hosts everything.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    # tool-level overrides (e.g. spark.ui.enabled=true for REST stage
    # metrics in the scale benches); no-op on an already-running session
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()

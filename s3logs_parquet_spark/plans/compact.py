"""Small-file compaction: the maintenance job that keeps the table's
file sizes near the rotation target (the batch/streaming sinks bound
file MAXIMUM size via maxRecordsPerFile; many small appends — late
data, frequent micro-batches — still accumulate small files, the same
problem the reference's rotation thresholds manage for its writers,
T3/SURVEY §7.4.7).

Strategy: per Hive partition, if it holds more than one file or files
below the threshold, rewrite it with files sized to
``target_file_bytes``. Rewrites happen into a temp subtree and are
swapped in per-partition (directory rename) so readers never see a
partial partition — the same atomic-rename commit idea as the
reference's `.incomplete` protocol (W4), applied at partition
granularity. All filesystem traffic goes through Hadoop
``FileSystem`` (fsutil), so the table may live on s3a://hdfs://
as well as locally; note the swap rename is atomic on HDFS/local but
copy+delete on object stores — on S3, schedule compaction against
quiescent partitions (the reference's quiescence predicate F3 exists
for the same reason).
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.fsutil import delete, list_files, rename


def _max_committed(spark: SparkSession, checkpoint_dir: str) -> int:
    """Highest batch id with a ``commits/<id>`` marker, or -1 if none.

    Batch ids commit strictly sequentially, so every id <= the highest
    marker is committed EVEN IF its own marker file is gone — Spark
    purges commit-log entries older than
    ``spark.sql.streaming.minBatchesToRetain`` (default 100), so on a
    long-running stream only the newest ~100 markers survive. Requiring
    a marker for EVERY folded id (the first shipped guard) made the
    fold falsely refuse exactly in the regime it exists for (ADVICE
    round 9); the sequential-commit rule is the correct invariant."""
    commits_dir = posixpath.join(checkpoint_dir.rstrip("/"), "commits")
    committed = [
        int(f.name) for f in list_files(spark, commits_dir) if f.name.isdigit()
    ]
    return max(committed, default=-1)


def recover_fold_siblings(spark: SparkSession, root: str) -> str | None:
    """Heal the non-atomic two-rename fold swap after a crash (ADVICE
    round 9): ``fold_stream_batches`` / ``compact_index_store``
    commit by ``write tmp → rename(root, old) → rename(tmp, root) →
    delete(old)``. A crash between the renames leaves ``root`` MISSING
    while the complete fold sits in the ``.folding-*`` sibling — and
    downstream readers (``_prior_batch_dirs``, ``list_files``) treat a
    missing store as EMPTY history, so a resumed stream would silently
    dedup against nothing.

    Recovery is deterministic from the on-disk state because the tmp
    write finishes before any rename starts:

    - ``root`` exists → any ``.folding-*`` sibling is a pre-swap
      leftover (possibly a partial write) and any ``.folded-old-*`` a
      post-swap leftover: both are safe to delete.
    - ``root`` missing + exactly one ``.folding-*`` → the fold crashed
      mid-swap with a COMPLETE tmp: finish forward (rename tmp → root,
      drop the old sibling).
    - ``root`` missing + several ``.folding-*`` siblings → ambiguous
      (two concurrent folds?); refuse loudly for manual repair.

    Returns a short action string (``"finished-swap"`` /
    ``"dropped-leftovers"``) when something was healed, else None.
    Callers: both fold functions run this before proceeding, and
    ``run_stream_curation`` runs it at stream start so a resumed
    stream can never observe the missing-store state."""
    parent = posixpath.dirname(root.rstrip("/"))
    base = posixpath.basename(root.rstrip("/"))
    from s3logs_parquet_spark.fsutil import exists, list_dirs

    siblings = [
        d
        for d in list_dirs(spark, parent)
        if posixpath.basename(d).startswith((f"{base}.folding-", f"{base}.folded-old-"))
    ]
    if not siblings:
        return None
    tmps = [d for d in siblings if posixpath.basename(d).startswith(f"{base}.folding-")]
    olds = [d for d in siblings if posixpath.basename(d).startswith(f"{base}.folded-old-")]
    if exists(spark, root):
        for d in siblings:
            delete(spark, d)
        return "dropped-leftovers"
    if len(tmps) == 1:
        rename(spark, tmps[0], root)
        for d in olds:
            delete(spark, d)
        return "finished-swap"
    raise ValueError(
        f"recover_fold_siblings: {root} is missing and {len(tmps)} "
        f".folding-* siblings exist ({sorted(tmps)}) — cannot pick the fold "
        "to finish; repair manually (rename the complete one to the store "
        "path and delete the rest)."
    )


def _partition_dirs(spark: SparkSession, root: str) -> list[str]:
    """Leaf partition directories (those containing data files)."""
    dirs = {
        posixpath.dirname(f.path)
        for f in list_files(spark, root, recursive=True)
        if f.name.endswith(".parquet")
    }
    return sorted(dirs)


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact each leaf partition of a parquet table in place.

    Returns {partition_dir: (files_before, files_after)} for the
    partitions rewritten. Driver-side work is directory listing and
    renames only; each rewrite is a distributed read→coalesce→write of
    one partition (runs are independent — on a cluster, submit many at
    once; here sequential keeps it simple and test-friendly).
    """
    results: dict[str, tuple[int, int]] = {}
    for pdir in _partition_dirs(spark, table_path):
        files = [f for f in list_files(spark, pdir) if f.name.endswith(".parquet")]
        if len(files) < min_files_to_compact:
            continue
        total = sum(f.size for f in files)
        n_target = max(1, (total + target_file_bytes - 1) // target_file_bytes)
        if n_target >= len(files):
            continue
        df = spark.read.parquet(pdir)
        parent = posixpath.dirname(pdir)
        base = posixpath.basename(pdir)
        tmp = posixpath.join(parent, f".compact-{uuid.uuid4().hex[:8]}-{base}")
        df.coalesce(int(n_target)).write.mode("overwrite").parquet(tmp)
        # W4-style swap: move old out, rename new in, drop old
        old = pdir + ".old"
        rename(spark, pdir, old)
        rename(spark, tmp, pdir)
        delete(spark, old)
        after = len(
            [f for f in list_files(spark, pdir) if f.name.endswith(".parquet")]
        )
        results[pdir] = (len(files), after)
    return results


def fold_stream_batches(
    spark: SparkSession,
    table_path: str,
    files_per_dt: int = 1,
    final: bool = False,
    compression: str = "zstd",
    max_records_per_file: int | None = None,
    checkpoint_dir: str | None = None,
) -> dict[str, int]:
    """Maintenance companion of ``streaming/job.py run_manifest_stream``:
    fold its accumulated ``batch=<id>/dt=<d>`` commit directories into
    dt partitions, so a long-running stream's output doesn't list one
    directory per micro-batch forever.

    The stream's exactly-once contract makes ``batch=<id>`` the commit
    unit (a replayed micro-batch overwrites its own directory), so this
    must run only against a DRAINED/STOPPED stream — after an
    ``availableNow`` drain every written batch is committed in the
    checkpoint and will never be replayed. Pass ``checkpoint_dir`` (the
    stream's checkpointLocation) to ENFORCE that precondition instead
    of trusting it: the fold refuses when any batch dir's id exceeds
    the highest surviving ``commits/<id>`` marker (ids at or below it
    are committed by the sequential-commit rule even when their own
    marker was purged — see :func:`_max_committed`). Without the
    checkpoint guard, a crash mid-batch (data
    dir written, commit marker absent) followed by a non-final fold
    into ``batch=<max>`` would leave the resumed stream's replay of
    batch <max> ``mode('overwrite')``-ing the ONE directory now holding
    every folded row — total silent data loss. Always pass
    ``checkpoint_dir`` for non-final folds of resumable streams.

    - ``final=False`` (default, for a stream that will resume): all
      batches merge into the single highest committed id,
      ``batch=<max>/dt=*`` — the table keeps its uniform two-level
      layout, the resumed stream appends ``batch=<max+1>…`` beside it,
      and re-folding stays idempotent.
    - ``final=True`` (stream finished for good): the batch level is
      dropped entirely — ``dt=*`` at the root, the published-table
      layout. A stream restarted after this would recreate ``batch=*``
      beside ``dt=*`` and break partition discovery, hence final.

    Commit is a whole-table swap (write the folded tree to a hidden
    sibling, two renames) — readers see the old table or the new one,
    never a mix; like :func:`compact_partitions`, the rename pair is
    atomic on HDFS/local and copy+delete on object stores, so on S3
    schedule folds in the drain window. ``files_per_dt`` sizes the
    write fan-out per dt partition (1 ⇒ exactly one file per dt at
    test scale; raise it so 100 TB days don't funnel through one task).

    Returns {"batches_before", "batches_after", "files_before",
    "files_after"}.
    """
    recover_fold_siblings(spark, table_path)
    files = [f for f in list_files(spark, table_path, recursive=True) if f.name.endswith(".parquet")]
    ids = set()
    for f in files:
        for part in f.path.split("/"):
            if part.startswith("batch="):
                ids.add(int(part.split("=", 1)[1]))
                break
    if checkpoint_dir is not None and ids:
        # commit markers live at <checkpoint>/commits/<batchId>; a data
        # dir with no marker ABOVE the highest marker is an uncommitted
        # (crashed) batch that a resumed stream WILL replay-overwrite —
        # refuse to fold into it. Ids at or below the highest marker
        # are committed by the sequential-commit rule even when their
        # own marker was purged (see _max_committed, ADVICE round 9).
        maxc = _max_committed(spark, checkpoint_dir)
        uncommitted = sorted(i for i in ids if i > maxc)
        if uncommitted:
            raise ValueError(
                f"fold_stream_batches: batch dirs {uncommitted} have no commit "
                f"marker in {checkpoint_dir}/commits — the stream did not drain cleanly "
                "(crash mid-batch?). A resumed stream would replay and "
                "overwrite them, destroying folded data. Resume the stream "
                "with an availableNow drain, then fold."
            )
    if not ids or (len(ids) <= 1 and not final):
        return {
            "batches_before": len(ids),
            "batches_after": len(ids),
            "files_before": len(files),
            "files_after": len(files),
        }

    data = spark.read.parquet(table_path).drop("batch")
    if files_per_dt <= 1:
        data = data.repartition("dt")
    else:
        data = data.repartition(
            F.col("dt"), F.spark_partition_id() % F.lit(int(files_per_dt))
        )
    root = table_path.rstrip("/")
    tmp = f"{root}.folding-{uuid.uuid4().hex[:8]}"
    dest = tmp if final else posixpath.join(tmp, f"batch={max(ids)}")
    w = data.write.mode("overwrite").option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.partitionBy("dt").parquet(dest)

    old = f"{root}.folded-old-{uuid.uuid4().hex[:8]}"
    rename(spark, root, old)
    rename(spark, tmp, root)
    delete(spark, old)
    after = [f for f in list_files(spark, root, recursive=True) if f.name.endswith(".parquet")]
    return {
        "batches_before": len(ids),
        "batches_after": 0 if final else 1,
        "files_before": len(files),
        "files_after": len(after),
    }


def _fold_bucketed_store(
    spark: SparkSession,
    root: str,
    spec: dict,
    maxc: int | None,
    only_below: int | None = None,
    only_ids: list[int] | None = None,
    fold_mode: str = "all",
) -> dict[str, int]:
    """compact_index_store for a BUCKETED store (plans/band_index.py):
    fold every ``batch=<id>`` partition into ``batch=<max id>`` with one
    dynamic-partition-overwrite insert, then drop the emptied
    partitions — the store stays the same registered table with the
    same bucket spec throughout, so probes before/during/after the fold
    plan identically (no whole-store rename swap needed).

    Crash windows, stated honestly: the insert commits atomically per
    partition (FileOutputCommitter), so a crash before it leaves the
    store untouched; a crash AFTER it but before the partition drops
    leaves history temporarily DUPLICATED across ``batch=<max>`` and
    the undropped older partitions. Duplicates are harmless to every
    consumer (probe candidates are deduped per pair, the digest
    anti-join is idempotent; bucket-cap counts inflate CONSERVATIVELY,
    admitting fewer rows) and the next fold heals them — the fold
    dropDuplicates on the spec's ``dedup_cols`` key. This trades the
    dirs layout's missing-store window (the worse failure: silent
    empty history) for a benign transient.

    ``only_below`` (round 11, the in-stream auto-fold): fold ONLY the
    partitions with id < ``only_below`` and leave the rest untouched
    without raising — the between-triggers fold mode, where the
    sequential foreachBatch contract already guarantees ids < the
    current batch are committed, while the current batch's OWN
    partition may exist from a crashed prior attempt and must neither
    be folded (replay rewrites it) nor refuse the fold.

    ``only_ids`` (round 11, the WINDOW fold): fold exactly these
    partition ids (intersected with what exists) into their max,
    leaving everything else — including older folded runs and the
    ``batch=-1`` seed — untouched. This is the log-structured cadence:
    each fold rewrites O(window) rows instead of O(history), so the
    cumulative in-stream fold cost is O(H) rather than the full-fold
    mode's O(H²/N) (PERF.md round 11's measured 20→54→67 s growth).
    Composes with ``only_below`` (ids must also be < it). Visibility
    and replay contracts are unchanged: folded ids stay < every future
    batch. Crash-window difference vs the full fold: a crash between
    the window fold's insert and its partition drops leaves the window
    duplicated, and LATER window folds never revisit those ids — the
    duplicates persist until an everything-fold
    (:func:`compact_index_store` without ``only_ids``) dedups on the
    spec key. Every consumer is duplicate-tolerant meanwhile (probe
    candidates dedup per pair, the digest anti-join is idempotent,
    bucket-cap counts inflate conservatively), so this is bounded
    bloat, not wrong answers — schedule the occasional drain-window
    full fold, as the deployment recipe says.

    ``fold_mode="window"`` (round 12, ADVICE r11 #2): derive the window
    from STORE STATE instead of an arithmetic range — the spec sidecar
    records ``folded_below`` (everything under it is a fold survivor or
    the seed), and the window is every existing id in
    ``[folded_below, only_below)``. The r11 arithmetic window
    (``range(batch_id - N, batch_id)``) left a permanent gap when a
    stream restarted with a different ``fold_every_n_batches``:
    partitions between the old and new fold boundaries fell outside
    every future window. State-derived windows have no such gap — a
    cadence change just makes the next fold's window cover the
    leftover ids too. ``folded_below`` advances only when the fold
    covered ALL existing ids below the new boundary (derived windows
    and full folds; explicit ``only_ids`` subsets never advance it),
    and a crash before the sidecar update merely re-folds the same
    window next time (idempotent — dedup on the spec key)."""
    from s3logs_parquet_spark.session import materialize, release

    tbl = _bandidx_ensure(spark, root)
    files = [
        f
        for f in list_files(spark, root, recursive=True)
        if f.name.endswith(".parquet")
    ]
    # ids from the catalog UNION the directory listing: a crashed
    # insert (files committed, partition not yet registered) or a
    # stray dirs-layout write into a bucketed store must still hit the
    # commit-marker guard below, not silently escape the fold
    listed = set()
    for f in files:
        for part in f.path.split("/"):
            if part.startswith("batch="):
                listed.add(int(part.split("=", 1)[1]))
                break
    all_ids = sorted(set(_bandidx_partition_ids(spark, tbl)) | listed)
    ids = (
        [i for i in all_ids if i < only_below] if only_below is not None else all_ids
    )
    covers_below = only_ids is None  # derived windows/full folds cover
    if only_ids is not None:
        wanted = set(only_ids)
        ids = [i for i in ids if i in wanted]
    elif fold_mode == "window":
        # state-derived window (ADVICE r11 #2): everything under the
        # folded_below watermark is a prior fold's survivor (or the
        # batch=-1 seed, which full folds handle); the window is every
        # existing id at/above it — cadence changes leave no gap. The
        # watermark lives in its own atomically-renamed sidecar since
        # round 13 (ADVICE r12 #1) so the creation-time spec stays
        # immutable; read_fold_state honors the legacy in-spec field.
        from s3logs_parquet_spark.plans.band_index import read_fold_state

        start = read_fold_state(spark, root)
        ids = [i for i in ids if i >= start]
    stats = {"batches_before": len(all_ids), "files_before": len(files)}
    if len(ids) <= 1:
        stats.update(batches_after=len(all_ids), files_after=len(files))
        return stats
    if maxc is not None:
        uncommitted = sorted(i for i in ids if i > maxc)
        if uncommitted:
            raise ValueError(
                f"compact_index_store: {root} batch partitions "
                f"{uncommitted} have no commit marker — the stream did not "
                "drain cleanly; a resumed stream would replay and overwrite "
                "the folded store. Drain with availableNow, then fold."
            )
    m = max(ids)
    data = spark.table(tbl)
    if len(ids) < len(all_ids):
        # partition-pruned scan of exactly the fold's id set — the
        # derived window, explicit only_ids and only_below cases alike
        # (an isin on the partition column prunes identically to `<`)
        data = data.where(F.col("batch").isin([int(i) for i in ids]))
    data = data.drop("batch")
    if spec.get("dedup_cols"):
        data = data.dropDuplicates(list(spec["dedup_cols"]))
    # sever the self-read before overwriting batch=<max> (the insert
    # reads the very partitions it rewrites otherwise)
    data = materialize(data)
    from s3logs_parquet_spark.plans.band_index import write_contribution

    write_contribution(spark, root, data, m, spec["bucket_cols"])
    release(data)
    for i in ids:
        if i == m:
            continue
        spark.sql(f"ALTER TABLE {tbl} DROP IF EXISTS PARTITION (batch={i})")
        delete(spark, posixpath.join(root, f"batch={i}"))
    after = [
        f
        for f in list_files(spark, root, recursive=True)
        if f.name.endswith(".parquet")
    ]
    if covers_below:
        # this fold covered EVERY existing id below the new boundary,
        # so future derived windows may start there. Sidecar write is
        # last — a crash before it re-folds the same window next time
        # (idempotent). Explicit only_ids subsets never advance it.
        # The watermark goes to its own atomic sidecar (ADVICE r12 #1);
        # _INDEX_SPEC.json is never rewritten after creation.
        new_below = int(only_below) if only_below is not None else m + 1
        from s3logs_parquet_spark.plans.band_index import (
            read_fold_state,
            write_fold_state,
        )

        if new_below > read_fold_state(spark, root):
            write_fold_state(spark, root, new_below)
    stats.update(
        batches_after=len(all_ids) - len(ids) + 1, files_after=len(after)
    )
    return stats


def _bandidx_ensure(spark: SparkSession, root: str) -> str:
    from s3logs_parquet_spark.plans.band_index import ensure_table

    return ensure_table(spark, root)


def _bandidx_partition_ids(spark: SparkSession, tbl: str) -> list[int]:
    from s3logs_parquet_spark.plans.band_index import partition_ids

    return partition_ids(spark, tbl)


def compact_index_store(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str | None = None,
    files_per_store: int | None = None,
    compression: str = "zstd",
    sort_cols: tuple[str, ...] | None = None,
    only_below: int | None = None,
    only_ids: list[int] | None = None,
    fold_mode: str = "all",
) -> dict[str, int]:
    """Fold ONE per-batch index store (``root/batch=<id>`` dirs or a
    plans/band_index.py bucketed table — layout auto-detected from the
    spec sidecar) into its highest batch id, so a long-running stream's
    probe doesn't list and open one directory per micro-batch forever.
    Every per-batch store shares this fold: the curation index's
    ``digests/`` and ``bands/`` stores (fold ``bands`` with
    ``sort_cols=("band", "band_hash")`` for contiguous row groups per
    bucket) and ``run_stream_semantic_dedup``'s persisted semantic
    index. ``maintenance fold-index`` runs it on one store.

    ``checkpoint_dir``: the owning stream's checkpointLocation —
    enforces drained-stream safety. Every batch id above the highest
    surviving ``commits/<id>`` marker is uncommitted and makes the fold
    refuse: a crashed batch would otherwise be replayed by the resumed
    stream and overwrite the one directory now holding all history.
    Ids at or below the highest marker are committed by the
    sequential-commit rule even when their own marker was purged by
    ``minBatchesToRetain`` (see :func:`_max_committed`); negative ids
    (the ``batch=-1`` pre-stream seeding convention) are always exempt.
    Crash-interrupted prior folds are healed first
    (:func:`recover_fold_siblings`). Replay contract: ``_prior_batch_dirs``
    reads ids < the probing batch and resumed streams continue at
    ``max+1``, so folding into ``batch=<max committed>`` keeps all
    history visible to every future batch. ``only_below`` (bucketed stores
    only): fold just the partitions with id < the value, leaving later
    ones untouched — the in-stream auto-fold mode where foreachBatch
    sequencing replaces the commit-marker check for ids below the
    current batch (``run_stream_curation``/``run_stream_semantic_dedup``
    ``fold_every_n_batches``). ``only_ids`` (bucketed only): an
    explicit window-fold subset. ``fold_mode="window"`` (bucketed only,
    round 12): derive that subset from the store's own ``folded_below``
    state instead — cadence-change-safe; see
    :func:`_fold_bucketed_store`."""
    if fold_mode not in ("all", "window"):
        raise ValueError(
            f"compact_index_store: fold_mode={fold_mode!r} — expected "
            "'all' or 'window'"
        )
    if only_ids is not None and fold_mode == "window":
        # ADVICE r12 #4: the only_ids branch would take precedence and
        # never advance folded_below — a caller could believe
        # state-derived windows are in effect while getting the
        # gap-prone explicit subset. Conflicting; refuse.
        raise ValueError(
            "compact_index_store: only_ids and fold_mode='window' conflict "
            "— an explicit id subset never advances the folded_below "
            "watermark. Pass only_ids with the default fold_mode='all', "
            "or let fold_mode='window' derive the id set from store state."
        )
    maxc: int | None = None
    if checkpoint_dir is not None:
        maxc = _max_committed(spark, checkpoint_dir)
    from s3logs_parquet_spark.plans import band_index as _bandidx

    recover_fold_siblings(spark, root)
    spec = _bandidx.read_spec(spark, root)
    if spec is not None:
        return _fold_bucketed_store(
            spark,
            root,
            spec,
            maxc,
            only_below=only_below,
            only_ids=only_ids,
            fold_mode=fold_mode,
        )
    if only_below is not None or only_ids is not None or fold_mode != "all":
        raise ValueError(
            f"compact_index_store: only_below/only_ids/fold_mode='window' "
            f"(in-stream fold) requires the bucketed layout, but {root} has "
            f"no {_bandidx.SPEC_FILE}"
        )
    return _fold_dirs_store(
        spark, root, maxc, files_per_store, compression, sort_cols
    )


def _fold_dirs_store(
    spark: SparkSession,
    root: str,
    maxc: int | None,
    files_per_store: int | None,
    compression: str,
    sort_cols: tuple[str, ...] | None,
) -> dict[str, int]:
    """Dirs-layout fold: whole-store rewrite + two-rename sibling swap
    (atomic on HDFS/local; copy+delete on object stores — fold in the
    drain window on S3). See :func:`compact_index_store`."""
    files = [
        f
        for f in list_files(spark, root, recursive=True)
        if f.name.endswith(".parquet")
    ]
    ids: set[int] = set()
    for f in files:
        for part in f.path.split("/"):
            if part.startswith("batch="):
                ids.add(int(part.split("=", 1)[1]))
                break
    stats = {"batches_before": len(ids), "files_before": len(files)}
    if len(ids) <= 1:
        stats.update(batches_after=len(ids), files_after=len(files))
        return stats
    if maxc is not None:
        # sequential-commit rule (ADVICE round 9): only ids ABOVE
        # the highest surviving marker are uncommitted — older
        # markers are purged by minBatchesToRetain on long streams.
        uncommitted = sorted(i for i in ids if i > maxc)
        if uncommitted:
            raise ValueError(
                f"compact_index_store: {root} batch dirs {uncommitted} "
                "have no commit marker — the stream did not drain cleanly; "
                "a resumed stream would replay and overwrite the folded "
                "store. Drain with availableNow, then fold."
            )
    data = spark.read.parquet(root).drop("batch")
    n_out = int(files_per_store or spark.sparkContext.defaultParallelism)
    if sort_cols:
        data = data.repartition(n_out, *[F.col(c) for c in sort_cols])
        data = data.sortWithinPartitions(*sort_cols)
    else:
        data = data.repartition(n_out)
    tmp = f"{root}.folding-{uuid.uuid4().hex[:8]}"
    data.write.mode("overwrite").option("compression", compression).parquet(
        posixpath.join(tmp, f"batch={max(ids)}")
    )
    old = f"{root}.folded-old-{uuid.uuid4().hex[:8]}"
    rename(spark, root, old)
    rename(spark, tmp, root)
    delete(spark, old)
    after = [
        f
        for f in list_files(spark, root, recursive=True)
        if f.name.endswith(".parquet")
    ]
    stats.update(batches_after=1, files_after=len(after))
    return stats

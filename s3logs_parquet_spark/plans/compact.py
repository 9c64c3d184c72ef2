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
from s3logs_parquet_spark.plans import band_index


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
    downstream readers (``band_index.prior_batch_dirs``, ``list_files``) treat a
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
    ``band_index.IndexStore.open`` runs it at stream start so a resumed
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


def _parquet_files(spark: SparkSession, root: str) -> list:
    """Every parquet data file under ``root``."""
    return [
        f for f in list_files(spark, root, recursive=True) if f.name.endswith(".parquet")
    ]


def _batch_ids(files: list) -> set[int]:
    """The ids of the ``batch=<id>`` directories ``files`` sit under."""
    ids = set()
    for f in files:
        for part in f.path.split("/"):
            if part.startswith("batch="):
                ids.add(int(part.split("=", 1)[1]))
                break
    return ids


def _swap_in(spark: SparkSession, root: str, tmp: str) -> None:
    """Commit a folded tree written at the ``tmp`` sibling: move
    ``root`` aside, rename ``tmp`` in, drop the old tree. Atomic on
    HDFS/local, copy+delete on object stores; a crash between the
    renames is healed by :func:`recover_fold_siblings`."""
    old = f"{root}.folded-old-{uuid.uuid4().hex[:8]}"
    rename(spark, root, old)
    rename(spark, tmp, root)
    delete(spark, old)


def _partition_dirs(spark: SparkSession, root: str) -> list[str]:
    """Leaf partition directories (those containing data files)."""
    return sorted({posixpath.dirname(f.path) for f in _parquet_files(spark, root)})


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
    files = _parquet_files(spark, table_path)
    ids = _batch_ids(files)
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
    _swap_in(spark, root, tmp)
    after = _parquet_files(spark, root)
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
) -> dict[str, int]:
    """compact_index_store for a BUCKETED store (plans/band_index.py):
    fold ``batch=<id>`` partitions into ``batch=<max id>`` with one
    dynamic-partition-overwrite insert, then drop the emptied
    partitions — the store stays the same registered table with the
    same bucket spec throughout, so probes before/during/after the fold
    plan identically (no whole-store rename swap needed).

    Which partitions fold follows from ``only_below``:

    - None (the drain-window fold): every partition, the seed included.
    - set (the in-stream auto-fold): the window every existing id in
      ``[folded_below, only_below)``, derived from the store's fold
      state, not from the cadence. Everything under the
      ``folded_below`` watermark is an earlier fold's survivor or the
      ``batch=-1`` seed, so each fold rewrites O(window) rows and the
      cumulative in-stream cost is O(H), not a full fold's O(H²/N).
      A restart with another ``fold_every_n_batches`` leaves no
      never-folded gap: the next window covers the leftover ids too.
      ids < the current batch are committed by foreachBatch
      sequencing; the current batch's OWN partition may exist from a
      crashed prior attempt and must neither fold (its replay rewrites
      it) nor refuse the fold.

    Both advance ``folded_below`` (its own atomically renamed sidecar;
    the creation-time spec is never rewritten). The sidecar update is
    the last step, so a crash before it re-folds the same window next
    time (idempotent — dedup on the spec key).

    Crash windows, stated honestly: the insert commits atomically per
    partition (FileOutputCommitter), so a crash before it leaves the
    store untouched; a crash AFTER it but before the partition drops
    leaves history temporarily DUPLICATED across ``batch=<max>`` and
    the undropped older partitions. Duplicates are harmless to every
    consumer (probe candidates are deduped per pair, the digest
    anti-join is idempotent; bucket-cap counts inflate CONSERVATIVELY,
    admitting fewer rows) and the next whole-store fold heals them —
    the fold dropDuplicates on the spec's ``dedup_cols`` key. This
    trades the dirs layout's missing-store window (the worse failure:
    silent empty history) for a benign transient."""
    from s3logs_parquet_spark.session import materialize, release

    tbl = band_index.ensure_table(spark, root)
    files = _parquet_files(spark, root)
    # ids from the catalog UNION the directory listing: a crashed
    # insert (files committed, partition not yet registered) or a
    # stray dirs-layout write into a bucketed store must still hit the
    # commit-marker guard below, not silently escape the fold
    all_ids = sorted(set(band_index.partition_ids(spark, tbl)) | _batch_ids(files))
    ids = all_ids
    if only_below is not None:
        start = band_index.read_fold_state(spark, root)
        ids = [i for i in all_ids if start <= i < only_below]
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
        # partition-pruned scan of exactly the window (an isin on the
        # partition column prunes identically to `<`)
        data = data.where(F.col("batch").isin([int(i) for i in ids]))
    data = data.drop("batch")
    if spec.get("dedup_cols"):
        data = data.dropDuplicates(list(spec["dedup_cols"]))
    # sever the self-read before overwriting batch=<max> (the insert
    # reads the very partitions it rewrites otherwise)
    data = materialize(data)
    try:
        band_index.write_contribution(spark, root, data, m, spec["bucket_cols"])
    finally:
        release(data)
    for i in ids:
        if i == m:
            continue
        spark.sql(f"ALTER TABLE {tbl} DROP IF EXISTS PARTITION (batch={i})")
        delete(spark, posixpath.join(root, f"batch={i}"))
    after = _parquet_files(spark, root)
    new_below = int(only_below) if only_below is not None else m + 1
    if new_below > band_index.read_fold_state(spark, root):
        band_index.write_fold_state(spark, root, new_below)
    stats.update(
        batches_after=len(all_ids) - len(ids) + 1, files_after=len(after)
    )
    return stats


def compact_index_store(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str | None = None,
    files_per_store: int | None = None,
    compression: str = "zstd",
    sort_cols: tuple[str, ...] | None = None,
    only_below: int | None = None,
) -> dict[str, int]:
    """Fold ONE per-batch index store (``root/batch=<id>`` dirs or a
    plans/band_index.py bucketed table — the store reports its layout,
    :meth:`band_index.IndexStore.layout_of`) into its highest batch
    id, so a long-running stream's probe doesn't list and open one
    directory per micro-batch forever. Every per-batch store shares
    this fold: the curation index's ``digests/`` and ``bands/`` stores
    (fold a dirs-layout ``bands`` with ``sort_cols=("band",
    "band_hash")`` for contiguous row groups per bucket) and
    ``run_stream_semantic_dedup``'s persisted semantic index.
    ``maintenance fold-index`` runs it on one store.

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
    (:func:`recover_fold_siblings`). Replay contract: history reads
    take ids < the probing batch and resumed streams continue at
    ``max+1``, so folding into ``batch=<max committed>`` keeps all
    history visible to every future batch.

    Without ``only_below`` the fold is whole-store (the drain-window
    fold). ``only_below`` (bucketed stores only) is the in-stream
    auto-fold (``fold_every_n_batches`` of ``run_stream_curation`` /
    ``run_stream_semantic_dedup``): it folds the state-derived window
    below that batch id and leaves later ids untouched — see
    :func:`_fold_bucketed_store`."""
    maxc: int | None = None
    if checkpoint_dir is not None:
        maxc = _max_committed(spark, checkpoint_dir)
    recover_fold_siblings(spark, root)
    if band_index.IndexStore.layout_of(spark, root) == "bucketed":
        return _fold_bucketed_store(
            spark, root, band_index.read_spec(spark, root), maxc, only_below
        )
    if only_below is not None:
        raise ValueError(
            f"compact_index_store: only_below (in-stream fold) requires the "
            f"bucketed layout, but {root} has no {band_index.SPEC_FILE}"
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
    files = _parquet_files(spark, root)
    ids = _batch_ids(files)
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
    _swap_in(spark, root, tmp)
    after = _parquet_files(spark, root)
    stats.update(batches_after=1, files_after=len(after))
    return stats

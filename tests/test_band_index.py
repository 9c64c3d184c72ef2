"""plans/band_index.py — the bucketed per-batch index store layout
(round 10): T4 replay contract, seeding, fresh-catalog resume, layout
guards, dirs↔bucketed survivor equality, and the plan shape the layout
exists for (no exchange on the index side of the probe join)."""

from __future__ import annotations

import pytest

from conftest import drain
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s3logs_parquet_spark.plans import band_index as bi

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

EN = "the quick brown fox and the lazy dog is that for with was happy"


def _contrib(spark, ids):
    return spark.createDataFrame(
        [(i, int(i % 4), int(i % 16)) for i in ids],
        "doc_id long, band int, band_hash int",
    )


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _scan_ancestors_to_join(plan: str, scan_marker: str) -> list[str]:
    """Node lines on the path from the table scan UP to its nearest
    join, via the tree section's indentation (marker column depth)."""
    tree = [ln for ln in plan.splitlines()if ("+- " in ln or ":- " in ln or ln.startswith("Adaptive"))]

    def depth(ln):
        for m in ("+- ", ":- "):
            if m in ln:
                return ln.index(m)
        return -1

    scan_i = next(i for i, ln in enumerate(tree) if scan_marker in ln)
    out, d = [], depth(tree[scan_i])
    for i in range(scan_i - 1, -1, -1):
        di = depth(tree[i])
        if di < d:
            out.append(tree[i])
            d = di
            if "Join" in tree[i]:
                break
    return out


def test_write_replay_prior_and_seeding(spark, tmp_path):
    """T4 contract: a replayed batch overwrites exactly its own
    partition; prior_batches excludes the probing batch and includes
    seeded batch=-1 history; empty store reads as None."""
    store = str(tmp_path / "bands")
    assert bi.prior_batches(spark, store, 5) is None  # no store yet

    bi.write_contribution(spark, store, _contrib(spark, range(4)), -1,
                          ("band", "band_hash"))  # pre-stream seed
    bi.write_contribution(spark, store, _contrib(spark, range(10, 14)), 0,
                          ("band", "band_hash"))
    bi.write_contribution(spark, store, _contrib(spark, range(20, 24)), 1,
                          ("band", "band_hash"))
    # replay batch 1 with the same content → idempotent
    bi.write_contribution(spark, store, _contrib(spark, range(20, 24)), 1,
                          ("band", "band_hash"))

    tbl = bi.ensure_table(spark, store)
    assert bi.partition_ids(spark, tbl) == [-1, 0, 1]
    assert spark.table(tbl).count() == 12

    # seed visible from batch 0 on; own batch invisible to its retry
    p0 = bi.prior_batches(spark, store, 0)
    assert {r["doc_id"] for r in p0.collect()} == set(range(4))
    p1 = bi.prior_batches(spark, store, 1)
    assert {r["doc_id"] for r in p1.collect()} == set(range(4)) | set(range(10, 14))
    assert bi.prior_batches(spark, store, -1) is None


def test_resume_registers_from_spec_in_fresh_catalog(spark, tmp_path):
    """The catalog is session-scoped; the spec sidecar + data are not.
    Dropping the table (= a fresh session) and writing/probing again
    must re-register with the SAME bucket spec."""
    store = str(tmp_path / "bands")
    bi.write_contribution(spark, store, _contrib(spark, range(4)), 0,
                          ("band", "band_hash"), n_buckets=4)
    tbl = bi.table_name(store)
    spark.sql(f"DROP TABLE {tbl}")  # simulate session restart

    bi.write_contribution(spark, store, _contrib(spark, range(10, 14)), 1,
                          ("band", "band_hash"), n_buckets=99)  # ignored: spec wins
    spec = bi.read_spec(spark, store)
    assert spec["n_buckets"] == 4
    prior = bi.prior_batches(spark, store, 2)
    assert prior.count() == 8
    # the re-registered table kept its bucket layout: an aggregate on
    # the bucket keys plans with NO exchange (autoBucketedScan disables
    # the bucketed read for plans that can't use it, so assert through
    # a plan that can)
    agg = prior.groupBy("band", "band_hash").count()
    plan = _formatted_plan(agg)
    assert "Bucketed: true" in plan
    assert ") Exchange" not in plan


def test_probe_plan_no_exchange_on_index_side(spark, tmp_path):
    """THE point of the layout (VERDICT r9 #1): the history-probe join
    must not re-shuffle the accumulated index — the bucketed scan feeds
    its SortMergeJoin with no Exchange on the path, the `batch <
    current` guard is partition pruning, and only the O(batch) side
    exchanges on (band, band_hash)."""
    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
    )

    store = str(tmp_path / "bands")
    docs = spark.createDataFrame(
        [(i, f"{EN} alpha beta gamma tail{i}") for i in range(6)], DOC_SCHEMA
    )
    banded = minhash_banded(docs, "doc_id", "text", num_hashes=32, bands=8)
    for b in (0, 1):
        bi.write_contribution(
            spark,
            store,
            banded.filter(F.col("doc_id") % 2 == b),
            b,
            ("band", "band_hash"),
        )
    idx = bi.prior_batches(spark, store, 2)
    probe = spark.createDataFrame([(100, f"{EN} alpha beta gamma tailX")], DOC_SCHEMA)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hits = incremental_neardup_pairs(
            probe, idx, "doc_id", "text", num_hashes=32, bands=8,
            jaccard_threshold=0.3, carry_signatures=True,
        )
        plan = _formatted_plan(hits)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "Bucketed: true" in plan
    assert "batch" in plan.split("PartitionFilters:")[1].splitlines()[0]
    ancestors = _scan_ancestors_to_join(plan, "Scan parquet")
    assert ancestors and "Join" in ancestors[-1], ancestors
    assert not any("Exchange" in ln for ln in ancestors), (
        "index side of the probe join is exchanged:\n" + "\n".join(ancestors)
    )
    # and the probe still finds the near-dups through the index
    assert hits.count() > 0


def test_stream_curation_layouts_produce_identical_survivors(spark, tmp_path):
    """dirs vs bucketed is a STORAGE decision only: same corpus, same
    parameters → byte-identical survivor sets, and the same near-dup
    drops through the persisted index across micro-batches."""
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    fam = f"{EN} alpha beta gamma delta epsilon zeta eta theta"
    uniq = [
        f"the w{i}a and w{i}b of w{i}c to w{i}d in w{i}e is w{i}f "
        f"that w{i}g for w{i}h with w{i}j was w{i}k"
        for i in range(4)
    ]
    inp = str(tmp_path / "in")
    for b in range(4):
        rows = [(2 * b, f"{fam} tail{b}"), (2 * b + 1, uniq[b])]
        if b == 2:
            rows.append((100, uniq[0]))  # exact dup of batch-0 unique
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def run(layout):
        out, idx, ck = (str(tmp_path / f"{d}-{layout}") for d in ("out", "idx", "ck"))
        q = run_stream_curation(
            spark, inp, DOC_SCHEMA, out, idx, ck,
            min_quality=0.3, jaccard_threshold=0.3,
            band_index_layout=layout,
            scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
        )
        drain(q)
        return {
            (r["doc_id"], r["lang_pred"], r["quality"], r["split"])
            for r in spark.read.parquet(out).collect()
        }

    got_dirs = run("dirs")
    got_bucketed = run("bucketed")
    assert got_dirs == got_bucketed
    ids = {t[0] for t in got_bucketed}
    assert ids == {0, 1, 3, 5, 7}  # family members 2,4,6 + exact dup 100 drop


def test_crash_in_first_contribution_restarts_cleanly(spark, tmp_path, monkeypatch):
    """A one-shot failure inside the first contribution, at its spec
    write or between the spec write and the insert, must not brick the
    store: rerunning the same stream over the same checkpoint finishes,
    with the survivors of an uninjected run."""
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    fam = f"{EN} alpha beta gamma delta epsilon zeta eta theta"
    inp = str(tmp_path / "in")
    for b in range(3):
        rows = [(2 * b, f"{fam} tail{b}"), (2 * b + 1, f"{EN} w{b}a w{b}b w{b}c w{b}d")]
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def run(tag):
        out, idx, ck = (str(tmp_path / f"{d}-{tag}") for d in ("out", "idx", "ck"))
        q = run_stream_curation(
            spark, inp, DOC_SCHEMA, out, idx, ck,
            min_quality=0.3, jaccard_threshold=0.3,
            scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
        )
        drain(q)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    want = run("clean")
    real_write_text, real_ensure_table = bi.write_text, bi.ensure_table
    fired = []

    def failing_spec_write(spark_, path, content):
        if path.endswith(bi.SPEC_FILE) and not fired:
            fired.append(path)
            raise OSError("injected spec-write failure")
        return real_write_text(spark_, path, content)

    def failing_register(spark_, store_dir):
        if not fired:
            fired.append(store_dir)
            raise OSError("injected failure before the first insert")
        return real_ensure_table(spark_, store_dir)

    for tag, attr, fail in [
        ("spec", "write_text", failing_spec_write),
        ("insert", "ensure_table", failing_register),
    ]:
        fired.clear()
        with monkeypatch.context() as m:
            m.setattr(bi, attr, fail)
            with pytest.raises(Exception, match="injected"):
                run(tag)
        assert fired, tag
        assert run(tag) == want, tag


def test_layout_mismatch_fails_loud(spark, tmp_path):
    """A store keeps the layout it was created with — probing a
    bucketed store as dirs (or vice versa) must refuse, not silently
    dedup against the wrong shape."""
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [(0, f"{EN} alpha beta gamma")], DOC_SCHEMA
    ).coalesce(1).write.parquet(inp)
    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    kw = dict(min_quality=0.3, jaccard_threshold=0.3, scfg=scfg)

    out, idx, ck = (str(tmp_path / d) for d in ("out", "idx", "ck"))
    q = run_stream_curation(
        spark, inp, DOC_SCHEMA, out, idx, ck, band_index_layout="bucketed", **kw
    )
    drain(q)
    with pytest.raises(ValueError, match="bucketed layout"):
        run_stream_curation(
            spark, inp, DOC_SCHEMA, out, idx, ck, band_index_layout="dirs", **kw
        )

    out2, idx2, ck2 = (str(tmp_path / f"{d}2") for d in ("out", "idx", "ck"))
    q2 = run_stream_curation(
        spark, inp, DOC_SCHEMA, out2, idx2, ck2, band_index_layout="dirs", **kw
    )
    drain(q2)
    with pytest.raises(ValueError, match="dirs-layout"):
        run_stream_curation(
            spark, inp, DOC_SCHEMA, out2, idx2, ck2, band_index_layout="bucketed", **kw
        )


def test_semantic_probe_plan_no_exchange_on_index_side(spark, tmp_path):
    """Round 11 (VERDICT r10 #1): the SEMANTIC history probe — a
    cell-keyed cogroup (FlatMapCoGroupsInPandas) — must not re-shuffle
    the persisted index when it lives in the bucketed layout: the index
    side feeds the cogroup straight from the bucketed scan
    (partition-pruned on batch < current), only the O(batch) side
    exchanges on cell. Mirrors test_probe_plan_no_exchange_on_index_side
    for the curation band store."""
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    store = str(tmp_path / "semidx")
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(20)],
        vec_schema,
    )
    assigned = semantic_assign(corpus, "vec_id", "embedding", cents)
    for b in (-1, 0):
        bi.write_contribution(
            spark,
            store,
            assigned.filter(F.col("vec_id") % 2 == (b + 1) % 2),
            b,
            ("cell",),
            n_buckets=4,
            dedup_cols=("vec_id",),
        )
    idx = bi.prior_batches(spark, store, 1)
    batch = spark.createDataFrame(
        [(500, [0.9, 0.1]), (501, [0.1, 0.9])], vec_schema
    )
    flags = semantic_dedup_incremental(
        batch, idx, "vec_id", "embedding", cents, threshold=0.99
    )
    plan = _formatted_plan(flags)

    assert "Bucketed: true" in plan, plan
    assert "batch" in plan.split("PartitionFilters:")[1].splitlines()[0]
    # the index scan's path up to the cogroup must hold no Exchange
    tree = [
        ln
        for ln in plan.splitlines()
        if ("+- " in ln or ":- " in ln or ln.startswith("Adaptive"))
    ]

    def depth(ln):
        for m in ("+- ", ":- "):
            if m in ln:
                return ln.index(m)
        return -1

    scan_i = next(i for i, ln in enumerate(tree) if "Scan parquet" in ln)
    ancestors, d = [], depth(tree[scan_i])
    for i in range(scan_i - 1, -1, -1):
        di = depth(tree[i])
        if di < d:
            ancestors.append(tree[i])
            d = di
            if "FlatMapCoGroupsInPandas" in tree[i]:
                break
    assert ancestors and "FlatMapCoGroupsInPandas" in ancestors[-1], ancestors
    assert not any("Exchange" in ln for ln in ancestors), (
        "index side of the semantic probe is exchanged:\n" + "\n".join(ancestors)
    )
    # and the probe still flags the history dups through the index
    got = {r["vec_id"]: r["is_semdup"] for r in flags.collect()}
    assert got == {500: True, 501: True}


def test_compact_index_store_window_and_dirs_guard(spark, tmp_path):
    """compact_index_store API surface: only_below folds the
    state-derived window below it into its max (the seed and later
    batches untouched); a crash-duplicated window is healed by a later
    FULL fold via the spec's dedup key; only_below on a dirs-layout
    store fails loud."""
    import pytest as _pytest

    from s3logs_parquet_spark.plans.compact import compact_index_store

    store = str(tmp_path / "store")
    for b in (-1, 0, 1, 2):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * (b + 2), 10 * (b + 2) + 4)),
            b, ("band", "band_hash"), n_buckets=2, dedup_cols=("doc_id",),
        )
    tbl = bi.ensure_table(spark, store)
    # window fold {0,1} -> 1; seed and batch 2 untouched
    res = compact_index_store(spark, store, only_below=2)
    assert res["batches_before"] == 4 and res["batches_after"] == 3
    assert bi.partition_ids(spark, tbl) == [-1, 1, 2]
    assert spark.table(tbl).count() == 16

    # simulate the crash window: re-insert batch 0's rows next to the
    # folded copy (duplicates on the dedup key), then heal with a FULL
    # fold — dropDuplicates on dedup_cols restores exact rows
    bi.write_contribution(
        spark, store, _contrib(spark, range(20, 24)), 0, ("band", "band_hash")
    )
    assert spark.table(tbl).count() == 20  # duplicated window visible
    res2 = compact_index_store(spark, store)
    assert res2["batches_after"] == 1
    assert spark.table(tbl).count() == 16  # healed

    # dirs layout refuses the in-stream fold
    droot = str(tmp_path / "dirs_store")
    _contrib(spark, range(4)).write.parquet(f"{droot}/batch=0")
    with _pytest.raises(ValueError, match="requires the bucketed layout"):
        compact_index_store(spark, droot, only_below=5)


def test_window_fold_state_derived_no_cadence_gap(spark, tmp_path):
    """ADVICE r11 #2: the in-stream fold (only_below) derives its id
    set from the store's folded_below sidecar state, not an arithmetic
    range(batch_id - N, batch_id) — so a stream restarted with a
    DIFFERENT fold cadence still folds the ids the old cadence left
    behind (the r11 arithmetic window orphaned them forever)."""
    from s3logs_parquet_spark.plans.compact import compact_index_store

    store = str(tmp_path / "store")
    for b in (-1, 0, 1, 2, 3):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * (b + 2), 10 * (b + 2) + 4)),
            b, ("band", "band_hash"), n_buckets=2, dedup_cols=("doc_id",),
        )
    tbl = bi.ensure_table(spark, store)
    assert bi.read_spec(spark, store).get("folded_below") is None
    assert bi.read_fold_state(spark, store) == 0

    # first in-stream fold at batch 4 (cadence N=4): window derives
    # [0, 4) from folded_below default 0 — seed untouched
    res = compact_index_store(spark, store, only_below=4)
    assert res["batches_before"] == 5 and res["batches_after"] == 2
    assert bi.partition_ids(spark, tbl) == [-1, 3]
    assert bi.read_fold_state(spark, store) == 4

    # cadence change: batches 4..7 land, but the NEW cadence (N=2,
    # restart) first folds at batch 8 — the r11 arithmetic window
    # range(6, 8) would orphan 4 and 5 forever; the derived window is
    # every existing id in [4, 8)
    for b in (4, 5, 6, 7):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * (b + 2), 10 * (b + 2) + 4)),
            b, ("band", "band_hash"),
        )
    res2 = compact_index_store(spark, store, only_below=8)
    assert res2["batches_after"] == 3  # seed, 3, 7 — nothing orphaned
    assert bi.partition_ids(spark, tbl) == [-1, 3, 7]
    assert bi.read_fold_state(spark, store) == 8
    assert spark.table(tbl).count() == 9 * 4  # every row survived

    # next derived window picks up from the RECORDED state (8): every
    # id in [8, 12) folds, nothing below the boundary is ever orphaned
    for b in (8, 9, 10, 11):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * (b + 2), 10 * (b + 2) + 4)),
            b, ("band", "band_hash"),
        )
    res3 = compact_index_store(spark, store, only_below=12)
    assert res3["batches_after"] == 4  # seed + survivors 3, 7 + new 11
    assert bi.partition_ids(spark, tbl) == [-1, 3, 7, 11]
    assert bi.read_fold_state(spark, store) == 12
    assert spark.table(tbl).count() == 13 * 4

    # crash idempotency: a fold that completed but died BEFORE the
    # sidecar update leaves folded_below stale — the next derived fold
    # simply re-covers the window (survivor partitions re-fold into the
    # same max) without losing or duplicating rows
    bi.write_fold_state(spark, store, 8)  # wind the state back past the last fold
    # the stale window [8,12) holds only survivor 11 -> single-id
    # no-op (early return): nothing rewritten, state intentionally
    # left for the next real fold
    compact_index_store(spark, store, only_below=12)
    assert bi.partition_ids(spark, tbl) == [-1, 3, 7, 11]
    assert bi.read_fold_state(spark, store) == 8
    # ...which heals forward as soon as the window has >1 id: the
    # survivor re-folds with the new batches, no loss, no duplication
    for b in (12, 13):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * (b + 2), 10 * (b + 2) + 4)),
            b, ("band", "band_hash"),
        )
    compact_index_store(spark, store, only_below=14)
    assert bi.partition_ids(spark, tbl) == [-1, 3, 7, 13]
    assert bi.read_fold_state(spark, store) == 14  # healed
    assert spark.table(tbl).count() == 15 * 4  # nothing lost, nothing doubled


def test_spec_immutable_and_fold_state_sidecar_atomic(spark, tmp_path):
    """ADVICE r12 #1: _INDEX_SPEC.json is write-once at store creation
    — folds persist the folded_below watermark in the separate
    _FOLD_STATE.json sidecar (temp write + rename, atomic on
    HDFS/local), so a crash mid-watermark-update can never take the
    creation-time bucket spec with it. No temp residue is left
    behind."""
    import json
    import pathlib

    from s3logs_parquet_spark.plans.compact import compact_index_store

    store = str(tmp_path / "store")
    for b in range(4):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * b, 10 * b + 4)),
            b, ("band", "band_hash"), n_buckets=2, dedup_cols=("doc_id",),
        )
    spec_path = pathlib.Path(store) / bi.SPEC_FILE
    before = spec_path.read_bytes()
    compact_index_store(spark, store, only_below=4)
    assert bi.read_fold_state(spark, store) == 4
    # the spec bytes are untouched by the fold; the watermark lives in
    # its own sidecar; the temp sibling was renamed away
    assert spec_path.read_bytes() == before
    state_path = pathlib.Path(store) / bi.FOLD_STATE_FILE
    assert json.loads(state_path.read_text()) == {"folded_below": 4}
    assert not (pathlib.Path(store) / (bi.FOLD_STATE_FILE + ".tmp")).exists()
    # a second fold overwrites the live sidecar in place (rename over)
    for b in (4, 5):
        bi.write_contribution(
            spark, store, _contrib(spark, range(10 * b, 10 * b + 4)),
            b, ("band", "band_hash"),
        )
    compact_index_store(spark, store, only_below=6)
    assert json.loads(state_path.read_text()) == {"folded_below": 6}
    assert spec_path.read_bytes() == before


def test_corrupt_spec_fails_loud_not_dirs_layout(spark, tmp_path):
    """ADVICE r12 #1 (second half): an UNPARSEABLE spec must raise, not
    silently read as None — None flips the layout auto-detection and
    misroutes a bucketed store down the dirs-layout fold path."""
    from s3logs_parquet_spark.plans.compact import compact_index_store

    store = str(tmp_path / "store")
    bi.write_contribution(
        spark, store, _contrib(spark, range(4)), 0,
        ("band", "band_hash"), n_buckets=2,
    )
    import posixpath

    from s3logs_parquet_spark.fsutil import write_text

    spec_path = posixpath.join(store, bi.SPEC_FILE)
    # corrupt through the Hadoop FS path (keeps the .crc sidecar in
    # step — a pathlib write would fail the checksum instead)
    write_text(spark, spec_path, '{"table": "s3lps_index_tru')  # truncated
    with pytest.raises(ValueError, match="corrupt"):
        bi.read_spec(spark, store)
    with pytest.raises(ValueError, match="corrupt"):
        bi.ensure_table(spark, store)
    with pytest.raises(ValueError, match="corrupt"):
        compact_index_store(spark, store)
    # a corrupt FOLD-STATE sidecar, by contrast, degrades to watermark
    # 0 — the safe direction (one idempotent re-fold), never a brick
    write_text(spark, spec_path, '{"bogus": true}')  # valid JSON again
    write_text(spark, posixpath.join(store, bi.FOLD_STATE_FILE), "garbage{")
    assert bi.read_fold_state(spark, store) == 0


def test_fold_state_honors_legacy_in_spec_watermark(spark, tmp_path):
    """Upgrade path: a store folded by the round-12 code carries
    folded_below INSIDE _INDEX_SPEC.json and has no _FOLD_STATE.json —
    read_fold_state must honor it (max of both) so the first
    post-upgrade window fold doesn't re-cover already-folded ids."""
    import json

    store = str(tmp_path / "store")
    bi.write_contribution(
        spark, store, _contrib(spark, range(4)), 0,
        ("band", "band_hash"), n_buckets=2,
    )
    import posixpath

    from s3logs_parquet_spark.fsutil import read_text, write_text

    spec_path = posixpath.join(store, bi.SPEC_FILE)
    spec = json.loads(read_text(spark, spec_path))
    spec["folded_below"] = 7  # what the r12 fold would have written
    write_text(spark, spec_path, json.dumps(spec))
    assert bi.read_fold_state(spark, store) == 7
    # the new sidecar wins once it moves past the legacy value
    bi.write_fold_state(spark, store, 9)
    assert bi.read_fold_state(spark, store) == 9
    # ...but never backwards (max semantics)
    bi.write_fold_state(spark, store, 3)
    assert bi.read_fold_state(spark, store) == 7


def test_probe_plan_after_full_fold_still_bucketed(spark, tmp_path):
    """VERDICT r12 #3: the drain-time FULL fold rewrites every batch
    partition into one — the store must come out the other side with
    its bucket spec intact: a probe against the folded store still
    shows no Exchange on the index side, the fold output landed in
    batch=<max>, and folded_below advanced past every folded id."""
    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
    )
    from s3logs_parquet_spark.plans.compact import compact_index_store

    store = str(tmp_path / "bands")
    docs = spark.createDataFrame(
        [(i, f"{EN} alpha beta gamma tail{i}") for i in range(8)], DOC_SCHEMA
    )
    banded = minhash_banded(docs, "doc_id", "text", num_hashes=32, bands=8)
    for b in range(4):
        bi.write_contribution(
            spark, store, banded.filter(F.col("doc_id") % 4 == b), b,
            ("band", "band_hash"), dedup_cols=("doc_id", "band"),
        )
    tbl = bi.ensure_table(spark, store)
    rows_before = spark.table(tbl).count()
    res = compact_index_store(spark, store)  # the everything-fold
    assert res["batches_after"] == 1
    # all history now lives in batch=<max>; the watermark covers it
    assert bi.partition_ids(spark, tbl) == [3]
    assert bi.read_fold_state(spark, store) == 4
    assert spark.table(tbl).count() == rows_before  # dedup had nothing to heal

    idx = bi.prior_batches(spark, store, 100)
    probe = spark.createDataFrame(
        [(100, f"{EN} alpha beta gamma tailX")], DOC_SCHEMA
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hits = incremental_neardup_pairs(
            probe, idx, "doc_id", "text", num_hashes=32, bands=8,
            jaccard_threshold=0.3, carry_signatures=True,
        )
        plan = _formatted_plan(hits)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the bucket spec survived the rewrite: bucketed scan, partition
    # pruning on batch, no Exchange between the index scan and the join
    assert "Bucketed: true" in plan
    assert "batch" in plan.split("PartitionFilters:")[1].splitlines()[0]
    ancestors = _scan_ancestors_to_join(plan, "Scan parquet")
    assert ancestors and "Join" in ancestors[-1], ancestors
    assert not any("Exchange" in ln for ln in ancestors), (
        "index side exchanged after full fold:\n" + "\n".join(ancestors)
    )
    assert hits.count() > 0  # near-dups still found through the folded store

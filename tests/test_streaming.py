"""Streaming pipeline tests: T1-T6 semantics (SURVEY.md §2.8)."""

from __future__ import annotations

import os
import random

from conftest import drain
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.streaming.job import (
    StreamingJobConfig,
    run_streaming_transform,
)
from s3logs_parquet_spark.streaming.monitor import ThroughputStats
from s3logs_parquet_spark.testing import generate_lines, make_line

BASE_TS = 1715500800  # 2024-05-12 08:00 UTC
DAY = 86400


def _drain(spark, inp, out, ckpt, scfg=None):
    scfg = scfg or StreamingJobConfig(available_now=True)
    scfg.available_now = True
    q = run_streaming_transform(spark, inp, out, ckpt, EngineConfig(), scfg)
    drain(q)
    assert not q.isActive


def test_stream_daily_partitions_and_recovery(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    # two files on different event dates + garbage lines
    day0 = generate_lines(200, seed=11, base_ts=BASE_TS, garbage_fraction=0.05, dup_fraction=0.0)
    day1 = generate_lines(100, seed=12, base_ts=BASE_TS + DAY, garbage_fraction=0.0, dup_fraction=0.0)
    (tmp_path / "in" / "f0.log").write_text("\n".join(day0) + "\n")
    (tmp_path / "in" / "f1.log").write_text("\n".join(day1) + "\n")

    _drain(spark, inp, out, ckpt)
    table = spark.read.parquet(out)
    n_garbage = sum(1 for l in day0 if l.startswith("!!"))
    assert table.count() == 300 - n_garbage
    dts = sorted(str(r["dt"]) for r in table.select("dt").distinct().collect())
    assert dts == ["20240512", "20240513"]

    # T2: LATE data for the old partition arrives in a later trigger →
    # partition re-opened, rows appended (unbounded lateness)
    late = [make_line(random.Random(99), BASE_TS + 60)]
    (tmp_path / "in" / "f2_late.log").write_text("\n".join(late) + "\n")
    _drain(spark, inp, out, ckpt)  # restart from checkpoint: only new file processed
    table2 = spark.read.parquet(out)
    assert table2.count() == 300 - n_garbage + 1
    # T4: restart did NOT reprocess f0/f1 (checkpointed source log)
    assert table2.filter(F.col("dt") == "20240512").count() == 200 - n_garbage + 1


def test_stream_hourly_granularity(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    rng = random.Random(5)
    lines = [make_line(rng, BASE_TS + h * 3600) for h in range(3)]
    (tmp_path / "in" / "f.log").write_text("\n".join(lines) + "\n")
    _drain(
        spark, inp, out, ckpt,
        StreamingJobConfig(partition_granularity="hour"),
    )
    dts = sorted(str(r["dt"]) for r in spark.read.parquet(out).select("dt").distinct().collect())
    assert dts == ["2024051208", "2024051209", "2024051210"]


def test_stream_passthrough_key_date(spark, tmp_path):
    """P5: event date from the object key, not line content."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    rng = random.Random(6)
    # file named with a 2024-06-01 key date but lines dated 2024-05-12:
    # passthrough must route by the KEY date
    lines = [make_line(rng, BASE_TS) for _ in range(5)]
    fname = "2024-06-01-00-00-00-ABCDEF0123456789"
    (tmp_path / "in" / fname).write_text("\n".join(lines) + "\n")
    _drain(
        spark, inp, out, ckpt,
        StreamingJobConfig(passthrough=True),
    )
    dts = [str(r["dt"]) for r in spark.read.parquet(out).select("dt").distinct().collect()]
    assert dts == ["20240601"]


def test_stream_dedup_watermark(spark, tmp_path):
    """T4 redelivery dupes dropped by dropDuplicatesWithinWatermark."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    rng = random.Random(7)
    line = make_line(rng, BASE_TS, request_id="DUPLICATEDRID001")
    other = make_line(rng, BASE_TS + 5)
    # same line delivered twice in one batch (redelivery)
    (tmp_path / "in" / "f.log").write_text("\n".join([line, line, other]) + "\n")
    _drain(
        spark, inp, out, ckpt,
        StreamingJobConfig(dedup_watermark="1 hour"),
    )
    table = spark.read.parquet(out)
    assert table.count() == 2
    assert table.filter(F.col("RequestID") == "DUPLICATEDRID001").count() == 1


def test_stream_custom_schema_fields_and_positional_dedup(spark, tmp_path):
    """ADVICE r8: one EngineConfig ⇒ one table shape across BOTH paths.
    With a config-file schema loaded (cfg.schema_fields) the streaming
    plan must write the file's column names — not the built-in 26 — and
    the watermark dedup must key on the POSITIONAL 6th field (the batch
    dedup's rule, utils.rs:1076), not a hardcoded 'RequestID'."""
    from s3logs_parquet_spark.schema import LOG_FIELDS

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    rng = random.Random(8)
    line = make_line(rng, BASE_TS, request_id="DUPLICATEDRID002")
    other = make_line(rng, BASE_TS + 5)
    (tmp_path / "in" / "f.log").write_text("\n".join([line, line, other]) + "\n")

    names = tuple(f"fld_{i:02d}" for i in range(len(LOG_FIELDS)))
    cfg = EngineConfig(schema_fields=names)
    scfg = StreamingJobConfig(dedup_watermark="1 hour", available_now=True)
    q = run_streaming_transform(spark, inp, out, ckpt, cfg, scfg)
    drain(q)
    table = spark.read.parquet(out)
    assert "RequestID" not in table.columns
    assert set(names) <= set(table.columns)
    # positional dedup: the redelivered line (same 6th field) collapses
    assert table.count() == 2
    assert table.filter(F.col("fld_05") == "DUPLICATEDRID002").count() == 1

    # batch path over the same input + config produces the same shape
    from s3logs_parquet_spark.plans.batch import run_batch_transform

    bout = str(tmp_path / "bout")
    run_batch_transform(spark, inp, bout, cfg)
    bcols = set(spark.read.parquet(bout).columns)
    assert set(names) <= bcols and "RequestID" not in bcols


def test_throughput_stats_ring():
    """mon.rs ring semantics: rolling means over minute slots."""
    s = ThroughputStats()
    t0 = 1715500800.0
    for i in range(10):
        s.record(600, now=t0 + i * 60)  # 600 rows per minute slot
    assert s.rows_total == 6000
    assert abs(s.mean_rows_per_sec(5) - 600 * 5 / 300.0) < 1e-9  # 10/s
    assert s.mean_rows_per_sec(15) == 6000 / 900.0


def test_stream_processing_time_follow_and_graceful_stop(spark, tmp_path):
    """T3 processing-time cadence + T6 graceful stop: the follow-mode
    query picks up files appearing between micro-batches and drains
    cleanly on stop()."""
    import time as _time

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    (tmp_path / "in" / "f1.log").write_text(
        "\n".join(generate_lines(30, seed=61, garbage_fraction=0.0, dup_fraction=0.0)) + "\n"
    )
    q = run_streaming_transform(
        spark, inp, out, ckpt, EngineConfig(),
        StreamingJobConfig(processing_time="1 seconds"),
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 30:
                    break
            except Exception:
                pass  # sink not initialized yet
            _time.sleep(1)
        # drop a second file while the query is live
        (tmp_path / "in" / "f2.log").write_text(
            "\n".join(generate_lines(20, seed=62, garbage_fraction=0.0, dup_fraction=0.0)) + "\n"
        )
        deadline = _time.time() + 60
        while _time.time() < deadline and spark.read.parquet(out).count() < 50:
            _time.sleep(1)
        assert spark.read.parquet(out).count() == 50
    finally:
        q.stop()  # T6
        drain(q)
    assert not q.isActive


def test_manifest_stream_exactly_once_across_restart(spark, tmp_path):
    """S5 end-to-end: manifests name objects; only those objects are
    ingested; a restart with new manifests does not reprocess old ones."""
    import json

    from s3logs_parquet_spark.streaming.job import run_manifest_stream

    objroot = tmp_path / "objects"
    (objroot / "bkt-a" / "logs").mkdir(parents=True)
    (objroot / "bkt-b" / "logs").mkdir(parents=True)
    files = {}
    for i, (bkt, n) in enumerate([("bkt-a", 120), ("bkt-a", 80), ("bkt-b", 60)]):
        lines = generate_lines(n, seed=20 + i, base_ts=BASE_TS, dup_fraction=0.0, garbage_fraction=0.0)
        key = f"logs/obj{i}.log"
        (objroot / bkt / key).write_text("\n".join(lines) + "\n")
        files[(bkt, key)] = n

    def manifest_line(bkt, key, event="ObjectCreated:Put"):
        return json.dumps(
            {"Records": [{"eventName": event, "s3": {"bucket": {"name": bkt}, "object": {"key": key, "size": 1}}}]}
        )

    man, out, ckpt = (str(tmp_path / d) for d in ("man", "out", "ckpt"))
    os.makedirs(man)
    # first manifest: names obj0 and obj1; names obj2 only under a
    # REJECTED event type (F2 must drop it); obj2's object exists but
    # must not be read
    (tmp_path / "man" / "m0.json").write_text(
        "\n".join(
            [
                manifest_line("bkt-a", "logs/obj0.log"),
                manifest_line("bkt-a", "logs/obj1.log"),
                manifest_line("bkt-b", "logs/obj2.log", event="ObjectRemoved:Delete"),
            ]
        )
        + "\n"
    )
    scfg = StreamingJobConfig(available_now=True)
    q = run_manifest_stream(
        spark, man, out, ckpt, EngineConfig(), scfg, scheme="file://", object_root=str(objroot)
    )
    drain(q)
    t1 = spark.read.parquet(out)
    assert t1.count() == 200  # obj0 + obj1 only, F2 dropped obj2

    # second manifest names obj2 with an accepted event; restart from
    # the same checkpoint: m0 is NOT redelivered, only obj2 arrives
    (tmp_path / "man" / "m1.json").write_text(manifest_line("bkt-b", "logs/obj2.log") + "\n")
    q2 = run_manifest_stream(
        spark, man, out, ckpt, EngineConfig(), scfg, scheme="file://", object_root=str(objroot)
    )
    drain(q2)
    t2 = spark.read.parquet(out)
    assert t2.count() == 260
    # batch commit dirs are the receipt units: replay-safe overwrite targets
    assert t2.select("batch").distinct().count() == 2


def test_manifest_stream_passthrough_key_dates(spark, tmp_path):
    """P5 on the manifest stream: each object's rows land under its KEY
    date, not the lines' event date; a redelivered object (same lines
    under a second key of the same date) is deduplicated within its
    key-date group."""
    import json

    from s3logs_parquet_spark.streaming.job import run_manifest_stream

    objroot = tmp_path / "objects"
    (objroot / "bkt").mkdir(parents=True)
    keys = {
        "2024-06-01-00-00-00-ABCDEF0123456789": generate_lines(
            40, seed=31, base_ts=BASE_TS, dup_fraction=0.0, garbage_fraction=0.0
        ),
        "2024-06-02-13-00-00-0123456789ABCDEF": generate_lines(
            30, seed=32, base_ts=BASE_TS, dup_fraction=0.0, garbage_fraction=0.0
        ),
    }
    # redelivery: the first object's lines again under another key of
    # the same date
    keys["2024-06-01-05-00-00-FEDCBA9876543210"] = keys[
        "2024-06-01-00-00-00-ABCDEF0123456789"
    ]
    for key, lines in keys.items():
        (objroot / "bkt" / key).write_text("\n".join(lines) + "\n")
    man, out, ckpt = (str(tmp_path / d) for d in ("man", "out", "ckpt"))
    os.makedirs(man)
    (tmp_path / "man" / "m0.json").write_text(
        "\n".join(
            json.dumps(
                {"Records": [{"eventName": "ObjectCreated:Put",
                              "s3": {"bucket": {"name": "bkt"},
                                     "object": {"key": key, "size": 1}}}]}
            )
            for key in keys
        )
        + "\n"
    )
    q = run_manifest_stream(
        spark, man, out, ckpt, EngineConfig(),
        StreamingJobConfig(available_now=True, passthrough=True),
        scheme="file://", object_root=str(objroot),
    )
    drain(q)
    got = {
        str(r["dt"]): r["count"]
        for r in spark.read.parquet(out).groupBy("dt").count().collect()
    }
    assert got == {"20240601": 40, "20240602": 30}


def test_fold_stream_batches_after_drain(spark, tmp_path):
    """VERDICT r2 #5: a drained manifest stream's batch=<id> commit
    dirs fold into a single batch dir (resumable mode) and into bare
    dt partitions (final mode), reading identically before and after,
    with ≤1 file per dt partition."""
    import json

    from s3logs_parquet_spark.plans.compact import fold_stream_batches
    from s3logs_parquet_spark.streaming.job import run_manifest_stream

    objroot = tmp_path / "objects"
    (objroot / "bkt" / "logs").mkdir(parents=True)
    for i, n in enumerate([100, 70, 50]):
        lines = generate_lines(
            n, seed=40 + i, base_ts=BASE_TS + i * DAY, dup_fraction=0.0, garbage_fraction=0.0
        )
        (objroot / "bkt" / "logs" / f"obj{i}.log").write_text("\n".join(lines) + "\n")

    def manifest_line(key):
        return json.dumps(
            {
                "Records": [
                    {
                        "eventName": "ObjectCreated:Put",
                        "s3": {"bucket": {"name": "bkt"}, "object": {"key": key, "size": 1}},
                    }
                ]
            }
        )

    man, out, ckpt = (str(tmp_path / d) for d in ("man", "out", "ckpt"))
    os.makedirs(man)
    scfg = StreamingJobConfig(available_now=True)
    # three drains -> three committed batch dirs
    for i in range(3):
        (tmp_path / "man" / f"m{i}.json").write_text(manifest_line(f"logs/obj{i}.log") + "\n")
        q = run_manifest_stream(
            spark, man, out, ckpt, EngineConfig(), scfg, scheme="file://", object_root=str(objroot)
        )
        drain(q)

    before = spark.read.parquet(out)
    data_cols = [c for c in before.columns if c != "batch"]
    before_rows = sorted(map(tuple, before.select(*data_cols).collect()))
    assert before.select("batch").distinct().count() == 3

    res = fold_stream_batches(spark, out)
    assert res["batches_before"] == 3 and res["batches_after"] == 1
    folded = spark.read.parquet(out)
    assert sorted(map(tuple, folded.select(*data_cols).collect())) == before_rows
    # one committed batch dir remains, under the highest folded id
    assert [r["batch"] for r in folded.select("batch").distinct().collect()] == [2]
    # <= 1 parquet file per dt partition
    from s3logs_parquet_spark.fsutil import list_files

    by_dt = {}
    for f in list_files(spark, out, recursive=True):
        if f.name.endswith(".parquet"):
            dt = [p for p in f.path.split("/") if p.startswith("dt=")][0]
            by_dt[dt] = by_dt.get(dt, 0) + 1
    assert by_dt and all(n == 1 for n in by_dt.values())

    # re-fold is a no-op (single batch already)
    res2 = fold_stream_batches(spark, out)
    assert res2["batches_after"] == res2["batches_before"] == 1

    # final mode drops the batch level entirely -> published dt=* table
    res3 = fold_stream_batches(spark, out, final=True)
    assert res3["batches_after"] == 0
    final = spark.read.parquet(out)
    assert "batch" not in final.columns
    assert sorted(map(tuple, final.select(*data_cols).collect())) == before_rows


def test_stream_batch_equivalence_differential(spark, tmp_path):
    """T4 standing regression (VERDICT r2 stretch): the manifest
    stream (drained) and the batch job over the SAME objects produce
    identical parquet contents — same survivors, same field values —
    turning the exactly-once/engine-parity claim into a test."""
    import json

    from s3logs_parquet_spark.plans.batch import run_batch_transform
    from s3logs_parquet_spark.streaming.job import run_manifest_stream

    objroot = tmp_path / "objects"
    (objroot / "bkt" / "logs").mkdir(parents=True)
    paths = []
    for i, n in enumerate([150, 90]):
        # duplicates + garbage so F1 and D1 both have work to do
        lines = generate_lines(
            n, seed=70 + i, base_ts=BASE_TS, dup_fraction=0.1, garbage_fraction=0.05
        )
        p = objroot / "bkt" / "logs" / f"obj{i}.log"
        p.write_text("\n".join(lines) + "\n")
        paths.append(str(p))

    man, out_s, ckpt = (str(tmp_path / d) for d in ("man", "out_s", "ckpt"))
    os.makedirs(man)
    records = [
        json.dumps(
            {
                "Records": [
                    {
                        "eventName": "ObjectCreated:Put",
                        "s3": {
                            "bucket": {"name": "bkt"},
                            "object": {"key": f"logs/obj{i}.log", "size": 1},
                        },
                    }
                ]
            }
        )
        for i in range(2)
    ]
    # ONE manifest naming both objects -> one micro-batch, the same
    # dedup scope as the batch job over both files
    (tmp_path / "man" / "m0.json").write_text("\n".join(records) + "\n")
    q = run_manifest_stream(
        spark,
        man,
        out_s,
        ckpt,
        EngineConfig(),
        StreamingJobConfig(available_now=True),
        scheme="file://",
        object_root=str(objroot),
    )
    drain(q)

    out_b = str(tmp_path / "out_b")
    run_batch_transform(spark, paths, out_b, EngineConfig())

    s = spark.read.parquet(out_s)
    b = spark.read.parquet(out_b)
    layout_cols = {"batch", "dt", "year", "month", "day", "hour"}
    cols = sorted((set(s.columns) & set(b.columns)) - layout_cols)
    assert len(cols) >= 20  # the parsed field surface, not a trivial overlap
    srows = sorted(map(tuple, s.select(*cols).collect()))
    brows = sorted(map(tuple, b.select(*cols).collect()))
    assert srows == brows


def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming↔batch composition for the temporal operator: enriching
    micro-batches via foreachBatch asof_join equals one batch as-of
    over all facts (per-row vs static dim ⇒ batch boundaries can't
    matter), across a restart."""
    from s3logs_parquet_spark.operators.temporal import asof_join
    from s3logs_parquet_spark.streaming.job import run_stream_asof_enrich

    dim = spark.createDataFrame(
        [(1, 100, "basic"), (1, 500, "pro"), (2, 50, "basic")],
        "user_id long, ts long, plan string",
    )
    facts1 = spark.createDataFrame(
        [(10, 1, 150), (11, 1, 700), (12, 2, 40), (13, 3, 10)],
        "event_id long, user_id long, ts long",
    )
    facts2 = spark.createDataFrame(
        [(14, 1, 400), (15, 2, 60)], "event_id long, user_id long, ts long"
    )
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    scfg = StreamingJobConfig(available_now=True)

    facts1.write.mode("append").parquet(inp)
    q = run_stream_asof_enrich(
        spark, inp, facts1.schema, dim, out, ckpt, time_col="ts",
        by=("user_id",), right_cols=["plan"], scfg=scfg,
    )
    drain(q)
    facts2.write.mode("append").parquet(inp)
    q2 = run_stream_asof_enrich(
        spark, inp, facts1.schema, dim, out, ckpt, time_col="ts",
        by=("user_id",), right_cols=["plan"], scfg=scfg,
    )
    drain(q2)

    cols = ["event_id", "user_id", "ts", "ts_r", "plan_r"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(
        map(
            tuple,
            asof_join(
                facts1.union(facts2), dim, time_col="ts", by=["user_id"], right_cols=["plan"]
            )
            .select(*cols)
            .collect(),
        )
    )
    assert got == want
    # event 11 (t=700) carries the 'pro' upgrade, 13 (no dim user) dropped
    by_event = {r[0]: r[4] for r in got}
    assert by_event[11] == "pro" and 13 not in by_event


def test_fold_refuses_uncommitted_max_batch(spark, tmp_path):
    """ADVICE r3 #2: a non-final fold targets batch=<max(ids)> — the one
    directory a resumed stream would replay-overwrite if that batch was
    written but never committed (crash mid-batch). With checkpoint_dir
    the fold must verify <ckpt>/commits/<max> and refuse otherwise."""
    import pytest
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.plans.compact import fold_stream_batches

    out = str(tmp_path / "table")
    df = spark.range(30).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string")).alias("dt"),
        (F.col("id") % 3).cast("int").alias("batch"),
    )
    df.write.partitionBy("batch", "dt").parquet(out)

    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    for b in (0, 1):  # batch 2 written but NOT committed
        (commits / str(b)).write_text("{}")

    with pytest.raises(ValueError, match="commit marker"):
        fold_stream_batches(spark, out, checkpoint_dir=str(tmp_path / "ckpt"))
    # table untouched by the refused fold
    assert spark.read.parquet(out).select("batch").distinct().count() == 3

    (commits / "2").write_text("{}")
    res = fold_stream_batches(spark, out, checkpoint_dir=str(tmp_path / "ckpt"))
    assert res["batches_before"] == 3 and res["batches_after"] == 1
    folded = spark.read.parquet(out)
    assert folded.count() == 30
    assert [r["batch"] for r in folded.select("batch").distinct().collect()] == [2]


import pytest



@pytest.mark.parametrize("layout", ["dirs", "bucketed"])
def test_stream_semantic_dedup_grows_index(spark, tmp_path, layout):
    """Continuous-ingest SemDeDup: batch 0's kept representatives join
    the index, so batch 1 vectors that duplicate them flag as CORPUS
    dups; within-batch twins flag batch-dup (min-id kept); and a
    replay (fresh checkpoint, index already holding this batch's own
    append) prunes the self-partition and reproduces the original
    flags instead of self-flagging everything. Parametrized over BOTH
    index layouts (round 11): identical flags and identical index
    growth — the storage layout is invisible to semantics (the
    dirs<->bucketed parity leg of VERDICT r10 #1)."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.dedup import semantic_assign
    from s3logs_parquet_spark.plans import band_index as bi
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_semantic_dedup,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    inp, out, idx, ckpt = (str(tmp_path / d) for d in ("in", "out", "idx", "ck"))
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema
    )
    seeded = semantic_assign(corpus, "vec_id", "embedding", cents)
    if layout == "bucketed":
        bi.write_contribution(
            spark, idx, seeded, -1, ("cell",), n_buckets=4, dedup_cols=("vec_id",)
        )
    else:
        seeded.write.parquet(f"{idx}/batch=-1")

    # batch 0: 10 dups corpus id 0; 11 unique; 13/14 within-batch twins
    spark.createDataFrame(
        [
            (10, [0.9999, 0.0001]),
            (11, [0.7, 0.7]),
            (13, [0.6, 0.8]),
            (14, [0.6001, 0.7999]),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)
    scfg = StreamingJobConfig(available_now=True)
    args = (spark, inp, schema, idx, cents, 0.99, out, ckpt)
    q = run_stream_semantic_dedup(*args, index_layout=layout, scfg=scfg)
    drain(q)
    got = {
        r["vec_id"]: (r["is_corpus_dup"], r["is_batch_dup"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        10: (True, False),
        11: (False, False),
        13: (False, False),
        14: (False, True),
    }
    # index grew by exactly the kept representatives (11, 13)
    assert sorted(
        r["vec_id"]
        for r in spark.read.parquet(idx).filter("batch = 0").collect()
    ) == [11, 13]

    # batch 1: 20 dups the batch-0 APPEND (11); 21 dups the seed (1);
    # 22 unique — same checkpoint, only the new file arrives
    spark.createDataFrame(
        [(20, [0.7, 0.7]), (21, [0.0, 0.9]), (22, [-1.0, 0.05])], schema
    ).coalesce(1).write.mode("append").parquet(inp)
    q2 = run_stream_semantic_dedup(*args, index_layout=layout, scfg=scfg)
    drain(q2)
    got2 = {
        r["vec_id"]: (r["is_corpus_dup"], r["is_batch_dup"])
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    }
    assert got2 == {20: (True, False), 21: (True, False), 22: (False, False)}
    assert [
        r["vec_id"]
        for r in spark.read.parquet(idx).filter("batch = 1").collect()
    ] == [22]

    # replay batch 0 (fresh checkpoint + input holding only file 1,
    # index already containing batch=0's own append): the batch<id
    # prune keeps the rerun bit-identical — NOT all-dup/empty-append
    inp2, out2, ckpt2 = (str(tmp_path / d) for d in ("in2", "out2", "ck2"))
    spark.createDataFrame(
        [
            (10, [0.9999, 0.0001]),
            (11, [0.7, 0.7]),
            (13, [0.6, 0.8]),
            (14, [0.6001, 0.7999]),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp2)
    q3 = run_stream_semantic_dedup(
        spark, inp2, schema, idx, cents, 0.99, out2, ckpt2,
        index_layout=layout, scfg=scfg,
    )
    drain(q3)
    got3 = {
        r["vec_id"]: (r["is_corpus_dup"], r["is_batch_dup"])
        for r in spark.read.parquet(out2).collect()
    }
    assert got3 == got
    assert sorted(
        r["vec_id"]
        for r in spark.read.parquet(idx).filter("batch = 0").collect()
    ) == [11, 13]


def test_stream_semantic_dedup_layout_split_brain_guards(spark, tmp_path):
    """A semantic index store keeps the layout it was created with:
    probing a bucketed store as dirs (or dirs as bucketed) fails loud
    at stream start instead of silently deduping against the wrong
    shape — and a checkpoint with committed batches but a missing
    store refuses to resume with amnesia."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.dedup import semantic_assign
    from s3logs_parquet_spark.plans import band_index as bi
    from s3logs_parquet_spark.streaming.job import run_stream_semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    corpus = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    seeded = semantic_assign(corpus, "vec_id", "embedding", cents)

    bidx = str(tmp_path / "bucketed_idx")
    bi.write_contribution(spark, bidx, seeded, -1, ("cell",), n_buckets=2)
    with _pytest.raises(ValueError, match="bucketed layout"):
        run_stream_semantic_dedup(
            spark, str(tmp_path / "in"), schema, bidx, cents, 0.99,
            str(tmp_path / "o"), str(tmp_path / "c"), index_layout="dirs",
        )

    didx = str(tmp_path / "dirs_idx")
    seeded.write.parquet(f"{didx}/batch=-1")
    with _pytest.raises(ValueError, match="dirs-layout contributions"):
        run_stream_semantic_dedup(
            spark, str(tmp_path / "in"), schema, didx, cents, 0.99,
            str(tmp_path / "o2"), str(tmp_path / "c2"), index_layout="bucketed",
        )

    # resume-amnesia: fake a checkpoint with a commit marker, no store
    ck = tmp_path / "ck_resume" / "commits"
    ck.mkdir(parents=True)
    (ck / "0").write_text("{}")
    with _pytest.raises(ValueError, match="dedup against nothing"):
        run_stream_semantic_dedup(
            spark, str(tmp_path / "in"), schema, str(tmp_path / "missing_idx"),
            cents, 0.99, str(tmp_path / "o3"), str(tmp_path / "ck_resume"),
        )

    # ADVICE r11 #1: a store seeded WITHOUT dedup_cols (the bucketed
    # store above) cannot heal fold crash windows — auto-fold streams
    # must fail loud at start, not skip dropDuplicates forever
    with _pytest.raises(ValueError, match="without dedup_cols"):
        run_stream_semantic_dedup(
            spark, str(tmp_path / "in"), schema, bidx, cents, 0.99,
            str(tmp_path / "o4"), str(tmp_path / "c4"),
            index_layout="bucketed", fold_every_n_batches=2,
        )
    # ...but the same store without the fold cadence is fine (folds
    # never run), and a dedup_cols-seeded store passes the guard (the
    # auto-fold e2e test covers the running stream)
    from s3logs_parquet_spark.streaming.job import StreamingJobConfig as _SC

    in_ok = str(tmp_path / "in_ok")
    spark.createDataFrame([(5, [0.5, 0.5])], schema).coalesce(1).write.parquet(in_ok)
    q = run_stream_semantic_dedup(
        spark, in_ok, schema, bidx, cents, 0.99,
        str(tmp_path / "o5"), str(tmp_path / "c5"),
        index_layout="bucketed", scfg=_SC(available_now=True),
    )
    drain(q)


def test_stream_kmv_equals_batch_sketch(spark, tmp_path):
    """Streaming KMV maintenance: per-batch k-min contributions merged
    on read must be BIT-IDENTICAL to kmv_distinct over the full
    ingested history (k-mins of a union == k-mins of concatenated
    k-min sets), across multiple micro-batches; and a replay with a
    fresh checkpoint — which may regroup files into different batch
    dirs, leaving stale contribution dirs behind — must not change the
    merged sketch (every contribution is a subset's k-mins, so the
    merge stays lossless)."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.sketches import kmv_distinct
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        read_kmv_sketch,
        run_stream_kmv,
    )

    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("v", T.StringType())]
    )
    inp, sk, ck1, ck2 = (str(tmp_path / d) for d in ("in", "sk", "ck1", "ck2"))
    full = spark.createDataFrame(
        [(f"g{i % 3}", f"v{i % 40}") for i in range(400)]
        + [("g0", None)],  # null must not occupy a k-min slot
        schema,
    )
    # 4 files -> multiple micro-batches at max_files_per_trigger=1
    full.repartition(4).write.parquet(inp)

    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    q = run_stream_kmv(spark, inp, schema, sk, ck1, "g", "v", k=16, scfg=scfg)
    drain(q)

    want = sorted(map(tuple, kmv_distinct(full, ["g"], "v", k=16).collect()))
    got = sorted(map(tuple, read_kmv_sketch(spark, sk, "g", k=16).collect()))
    assert got == want

    # replay: fresh checkpoint, different batching (all files in one
    # trigger) — overwrites batch=0, leaves dirs 1..3 stale; merged
    # sketch must be unchanged
    scfg2 = StreamingJobConfig(available_now=True, max_files_per_trigger=10)
    q2 = run_stream_kmv(spark, inp, schema, sk, ck2, "g", "v", k=16, scfg=scfg2)
    drain(q2)
    again = sorted(map(tuple, read_kmv_sketch(spark, sk, "g", k=16).collect()))
    assert again == want


def test_stream_mg_matches_batch_and_same_lineage_replay(spark, tmp_path):
    """run_stream_mg contributions + heavy_hitters_from_summaries must
    equal the batch operator (and brute force) over the full ingested
    history — the MG-sum associativity claim — and a same-checkpoint
    rerun must leave the answer unchanged."""
    import collections
    import math

    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.sketches import (
        heavy_hitters_from_summaries,
        mg_heavy_hitters,
    )
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        read_mg_sketch,
        run_stream_mg,
    )

    schema = T.StructType([T.StructField("item", T.StringType())])
    inp, sk, ck = (str(tmp_path / d) for d in ("in", "sk", "ck"))
    items = [f"tok{min(i % 97, i % 13)}" for i in range(3_000)] + [None]
    full = spark.createDataFrame([(x,) for x in items], schema)
    full.repartition(4).write.parquet(inp)
    full = spark.read.parquet(inp)  # the ingested history, file order

    phi, k = 1.0 / 20.0, 32
    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    drain(run_stream_mg(spark, inp, schema, sk, ck, "item", k=k, scfg=scfg))

    exact = collections.Counter(x for x in items if x is not None)
    thresh = math.ceil(phi * sum(exact.values()))
    truth = sorted((i, c) for i, c in exact.items() if c >= thresh)
    assert truth, "fixture must contain heavy hitters"

    streamed = heavy_hitters_from_summaries(
        full, "item", read_mg_sketch(spark, sk), phi, k
    )
    got = sorted((r["item"], r["cnt"]) for r in streamed.collect())
    assert got == truth
    batch = mg_heavy_hitters(full, "item", phi=phi, k=k)
    assert sorted((r["item"], r["cnt"]) for r in batch.collect()) == truth

    # same-lineage restart: checkpoint already has all files committed,
    # so nothing reprocesses and the sketch answer is unchanged
    drain(run_stream_mg(spark, inp, schema, sk, ck, "item", k=k, scfg=scfg))
    again = heavy_hitters_from_summaries(
        full, "item", read_mg_sketch(spark, sk), phi, k
    )
    assert sorted((r["item"], r["cnt"]) for r in again.collect()) == truth


def _curation_fixture_docs():
    """Doc rows with planted cross-batch exact dups, near-dups, a
    punctuation-soup low-quality doc, and a German doc. English base
    texts are stopword-rich so langid='en' and quality clears 0.3."""
    en = "the quick brown fox and the lazy dog is that for with was happy"

    def base(i):
        return f"{en} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"

    files = []
    files.append([(i, base(i)) for i in range(10)])
    f1 = [(10, base(0)), (11, base(1) + " zeta")]  # exact dup; near dup
    f1 += [(i, base(i)) for i in range(12, 20)]
    files.append(f1)
    f2 = [(20, base(0)), (21, base(1) + " eta")]  # dup of dup; near dup
    f2 += [(22, "??? !!! ... ;;; ::: @@@ ###")]  # punctuation soup
    f2 += [(23, "der hund und die katze ist von mit nicht ein das haus")]
    f2 += [(i, base(i)) for i in range(24, 30)]
    files.append(f2)
    files.append([(i, base(i)) for i in range(30, 40)])
    return files


@pytest.mark.parametrize("runner", ["curation", "semdedup"])
def test_index_runner_logs_stage_times_once_per_trigger(spark, tmp_path, caplog, runner):
    """Every index-backed stream job logs its per-stage wall times to
    the job module's logger at DEBUG: one record per trigger, carrying
    the stage labels (the foreachBatch skeleton's record)."""
    import logging

    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
        run_stream_semantic_dedup,
    )

    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    inp, out, idx, ck = (str(tmp_path / d) for d in ("in", "out", "idx", "ck"))
    if runner == "curation":
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        files = _curation_fixture_docs()[:2]
        labels = ("gate+dedup", "signatures", "lsh+cc")

        def start():
            return run_stream_curation(
                spark, inp, schema, out, idx, ck, min_quality=0.3, scfg=scfg
            )
    else:
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        )
        files = [[(0, [1.0, 0.0]), (1, [0.0, 1.0])], [(2, [0.99, 0.01])]]
        labels = ("assign", "flags", "index-write")

        def start():
            return run_stream_semantic_dedup(
                spark, inp, schema, idx, [[1.0, 0.0], [0.0, 1.0]], 0.99, out, ck,
                scfg=scfg,
            )
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
    logger = "s3logs_parquet_spark.streaming.job"
    with caplog.at_level(logging.DEBUG, logger=logger):
        drain(start())
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == logger and r.getMessage().startswith(f"{runner} batch=")
    ]
    assert [m.split()[1] for m in msgs] == ["batch=0", "batch=1"], msgs
    for m in msgs:
        for label in labels:
            assert f'"{label}"' in m, m


def test_foreach_batch_releases_blocks_when_process_raises(spark, tmp_path):
    """The skeleton releases every materialization a trigger kept, also
    when the trigger fails: no cached or checkpointed blocks outlive a
    failed micro-batch, for a bare process and for run_stream_curation
    failing at its survivors write (after `fresh` was checkpointed)."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        _foreach_batch,
        _parquet_stream,
        run_stream_curation,
    )

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    inp = str(tmp_path / "in")
    for rows in _curation_fixture_docs()[:1]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    before = persistent()

    def process(batch_df, batch_id, trigger):
        trigger.keep(batch_df.select("doc_id"))
        assert persistent() - before  # the kept frame holds blocks
        raise RuntimeError("injected")

    q = _foreach_batch(
        "raises", _parquet_stream(spark, inp, schema, scfg), process,
        str(tmp_path / "ck0"), scfg,
    )
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(300)
    assert not persistent() - before

    # the survivors write fails: its target's parent is a regular file
    (tmp_path / "out-is-a-file").write_text("not a directory")
    q = run_stream_curation(
        spark, inp, schema, str(tmp_path / "out-is-a-file"), str(tmp_path / "idx"),
        str(tmp_path / "ck1"), min_quality=0.3, scfg=scfg,
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    assert not persistent() - before


def test_stream_curation_invariants_and_single_batch_equality(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.dedup import (
        _content_digest,
        incremental_neardup_pairs,
    )
    from s3logs_parquet_spark.plans.curation import curate_documents
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    inp, out, idx, ck = (str(tmp_path / d) for d in ("in", "out", "idx", "ck"))
    files = _curation_fixture_docs()
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)

    params = dict(
        min_quality=0.3,
        languages=("en",),
        num_hashes=32,
        bands=8,
        shingle_k=3,
        jaccard_threshold=0.3,
    )
    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    q = run_stream_curation(
        spark, inp, schema, out, idx, ck, scfg=scfg, **params
    )
    drain(q)

    all_docs = spark.read.parquet(inp)
    survivors = spark.read.parquet(out)  # batch becomes a partition col
    surv_docs = survivors.join(all_docs, "doc_id")

    # quality / language invariants hold on every output row
    assert survivors.filter(F.col("quality") < 0.3).count() == 0
    assert survivors.filter(F.col("lang_pred") != "en").count() == 0
    assert surv_docs.count() == survivors.count()  # ids ⊆ input

    # planted junk is gone
    out_ids = {r["doc_id"] for r in survivors.collect()}
    assert {10, 20, 22, 23}.isdisjoint(out_ids)  # exact dups + quality + lang
    assert {11, 21}.isdisjoint(out_ids)  # near dups of doc 1's base
    assert {0, 1}.issubset(out_ids)

    # no two survivors share a digest (global exact-dedup invariant)
    n_dg = surv_docs.select(_content_digest("text").alias("d")).distinct().count()
    assert n_dg == survivors.count()

    # no survivor is a near-dup of ANY earlier-arrived doc: probe each
    # batch's survivors against the persisted band index of prior batches
    batches = sorted(r["batch"] for r in survivors.select("batch").distinct().collect())
    for b in batches[1:]:
        prior = [
            f"{idx}/bands/batch={pb}"
            for pb in range(b)
            if (tmp_path / "idx" / "bands" / f"batch={pb}").exists()
        ]
        if not prior:
            continue
        probe = surv_docs.filter(F.col("batch") == b).select("doc_id", "text")
        hits = incremental_neardup_pairs(
            probe,
            spark.read.parquet(*prior),
            "doc_id",
            "text",
            num_hashes=32,
            bands=8,
            shingle_k=3,
            jaccard_threshold=0.3,
        )
        assert hits.count() == 0, f"batch {b} survivor near-dups history"

    # a single drained batch reproduces curate_documents exactly
    inp1, out1, idx1, ck1 = (
        str(tmp_path / d) for d in ("in1", "out1", "idx1", "ck1")
    )
    one = spark.createDataFrame(
        [r for rows in files for r in rows], schema
    )
    one.coalesce(1).write.parquet(inp1)
    scfg1 = StreamingJobConfig(available_now=True, max_files_per_trigger=10)
    q1 = run_stream_curation(
        spark, inp1, schema, out1, idx1, ck1, scfg=scfg1, **params
    )
    drain(q1)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out1)
            .select("doc_id", "lang_pred", "quality", "split")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            curate_documents(
                one,
                min_quality=0.3,
                languages=("en",),
                jaccard_threshold=0.3,
                num_hashes=32,
                bands=8,
            ).collect(),
        )
    )
    assert got == want


def test_prior_batch_dirs_excludes_current_and_later(spark, tmp_path):
    """The replay guard: a crashed attempt's own contribution dir (and
    any later one) must be invisible when re-deriving its batch."""
    from s3logs_parquet_spark.plans.band_index import prior_batch_dirs as _prior_batch_dirs

    root = str(tmp_path / "store")
    for b in (0, 1, 2):
        spark.range(3).write.parquet(f"{root}/batch={b}")
    got = _prior_batch_dirs(spark, root, 2)
    assert [d.rsplit("=", 1)[1] for d in got] == ["0", "1"]
    assert _prior_batch_dirs(spark, root, 0) == []
    assert _prior_batch_dirs(spark, str(tmp_path / "missing"), 5) == []

    # seeded pre-stream history at batch=-1 (the documented index-store
    # seeding convention) must be visible to every real batch (ADVICE r7)
    spark.range(3).write.parquet(f"{root}/batch=-1")
    seeded = _prior_batch_dirs(spark, root, 0)
    assert [d.rsplit("=", 1)[1] for d in seeded] == ["-1"]
    assert [d.rsplit("=", 1)[1] for d in _prior_batch_dirs(spark, root, 2)] == [
        "-1",
        "0",
        "1",
    ]


def test_stream_curation_survivors_only_index_mode(spark, tmp_path):
    """index_dropped=False (the flood posture): band buckets hold only
    canonical survivors, but an EXACT copy of a near-dup-dropped doc
    must still drop — the digest index always covers all arrived
    exact-uniques."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    base = f"{en} alpha beta gamma delta epsilon"
    near = base + " zeta"  # near-dup of base -> dropped in batch 0
    inp, out, idx, ck = (str(tmp_path / d) for d in ("in", "out", "idx", "ck"))
    spark.createDataFrame([(0, base), (1, near)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    # batch 1: exact copy of the DROPPED doc + a fresh unique doc
    spark.createDataFrame(
        [(2, near), (3, f"{en} omicron sigma tau upsilon phi")], schema
    ).coalesce(1).write.mode("append").parquet(inp)

    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    q = run_stream_curation(
        spark, inp, schema, out, idx, ck,
        min_quality=0.3, jaccard_threshold=0.3, index_dropped=False, scfg=scfg,
    )
    drain(q)
    out_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 0 in out_ids and 3 in out_ids
    assert 1 not in out_ids  # near-dup within batch 0
    assert 2 not in out_ids  # exact copy of a dropped doc: digest path
    # band store holds only survivors' signatures (one id per band)
    bands = spark.read.parquet(f"{idx}/bands")
    assert {r["doc_id"] for r in bands.select("doc_id").distinct().collect()} <= out_ids | {0, 3}


def test_stream_curation_band_index_bucket_cap(spark, tmp_path):
    """band_index_max_bucket (round 9, the hotprobe guard): hot band
    buckets stop growing at ~cap representatives, a later doc matching
    the family's EARLY members still drops, and with a generous cap the
    output is identical to the uncapped run on the same corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    fam = f"{en} alpha beta gamma delta epsilon zeta eta theta"
    inp = str(tmp_path / "in")
    # 4 batches; each delivers ONE family member (exact-unique tail —
    # the hotprobe shape: never collapsed within a batch) + one unique
    # every 3-gram of a unique doc contains one of its w{i}* tokens, so
    # uniques share no shingles with each other or with the family
    uniq = [
        f"the w{i}a and w{i}b of w{i}c to w{i}d in w{i}e is w{i}f "
        f"that w{i}g for w{i}h with w{i}j was w{i}k"
        for i in range(4)
    ]
    for b in range(4):
        spark.createDataFrame(
            [(2 * b, f"{fam} tail{b}"), (2 * b + 1, uniq[b])], schema
        ).coalesce(1).write.mode("append").parquet(inp)

    def run(tag, cap):
        out, idx, ck = (str(tmp_path / f"{d}-{tag}") for d in ("out", "idx", "ck"))
        q = run_stream_curation(
            spark, inp, schema, out, idx, ck,
            min_quality=0.3, jaccard_threshold=0.3, index_dropped=True,
            band_index_max_bucket=cap,
            scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
        )
        drain(q)
        ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        bands = spark.read.parquet(f"{idx}/bands")
        max_bucket = (
            bands.groupBy("band", "band_hash").count().agg(F.max("count")).collect()[0][0]
        )
        return ids, max_bucket

    ids_uncapped, max_uncapped = run("uncapped", None)
    ids_capped, max_capped = run("capped", 2)
    # family member 0 survives; members from batches 1-3 drop via the
    # probe against the (capped) index in BOTH runs
    assert ids_uncapped == ids_capped == {0, 1, 3, 5, 7}
    # uncapped: the family bucket accumulates one row per batch (4);
    # capped at 2: bounded (< 4; the write-side cap admits at most
    # cap per contribution and skips full buckets)
    assert max_uncapped >= 4
    assert max_capped < max_uncapped and max_capped <= 3


def test_compact_curation_index_preserves_dedup_across_resume(spark, tmp_path):
    """Round-9 maintenance op: folding the curation index's batch dirs
    between drains must be INVISIBLE to dedup semantics — a resumed
    stream over new batches produces exactly the survivors of an
    uncompacted control run — and the fold refuses uncommitted dirs."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from s3logs_parquet_spark.plans.compact import compact_index_store
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    fam = f"{en} alpha beta gamma delta epsilon zeta eta theta"
    uniq = [
        f"the w{i}a and w{i}b of w{i}c to w{i}d in w{i}e is w{i}f "
        f"that w{i}g for w{i}h with w{i}j was w{i}k"
        for i in range(6)
    ]
    # batches 0-2 before the fold; 3-4 delivered after the resume,
    # carrying a near-dup of the family, an exact dup of a batch-0
    # unique, and fresh uniques. Each leg gets its OWN input dir (the
    # resume appends to it).
    def run(tag, fold):
        inp = str(tmp_path / f"in-{tag}")
        for b in range(3):
            spark.createDataFrame(
                [(2 * b, f"{fam} tail{b}"), (2 * b + 1, uniq[b])], schema
            ).coalesce(1).write.mode("append").parquet(inp)
        out, idx, ck = (str(tmp_path / f"{d}-{tag}") for d in ("out", "idx", "ck"))
        scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
        kw = dict(min_quality=0.3, jaccard_threshold=0.3, index_dropped=True, scfg=scfg)
        q = run_stream_curation(spark, inp, schema, out, idx, ck, **kw)
        drain(q)
        if fold:
            digests = compact_index_store(spark, f"{idx}/digests", checkpoint_dir=ck)
            bands = compact_index_store(
                spark, f"{idx}/bands", checkpoint_dir=ck, sort_cols=("band", "band_hash")
            )
            assert bands["batches_before"] == 3
            assert bands["batches_after"] == 1
            assert digests["batches_after"] == 1
        for rows in [
            [(100, f"{fam} tailX"), (101, uniq[3])],
            [(102, uniq[0]), (103, uniq[4])],
        ]:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(inp)
        q2 = run_stream_curation(spark, inp, schema, out, idx, ck, **kw)
        drain(q2)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    control = run("control", fold=False)
    folded = run("folded", fold=True)
    assert control == folded
    # the late family near-dup and the exact dup of uniq[0] both
    # dropped via the (folded) index; fresh uniques survived
    assert 100 not in folded and 102 not in folded
    assert 101 in folded and 103 in folded

    # refusal: an uncommitted (crashed) batch dir blocks the fold
    idx_f = str(tmp_path / "idx-folded")
    ck_f = str(tmp_path / "ck-folded")
    spark.createDataFrame([(999, "x")], schema).write.mode("overwrite").parquet(
        f"{idx_f}/digests/batch=99"
    )
    with pytest.raises(ValueError, match="no commit marker"):
        compact_index_store(spark, f"{idx_f}/digests", checkpoint_dir=ck_f)


def test_stream_rollup_equals_batch_rollup(spark, tmp_path):
    """Streaming rollup maintenance: per-batch mergeable contributions
    re-aggregated on read must be BIT-IDENTICAL to rollup_events over
    the full ingested history, across multiple micro-batches; and a
    same-lineage replay (rewriting a batch's contribution dir with the
    same content, the T4 overwrite shape) must not change the table."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.plans.rollup import rollup_events
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        read_stream_rollup,
        run_stream_rollup,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    inp, ru, ck = (str(tmp_path / d) for d in ("in", "ru", "ck"))
    full = spark.range(400).selectExpr(
        "timestamp_seconds(1704067200 + id * 937) as ts",
        "concat('t', id % 3) as event_type",
        "cast(id % 50 as double) as value",
    )
    full.repartition(4).write.parquet(inp)

    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    q = run_stream_rollup(spark, inp, schema, ru, ck, window_seconds=3600, scfg=scfg)
    drain(q)

    cols = ["w", "event_type", "dt", "n_rows", "sum_value", "min_value", "max_value"]
    want = sorted(
        tuple(r[c] for c in cols) for r in rollup_events(full).collect()
    )
    got = sorted(
        tuple(r[c] for c in cols)
        for r in read_stream_rollup(spark, ru).collect()
    )
    assert got == want

    # same-lineage replay: rewrite batch=0's contribution with the
    # same rows (checkpointed first — the write targets the directory
    # the frame reads); merged table must be unchanged
    first = (
        spark.read.parquet(ru).filter("batch = 0").drop("batch").localCheckpoint()
    )
    first.write.mode("overwrite").parquet(f"{ru}/batch=0")
    spark.catalog.refreshByPath(ru)
    got2 = sorted(
        tuple(r[c] for c in cols)
        for r in read_stream_rollup(spark, ru).collect()
    )
    assert got2 == want


def test_stream_idle_boundary_closes_files(spark, tmp_path):
    """T3 idle rotation (threshold_maxidle analog,
    s3logd-stream/src/output.rs:40): the reference's rotating writer
    closes its output file after 60 s without input; the Spark sink
    finalizes files at each micro-batch commit, so an input GAP under a
    processing-time trigger must leave the pre-gap files closed,
    complete, and immutable — never held open awaiting more rows, and
    never reopened when input resumes. Pinned by (1) full readability
    of the pre-gap output DURING the gap, (2) byte-identical pre-gap
    part files after post-gap input lands in NEW files only, and (3)
    the stream↔batch differential across the gap."""
    import glob as _glob
    import time as _time

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    lines1 = generate_lines(40, seed=71, garbage_fraction=0.0, dup_fraction=0.0)
    lines2 = generate_lines(25, seed=72, garbage_fraction=0.0, dup_fraction=0.0)
    (tmp_path / "in" / "f1.log").write_text("\n".join(lines1) + "\n")

    q = run_streaming_transform(
        spark, inp, out, ckpt, EngineConfig(),
        StreamingJobConfig(processing_time="1 seconds"),
    )
    try:
        deadline = _time.time() + 90
        n = 0
        while _time.time() < deadline:
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            if n >= 40:
                break
            _time.sleep(1)
        assert n == 40

        # ---- idle gap: several empty triggers fire; nothing may be
        # half-open. Snapshot the file inventory, then re-read the
        # table mid-gap — a held-open file would surface as a corrupt
        # footer or a count below 40.
        _time.sleep(4)
        pre_gap = {
            p: os.path.getsize(p)
            for p in _glob.glob(f"{out}/dt=*/part-*.parquet")
        }
        assert pre_gap, "no closed part files at the idle boundary"
        assert spark.read.parquet(out).count() == 40  # complete mid-gap

        # ---- input resumes: new rows land in NEW files; the pre-gap
        # inventory is byte-for-byte untouched (closed means closed)
        (tmp_path / "in" / "f2.log").write_text("\n".join(lines2) + "\n")
        deadline = _time.time() + 90
        while _time.time() < deadline and spark.read.parquet(out).count() < 65:
            _time.sleep(1)
        assert spark.read.parquet(out).count() == 65
    finally:
        q.stop()
        drain(q)

    post = {p: os.path.getsize(p) for p in _glob.glob(f"{out}/dt=*/part-*.parquet")}
    assert set(pre_gap) <= set(post)
    assert all(post[p] == sz for p, sz in pre_gap.items())
    assert len(post) > len(pre_gap)

    # ---- stream↔batch differential across the gap: same rows as the
    # batch pipeline over the concatenated input
    from s3logs_parquet_spark.plans.batch import parse_and_dedup
    from s3logs_parquet_spark.sources.text_source import read_log_lines

    batch = parse_and_dedup(read_log_lines(spark, inp), EngineConfig())
    want = sorted(r["RequestID"] for r in batch.select("RequestID").collect())
    got = sorted(r["RequestID"] for r in spark.read.parquet(out).select("RequestID").collect())
    assert got == want


def test_fold_tolerates_purged_commit_log(spark, tmp_path):
    """ADVICE r9: Spark purges commit-log entries older than
    minBatchesToRetain, so on a long stream only the newest markers
    survive. Batch ids commit sequentially, so ids at or below the
    highest surviving marker are committed — the fold must proceed,
    not falsely refuse 'no commit marker'."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.plans.compact import (
        compact_index_store,
        fold_stream_batches,
    )

    out = str(tmp_path / "table")
    df = spark.range(30).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string")).alias("dt"),
        (F.col("id") % 3).cast("int").alias("batch"),
    )
    df.write.partitionBy("batch", "dt").parquet(out)
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    (commits / "2").write_text("{}")  # markers 0 and 1 purged

    res = fold_stream_batches(spark, out, checkpoint_dir=str(tmp_path / "ckpt"))
    assert res["batches_before"] == 3 and res["batches_after"] == 1
    assert spark.read.parquet(out).count() == 30

    # same rule for the curation-index fold (digests + bands stores;
    # seeded batch=-1 stays exempt as before)
    idx = tmp_path / "idx"
    for store, cols in (("digests", ["_dg"]), ("bands", ["band", "band_hash"])):
        for b in (-1, 0, 1, 2):
            d = spark.range(4).select(
                *[(F.col("id") % 3).cast("int").alias(c) for c in cols]
            )
            if store == "bands":
                d = d.select(
                    F.col("band"),
                    F.col("band_hash"),
                    F.col("band").cast("long").alias("doc_id"),
                    F.array(F.lit(1), F.lit(2)).alias("signature"),
                )
            d.write.parquet(str(idx / store / f"batch={b}"))
    ckpt = str(tmp_path / "ckpt")
    digests = compact_index_store(spark, str(idx / "digests"), checkpoint_dir=ckpt)
    bands = compact_index_store(
        spark, str(idx / "bands"), checkpoint_dir=ckpt, sort_cols=("band", "band_hash")
    )
    assert bands["batches_after"] == 1
    assert digests["batches_after"] == 1


def test_recover_fold_siblings_heals_crashed_swap(spark, tmp_path):
    """ADVICE r9: the fold's two-rename swap is not atomic — a crash
    between rename(root, old) and rename(tmp, root) leaves the store
    MISSING, and readers treat a missing index store as empty history.
    recover_fold_siblings must finish the swap forward (the tmp is
    complete before any rename starts), drop stale leftovers when the
    store exists, and refuse ambiguous states."""
    import pytest
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.plans.compact import recover_fold_siblings

    def mk(path, n):
        spark.range(n).select(F.col("id")).write.parquet(str(path))

    # (a) mid-swap crash: root missing, complete tmp + old present
    root = tmp_path / "store"
    mk(tmp_path / "store.folding-abc123", 7)
    mk(tmp_path / "store.folded-old-def456", 3)
    assert recover_fold_siblings(spark, str(root)) == "finished-swap"
    assert spark.read.parquet(str(root)).count() == 7
    assert not (tmp_path / "store.folded-old-def456").exists()

    # idempotent: nothing left to heal
    assert recover_fold_siblings(spark, str(root)) is None

    # (b) pre-swap / post-swap crash: root present, stray siblings
    mk(tmp_path / "store.folding-aaaa", 2)
    mk(tmp_path / "store.folded-old-bbbb", 2)
    assert recover_fold_siblings(spark, str(root)) == "dropped-leftovers"
    assert spark.read.parquet(str(root)).count() == 7
    assert not (tmp_path / "store.folding-aaaa").exists()

    # (c) ambiguous: root missing, TWO complete tmps → manual repair
    root2 = tmp_path / "other"
    mk(tmp_path / "other.folding-one1", 1)
    mk(tmp_path / "other.folding-two2", 1)
    with pytest.raises(ValueError, match="cannot pick the fold"):
        recover_fold_siblings(spark, str(root2))

    # prefix safety: `store2`'s siblings must not match `store`
    mk(tmp_path / "store2.folding-cccc", 2)
    assert recover_fold_siblings(spark, str(root)) is None


def test_stream_curation_fails_loud_on_missing_index_store(spark, tmp_path):
    """ADVICE r9: if the checkpoint shows committed batches but an
    index store dir is gone (crashed fold, wrong index_dir), resuming
    must raise — a missing store reads as empty history and the stream
    would dedup against nothing. A healable mid-swap crash (store
    renamed away, complete .folding-* sibling present) is auto-healed
    instead."""
    import shutil

    import pytest
    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    inp, out, idx, ck = (str(tmp_path / d) for d in ("in", "out", "idx", "ck"))
    spark.createDataFrame(
        [(0, f"{en} alpha beta gamma"), (1, f"{en} delta epsilon zeta")], schema
    ).coalesce(1).write.parquet(inp)
    scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
    kw = dict(min_quality=0.3, jaccard_threshold=0.3, scfg=scfg)
    q = run_stream_curation(spark, inp, schema, out, idx, ck, **kw)
    drain(q)

    # healable: bands mid-swap (dir renamed to the tmp sibling)
    shutil.move(f"{idx}/bands", f"{idx}/bands.folding-deadbeef")
    uniq2 = (
        "the w2a and w2b of w2c to w2d in w2e is w2f "
        "that w2g for w2h with w2j was w2k"
    )
    spark.createDataFrame([(2, uniq2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q2 = run_stream_curation(spark, inp, schema, out, idx, ck, **kw)
    drain(q2)
    assert (tmp_path / "idx" / "bands").exists()
    out_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert {0, 1, 2} <= out_ids

    # unhealable: store gone entirely → refuse to resume
    shutil.rmtree(f"{idx}/digests")
    with pytest.raises(ValueError, match="dedup against nothing"):
        run_stream_curation(spark, inp, schema, out, idx, ck, **kw)


def test_band_cap_keeps_signature_carrier_and_strict_bound(spark, tmp_path):
    """ADVICE r9 (both cap defects):

    (1) Carrier invariant: when the cap drops a doc's band-0 row while
    other band rows survive, consumers that read signatures from the
    band-0 slice (incremental_neardup_pairs) would silently lose every
    candidate found through the surviving bands. The fix re-adds a
    NULL-band_hash band-0 carrier row. Fixture: A/B/C found by
    deterministic search over minhash variants (.scratch recipe in the
    repo history): B shares ONLY buckets {0,3,4} with A (capped at
    K=1, so band 0 is dropped, bands {1,2,5,6,7} survive), and C is a
    near-dup of B that shares NO bucket with A, misses B's band 0, and
    matches B in surviving bands — so C can only drop through B's
    carrier signature.

    (2) Strict bound: a bucket at K-1 must admit only ONE more row
    (capacity-aware rank cap), not K more (the old 2K-1 overshoot)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    A = f"{en} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    B = f"{en} alpha r0a r0b delta epsilon zeta eta theta iota kappa"
    C = f"{B} more32"
    # pinned band geometry (regenerate with the search recipe if the
    # minhash seed ever changes): J(A,B)=.75, J(B,C)=.875, J(A,C)=.66;
    # B equals A in bands {0,3,4}; C matches B in {2,5,6,7}, A nowhere.

    inp = str(tmp_path / "in")
    for rows in ([(0, A)], [(1, B)], [(2, C)]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
    out, idx, ck = (str(tmp_path / d) for d in ("out", "idx", "ck"))
    q = run_stream_curation(
        spark, inp, schema, out, idx, ck,
        min_quality=0.3, jaccard_threshold=0.3, index_dropped=True,
        num_hashes=32, bands=8, shingle_k=3,
        band_index_max_bucket=1,
        scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
    )
    drain(q)

    out_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # B drops via shared buckets with A; C must drop THROUGH B's
    # carrier row — before the fix C survived (B's band-0 row was
    # capped away, so the (C,B) candidate had no signature to score)
    assert out_ids == {0}

    bands = spark.read.parquet(f"{idx}/bands")
    # carrier shape: B keeps a band-0 row with NULL band_hash
    carriers = bands.filter(F.col("band_hash").isNull()).collect()
    assert [(r["doc_id"], r["band"]) for r in carriers] == [(1, 0)]
    # every indexed doc keeps a band-0 row (the consumer invariant)
    with0 = {r["doc_id"] for r in bands.filter(F.col("band") == 0).collect()}
    assert {r["doc_id"] for r in bands.collect()} == with0
    # strict bound: no joinable bucket exceeds K=1
    maxn = (
        bands.filter(F.col("band_hash").isNotNull())
        .groupBy("band", "band_hash").count().agg(F.max("count")).collect()[0][0]
    )
    assert maxn == 1

    # --- (2) strict capacity: bucket at K-1 admits one row, not K ---
    fam = f"{en} alpha beta gamma delta epsilon zeta eta theta"
    inp2 = str(tmp_path / "in2")
    spark.createDataFrame([(0, f"{fam} tail0")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp2)
    spark.createDataFrame(
        [(1, f"{fam} tail1"), (2, f"{fam} tail2"), (3, f"{fam} tail3")], schema
    ).coalesce(1).write.mode("append").parquet(inp2)

    def run2(tag, cap):
        o, i2, c2 = (str(tmp_path / f"{d}-{tag}") for d in ("o2", "i2", "c2"))
        q = run_stream_curation(
            spark, inp2, schema, o, i2, c2,
            min_quality=0.3, jaccard_threshold=0.3, index_dropped=True,
            band_index_max_bucket=cap,
            scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
        )
        drain(q)
        return (
            spark.read.parquet(f"{i2}/bands")
            .filter(F.col("band_hash").isNotNull())
            .groupBy("band", "band_hash").count().agg(F.max("count")).collect()[0][0]
        )

    assert run2("uncapped", None) == 4  # buckets align: 1 + 3 members
    # K=2, bucket at 1 after batch 0 → batch 1 may add exactly ONE
    # (the old per-batch rank cap admitted 2 → bucket reached 3 = 2K-1)
    assert run2("capped", 2) == 2


def test_stream_truncates_extra_fields_like_reference(spark, tmp_path):
    """Divergence-by-reference pin (VERDICT r9 #5, SURVEY §1.3): the
    reference's STREAMING writer truncates rows to the schema width
    (s3logd-stream/src/output.rs:1014,1111 take exactly schema-len
    fields) while its BATCH path widens with ExtraField{N}. Our
    streaming parse (build_stream → parse_s3_access_log with
    extra_fields=0) reproduces the truncation; this pins it: >26-token
    lines come out with exactly the 26 schema columns (+ ts/dt), the
    26th field intact, extras gone — and n_fields still reports the
    TRUE token count pre-drop (the widening decision stays observable
    to batch callers)."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.config import EngineConfig
    from s3logs_parquet_spark.functions.parse import parse_s3_access_log
    from s3logs_parquet_spark.schema import LOG_FIELDS
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_streaming_transform,
    )
    from s3logs_parquet_spark.testing import generate_lines

    wide = [
        line + " extraA extraB"  # 28 tokens
        for line in generate_lines(20, seed=7, dup_fraction=0, garbage_fraction=0)
    ]
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "wide.log").write_text("\n".join(wide) + "\n")

    # the parse primitive itself: truncation + true token count
    parsed = parse_s3_access_log(
        spark.createDataFrame([(l,) for l in wide], "value string")
    )
    assert [c for c in parsed.columns if c.startswith("ExtraField")] == []
    assert parsed.filter(F.col("n_fields") != 28).count() == 0

    # end-to-end through the streaming sink
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = run_streaming_transform(
        spark, str(inp), out, ck, EngineConfig(),
        StreamingJobConfig(available_now=True),
    )
    drain(q)
    table = spark.read.parquet(out)
    assert set(table.columns) == set(LOG_FIELDS) | {"ts", "dt"}
    got = table.select("AclRequired", "TLSVersion").distinct().collect()
    # 26th token is '-' (AclRequired) in the fixture; extras never land
    assert {(r["AclRequired"], r["TLSVersion"]) for r in got} == {("-", "TLSv1.2")}
    assert table.count() == 20


def test_stream_inference_equals_batch(spark, tmp_path):
    """run_stream_inference (round 10): micro-batched scoring equals
    batch scoring of the same rows (stateless per-row model => batch
    boundaries invisible), committed to exactly-once batch dirs. The
    weights broadcast is per-RUN (the wrapper's reason to exist — the
    raw operator would re-broadcast the model every trigger)."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.operators.inference import (
        LINEAR_TEXT_WEIGHTS,
        batched_inference,
        linear_text_model,
    )
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_inference,
    )

    rows = [
        (i, f"Doc {i} with UPPER and {i * 7} digits mixed in body text")
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "in")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(inp)
    docs.filter(F.col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(inp)

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_stream_inference(
        spark,
        inp,
        schema,
        out,
        ckpt,
        model_fn=linear_text_model,
        input_cols=("text",),
        output_schema="doc_id bigint, logit double, label boolean",
        weights=LINEAR_TEXT_WEIGHTS,
        passthrough_cols=("doc_id",),
        scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
    )
    drain(q)

    streamed = spark.read.parquet(out).select("doc_id", "logit", "label")
    batch = batched_inference(
        spark.read.parquet(inp),
        linear_text_model,
        input_cols=["text"],
        output_schema="doc_id bigint, logit double, label boolean",
        weights=LINEAR_TEXT_WEIGHTS,
        passthrough_cols=["doc_id"],
    )
    assert streamed.count() == 200
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # two triggers -> two exactly-once commit dirs
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("batch=")}
    assert len(dirs) == 2


def test_run_broadcast_cleanup_listener_unit():
    """ADVICE r10: run_stream_inference's per-run broadcast is released
    when ITS query terminates — the listener unpersists exactly on the
    matching query id and unregisters itself; other queries' events are
    ignored (a second concurrent inference stream must not lose its
    model)."""
    from s3logs_parquet_spark.streaming.job import _RunBroadcastCleanup

    class _FakeBC:
        def __init__(self):
            self.unpersisted = 0

        def unpersist(self):
            self.unpersisted += 1

    class _FakeStreams:
        def __init__(self):
            self.removed = []

        def removeListener(self, listener):  # noqa: N802
            self.removed.append(listener)

    class _FakeSpark:
        def __init__(self):
            self.streams = _FakeStreams()

    class _Event:
        def __init__(self, qid):
            self.id = qid

    fake_spark, bc = _FakeSpark(), _FakeBC()
    lst = _RunBroadcastCleanup(fake_spark, "q-1", bc)
    lst.onQueryTerminated(_Event("q-other"))
    assert bc.unpersisted == 0 and fake_spark.streams.removed == []
    lst.onQueryTerminated(_Event("q-1"))
    assert bc.unpersisted == 1
    assert fake_spark.streams.removed == [lst]


def test_stream_curation_auto_fold_matches_manual(spark, tmp_path):
    """Round 11 (VERDICT r10 #4): fold_every_n_batches folds the
    bucketed index stores BETWEEN triggers, invisibly — survivors
    identical to a never-folded control, the store's partition count
    stays bounded (log-structured: O(batch*N) per fold), and the knob
    refuses the dirs layout."""
    from pyspark.sql import types as T

    from s3logs_parquet_spark.plans import band_index as bi
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_curation,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    en = "the quick brown fox and the lazy dog is that for with was happy"
    fam = f"{en} alpha beta gamma delta epsilon zeta eta theta"
    uniq = [
        f"the w{i}a and w{i}b of w{i}c to w{i}d in w{i}e is w{i}f "
        f"that w{i}g for w{i}h with w{i}j was w{i}k"
        for i in range(8)
    ]

    def run(tag, fold_every):
        inp = str(tmp_path / f"in-{tag}")
        # 6 single-file batches: family near-dups (every batch), an
        # exact dup of batch 0's unique at batch 4, fresh uniques
        batches = [[(2 * b, f"{fam} tail{b}"), (2 * b + 1, uniq[b])] for b in range(6)]
        batches[4].append((900, uniq[0]))
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(inp)
        out, idx, ck = (str(tmp_path / f"{d}-{tag}") for d in ("out", "idx", "ck"))
        scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
        q = run_stream_curation(
            spark, inp, schema, out, idx, ck,
            min_quality=0.3, jaccard_threshold=0.3, index_dropped=True,
            fold_every_n_batches=fold_every, scfg=scfg,
        )
        drain(q)
        parts = {
            s: bi.partition_ids(spark, bi.ensure_table(spark, f"{idx}/{s}"))
            for s in ("digests", "bands")
        }
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}, parts

    control, parts_c = run("ctl", None)
    folded, parts_f = run("fold", 2)
    assert control == folded
    assert 900 not in folded  # exact dup caught through folded history
    assert parts_c["bands"] == [0, 1, 2, 3, 4, 5]
    # cadence 2: fold before batch 2 ({0,1}->1) and before batch 4
    # ({2,3}->3) — older folded runs stay put (log-structured)
    assert parts_f["bands"] == [1, 3, 4, 5]
    assert parts_f["digests"] == [1, 3, 4, 5]

    with pytest.raises(ValueError, match="fold_every_n_batches requires"):
        run_stream_curation(
            spark, str(tmp_path / "in-x"), schema, str(tmp_path / "o-x"),
            str(tmp_path / "i-x"), str(tmp_path / "c-x"),
            band_index_layout="dirs", fold_every_n_batches=2,
        )


def test_stream_semantic_dedup_auto_fold_and_manual_fold(spark, tmp_path):
    """Round 11: the semantic index store folds like the curation
    stores — (a) fold_every_n_batches auto-folds between triggers with
    flags identical to a never-folded control; (b) the standalone
    compact_index_store fold between drains is invisible to a resumed
    stream (the semantic analog of
    test_compact_curation_index_preserves_dedup_across_resume)."""
    import pytest
    from pyspark.sql import types as T

    from s3logs_parquet_spark.plans import band_index as bi
    from s3logs_parquet_spark.plans.compact import compact_index_store
    from s3logs_parquet_spark.streaming.job import (
        StreamingJobConfig,
        run_stream_semantic_dedup,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def feed(inp):
        # 5 single-file batches; batch b vector 10b duplicates batch
        # b-1's kept unique (10(b-1)+1), vector 10b+1 is fresh
        for b in range(5):
            rows = [
                (10 * b, [1.0, 0.001 * b]),
                (10 * b + 1, [0.5 + 0.1 * b, 1.0]),
            ]
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(inp)

    def run(tag, fold_every):
        inp, out, idx, ck = (
            str(tmp_path / f"{d}-{tag}") for d in ("in", "out", "idx", "ck")
        )
        feed(inp)
        scfg = StreamingJobConfig(available_now=True, max_files_per_trigger=1)
        q = run_stream_semantic_dedup(
            spark, inp, schema, idx, cents, 0.999, out, ck,
            fold_every_n_batches=fold_every, scfg=scfg,
        )
        drain(q)
        flags = {
            r["vec_id"]: (r["is_corpus_dup"], r["is_batch_dup"])
            for r in spark.read.parquet(out).collect()
        }
        parts = bi.partition_ids(spark, bi.ensure_table(spark, idx))
        return flags, parts, (idx, ck, inp, out)

    control, parts_c, _ = run("ctl", None)
    folded, parts_f, (idx_f, ck_f, inp_f, out_f) = run("fold", 2)
    assert control == folded
    # vec 10b duplicates history for b>=1 (10 matches nothing: the
    # first batch has no history)
    assert control[0][0] is False
    assert all(control[10 * b][0] for b in range(1, 5)), control
    assert parts_c == [0, 1, 2, 3, 4]
    # fold before batch 2 ({0,1}->1) and batch 4 ({2,3}->3): the
    # folded {0,1} run stays put
    assert parts_f == [1, 3, 4]

    # (b) manual drained-stream fold + resume: fold everything, then a
    # new batch duplicating old history must still flag
    stats = compact_index_store(spark, idx_f, checkpoint_dir=ck_f)
    assert stats["batches_after"] == 1
    spark.createDataFrame(
        [(990, [1.0, 0.0]), (991, [-1.0, -1.0])], schema
    ).coalesce(1).write.mode("append").parquet(inp_f)
    q2 = run_stream_semantic_dedup(
        spark, inp_f, schema, idx_f, cents, 0.999, out_f, ck_f,
        scfg=StreamingJobConfig(available_now=True, max_files_per_trigger=1),
    )
    drain(q2)
    last = {
        r["vec_id"]: r["is_corpus_dup"]
        for r in spark.read.parquet(f"{out_f}/batch=5").collect()
    }
    assert last == {990: True, 991: False}

    with pytest.raises(ValueError, match="fold_every_n_batches requires"):
        run_stream_semantic_dedup(
            spark, str(tmp_path / "in-x2"), schema, str(tmp_path / "i-x2"),
            cents, 0.999, str(tmp_path / "o-x2"), str(tmp_path / "c-x2"),
            index_layout="dirs", fold_every_n_batches=2,
        )

"""End-to-end batch transform: raw lines → partitioned parquet → invariants.

Mirrors SURVEY.md §5's implication: row counts, dedup idempotence,
partition completeness, schema — the levels the reference never tested.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.plans.batch import run_batch_transform
from s3logs_parquet_spark.schema import LOG_FIELDS
from s3logs_parquet_spark.testing import generate_lines


def _write_lines(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_batch_transform_end_to_end(spark, tmp_path):
    lines = generate_lines(
        2000, seed=3, dup_fraction=0.10, garbage_fraction=0.02, span_seconds=7200
    )
    inp = _write_lines(tmp_path, "logs.txt", lines)
    out = str(tmp_path / "out")
    res = run_batch_transform(spark, inp, out, EngineConfig())

    assert res.rows_in == len(lines)
    n_garbage = sum(1 for l in lines if l.startswith("!!"))
    n_unique = len(set(l for l in lines if not l.startswith("!!")))
    # dedup removes verbatim-duplicate redelivered lines (same window+id)
    assert res.rows_out == n_unique
    assert res.rows_in - n_garbage >= res.rows_out

    table = spark.read.parquet(out)
    # schema: 26 string cols + 4 partition cols
    assert set(LOG_FIELDS).issubset(set(table.columns))
    assert {"year", "month", "day", "hour"}.issubset(set(table.columns))
    # partition completeness: hive dirs exist for both hours of the span
    # (Spark's partition type inference reads hour=08 back as int 8; the
    # on-disk layout below is the parity-relevant artifact)
    hours = sorted(int(r["hour"]) for r in table.select("hour").distinct().collect())
    assert hours == [8, 9]
    part_dirs = os.listdir(os.path.join(out, "year=2024", "month=05", "day=12"))
    assert sorted(part_dirs) == ["hour=08", "hour=09"]

    # idempotence: re-running transform over the SAME input into a fresh
    # dir yields identical content
    out2 = str(tmp_path / "out2")
    run_batch_transform(spark, inp, out2, EngineConfig())
    t2 = spark.read.parquet(out2)
    assert t2.count() == table.count()
    assert (
        table.exceptAll(t2.select(table.columns)).count() == 0
        and t2.select(table.columns).exceptAll(table).count() == 0
    )


def test_batch_transform_schema_widening(spark, tmp_path):
    lines = generate_lines(
        300, seed=4, dup_fraction=0.0, garbage_fraction=0.0, extra_fraction=0.1
    )
    inp = _write_lines(tmp_path, "logs.txt", lines)
    out = str(tmp_path / "out")
    res = run_batch_transform(spark, inp, out, EngineConfig())
    assert res.extra_fields >= 1
    table = spark.read.parquet(out)
    assert f"ExtraField{26 + res.extra_fields}" in table.columns
    # rows without extras have NULLs there
    assert table.filter(F.col("ExtraField27").isNull()).count() > 0


def test_batch_transform_empty_input(spark, tmp_path):
    # the reference panics on zero parseable lines (utils.rs:610);
    # we must emit an empty result without crashing
    inp = _write_lines(tmp_path, "logs.txt", ["!!corrupt!!", "also corrupt"])
    out = str(tmp_path / "out")
    res = run_batch_transform(spark, inp, out, EngineConfig())
    assert res.rows_out == 0


def test_batch_transform_per_bucket_mode(spark, tmp_path):
    cfg = EngineConfig(merge_orig_buckets=False, deduplication=True)
    lines = generate_lines(500, seed=5, dup_fraction=0.05, garbage_fraction=0.0)
    inp = _write_lines(tmp_path, "logs.txt", lines)
    out = str(tmp_path / "out")
    run_batch_transform(spark, inp, out, cfg)
    table = spark.read.parquet(out)
    assert {r["Bucket"] for r in table.select("Bucket").distinct().collect()} == {
        "bucket-a",
        "bucket-b",
        "bucket-c",
    }


def test_corrupt_side_channel_and_archive(spark, tmp_path):
    lines = generate_lines(300, seed=9, dup_fraction=0.0, garbage_fraction=0.05)
    inp = _write_lines(tmp_path, "logs.txt", lines)
    out = str(tmp_path / "out")
    corrupt = str(tmp_path / "corrupt")
    archive = str(tmp_path / "archive")
    res = run_batch_transform(
        spark, inp, out, EngineConfig(), corrupt_path=corrupt, archive_path=archive
    )
    n_garbage = sum(1 for l in lines if l.startswith("!!"))
    # F1 side channel captures exactly the dropped lines
    assert spark.read.text(corrupt).count() == n_garbage
    # W7 archive holds every input line, gzip-compressed
    assert spark.read.text(archive).count() == len(lines)
    import glob

    assert glob.glob(f"{archive}/*.gz"), "archive files should be gzip"
    assert res.rows_out == len(lines) - n_garbage


def test_corrupt_lines_are_exactly_the_dropped_lines(spark, tmp_path):
    # A line whose third token is not a time but that holds a bracketed
    # time further on passes the full-line TS_PATTERN, yet the pipeline
    # drops it: the side channel must carry it too.
    lines = generate_lines(50, seed=3, dup_fraction=0.0, garbage_fraction=0.1)
    lines.append("a b c [06/Feb/2019:00:00:38 +0000] x y")
    inp = _write_lines(tmp_path, "logs.txt", lines)
    corrupt = str(tmp_path / "corrupt")
    res = run_batch_transform(spark, inp, str(tmp_path / "out"), corrupt_path=corrupt)
    got = [r.value for r in spark.read.text(corrupt).collect()]
    assert len(got) == res.rows_in - res.rows_parsed
    assert "a b c [06/Feb/2019:00:00:38 +0000] x y" in got


def test_gzip_compressed_input(spark, tmp_path):
    """S3 access logs are commonly delivered gzip-compressed; the text
    source must read .gz transparently (Hadoop codec discovery)."""
    import gzip

    lines = generate_lines(150, seed=55, dup_fraction=0.0, garbage_fraction=0.0)
    gz = tmp_path / "logs.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(lines) + "\n")
    out = str(tmp_path / "out")
    res = run_batch_transform(spark, str(gz), out, EngineConfig())
    assert res.rows_out == 150


def test_metrics_count_this_batch_not_the_table(spark, tmp_path):
    # append-mode re-run: rows_out must report THIS batch's rows, not
    # the cumulative table (the old read-back double-counted), and
    # rows_parsed must use the pipeline's own ts-not-null predicate.
    lines = generate_lines(300, seed=11, dup_fraction=0.0, garbage_fraction=0.1)
    inp = _write_lines(tmp_path, "logs.txt", lines)
    out = str(tmp_path / "out")
    r1 = run_batch_transform(spark, inp, out, EngineConfig())
    r2 = run_batch_transform(spark, inp, out, EngineConfig())
    assert r2.rows_out == r1.rows_out  # not 2x
    assert r1.rows_in == 300
    assert r1.rows_parsed == r1.rows_out  # no dups in this input
    assert spark.read.parquet(out).count() == 2 * r1.rows_out


def test_widening_append_preserves_existing_rows(spark, tmp_path):
    # Batch 1 populates the table; batch 2 carries >26-field lines and
    # shares its event-hour partitions. The wide batch is appended once
    # at its own width, so batch 1's rows survive beside it.
    lines1 = generate_lines(200, seed=5, dup_fraction=0.0, garbage_fraction=0.0)
    lines2 = generate_lines(
        200, seed=6, dup_fraction=0.0, garbage_fraction=0.0, extra_fraction=0.2
    )
    out = str(tmp_path / "out")
    r1 = run_batch_transform(spark, _write_lines(tmp_path, "b1.txt", lines1), out, EngineConfig())
    r2 = run_batch_transform(spark, _write_lines(tmp_path, "b2.txt", lines2), out, EngineConfig())
    assert r1.extra_fields == 0 and r2.extra_fields >= 1
    table = spark.read.parquet(out)
    assert table.count() == r1.rows_out + r2.rows_out


def test_widening_rerun_does_not_duplicate(spark, tmp_path):
    # Fresh-table wide batch: written once at the learned width — the
    # net row count is the batch's own, not 2x.
    lines = generate_lines(
        250, seed=7, dup_fraction=0.0, garbage_fraction=0.0, extra_fraction=0.15
    )
    out = str(tmp_path / "out")
    res = run_batch_transform(spark, _write_lines(tmp_path, "b.txt", lines), out, EngineConfig())
    assert res.extra_fields >= 1
    assert spark.read.parquet(out).count() == res.rows_out == 250


def _wide_lines(seed: int) -> list[str]:
    return generate_lines(
        300, seed=seed, dup_fraction=0.05, garbage_fraction=0.02, extra_fraction=0.05
    )


@pytest.mark.parametrize("dest", ["fresh", "append"])
def test_wide_batch_scans_and_writes_once(spark, tmp_path, monkeypatch, dest):
    # M3 learns the width from the one materialized pass: a wide batch
    # parses its input once and writes once, whether the destination
    # is empty or already holds a batch (no probe pass, no rewrite).
    from s3logs_parquet_spark.plans import batch

    out = str(tmp_path / "out")
    if dest == "append":
        run_batch_transform(spark, _write_lines(tmp_path, "b0.txt", _wide_lines(20)), out)
    calls = {"parse": 0, "write": 0}

    def counted(key, fn):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(batch, "with_tokens", counted("parse", batch.with_tokens))
    monkeypatch.setattr(
        batch, "write_partitioned_parquet", counted("write", batch.write_partitioned_parquet)
    )
    res = run_batch_transform(spark, _write_lines(tmp_path, "b1.txt", _wide_lines(21)), out)
    assert res.extra_fields >= 1
    assert calls == {"parse": 1, "write": 1}


def test_batch_leaves_no_persistent_blocks(spark, tmp_path, monkeypatch):
    # The materialized batch is released after the write, and also when
    # the write raises.
    from s3logs_parquet_spark.plans import batch

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    inp = _write_lines(tmp_path, "b.txt", _wide_lines(22))
    before = persistent()
    run_batch_transform(spark, inp, str(tmp_path / "ok"))
    assert persistent() == before

    def failing_write(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(batch, "write_partitioned_parquet", failing_write)
    with pytest.raises(RuntimeError, match="write failed"):
        run_batch_transform(spark, inp, str(tmp_path / "failed"))
    assert persistent() == before


def test_writer_exchange_files_per_hive_partition(spark, tmp_path):
    # The writer exchange routes each Hive partition to one task per
    # salt value: salt 1 writes exactly one file per hour= directory,
    # salt 3 at most three, with the same rows.
    from s3logs_parquet_spark.plans.batch import _transform_lines
    from s3logs_parquet_spark.sources.text_source import read_log_lines

    inp = _write_lines(
        tmp_path,
        "b.txt",
        generate_lines(1500, seed=23, dup_fraction=0.05, garbage_fraction=0.0, span_seconds=4 * 3600),
    )

    def files_per_hour(path):
        counts = {}
        for root, _d, names in os.walk(path):
            n = sum(1 for f in names if f.endswith(".parquet"))
            if os.path.basename(root).startswith("hour="):
                counts[root] = n
        return counts

    tables = {}
    for salt in (1, 3):
        out = str(tmp_path / f"salt{salt}")
        _transform_lines(spark, read_log_lines(spark, inp), out, EngineConfig(), salt)
        counts = files_per_hour(out)
        assert len(counts) == 4
        if salt == 1:
            assert set(counts.values()) == {1}
        else:
            assert all(1 <= n <= 3 for n in counts.values()) and max(counts.values()) > 1
        tables[salt] = spark.read.parquet(out)
    one, three = tables[1], tables[3].select(tables[1].columns)
    assert one.count() == three.count() > 0
    assert one.exceptAll(three).count() == 0 and three.exceptAll(one).count() == 0


@pytest.mark.parametrize(
    "cfg",
    [
        EngineConfig(),
        EngineConfig(merge_orig_buckets=False),
        # a config-file schema: renamed, and narrower than the built-in
        # 26, so every full line widens and both keys stay positional
        EngineConfig(
            schema_fields=tuple(f"fld_{i:02d}" for i in range(24)), merge_orig_buckets=False
        ),
        EngineConfig(deduplication=False),
    ],
    ids=["default", "split_buckets", "custom_schema", "no_dedup"],
)
def test_narrow_dedup_matches_wide_parse(spark, tmp_path, cfg):
    # The ETL dedups token arrays and projects the fields after its
    # shuffles; it must write what parsing every field first and
    # deduplicating the parsed rows writes.
    from s3logs_parquet_spark.functions.parse import parse_s3_access_log
    from s3logs_parquet_spark.operators.windows import with_agg_window, with_bucket_key
    from s3logs_parquet_spark.plans.batch import TransformResult
    from s3logs_parquet_spark.writer import with_partition_columns

    lines = generate_lines(
        600,
        seed=31,
        dup_fraction=0.1,
        garbage_fraction=0.02,
        short_fraction=0.02,
        extra_fraction=0.05,
        span_seconds=2 * 3600,
    )
    inp = _write_lines(tmp_path, "b.txt", lines)
    out = str(tmp_path / "out")
    got = run_batch_transform(spark, inp, out, cfg)

    names = cfg.schema_fields or LOG_FIELDS
    raw = spark.read.text(inp)
    widest = (
        parse_s3_access_log(raw, fields=cfg.schema_fields)
        .filter("ts IS NOT NULL")
        .agg(F.max("n_fields"))
        .first()[0]
    )
    extra = max(0, widest - len(names))
    parsed = parse_s3_access_log(
        raw, extra_fields=extra, extra_prefix=cfg.extra_field_prefix, fields=cfg.schema_fields
    ).filter("ts IS NOT NULL")
    keyed = with_bucket_key(with_agg_window(parsed, align_seconds=cfg.aggregate_second), cfg)
    if cfg.deduplication:
        keyed = keyed.dropDuplicates(["bucket_key", "agg_window", names[5]])
    # checkpointed: exceptAll straight over the dedup's plan trips a
    # Spark binding error (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    want = (
        with_partition_columns(keyed, cfg)
        .drop("ts", "n_fields", "agg_window", "bucket_key")
        .localCheckpoint()
    )

    assert got == TransformResult(len(lines), parsed.count(), want.count(), extra)
    table = spark.read.parquet(out)
    assert table.columns == want.columns
    # read-back infers hour=08 as an int: compare the partition values
    # as the zero-padded strings the writer puts in the directory names
    widths = {"year": 4, "month": 2, "day": 2, "hour": 2}
    table = table.select(
        *want.columns[:-4],
        *(F.lpad(F.col(c).cast("string"), n, "0").alias(c) for c, n in widths.items()),
    )
    assert table.exceptAll(want).count() == 0 and want.exceptAll(table).count() == 0

"""Decompose ONE bucketed-store contribution insert into its Spark
jobs (VERDICT r12 #2 groundwork).

The r12 trigger-floor record (PERF.md)
attributes 54 of 79 jobs in a 3-trigger run to the threaded sinks:
insertInto + dynamic-partition bookkeeping per store per trigger. This
tool isolates that cost: build a band_index store with --prebatches
committed partitions, then run ONE write_contribution and print every
job the driver's AppStatusStore saw during it (description + stage
count), plus the wall. Run it at two --prebatches settings to see which
jobs scale with partition count (the re-listing suspects) and which are
the write itself.

Variants measured back-to-back in the same session:
- insert:      the shipped write_contribution path
- insert+nolist: same, with spark.sql.sources.parallelPartitionDiscovery
                 .threshold raised so catalog/file-index re-listing
                 stays driver-side instead of spawning listing jobs
- combined:    ONE union-schema insert carrying the digest rows as
               band = -1 rows of the bands store shape (split-on-read)
               — what fusing the two per-trigger store writes would
               save, measured on the same rows

Usage: python tools/exp_sink_insert_jobs.py [--rows 20000] [--prebatches 12]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from s3logs_parquet_spark.plans import band_index as bi  # noqa: E402
from s3logs_parquet_spark.session import get_spark  # noqa: E402


def _jobs(spark):
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(it.size()):
        j = it.apply(i)
        out.append(
            {
                "id": j.jobId(),
                "desc": (j.description().toString() if j.description().isDefined() else j.name())[:140],
                "stages": j.stageIds().size(),
            }
        )
    return out


def _contrib(spark, n, batch, bands=8):
    base = spark.range(n).select(
        (F.col("id") + batch * n).alias("doc_id")
    )
    return (
        base.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
        )
        .withColumn(
            "band_hash", F.pmod(F.xxhash64("doc_id", "band"), F.lit(1 << 20)).cast("int")
        )
        .select("doc_id", F.col("band").cast("int"), "band_hash")
    )


def measure(spark, fn, label):
    before = {j["id"] for j in _jobs(spark)}
    t0 = time.time()
    fn()
    wall = time.time() - t0
    new = [j for j in _jobs(spark) if j["id"] not in before]
    print(
        json.dumps(
            {
                "variant": label,
                "jobs": len(new),
                "sec": round(wall, 2),
                "detail": [f"{j['stages']}stg {j['desc']}" for j in new],
            }
        ),
        flush=True,
    )
    return len(new), wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--prebatches", type=int, default=12)
    args = ap.parse_args()

    spark = get_spark(
        app_name="exp-sink-insert-jobs",
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    work = tempfile.mkdtemp(prefix="sink-insert-jobs-")
    try:
        store = os.path.join(work, "bands")
        for b in range(args.prebatches):
            bi.write_contribution(
                spark, store, _contrib(spark, args.rows, b), b,
                ("band", "band_hash"), n_buckets=16, dedup_cols=("doc_id", "band"),
            )
        nb = args.prebatches

        # the shipped path: one insert into the existing store
        measure(
            spark,
            lambda: bi.write_contribution(
                spark, store, _contrib(spark, args.rows, nb), nb,
                ("band", "band_hash"),
            ),
            f"insert@{nb}parts",
        )
        # re-listing suppressed: driver-side partition discovery only
        old = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        try:
            measure(
                spark,
                lambda: bi.write_contribution(
                    spark, store, _contrib(spark, args.rows, nb + 1), nb + 1,
                    ("band", "band_hash"),
                ),
                f"insert+nolist@{nb + 1}parts",
            )
        finally:
            spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", old)

        # AQE off for the insert only: the contribution write is an
        # exact repartition-to-n_buckets + bucketed write — AQE cannot
        # coalesce it (bucket count is a hard layout requirement) but
        # DOES materialize the exchange as its own query-stage job.
        # If this halves the insert's job count, it's a conf the sink
        # region can pin like partitionOverwriteMode.
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            measure(
                spark,
                lambda: bi.write_contribution(
                    spark, store, _contrib(spark, args.rows, nb + 2), nb + 2,
                    ("band", "band_hash"),
                ),
                f"insert+noaqe@{nb + 2}parts",
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

        # combined union-schema write: digests ride as band=-1 rows →
        # one insert per trigger instead of two. Same total rows as a
        # digest store (1 row/doc) plus the band rows.
        comb = os.path.join(work, "combined")
        def one_combined(b):
            bands = _contrib(spark, args.rows, b)
            digests = (
                spark.range(args.rows)
                .select((F.col("id") + b * args.rows).alias("doc_id"))
                .select(
                    "doc_id",
                    F.lit(-1).cast("int").alias("band"),
                    F.pmod(F.xxhash64("doc_id"), F.lit(1 << 20)).cast("int").alias("band_hash"),
                )
            )
            bi.write_contribution(
                spark, comb, bands.unionByName(digests), b,
                ("band", "band_hash"), n_buckets=16, dedup_cols=("doc_id", "band"),
            )
        for b in range(2):
            one_combined(b)
        measure(spark, lambda: one_combined(2), "combined-insert@2parts")

        # baseline pair of separate inserts at the same small history,
        # for the like-for-like "two writes vs one" comparison
        sep_b = os.path.join(work, "sep-bands")
        sep_d = os.path.join(work, "sep-digests")
        def one_separate(b):
            bi.write_contribution(
                spark, sep_b, _contrib(spark, args.rows, b), b,
                ("band", "band_hash"), n_buckets=16, dedup_cols=("doc_id", "band"),
            )
            dg = spark.range(args.rows).select(
                F.pmod(F.xxhash64((F.col("id") + b * args.rows)), F.lit(1 << 40)).alias("_dg")
            )
            bi.write_contribution(
                spark, sep_d, dg, b, ("_dg",), n_buckets=16, dedup_cols=("_dg",),
            )
        for b in range(2):
            one_separate(b)
        measure(spark, lambda: one_separate(2), "separate-2-inserts@2parts")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

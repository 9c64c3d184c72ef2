"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Usage: python bench.py [QUERY...]

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "extra": {...}}

Each query gets one warm count(), then the best of two timed runs
forced through the noop sink (full materialization, no collect/sink
cost). With no arguments it times every HEADLINE query plus the log_etl
legs, which measure the fused parse→dedup→partitioned-parquet batch job
end-to-end and report lines/s in extra — the reference's primary
operating metric (BASELINE.md "observed-throughput"). Named queries are
timed alone, without the ETL legs, and extra.cold_first_run holds each
one's first timed run. A name not in the registry prints UNKNOWN and
exits 1 before Spark starts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.plans.batch import run_batch_transform
from s3logs_parquet_spark.plans.log_pipeline import _synthetic_log_lines
from s3logs_parquet_spark.plans.queries import QUERIES
from s3logs_parquet_spark.session import get_spark
from s3logs_parquet_spark.sources.tables import load_table

# The timed queries: one per operator family and plan shape tracked.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "events_tumbling_window",
    "events_sliding_means",
    "s3log_pipeline_roundtrip",
    "docs_remove_dup_spans",
    "docs_minhash_lsh_pairs",
    "docs_simhash_pairs",
    "events_hilbert_key",
    "events_session_windows",
    "customer_orders_left_join",
    "emb_cosine_topk",
    "docs_inference_mlp",
    "events_asof_click_chunked",
    "events_range_pairs",
    "events_kmv_global",
    "events_hourly_rollup",
    "docs_incremental_neardup",
    "tpch_q8_market_share",
    "tpch_q21_waiting_supplier",
    "emb_ivf_indexed_topk",
    "emb_pq_topk",
    "tpch_q9_product_profit",
    "orders_bloom_customer_revenue",
    "emb_ivfpq_topk",
    "docs_dup_ngram_fraction",
    "events_interval_pairs",
    "docs_weighted_sample",
    "emb_neardup_pairs",
    "docs_tfidf_similar_pairs",
    "emb_semantic_dedup",
    "docs_chunk_windows",
    "emb_semantic_dedup_incremental",
    "emb_sq8_topk",
    "events_kmv_set_ops",
    "docs_neardup_canonical_keep",
    "docs_heavy_hitter_words",
    "events_quantiles_by_type",
    "docs_selection_budget",
    "docs_inference_scores",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _loadavg() -> list[float] | None:
    """Host 1/5/15-min load averages, or None off-Linux. Recorded in
    extra so a contended run is distinguishable from a regression
    (VERDICT r13 #4: noise claims must be checkable, not narrative)."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def main(names: list[str]) -> int:
    unknown = [n for n in names if n not in QUERIES]
    for name in unknown:
        print(f"UNKNOWN {name}")
    if unknown:
        return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    loadavg_start = _loadavg()
    spark = get_spark(app_name="s3logs-bench")

    timings: dict[str, float] = {}
    first: dict[str, float] = {}
    for name in names or HEADLINE:
        timings[name], first[name] = _time_query(spark, QUERIES[name][0], sf_dir)
    # named queries: the first timed run alone is what a cold driver
    # process pays after the warm count
    extra = {"cold_first_run": first} if names else _log_etl(spark, sf_dir, timings)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": {
                    **extra,
                    "loadavg_start": loadavg_start,
                    "loadavg_end": _loadavg(),
                },
            }
        )
    )
    return 0


def _time_query(spark, fn, sf_dir: str) -> tuple[float, float]:
    """(best, first) of two timed noop-sink runs after one warm count()."""
    fn(spark, sf_dir).count()  # warm: plan + scan caches (file listing, parquet footers)
    # best of 2 timed runs: this host shows ±20% run-to-run noise
    # (PERF.md), and min-of-2 halves the variance of the recorded
    # number without changing what is measured
    runs = []
    for _ in range(2):
        t0 = time.time()
        force(fn(spark, sf_dir))
        runs.append(time.time() - t0)
    return round(min(runs), 3), round(runs[0], 3)


def _log_etl(spark, sf_dir: str, timings: dict[str, float]) -> dict:
    """Time the two log ETL legs into ``timings``; return their
    lines/s and line count for ``extra``."""
    # end-to-end log ETL throughput: events rows rendered as raw log
    # lines on disk, then the full fused batch job (parse → window →
    # dedup → partitioned parquet write). Two workload shapes:
    #  - sparse: event times span the table's full ~30 days → ~720
    #    hourly output partitions (worst case; write dominated by
    #    per-partition file overhead at this tiny scale)
    #  - dense: same lines with times compressed into one hour — the
    #    reference generator's shape (trailing-10-min window,
    #    loggen/conf.py) and the realistic continuous-ingest profile
    work = tempfile.mkdtemp(prefix="bench_etl_")
    try:
        from pyspark.sql import functions as F

        events = load_table(spark, sf_dir, "events")
        dense_events = events.withColumn(
            "ts", F.timestamp_seconds(F.lit(1715500800) + F.unix_timestamp("ts") % 3600)
        )
        etl_stats = {}
        for shape, ev in (("log_etl", events), ("log_etl_dense", dense_events)):
            lines_path = os.path.join(work, f"lines_{shape}")
            # many input objects, like production S3 access logs (the
            # reference consumes thousands of small objects); a 1-2
            # file layout would cap the map stage at 1-2 input splits
            # and benchmark the file count, not the engine
            n_objects = int(spark.sparkContext.defaultParallelism)
            _synthetic_log_lines(ev).repartition(n_objects).write.mode(
                "overwrite"
            ).text(lines_path)
            n_lines = spark.read.text(lines_path).count()
            etl_sec = float("inf")
            for rep in range(2):  # best of 2, as above
                # the shipped job, size-based writer salt included,
                # into a fresh table each rep
                out_path = os.path.join(work, f"out_{shape}_{rep}")
                t0 = time.time()
                run_batch_transform(spark, lines_path, out_path, EngineConfig())
                etl_sec = min(etl_sec, time.time() - t0)
            timings[shape] = round(etl_sec, 3)
            etl_stats[f"{shape}_lines_per_sec"] = round(n_lines / etl_sec, 1)
        etl_stats["log_etl_n_lines"] = n_lines
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return etl_stats


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

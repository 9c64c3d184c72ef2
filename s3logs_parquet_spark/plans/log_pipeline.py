"""The log pipeline family (P1-P3, F1, G1, G3, D1, G6): S3 access-log
lines synthesized from the events table (``_synthetic_log_lines``, also
bench.py's ``log_etl`` input) through the real parser, windows and
dedup; schema widening, the Hive partition prefix, and the
S3-notification manifest parser (F2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.functions.parse import parse_s3_access_log
from s3logs_parquet_spark.operators.windows import with_agg_window
from s3logs_parquet_spark.plans.events import _EPOCH
from s3logs_parquet_spark.sources.tables import load_table as _t


def _synthetic_log_line_col(e: DataFrame) -> F.Column:
    """The log-line Column rendered from an events row (bracketed time,
    quoted URI/agent). Bucket derives from user_id, RequestID from
    event_id."""
    bucket = F.concat(F.lit("bucket-"), (F.col("user_id") % 3).cast("string"))
    t = F.concat(F.lit("["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000]"))
    line = F.concat_ws(
        " ",
        F.lit("deadbeefcafe0123"),
        bucket,
        t,
        F.lit("192.0.2.1"),
        F.lit("deadbeefcafe0123"),
        F.col("event_id").cast("string"),
        F.lit("REST.GET.OBJECT"),
        F.concat(F.lit("/data/"), F.col("event_type"), F.lit("/obj")),
        F.concat(F.lit('"GET /'), F.col("event_type"), F.lit(' HTTP/1.1"')),
        F.lit("200"),
        F.lit("-"),
        F.col("value").cast("string"),
        F.lit("-"), F.lit("10"), F.lit("10"),
        F.lit('"http://example.com/ref"'),
        F.lit('"agent/1.0 (Linux; x86)"'),
        F.lit("-"), F.lit("hostid"), F.lit("SigV4"),
        F.lit("ECDHE-RSA-AES128-GCM-SHA256"), F.lit("AuthHeader"),
        F.lit("s3.example.com"), F.lit("TLSv1.2"), F.lit("-"), F.lit("-"),
    )
    return line


def _synthetic_log_lines(e: DataFrame) -> DataFrame:
    """Render events as S3-access-log lines so the REAL parser runs on
    realistic text."""
    return e.select(_synthetic_log_line_col(e).alias("value"))


def q_log_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end engine semantics, oracle-checked: events → log lines
    (doubled, to simulate at-least-once redelivery) → tokenize/parse →
    F1 filter → G1 900 s windows → D1 dedup → per-(bucket, window)
    counts. The oracle never sees the strings: it derives the same
    aggregate directly from events — an independent derivation that
    catches any parser/window/dedup defect."""
    e = _t(spark, sf_dir, "events")
    # the events table is one small parquet file → 2 input splits; the
    # line render and the tokenizer are the expensive maps here, so fan
    # the EVENT ROWS out to all cores first (the r10 exchange moved —
    # round 14: it used to sit between render and parse, leaving the
    # render 16×-underparallelized in the scan stage; shuffling the
    # narrow event columns instead costs the same exchange and puts
    # BOTH heavy maps at full parallelism). At production scale inputs
    # are many objects and this exchange is unnecessary; it models the
    # many-splits layout a real scan gets.
    fanned = e.repartition(spark.sparkContext.defaultParallelism)
    lines = _synthetic_log_lines(fanned)
    # redelivery duplicates: emit each rendered line twice via a 2-row
    # explode instead of union(lines, lines) — the union executed BOTH
    # branches, scanning the events table and running the expensive
    # 26-field line render twice for a row multiset that a single
    # render pass produces identically (round 14, guide §2.4 — don't
    # compute what you already have; same multiset, dedup/agg are
    # content-based so results are unchanged)
    doubled = lines.select(
        "value", F.explode(F.array(F.lit(0), F.lit(1))).alias("_copy")
    ).drop("_copy")
    cfg = EngineConfig(merge_orig_buckets=False)
    parsed = parse_s3_access_log(doubled)
    # project to the three needed columns before the dedup exchange —
    # the shuffle then carries 3 strings instead of 26 (Catalyst prunes
    # the aggregate either way, but the early projection also skips the
    # unused per-column padding expressions at parse time)
    clean = parsed.filter(F.col("ts").isNotNull()).select("Bucket", "RequestID", "ts")
    w = with_agg_window(clean, "ts", cfg.aggregate_second, "w")
    dd = w.dropDuplicates(["Bucket", "w", "RequestID"])
    return dd.groupBy(F.col("Bucket").alias("bucket"), "w").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("RequestID").alias("n_ids"),
    )


ORACLE_LOG_PIPELINE = f"""
SELECT 'bucket-' || (user_id % 3)::VARCHAR AS bucket,
       {_EPOCH} - {_EPOCH} % 900 AS w,
       count(*) AS n_rows,
       count(DISTINCT event_id) AS n_ids
FROM events GROUP BY 1, 2
"""


def q_log_parse_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-exact parser check through quoted/bracketed tokens: parse
    rendered lines, emit individual fields; oracle recomputes each field
    straight from events columns."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    parsed = parse_s3_access_log(_synthetic_log_lines(e))
    return parsed.select(
        F.col("RequestID").cast("long").alias("event_id"),
        F.col("Bucket").alias("bucket"),
        F.col("RequestURI").alias("uri"),
        F.col("UserAgent").alias("agent"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.col("n_fields"),
    )


ORACLE_LOG_PARSE_FIELDS = f"""
SELECT event_id,
       'bucket-' || (user_id % 3)::VARCHAR AS bucket,
       'GET /' || event_type || ' HTTP/1.1' AS uri,
       'agent/1.0 (Linux; x86)' AS agent,
       {_EPOCH} AS epoch_s,
       26 AS n_fields
FROM events WHERE event_id < 100
"""


def q_log_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/§1.3 — adaptive ExtraField widening through the oracle gate:
    lines carry two overflow tokens; the two-pass protocol discovers
    width 28 and projects nullable ExtraField27/28 (naming per
    utils.rs:1217-1222). Odd event_ids get the extras, evens exercise
    the NULL padding of the widened schema."""
    from s3logs_parquet_spark.functions.parse import max_field_count
    from s3logs_parquet_spark.schema import NUM_LOG_FIELDS

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    extra = F.when(
        F.col("event_id") % 2 == 1,
        F.concat(F.lit(" x"), F.col("event_id").cast("string"), F.lit(" y")),
    ).otherwise(F.lit(""))
    lines = e.select(F.concat(_synthetic_log_line_col(e), extra).alias("value"))
    parsed0 = parse_s3_access_log(lines)
    widest = max_field_count(parsed0.filter(F.col("ts").isNotNull()))
    parsed = parse_s3_access_log(lines, extra_fields=max(0, widest - NUM_LOG_FIELDS))
    return parsed.select(
        F.col("RequestID").cast("long").alias("event_id"),
        F.col("n_fields"),
        F.col("ExtraField27").alias("extra27"),
        F.col("ExtraField28").alias("extra28"),
    )


ORACLE_LOG_SCHEMA_WIDENING = """
SELECT event_id,
       CASE WHEN event_id % 2 = 1 THEN 28 ELSE 26 END AS n_fields,
       CASE WHEN event_id % 2 = 1 THEN 'x' || event_id::VARCHAR END AS extra27,
       CASE WHEN event_id % 2 = 1 THEN 'y' END AS extra28
FROM events WHERE event_id < 200
"""


def q_partition_prefix_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/W5 — the Hive prefix computation in a non-UTC fixed offset
    (UTC+8, the reference's transform.sh example), under BOTH sign
    conventions config.parse_posix_tz_offset resolves: the intuitive
    east-positive default (prefix) and the POSIX/tzif semantics the
    reference binary actually computes for that string — UTC−8
    (prefix_posix; s3logs/src/utils.rs:477-494, SURVEY §7.4.3). Both
    offsets are resolved through the config parser, not hardcoded, so
    the gate covers the sign-mode path end-to-end."""
    from s3logs_parquet_spark.config import parse_posix_tz_offset
    from s3logs_parquet_spark.functions.timeops import partition_prefix

    fmt = "year=%Y/month=%m/day=%d/hour=%H"
    east = parse_posix_tz_offset("UTC+8")  # +28800 (intuitive default)
    west = parse_posix_tz_offset("UTC+8", mode="posix")  # -28800 (tzif parity)
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        partition_prefix(F.col("ts"), fmt, east).alias("prefix"),
        partition_prefix(F.col("ts"), fmt, west).alias("prefix_posix"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))


ORACLE_PARTITION_PREFIX_TZ = """
SELECT strftime(ts + INTERVAL 8 HOUR, 'year=%Y/month=%m/day=%d/hour=%H') AS prefix,
       strftime(ts - INTERVAL 8 HOUR, 'year=%Y/month=%m/day=%d/hour=%H') AS prefix_posix,
       count(*) AS n_rows
FROM events GROUP BY 1, 2
"""


def q_manifest_events_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/F2 round-trip: synthesize S3-notification JSON documents from
    the events table, then run them through the real manifest parser
    (sources/manifest_source.parse_s3_events) — construct→parse must be
    the identity on accepted events and drop rejected ones, which the
    oracle checks by computing the expected survivors directly."""
    from s3logs_parquet_spark.sources.manifest_source import parse_s3_events

    e = _t(spark, sf_dir, "events")
    ename = (
        F.when(F.col("event_type") == "view", F.lit("ObjectCreated:Put"))
        .when(F.col("event_type") == "click", F.lit("ObjectCreated:CompleteMultipartUpload"))
        .otherwise(F.concat(F.lit("ObjectRemoved:"), F.col("event_type")))
    )
    doc = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    ename.alias("eventName"),
                    F.struct(
                        F.struct(
                            F.concat(F.lit("bkt-"), (F.col("user_id") % 10).cast("string")).alias(
                                "name"
                            )
                        ).alias("bucket"),
                        F.struct(
                            F.concat(F.lit("logs/obj-"), F.col("event_id").cast("string")).alias(
                                "key"
                            ),
                            F.col("event_id").alias("size"),
                        ).alias("object"),
                    ).alias("s3"),
                )
            ).alias("Records")
        )
    )
    return parse_s3_events(e.select(doc.alias("value")))


ORACLE_MANIFEST_EVENTS_F2 = """
SELECT CASE WHEN event_type = 'view' THEN 'ObjectCreated:Put'
            ELSE 'ObjectCreated:CompleteMultipartUpload' END AS event_name,
       'bkt-' || (user_id % 10)::VARCHAR AS bucket,
       'logs/obj-' || event_id::VARCHAR AS key,
       event_id AS size
FROM events
WHERE event_type IN ('view', 'click')
"""

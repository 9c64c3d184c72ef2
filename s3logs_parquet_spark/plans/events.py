"""Engine-semantics queries on the events table (G1/G3/G6/G7/D1/O3):
tumbling/sliding/session windows, window dedup, pivot, JSON props,
as-of and range/interval joins, KMV sketches, bottom-k quantiles and
the z-order/Hilbert layout keys. Each ``q_*`` builder sits beside its
DuckDB oracle (registry contract: queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.hashing import hash32_sql
from s3logs_parquet_spark.operators.windows import with_agg_window
from s3logs_parquet_spark.sources.tables import load_table as _t


def q_events_user_halves_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one join type the inventory lacked):
    per-user event counts from the month's first vs second half, users
    present on either side only carried with NULL on the other —
    USING-style key coalescing on both engines."""
    e = _t(spark, sf_dir, "events")
    early = (
        e.filter(F.dayofmonth("ts") <= 15)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_early"))
    )
    late = (
        e.filter(F.dayofmonth("ts") >= 16)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    return early.join(late, "user_id", "full")


ORACLE_EVENTS_FULL_OUTER = """
WITH early AS (
  SELECT user_id, count(*)::BIGINT AS n_early FROM events
  WHERE date_part('day', ts) <= 15 GROUP BY user_id
), late AS (
  SELECT user_id, count(*)::BIGINT AS n_late FROM events
  WHERE date_part('day', ts) >= 16 GROUP BY user_id
)
SELECT coalesce(e.user_id, l.user_id) AS user_id, e.n_early, l.n_late
FROM early e FULL JOIN late l ON e.user_id = l.user_id
"""


def q_events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation: per user-cohort, one column
    per event type (explicit conditional sums so column naming is
    engine-independent)."""
    e = _t(spark, sf_dir, "events")
    cohort = (F.col("user_id") % 10).alias("cohort")
    types = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.round(F.sum(F.when(F.col("event_type") == t, F.col("value")).otherwise(0.0)), 4).alias(f"sum_{t}")
        for t in types
    ]
    return e.groupBy(cohort).agg(*aggs)


def _oracle_events_pivot() -> str:
    types = ["click", "view", "purchase", "signup", "error"]
    cols = ",\n       ".join(
        f"round(sum(CASE WHEN event_type = '{t}' THEN value ELSE 0.0 END), 4) AS sum_{t}"
        for t in types
    )
    return f"""
SELECT user_id % 10 AS cohort,
       {cols}
FROM events GROUP BY 1
"""


ORACLE_EVENTS_PIVOT = _oracle_events_pivot()


# floor() before the cast: events.ts carries sub-second nanos and
# DuckDB's double→bigint cast rounds-half-even while Spark's
# unix_timestamp truncates.
_EPOCH = "floor(epoch(ts))::BIGINT"


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2/G6 — 900 s tumbling windows with counts + stats."""
    e = _t(spark, sf_dir, "events")
    w = with_agg_window(e, "ts", 900, "w")
    return w.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


ORACLE_EVENTS_TUMBLING = f"""
SELECT {_EPOCH} - {_EPOCH} % 900 AS w,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1
"""


def q_events_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 analog on events: distinct (window, user, type) per window —
    the dedup key-space cardinality the reference's HashSet tracks."""
    e = _t(spark, sf_dir, "events")
    w = with_agg_window(e, "ts", 900, "w")
    dd = w.dropDuplicates(["w", "user_id", "event_type"])
    return dd.groupBy("w").agg(F.count(F.lit(1)).alias("n_dedup"))


ORACLE_EVENTS_WINDOW_DEDUP = f"""
SELECT w, count(*) AS n_dedup FROM (
  SELECT DISTINCT {_EPOCH} - {_EPOCH} % 900 AS w, user_id, event_type FROM events
) GROUP BY w
"""


def q_events_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — min/max over timestamps (the window-span computation).
    Emitted as epoch seconds: raw timestamps would compare at micro
    precision on Spark but nano precision on DuckDB (events.ts carries
    nanos) and a stringified compare would spuriously mismatch."""
    return _t(spark, sf_dir, "events").agg(
        F.unix_timestamp(F.min("ts")).alias("min_epoch"),
        F.unix_timestamp(F.max("ts")).alias("max_epoch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_EVENTS_MINMAX = """
SELECT floor(epoch(min(ts)))::BIGINT AS min_epoch,
       floor(epoch(max(ts)))::BIGINT AS max_epoch,
       count(*) AS n_rows
FROM events
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — the monitor's 15-min sliding window (1-min slide) means."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "15 minutes", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.unix_timestamp(F.col("win.start")).alias("ws"), "n_rows", "avg_value")
    )


ORACLE_EVENTS_SLIDING = f"""
SELECT ({_EPOCH} - {_EPOCH} % 60) - 60 * g AS ws,
       count(*) AS n_rows,
       round(avg(value), 6) AS avg_value
FROM events CROSS JOIN generate_series(0, 14) t(g)
GROUP BY 1
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    props column and aggregate on it (JSON path functions on both
    engines)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


ORACLE_EVENTS_JSON_PROPS = """
SELECT json_extract(props, '$.k')::BIGINT % 10 AS k_bucket,
       count(*) AS n_rows,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-min inactivity gap) per user via the
    built-in session_window. Timestamps are floored to seconds on BOTH
    engines so the gap comparison is precision-independent (events.ts
    carries nanos)."""
    e = _t(spark, sf_dir, "events")
    tss = F.timestamp_seconds(F.unix_timestamp("ts"))
    return (
        e.select("user_id", tss.alias("tss"), "value")
        .groupBy("user_id", F.session_window("tss", "5 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_EVENTS_SESSIONS = f"""
WITH e AS (
  SELECT user_id, {_EPOCH} AS t, value FROM events
), marked AS (
  SELECT user_id, t, value,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) < 300
              THEN 0 ELSE 1 END AS brk
  FROM e
), sess AS (
  SELECT user_id, t, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(t) AS session_start, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY user_id, sid
"""


ORACLE_EVENTS_ASOF = """
SELECT a.event_id, a.user_id,
       floor(epoch(a.ts))::BIGINT AS err_epoch,
       b.event_id AS click_id,
       floor(epoch(b.ts))::BIGINT AS click_epoch
FROM (SELECT * FROM events WHERE event_type = 'error') a
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
"""


def q_events_asof_click_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of query through the skew-safe two-pass path
    (operators/temporal.py asof_join_chunked, hour chunks): window
    partitioned by (user, hour-chunk) + boundary carry-forward, so one
    hot user parallelizes across its hours. Checked against the same
    DuckDB native ASOF JOIN — proving chunking changes the plan, not
    the answer."""
    from s3logs_parquet_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    j = asof_join(
        err, clk, time_col="ts", by=["user_id"], right_cols=["event_id"],
        skew_chunk_seconds=3600,
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("err_epoch"),
        F.col("event_id_r").alias("click_id"),
        F.unix_timestamp("ts_r").alias("click_epoch"),
    )


def q_events_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with tolerance: for each error, the EARLIEST click
    by the same user at-or-after it, but only within 30 minutes —
    beyond-tolerance errors drop (inner semantics). Same union → one
    keyed window plan as backward; the oracle is a DuckDB lateral
    top-1 probe with the identical tie/tolerance rules."""
    from s3logs_parquet_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    j = asof_join(
        err, clk, time_col="ts", by=["user_id"], right_cols=["event_id"],
        direction="forward", tolerance_seconds=1800,
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("err_epoch"),
        F.col("event_id_r").alias("click_id"),
        F.unix_timestamp("ts_r").alias("click_epoch"),
    )


ORACLE_EVENTS_ASOF_NEXT = """
SELECT a.event_id, a.user_id,
       floor(epoch(a.ts))::BIGINT AS err_epoch,
       m.event_id AS click_id,
       floor(epoch(m.ts))::BIGINT AS click_epoch
FROM (SELECT * FROM events WHERE event_type = 'error') a
JOIN LATERAL (
  SELECT b.event_id, b.ts
  FROM (SELECT * FROM events WHERE event_type = 'click') b
  WHERE b.user_id = a.user_id AND b.ts >= a.ts
    AND b.ts <= a.ts + INTERVAL 1800 SECOND
  ORDER BY b.ts LIMIT 1
) m ON true
"""


def q_events_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of: for each error, the click by the same user with
    the smallest absolute time gap, ties to the backward (at-or-before)
    side — pandas merge_asof(direction='nearest') semantics. One keyed
    exchange; both direction frames evaluate over the same sort
    partition."""
    from s3logs_parquet_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    j = asof_join(
        err, clk, time_col="ts", by=["user_id"], right_cols=["event_id"],
        direction="nearest",
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("err_epoch"),
        F.col("event_id_r").alias("click_id"),
        F.unix_timestamp("ts_r").alias("click_epoch"),
    )


ORACLE_EVENTS_ASOF_NEAREST = """
SELECT a.event_id, a.user_id,
       floor(epoch(a.ts))::BIGINT AS err_epoch,
       m.event_id AS click_id,
       floor(epoch(m.ts))::BIGINT AS click_epoch
FROM (SELECT * FROM events WHERE event_type = 'error') a
JOIN LATERAL (
  SELECT b.event_id, b.ts
  FROM (SELECT * FROM events WHERE event_type = 'click') b
  WHERE b.user_id = a.user_id
  ORDER BY abs(epoch_us(b.ts) - epoch_us(a.ts)), (b.ts > a.ts) LIMIT 1
) m ON true
"""


def q_events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per-user pairs of events within a 7200 s window
    (l.ts < r.ts <= l.ts + 7200). A raw inequality join would be
    nested-loop at scale; operators/temporal.py bins time to
    window-width buckets and equi-joins adjacent bins, bounding
    candidates by per-window density."""
    from s3logs_parquet_spark.operators.temporal import range_join_binned

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    p = range_join_binned(e, e, time_col="ts", by=["user_id"], window_seconds=7200)
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.unix_timestamp("ts_r") - F.unix_timestamp("ts")
        ).alias("total_gap_s"),
    )


ORACLE_EVENTS_RANGE_PAIRS = """
SELECT a.user_id, count(*) AS n_pairs,
       sum(floor(epoch(b.ts))::BIGINT - floor(epoch(a.ts))::BIGINT)::BIGINT AS total_gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 7200 SECOND
GROUP BY a.user_id
"""


def q_events_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra between event types (operators/sketches.py
    kmv_set_ops): merged-sketch union / intersection / Jaccard
    estimates of the user populations, per unordered type pair, next
    to the exact values. Like the per-group KMV gate it absorbs, the
    portable hash makes even the ESTIMATES deterministic functions of
    the data, so DuckDB replays the whole sketch-merge chain and the
    hash compare covers the estimator itself (Beyer et al. SIGMOD'07
    bottom-k Jaccard; Bar-Yossef et al. RANDOM'02 estimator)."""
    from s3logs_parquet_spark.operators.sketches import kmv_set_ops

    e = _t(spark, sf_dir, "events")
    sk = kmv_set_ops(e, "event_type", "user_id", k=64)
    # exact legs via ONE user-keyed aggregation (round 14, guide §2.4):
    # the former (type,user)-DISTINCT + self-join on user_id shuffled
    # the distinct pair table twice more (join re-key + pair agg) and
    # paid an SMJ; collecting each user's distinct type set map-side
    # (collect_set partial agg — bounded by the type universe, a few
    # entries per user) and expanding the sorted set's ordered pairs
    # map-side replaces all of it with one exchange + two tiny
    # hash-aggs. Values identical: exact = distinct users per type
    # (one exploded row per (user, type)); exact_intersection counts
    # users holding both types, enumerated as x < y pairs exactly like
    # the old join condition (array_sort orders strings the same way
    # `<` compares them); collect_set drops NULL types, which the old
    # shape's `<` comparison and the inner sk-join made unreachable
    # in the output anyway.
    sets = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("_ts"))
    )
    ex = (
        sets.select(F.explode("_ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    inter = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ts, (x, i) -> "
                    "transform(slice(_ts, i + 2, size(_ts) - i - 1), "
                    "y -> struct(x AS g_a, y AS g_b))))"
                )
            ).alias("_pr")
        )
        .select("_pr.g_a", "_pr.g_b")
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    out = (
        sk.join(
            F.broadcast(ex.select(F.col("event_type").alias("g_a"), F.col("exact").alias("exact_a"))),
            "g_a",
        )
        .join(
            F.broadcast(ex.select(F.col("event_type").alias("g_b"), F.col("exact").alias("exact_b"))),
            "g_b",
        )
        .join(F.broadcast(inter), ["g_a", "g_b"], "left")
        .withColumn("exact_intersection", F.coalesce(F.col("exact_intersection"), F.lit(0)))
        .withColumn(
            "exact_union", F.col("exact_a") + F.col("exact_b") - F.col("exact_intersection")
        )
    )
    return out.select(
        "g_a",
        "g_b",
        "n_seen_a",
        "est_a",
        "n_seen_b",
        "est_b",
        "est_union",
        "est_jaccard",
        "est_intersection",
        "exact_a",
        "exact_b",
        "exact_union",
        F.round(
            F.col("exact_intersection").cast("double") / F.col("exact_union").cast("double"), 6
        ).alias("exact_jaccard"),
        "exact_intersection",
    )


ORACLE_EVENTS_KMV_SET_OPS = f"""
WITH hashed AS (
  SELECT DISTINCT event_type AS g, {hash32_sql("user_id::VARCHAR")} AS h FROM events
  WHERE user_id IS NOT NULL
), ranked AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hashed
), kmins AS (
  SELECT g, h FROM ranked WHERE rn <= 64
), per_group AS (
  SELECT g, count(*)::BIGINT AS n_seen, max(h) AS hk FROM kmins GROUP BY g
), pg AS (
  SELECT g, n_seen,
         round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                    ELSE 63.0 / ((hk::DOUBLE + 1.0) / 4294967296.0) END, 4) AS est
  FROM per_group
), prs AS (
  SELECT a.g AS g_a, a.n_seen AS n_seen_a, a.est AS est_a,
         b.g AS g_b, b.n_seen AS n_seen_b, b.est AS est_b
  FROM pg a JOIN pg b ON a.g < b.g
), cand AS (
  SELECT p.g_a, p.g_b, k.h, 1 AS in_a, 0 AS in_b
  FROM prs p JOIN kmins k ON k.g = p.g_a
  UNION ALL
  SELECT p.g_a, p.g_b, k.h, 0, 1
  FROM prs p JOIN kmins k ON k.g = p.g_b
), mh AS (
  SELECT g_a, g_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM cand GROUP BY 1, 2, 3
), mr AS (
  SELECT *, row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn FROM mh
), mk AS (
  SELECT g_a, g_b, count(*)::BIGINT AS k2, max(h) AS mhk,
         sum(in_a * in_b)::BIGINT AS n_both
  FROM mr WHERE rn <= 64 GROUP BY 1, 2
), u2t AS (
  SELECT DISTINCT event_type AS g, user_id AS v FROM events WHERE user_id IS NOT NULL
), ex AS (
  SELECT g, count(*)::BIGINT AS exact FROM u2t GROUP BY g
), exi AS (
  SELECT a.g AS g_a, b.g AS g_b, count(*)::BIGINT AS exact_intersection
  FROM u2t a JOIN u2t b ON a.v = b.v AND a.g < b.g GROUP BY 1, 2
)
SELECT p.g_a, p.g_b, p.n_seen_a, p.est_a, p.n_seen_b, p.est_b,
       round(CASE WHEN m.k2 < 64 THEN m.k2::DOUBLE
                  ELSE 63.0 / ((m.mhk::DOUBLE + 1.0) / 4294967296.0) END, 4) AS est_union,
       round(m.n_both::DOUBLE / m.k2::DOUBLE, 6) AS est_jaccard,
       round((m.n_both::DOUBLE / m.k2::DOUBLE)
             * (CASE WHEN m.k2 < 64 THEN m.k2::DOUBLE
                     ELSE 63.0 / ((m.mhk::DOUBLE + 1.0) / 4294967296.0) END), 4) AS est_intersection,
       ea.exact AS exact_a, eb.exact AS exact_b,
       (ea.exact + eb.exact - coalesce(i.exact_intersection, 0))::BIGINT AS exact_union,
       round(coalesce(i.exact_intersection, 0)::DOUBLE
             / (ea.exact + eb.exact - coalesce(i.exact_intersection, 0))::DOUBLE, 6) AS exact_jaccard,
       coalesce(i.exact_intersection, 0)::BIGINT AS exact_intersection
FROM prs p
JOIN mk m USING (g_a, g_b)
JOIN ex ea ON ea.g = p.g_a
JOIN ex eb ON eb.g = p.g_b
LEFT JOIN exi i USING (g_a, g_b)
"""


def q_events_kmv_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (single-group) KMV via the two-level mergeable
    formulation (operators/sketches.py kmv_distinct_global): distinct
    hashes → TakeOrderedAndProject k-min merge — the full domain never
    funnels through one task, unlike a single-group rank window.
    Checked against the exact global distinct AND the oracle's
    identical deterministic computation."""
    from s3logs_parquet_spark.operators.sketches import kmv_distinct_global

    e = _t(spark, sf_dir, "events")
    sk = kmv_distinct_global(e, "user_id", k=64)
    exact = e.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return sk.crossJoin(exact)


ORACLE_EVENTS_KMV_GLOBAL = f"""
WITH hashed AS (
  SELECT DISTINCT {hash32_sql("user_id::VARCHAR")} AS h FROM events
  WHERE user_id IS NOT NULL
), kmin AS (
  SELECT h FROM hashed ORDER BY h LIMIT 64
), agg AS (
  SELECT count(*)::BIGINT AS n_seen, max(h) AS hk FROM kmin
)
SELECT n_seen,
       round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                  ELSE 63.0 / ((hk::DOUBLE + 1.0) / 4294967296.0) END,
             4) AS est_distinct,
       (SELECT count(DISTINCT user_id)::BIGINT FROM events) AS exact_distinct
FROM agg
"""


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-rollup aggregate shape (plans/rollup.py):
    hourly window × event_type with mergeable aggregates. Value sums
    are per-item integer cents so the differential is order-independent
    (same discipline as tpch_q10); the incremental-maintenance path
    (partition-scoped merge) is pytest-gated in test_rollup.py."""
    e = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = (epoch - F.pmod(epoch, F.lit(3600))).alias("w")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.select(w, "event_type", F.col("value"), cents.alias("_c"))
        .groupBy("w", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_c").alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


ORACLE_EVENTS_HOURLY_ROLLUP = """
SELECT floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS w,
       event_type,
       count(*) AS n_rows,
       sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY 1, 2
"""


def q_events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave key (operators/layout.py
    zorder_key): 10 bits each of a user bucket and a time bucket — the
    clustering key a range-partitioned write sorts on so parquet
    min/max stats prune files on EITHER dimension. The oracle unrolls
    the identical shift/AND interleave in SQL, value-checking every
    bit position."""
    from s3logs_parquet_spark.operators.layout import zorder_key

    e = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.pmod(F.unix_timestamp("ts"), F.lit(1024))
    return e.select("event_id", zorder_key([x, y], bits=10).alias("zkey"))


def _oracle_events_zorder(bits: int = 10) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(((x >> {b}) & 1) << {2 * b})")
        terms.append(f"(((y >> {b}) & 1) << {2 * b + 1})")
    z = " + ".join(terms)
    return f"""
SELECT event_id, ({z})::BIGINT AS zkey
FROM (
  SELECT event_id,
         user_id % 1024 AS x,
         floor(epoch(ts))::BIGINT % 1024 AS y
  FROM events
)
"""


ORACLE_EVENTS_ZORDER = _oracle_events_zorder()


def q_events_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key (operators/layout.py hilbert_key):
    10 bits each of a user bucket and a time bucket — the
    locality-preserving alternative to the Z key for a
    range-partitioned write (every curve step is unit Manhattan distance,
    so clustered files cover tighter rectangles than the Z curve's
    seam-jumping ranges). Spark runs the xy2d walk as ONE JVM-side
    higher-order fold over the descending s-value array with a
    (x, y, d) struct accumulator; the oracle replays the identical
    per-level rotate-and-accumulate as a DuckDB recursive CTE
    (DuckDB 1.0's list_reduce mis-vectorizes branching struct lambdas
    across rows, so the fold form is Spark-side only), value-checking
    every level's rotation arithmetic."""
    from s3logs_parquet_spark.operators.layout import hilbert_key

    e = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.pmod(F.unix_timestamp("ts"), F.lit(1024))
    return e.select("event_id", hilbert_key(x, y, bits=10).alias("hkey"))


def _oracle_events_hilbert(bits: int = 10) -> str:
    return f"""
WITH RECURSIVE src AS (
  SELECT event_id,
         (user_id % 1024)::BIGINT AS x0,
         (floor(epoch(ts))::BIGINT % 1024)::BIGINT AS y0
  FROM events
), h AS (
  SELECT event_id, x0 AS x, y0 AS y, {1 << (bits - 1)}::BIGINT AS s, 0::BIGINT AS d
  FROM src
  UNION ALL
  SELECT event_id,
    CASE WHEN (y & s) > 0 THEN x WHEN (x & s) > 0 THEN s - 1 - y ELSE y END,
    CASE WHEN (y & s) > 0 THEN y WHEN (x & s) > 0 THEN s - 1 - x ELSE x END,
    s // 2,
    d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END)::BIGINT,
                    (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)::BIGINT)
  FROM h WHERE s > 0
)
SELECT event_id, d AS hkey FROM h WHERE s = 0
"""


ORACLE_EVENTS_HILBERT = _oracle_events_hilbert()


def q_events_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mergeable quantile estimation
    (operators/sketches.py group_sampled_quantiles): per-event-type
    exact order statistics of each group's deterministic 256-row
    bottom-k-hash sample, plus an ALL row computed by the global
    sampled_quantiles — the grouped percentile_approx report, as a
    pure function of the data. Scale shape: the per-group sample is
    two-level (partition-local bottom-k first, so a hot group's sort
    spreads across the cluster; the final per-group rank sees
    ≤ k·partitions rows), and every estimate is a raw value
    passthrough, so no float arithmetic crosses engines."""
    from s3logs_parquet_spark.operators.sketches import (
        group_sampled_quantiles,
        sampled_quantiles,
    )

    e = _t(spark, sf_dir, "events")
    probs = (0.25, 0.5, 0.9, 0.99)
    per = group_sampled_quantiles(
        e, ["event_type"], "value", "event_id", k=256, probs=probs
    )
    allq = sampled_quantiles(e, "value", "event_id", k=256, probs=probs).select(
        F.lit("ALL").alias("event_type"), "p", "est_value"
    )
    return per.unionByName(allq).orderBy("event_type", "p")


ORACLE_EVENTS_QUANTILES_BY_TYPE = f"""
WITH s AS (
  SELECT event_type AS g, value AS v,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {hash32_sql("event_id::VARCHAR")}, event_id
         ) AS srn
  FROM events WHERE value IS NOT NULL
), sk AS (
  SELECT g, v FROM s WHERE srn <= 256
), ga AS (
  SELECT 'ALL' AS g, value AS v FROM (
    SELECT value, {hash32_sql("event_id::VARCHAR")} AS h, event_id
    FROM events WHERE value IS NOT NULL
    ORDER BY h, event_id LIMIT 256
  )
), u AS (
  SELECT g, v FROM sk UNION ALL SELECT g, v FROM ga
), r AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM u
)
SELECT r.g AS event_type, pr.p, r.v AS est_value
FROM (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) pr(p)
JOIN r ON r.rn = 1 + floor(pr.p * (r.n - 1))::BIGINT
ORDER BY event_type, p
"""


def q_events_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.py interval_join):
    each click opens an attribution window [ts, ts + min(floor(value),
    480)·60 s] — capped at 8 h, the declared span bound, so the query
    is well-defined at ANY scale factor (`value` is unbounded in the
    testdata; an uncapped window breached the bound at sf0.1 and
    tripped the operator's span guard — exactly what the guard is
    for). Pair each window with every same-user error inside it
    (point-in-interval, the degenerate right side). Binned equi-join
    candidates with the exact predicate as post-filter — the oracle is
    DuckDB's plain inequality join, which the binned plan must equal
    row-for-row."""
    from s3logs_parquet_spark.operators.temporal import interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_start"),
        F.timestamp_add(
            "SECOND",
            (F.least(F.floor("value"), F.lit(480)) * 60).cast("int"),
            F.col("ts"),
        ).alias("c_end"),
    )
    errs = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("e_ts")
    )
    j = interval_join(
        clicks,
        errs,
        by=["user_id"],
        left_start="c_start",
        left_end="c_end",
        right_start="e_ts",
        right_end="e_ts",
        max_span_seconds=480 * 60,
    )
    return j.select(
        "user_id",
        "click_id",
        F.col("err_id_r").alias("err_id"),
        F.unix_timestamp("c_start").alias("click_epoch"),
        F.unix_timestamp("e_ts_r").alias("err_epoch"),
    )


ORACLE_EVENTS_INTERVAL_PAIRS = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS cs,
         ts + least(floor(value)::BIGINT, 480) * 60 * INTERVAL 1 SECOND AS ce
  FROM events WHERE event_type = 'click'
), e AS (
  SELECT event_id AS err_id, user_id, ts AS es
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.click_id, e.err_id,
       floor(epoch(c.cs))::BIGINT AS click_epoch,
       floor(epoch(e.es))::BIGINT AS err_epoch
FROM c JOIN e
  ON c.user_id = e.user_id AND c.cs <= e.es AND e.es <= c.ce
"""

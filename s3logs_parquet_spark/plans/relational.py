"""Relational and TPC-H-style queries: TPC-H q1/q3/q5/q6/q10/q14/q18
(tpch_extra.py and tpch_partsupp.py hold the other 15), left/anti/semi
joins, window rank, union, quantiles, rollup/cube, array aggregation,
the bloom-prefiltered join and the salted skew aggregate. Each ``q_*``
builder sits beside its DuckDB oracle (registry contract: queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.sources.tables import load_table as _t


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→group→agg. Catalyst pushes the shipdate predicate and
    prunes to 7 columns at the parquet scan; partial aggregation
    map-side; one shuffle on (returnflag, linestatus) — 6 groups."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       round(avg(l_quantity), 6)                              AS avg_qty,
       round(avg(l_discount), 6)                              AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join→group→top-k. customer is the small side → broadcast hash
    join, no shuffle of lineitem for it; top-10 via rounded revenue
    with orderkey tie-break so ranking is engine-independent."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with dimension chain region→nation→(customer,
    supplier). All dims broadcast; the only big-big join is
    lineitem⋈orders on the orderkey."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLE_TPCH_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
GROUP BY n_name
"""


def q_part_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort+limit (O-family; the reference has none — query layer op).
    Deterministic tie-break on the key. TakeOrderedAndProject physical
    op: no full sort at scale."""
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(20)
    )


ORACLE_PART_TOPK = """
SELECT p_partkey, p_name, p_retailprice
FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 20
"""


def q_orders_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate per group."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


ORACLE_ORDERS_DISTINCT = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*)                  AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderpriority
"""


def q_customer_order_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join: per-customer order counts including order-less
    customers (broadcast the dim side of the left join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


ORACLE_CUSTOMER_ORDER_LEFT = """
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no URGENT-priority order (subset
    filter keeps the result non-empty at every scale factor)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


ORACLE_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: parts that appear in any lineitem."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    return p.join(l, p.p_partkey == l.l_partkey, "left_semi").select("p_partkey", "p_brand")


ORACLE_PARTS_WITH_LINEITEMS = """
SELECT p_partkey, p_brand FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


def q_orders_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window function: top-3 orders per priority by price
    (row_number with deterministic orderkey tie-break)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rnk")
    )


ORACLE_ORDERS_RANK = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price, rnk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_union_shipped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two disjoint scans re-aggregated (the reference's
    only merge op — S4 multi-file concat / file_merge — is exactly a
    union of same-schema row sets)."""
    l = _t(spark, sf_dir, "lineitem")
    early = l.filter(F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")).withColumn(
        "era", F.lit("early")
    )
    late = l.filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")).withColumn(
        "era", F.lit("late")
    )
    return (
        early.unionAll(late)
        .groupBy("era", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


ORACLE_UNION_SHIPPED = """
SELECT era, l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 2) AS qty FROM (
  SELECT 'early' AS era, l_returnflag, l_quantity FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT 'late' AS era, l_returnflag, l_quantity FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
) GROUP BY era, l_returnflag
"""


def q_lineitem_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (training-data
    pipelines lean on quantile stats for length/quality cutoffs)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("qty_p25"),
    )


ORACLE_LINEITEM_QUANTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_quantity, 0.25), 4)      AS qty_p25
FROM lineitem GROUP BY l_returnflag
"""


def q_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics + correlation per group."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_discount", "l_tax"), 6).alias("disc_tax_cov"),
    )


ORACLE_LINEITEM_STATS = """
SELECT l_linestatus,
       round(stddev_samp(l_extendedprice), 4) AS price_sd,
       round(var_samp(l_quantity), 4)         AS qty_var,
       round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
       round(covar_samp(l_discount, l_tax), 6)     AS disc_tax_cov
FROM lineitem GROUP BY l_linestatus
"""


def q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total):
    grouping-set aggregation, NULL-marked subtotal rows on both
    engines."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


ORACLE_LINEITEM_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 2² combinations of flag/status, NULL
    subtotal markers): the lattice sibling of the ROLLUP hierarchy —
    one pass, Spark expands to grouping sets, no re-scan per level."""
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


ORACLE_LINEITEM_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_orders_lineitem_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/collection functions: per-order sorted item list rendered
    as a string (portable multiset compare), plus array stats."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return l.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias("line_numbers"),
        F.size(F.collect_set("l_partkey")).alias("n_parts"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


ORACLE_ORDERS_ARRAYS = """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
       len(list_distinct(list(l_partkey)))::INT AS n_parts,
       round(sum(l_quantity), 2) AS qty
FROM lineitem WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue-change shape: pure scan→filter→agg with all
    three predicates pushed to the parquet scan; no shuffle beyond the
    single-row final aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: fact ⋈ three broadcast dims, group on
    customer attributes, engine-independent top-20 (revenue desc,
    custkey tie-break). Revenue is summed as per-item rounded CENTS —
    an integer sum is order-independent, where round(float-sum, 2)
    diverged between engines by one cent on a half-ulp boundary."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect shape: fact ⋈ broadcast part, conditional
    aggregate ratio in one pass (no second scan for the numerator)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_TPCH_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer shape: aggregate-then-join — the HAVING
    filter reduces lineitem to qualifying orderkeys BEFORE the joins
    (semi-join reduction by hand), so only large orders' rows reach
    the customer/orders join."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey"),
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


ORACLE_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS totalprice, sum_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey
LIMIT 20
"""


def q_orders_bloom_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join prefilter (operators/bloom.py): a
    selective customer cut builds a 16 KiB bloom over its keys; the
    orders scan probes it MAP-ONLY (no exchange, no broadcast join)
    before the real join, so at 100 TB the join's shuffle only ever
    sees fact rows that can match (plus a ~1% false-positive tail).
    The exact join after the probe makes false positives harmless —
    the oracle is the PLAIN join, which the probed plan must equal
    row-for-row."""
    from s3logs_parquet_spark.operators.bloom import bloom_build, bloom_probe

    c = _t(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    )
    o = _t(spark, sf_dir, "orders")
    bits = bloom_build(c, "c_custkey")
    probed = bloom_probe(o, "o_custkey", bits)
    return (
        probed.join(F.broadcast(c), probed.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_ORDERS_BLOOM = """
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_lineitem_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted aggregation (operators/skew.py salted_agg): group by
    l_returnflag — THREE values over all of lineitem, the pathological
    few-hot-keys shape where a plain groupBy funnels the whole table
    through 3 reducers. The salted plan fans each key over 16
    deterministic salts (partial agg) then merges 48 tiny rows (final
    agg). Aggregates are chosen integer-exact (count, sum of integral
    quantities, min/max) so the two-phase merge is bit-identical to
    DuckDB's single-phase answer regardless of combine order."""
    from s3logs_parquet_spark.operators.skew import salted_agg

    l = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        l,
        ["l_returnflag"],
        {
            "n_items": ("*", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salt=16,
    )
    return out.select(
        "l_returnflag",
        "n_items",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


ORACLE_LINEITEM_SALTED = """
SELECT l_returnflag,
       count(*)                      AS n_items,
       round(sum(l_quantity), 2)     AS sum_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""

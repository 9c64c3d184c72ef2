"""TPC-H q2/q9/q11/q16/q20 — the five shapes that need ``partsupp``,
closing the suite to 22/22 (plans/relational.py + plans/tpch_extra.py
hold the other 17).

The driver's test schema has no partsupp table (TESTDATA.md), so the
fixture is DERIVED, deterministically, from the distinct
(l_partkey, l_suppkey) pairs in lineitem (FIXTURES.md pattern:
fixtures are pure functions of seed/keys so Spark and the DuckDB
oracle construct bit-identical inputs):

    ps_availqty   = (ps_partkey*7  + ps_suppkey*11) % 9999  + 1
    ps_cost_cents = (ps_partkey*31 + ps_suppkey*17) % 99900 + 100
    ps_supplycost = ps_cost_cents / 100.0

Deriving from lineitem's own pairs gives the TPC-H referential
integrity q9/q20 depend on (every lineitem (part,supp) exists in
partsupp) without writing files. Money discipline matches
tpch_extra.py: all sums run over exact BIGINT cents derived from keys
(ps_cost_cents is integer arithmetic, never a float round-trip), so
aggregation order can't shift a cent between engines; the single
/100.0 at the end is one deterministic double division.

Scale notes: the ``distinct`` behind partsupp is one shuffle on the
pair key — in production partsupp is a real dimension table and this
derivation disappears; every dim side (part, supplier, nation,
region, the q16 complaint list) is broadcast; the only big-big joins
are the spec-mandated lineitem⋈orders (q9) and the pair-keyed
lineitem-agg⋈partsupp (q9/q20), both equi-joins on uniform keys.
tests/test_plans.py pins broadcast/no-cartesian for the family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3logs_parquet_spark.sources.tables import load_table as _t

# shared CTE text for the DuckDB oracles — keep in lockstep with
# partsupp() below; both are pure integer arithmetic over the pair key
_PS_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 7 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 17) % 99900 + 100 AS ps_cost_cents,
         ((ps_partkey * 31 + ps_suppkey * 17) % 99900 + 100) / 100.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
)
"""


def partsupp(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """The derived partsupp fixture: one distinct (= one shuffle on the
    pair key, map-side combined) plus narrow integer projections.

    ``source`` (round 14, guide §3.2 — reduce the big side before
    shuffling it): an already-RESTRICTED lineitem frame (any frame
    carrying l_partkey/l_suppkey). partsupp is by construction the
    distinct pair set of lineitem, and every projected column is a pure
    function of the pair key — so for a consumer that joins partsupp
    against a key cut it applies to lineitem anyway (q9's red parts,
    q20's red prefix, q2/q11's regional suppliers, q16's part filter),
    deriving the pairs from the ALREADY-FILTERED lineitem is
    value-identical to filtering the full partsupp after the fact,
    while the distinct's shuffle shrinks by the filter's selectivity
    (~8x for q9's '%red%' cut at sf0.1). The optimizer cannot do this
    itself: the referential-integrity fact that the filter commutes
    with the pair-distinct is problem knowledge, not plan algebra."""
    pairs = (
        (source if source is not None else _t(spark, sf_dir, "lineitem"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    cost_cents = (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 99900 + 100
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 9999 + 1).alias(
            "ps_availqty"
        ),
        cost_cents.alias("ps_cost_cents"),
        (cost_cents / F.lit(100.0)).alias("ps_supplycost"),
    )


def _supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (q2, ADAPTED: p_type = 'SMALL' exact —
    the slim p_type has no trailing word to LIKE on — and the output
    drops the absent p_mfgr/s_address/s_phone/s_comment). The spec's
    correlated min-subquery becomes a window min over ps_partkey on
    the region-filtered rows: one shuffle by partkey instead of a
    second scan + self-join of partsupp."""
    region_supp = (
        _supplier_nation(spark, sf_dir)
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = partsupp(
        spark,
        sf_dir,
        # pair-distinct over only the European suppliers' lineitems —
        # the same broadcast cut the join below applies (guide §3.2)
        source=_t(spark, sf_dir, "lineitem").join(
            F.broadcast(region_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        ),
    ).join(F.broadcast(region_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey")
    best = ps.withColumn("_min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("_min_cost")
    )
    small_parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    return (
        best.join(F.broadcast(small_parts), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            "ps_supplycost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_TPCH_Q2 = f"""
WITH {_PS_CTE}
SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_type, ps_supplycost
FROM partsupp
JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE p_size = 15 AND p_type = 'SMALL' AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps2.ps_supplycost) FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.ps_partkey = partsupp.ps_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (q9, faithful shape): lineitem is cut by the
    broadcast red-part filter BEFORE the two big equi-joins (partsupp
    on the pair key, orders on orderkey); supplier/nation broadcast.
    Profit sums exact cents: rev_cents − cost_cents·qty, both BIGINT."""
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    # derive the pair set from the same red cut the join applies
    # anyway (partsupp(source=...)): the pair-distinct shrinks ~8x and
    # the pair-keyed build side with it; both big equi-joins (pair
    # key, orderkey) stay in the plan. LEFT SEMI (not the inner-join
    # frame above): value-identical because p_partkey is unique, and
    # the semi keeps the scan's size estimate so the planner's
    # broadcast decision for the pair join is unchanged at bench scale
    ps = partsupp(
        spark,
        sf_dir,
        source=_t(spark, sf_dir, "lineitem").join(
            F.broadcast(red_parts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        ),
    ).select("ps_partkey", "ps_suppkey", "ps_cost_cents")
    profit_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long") - F.col("ps_cost_cents") * F.col("l_quantity").cast("long")
    return (
        l.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(_supplier_nation(spark, sf_dir).select("s_suppkey", "n_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit_cents) / 100.0, 2).alias("profit"))
    )


ORACLE_TPCH_Q9 = f"""
WITH {_PS_CTE}
SELECT n_name AS nation, extract(year FROM o_orderdate)::INT AS o_year,
       round(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
                 - ps_cost_cents * l_quantity::BIGINT) / 100.0, 2) AS profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (q11, faithful shape): partsupp
    restricted to one nation's suppliers (broadcast), per-part value
    sums in exact cents, and the spec's scalar total as a 1-row
    crossJoin broadcast — no second shuffle of partsupp."""
    nation_supp = (
        _supplier_nation(spark, sf_dir)
        .filter(F.col("n_name") == "NATION_9")
        .select("s_suppkey")
    )
    ps = partsupp(
        spark,
        sf_dir,
        # pair-distinct over only the one nation's lineitems — the
        # same broadcast cut the join below applies (guide §3.2)
        source=_t(spark, sf_dir, "lineitem").join(
            F.broadcast(nation_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        ),
    ).join(F.broadcast(nation_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    value_cents = F.col("ps_cost_cents") * F.col("ps_availqty")
    per_part = ps.groupBy("ps_partkey").agg(F.sum(value_cents).alias("_cents"))
    total = per_part.agg(F.sum("_cents").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_cents") > 0.001 * F.col("_total"))
        .select("ps_partkey", (F.col("_cents") / 100.0).alias("value"))
    )


ORACLE_TPCH_Q11 = f"""
WITH {_PS_CTE}
SELECT ps_partkey, sum(ps_cost_cents * ps_availqty) / 100.0 AS value
FROM partsupp
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_9'
GROUP BY ps_partkey
HAVING sum(ps_cost_cents * ps_availqty) > 0.001 * (
  SELECT sum(ps_cost_cents * ps_availqty)::DOUBLE FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_9')
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (q16, ADAPTED: the 'Customer
    Complaints' comment filter becomes s_acctbal < 0 — supplier has no
    comment column — and p_type <> 'MEDIUM' stands in for the NOT LIKE
    prefix). Shape preserved: partsupp ⋈ broadcast part filter,
    broadcast anti-join for the excluded suppliers, then
    count(DISTINCT suppkey) per (brand, type, size)."""
    parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    complained = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        partsupp(
            spark,
            sf_dir,
            # pair-distinct over only the qualifying parts' lineitems —
            # the same broadcast cut the join below applies (§3.2);
            # the anti-join cut stays on partsupp (anti semantics do
            # not commute through the derivation the same way)
            source=_t(spark, sf_dir, "lineitem").join(
                F.broadcast(parts.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"),
                "left_semi",
            ),
        )
        .join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complained),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


ORACLE_TPCH_Q16 = f"""
WITH {_PS_CTE}
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (q20, faithful shape minus the absent
    s_address): suppliers in one nation whose availqty exceeds half
    the 1996 shipped quantity of a red part. The correlated scalar
    subquery becomes a pre-aggregated lineitem (pair-keyed groupBy)
    inner-joined to partsupp — inner join reproduces the spec's NULL
    semantics (no 1996 shipments ⇒ scalar NULL ⇒ excluded).
    l_quantity is integer-valued, so sum(double) is exact and
    order-independent."""
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    qualified = (
        partsupp(
            spark,
            sf_dir,
            # pair-distinct over only red parts' lineitems (the same
            # broadcast cut applied below); the inner join with
            # `shipped` then keeps exactly the pairs with 1996
            # shipments either way (guide §3.2)
            source=_t(spark, sf_dir, "lineitem").join(
                F.broadcast(red_parts),
                F.col("l_partkey") == F.col("p_partkey"),
                "left_semi",
            ),
        )
        .join(F.broadcast(red_parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        _supplier_nation(spark, sf_dir)
        .filter(F.col("n_name") == "NATION_9")
        .join(F.broadcast(qualified), F.col("s_suppkey") == F.col("ps_suppkey"))
        .select("s_suppkey", "s_name")
    )


ORACLE_TPCH_Q20 = f"""
WITH {_PS_CTE}
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_9' AND s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  JOIN (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2) shipped
    ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    AND ps_availqty > 0.5 * qty)
"""

"""Scale utilities: salted aggregation equivalence, compaction,
sketches and decontamination."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.skew import salted_agg
from s3logs_parquet_spark.plans.compact import compact_partitions


def test_salted_agg_matches_plain(spark):
    # heavy skew: 90% of rows share one key
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    plain = {
        (r["k"]): (r["n"], r["total"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["total"], r["mn"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {"n": ("*", "count"), "total": ("v", "sum"), "mn": ("v", "min"), "mx": ("v", "max")},
            n_salt=8,
        ).collect()
    }
    assert plain == salted


def test_compaction_reduces_files(spark, tmp_path):
    out = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("v")
    )
    # deliberately fragment: 16 tasks x 2 partitions
    df.repartition(16).write.partitionBy("p").parquet(out)
    # materialize pre-compaction content (the lazy frame would re-read
    # files compaction is about to replace)
    before_rows = sorted(
        (r["p"], r["v"]) for r in spark.read.parquet(out).select("p", "v").collect()
    )
    n_files_before = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(out)
    )
    assert n_files_before > 2

    results = compact_partitions(spark, out, target_file_bytes=512 * 1024 * 1024)
    assert len(results) == 2  # both partitions rewritten
    n_files_after = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(out)
    )
    assert n_files_after == 2
    after_rows = sorted(
        (r["p"], r["v"]) for r in spark.read.parquet(out).select("p", "v").collect()
    )
    assert after_rows == before_rows


def test_auto_salt_sizes_via_hadoop_fs(spark, tmp_path):
    from s3logs_parquet_spark.writer import auto_files_per_partition

    big = tmp_path / "in" / "big.log"
    big.parent.mkdir()
    big.write_bytes(b"x" * (1 << 20))
    # Scheme-qualified URI + glob: resolved through Hadoop FileSystem
    # (the same code path an s3a:// input takes), not os.walk.
    uri = f"file://{tmp_path}/in/*.log"
    salt = auto_files_per_partition(uri, target_input_bytes_per_file=256 * 1024, spark=spark)
    assert salt == 4
    # directory input goes through getContentSummary
    salt_dir = auto_files_per_partition(
        f"file://{tmp_path}/in", target_input_bytes_per_file=256 * 1024, spark=spark
    )
    assert salt_dir == 4
    # no-session fallback still works on plain local paths
    assert auto_files_per_partition(str(big), target_input_bytes_per_file=256 * 1024) == 4


def test_decontaminate_flags_planted_copy(spark):
    from s3logs_parquet_spark.operators.dedup import decontaminate

    bench_text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, bench_text + " with a tiny suffix appended"),  # shares 5-gram windows
        (2, "completely unrelated content about spark physical plans and shuffles here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {r["doc_id"]: r["is_contaminated"] for r in decontaminate(docs, bench).collect()}
    assert out == {1: True, 2: False}


def test_decontaminate_benchmark_side_broadcasts(spark):
    from s3logs_parquet_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"word{i} filler text goes here padding tokens more words {i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.limit(2)
    plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_kmv_estimate_accuracy_and_small_set_rule(spark):
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import kmv_distinct

    # group "big": 5000 distinct values (estimate, rel-err ~ 1/sqrt(k));
    # group "small": 30 distinct (< k -> exact by the small-set rule)
    big = spark.range(5000).select(
        F.lit("big").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    small = spark.range(30).select(
        F.lit("small").alias("g"), F.concat(F.lit("w"), F.col("id")).alias("v")
    )
    out = {
        r["g"]: r
        for r in kmv_distinct(big.union(small), ["g"], "v", k=256).collect()
    }
    assert out["small"]["n_seen"] == 30
    assert out["small"]["est_distinct"] == 30.0
    est = out["big"]["est_distinct"]
    assert abs(est - 5000) / 5000 < 0.25  # 4 sigma at k=256


def test_kmv_excludes_nulls(spark):
    """KMV estimates the non-null domain (ADVICE r2): a NULL value must
    not occupy a k-min slot or inflate n_seen."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import kmv_distinct

    rows = [("g", f"v{i}") for i in range(20)] + [("g", None)] * 5
    df = spark.createDataFrame(rows, "g string, v string")
    out = kmv_distinct(df, ["g"], "v", k=64).collect()
    assert len(out) == 1
    assert out[0]["n_seen"] == 20
    assert out[0]["est_distinct"] == 20.0


def test_kmv_set_ops_exact_when_unsaturated(spark):
    """With k >= every domain, the merged sketch IS the exact union set
    and in_a/in_b flags ARE exact membership — so union, intersection,
    and Jaccard estimates must all equal the exact values (the
    small-set rule carried through the set algebra)."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import kmv_set_ops

    # A = {0..29}, B = {20..49}  -> |A∪B| = 50, |A∩B| = 10, J = 0.2
    a = spark.range(30).select(F.lit("A").alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(20, 50).select(F.lit("B").alias("g"), F.col("id").cast("string").alias("v"))
    row = kmv_set_ops(a.union(b), "g", "v", k=64).collect()[0]
    assert (row["g_a"], row["g_b"]) == ("A", "B")
    assert row["est_a"] == 30.0 and row["est_b"] == 30.0
    assert row["est_union"] == 50.0
    assert row["est_jaccard"] == 0.2
    assert row["est_intersection"] == 10.0


def test_kmv_set_ops_accuracy_and_disjoint(spark):
    """Saturated sketches: union estimate within KMV error, Jaccard of
    disjoint groups exactly 0, and of a planted 50%-overlap pair within
    the bottom-k sampling error."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import kmv_set_ops

    n = 4000
    a = spark.range(n).select(F.lit("A").alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(n // 2, n + n // 2).select(
        F.lit("B").alias("g"), F.col("id").cast("string").alias("v")
    )  # 50% overlap with A -> J = 1/3
    c = spark.range(10 * n, 11 * n).select(
        F.lit("C").alias("g"), F.col("id").cast("string").alias("v")
    )  # disjoint from both
    rows = {(r["g_a"], r["g_b"]): r for r in kmv_set_ops(a.union(b).union(c), "g", "v", k=256).collect()}
    ab, ac, bc = rows[("A", "B")], rows[("A", "C")], rows[("B", "C")]
    assert abs(ab["est_union"] - 1.5 * n) / (1.5 * n) < 0.25
    assert abs(ab["est_jaccard"] - 1 / 3) < 0.15
    assert ac["est_jaccard"] == 0.0 and bc["est_jaccard"] == 0.0
    assert ac["est_intersection"] == 0.0
    # per-group estimates ride along identically to kmv_distinct's
    from s3logs_parquet_spark.operators.sketches import kmv_distinct

    per = {r["g"]: r for r in kmv_distinct(a.union(b).union(c), ["g"], "v", k=256).collect()}
    assert ab["est_a"] == per["A"]["est_distinct"]
    assert bc["est_b"] == per["C"]["est_distinct"]


def test_kmv_global_two_level(spark):
    """Global single-group KMV (VERDICT r2 #4): accuracy, small-set
    rule, null exclusion, and the plan property that makes it scale —
    orderBy+limit compiles to TakeOrderedAndProject (per-partition
    k-mins merged), no single-task global sort."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import kmv_distinct_global

    big = spark.range(20000).select((F.col("id") % 4993).cast("string").alias("v"))
    row = kmv_distinct_global(big, "v", k=256).collect()[0]
    assert row["n_seen"] == 256
    assert abs(row["est_distinct"] - 4993) / 4993 < 0.25

    small = spark.range(30).select(F.col("id").cast("string").alias("v"))
    srow = kmv_distinct_global(small.union(small), "v", k=64).collect()[0]
    assert srow["n_seen"] == 30
    assert srow["est_distinct"] == 30.0

    withnull = spark.createDataFrame(
        [("a",), ("b",), (None,)], "v string"
    )
    nrow = kmv_distinct_global(withnull, "v", k=8).collect()[0]
    assert nrow["n_seen"] == 2

    plan = (
        kmv_distinct_global(big, "v", k=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan  # no rank-window funnel


# --- Misra–Gries heavy hitters ---------------------------------------------


def _zipf_items(n=20_000, vocab=1_000, seed=11):
    import random

    rng = random.Random(seed)
    pop = [f"tok{i}" for i in range(vocab)]
    w = [1.0 / (i + 1) for i in range(vocab)]
    return rng.choices(pop, weights=w, k=n)


def test_mg_heavy_hitters_exact_across_partitionings(spark):
    """The output is EXACT (candidate superset guarantee + exact
    recount), so it must equal the brute-force answer and be invariant
    to partition layout even though the sketch itself is not."""
    import collections
    import math

    items = _zipf_items()
    exact = collections.Counter(items)
    phi = 1.0 / 50.0
    thresh = math.ceil(phi * len(items))
    truth = sorted((i, c) for i, c in exact.items() if c >= thresh)
    assert truth, "fixture must contain heavy hitters"

    from s3logs_parquet_spark.operators.sketches import mg_heavy_hitters

    df = spark.createDataFrame([(x,) for x in items], "item string")
    for parts in (1, 7, 32):
        out = mg_heavy_hitters(df.repartition(parts), "item", phi=phi, k=64)
        got = sorted((r["item"], r["cnt"]) for r in out.collect())
        assert got == truth, f"parts={parts}"


def test_mg_summary_bound_nulls_and_guarantee_guard(spark):
    import pytest
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import (
        mg_heavy_hitters,
        mg_partition_summaries,
    )

    items = _zipf_items(n=5_000, vocab=400)
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(16)
    summ = mg_partition_summaries(df, "item", k=32)
    assert summ.count() <= (32 + 1) * 16  # bounded sketch state
    # sentinel rows carry the partition totals; their sum is N
    n = summ.filter(F.col("_mg_item").isNull()).agg(F.sum("_mg_lb")).collect()[0][0]
    assert n == len(items)

    # nulls are not counted and do not inflate N
    with_nulls = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "item string"
    )
    out = mg_heavy_hitters(with_nulls, "item", phi=0.5, k=8)
    assert sorted((r["item"], r["cnt"]) for r in out.collect()) == [("a", 2)]

    # (k+1)*phi > 1 STRICTLY is the superset-guarantee precondition:
    # fail loud, including at exact equality (ADVICE r7: at
    # (k+1)*phi == 1 an item with frequency exactly N/(k+1) is a heavy
    # hitter by the recount definition yet can be decremented out of
    # every partition summary and never enter the candidate set)
    with pytest.raises(ValueError, match="cannot guarantee"):
        mg_heavy_hitters(df, "item", phi=0.001, k=64)
    with pytest.raises(ValueError, match="strictly"):
        mg_heavy_hitters(df, "item", phi=0.25, k=3)  # (3+1)*0.25 == 1.0
    # the suggested minimum must be the TRUE minimum (ADVICE r8: when
    # 1/phi is an exact integer, int(1/phi)+1 overstates by one —
    # phi=0.25 admits k=4, (4+1)*0.25 = 1.25 > 1)
    with pytest.raises(ValueError, match=r"k >= 4\)"):
        mg_heavy_hitters(df, "item", phi=0.25, k=3)
    assert mg_heavy_hitters(df, "item", phi=0.25, k=4).columns == ["item", "cnt"]


def test_mg_empty_and_no_hitters(spark):
    from s3logs_parquet_spark.operators.sketches import mg_heavy_hitters

    empty = spark.createDataFrame([], "item string")
    out = mg_heavy_hitters(empty, "item", phi=0.1)
    assert out.columns == ["item", "cnt"] and out.count() == 0

    # uniform data with every count below threshold -> empty, not noise
    uni = spark.createDataFrame([(f"u{i % 500}",) for i in range(2_000)], "item string")
    assert mg_heavy_hitters(uni, "item", phi=0.01, k=256).count() == 0


def test_group_sampled_quantiles_exact_smallset_and_partition_invariant(spark):
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import (
        group_bottomk_sample,
        group_sampled_quantiles,
    )

    rows = [(i, f"g{i % 3}", float((i * 37) % 101)) for i in range(600)]
    rows.append((9_999, "g0", None))  # null must not enter any sample
    df = spark.createDataFrame(rows, "id long, g string, v double")

    # k >= every group size -> the sample IS the group -> exact quantiles
    got = {
        (r["g"], r["p"]): r["est_value"]
        for r in group_sampled_quantiles(
            df, ["g"], "v", "id", k=1_000, probs=(0.25, 0.5, 0.9)
        ).collect()
    }
    import collections

    vals = collections.defaultdict(list)
    for i, g, v in rows:
        if v is not None:
            vals[g].append(v)
    for g, vs in vals.items():
        vs.sort()
        for p in (0.25, 0.5, 0.9):
            assert got[(g, p)] == vs[int(p * (len(vs) - 1))]

    # two-level sample == single-level (partition-layout invariance)
    a = sorted(
        map(tuple, group_bottomk_sample(df.repartition(1), ["g"], "id", 16).collect())
    )
    for parts in (5, 32):
        b = sorted(
            map(
                tuple,
                group_bottomk_sample(df.repartition(parts), ["g"], "id", 16).collect(),
            )
        )
        assert b == a

    # sampled estimates are deterministic under re-layout too
    e1 = sorted(
        map(
            tuple,
            group_sampled_quantiles(
                df.repartition(4), ["g"], "v", "id", k=32, probs=(0.5,)
            ).collect(),
        )
    )
    e2 = sorted(
        map(
            tuple,
            group_sampled_quantiles(
                df.repartition(17), ["g"], "v", "id", k=32, probs=(0.5,)
            ).collect(),
        )
    )
    assert e1 == e2


def test_group_sampled_quantiles_all_leg_matches_global(spark):
    """A single constant group must reproduce the global
    sampled_quantiles exactly — the superset claim behind retiring the
    events_sampled_quantiles gate into events_quantiles_by_type."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.sketches import (
        group_sampled_quantiles,
        sampled_quantiles,
    )

    df = spark.createDataFrame(
        [(i, float((i * 61) % 307)) for i in range(800)], "id long, v double"
    )
    g = df.withColumn("g", F.lit("ALL"))
    grouped = {
        r["p"]: r["est_value"]
        for r in group_sampled_quantiles(
            g, ["g"], "v", "id", k=64, probs=(0.25, 0.5, 0.99)
        ).collect()
    }
    glob = {
        r["p"]: r["est_value"]
        for r in sampled_quantiles(df, "v", "id", k=64, probs=(0.25, 0.5, 0.99)).collect()
    }
    assert grouped == glob

"""Deterministic cardinality sketch: KMV (k-minimum-values).

Spark's `approx_count_distinct` is HyperLogLog++ — fine in
production, but its register layout makes the estimate
engine-specific, so it can only be tested structurally. KMV
(Bar-Yossef et al., "Counting distinct elements in a data stream",
RANDOM'02) estimates |S| from the k smallest values of a uniform hash
over S: if h_(k) is the k-th smallest hash normalized to [0,1),
E[|S|] ≈ (k-1)/h_(k). With the engine-portable md5-derived hash
(functions/hashing.py) the estimate is a pure deterministic function
of the data — bit-identical in any engine, so a DuckDB differential
oracle can check the VALUE, not just the shape.

Scale shape: distinct (group, value) reduction (one hash exchange,
map-side combined) → per-group k smallest via a rank window (sort
exchange keyed by group). Both shuffles are keyed by the group —
uniform and high-cardinality in the intended use (per-partition /
per-day cardinality reports). For global (single-group) sketches at
100 TB, flip to the two-level formulation: per-partition k-mins via
the same window over (group, spark_partition_id), then merge — the
standard mergeable-sketch property of KMV.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.hashing import hash32
from s3logs_parquet_spark.session import materialize as _materialize

_HASH_SPACE = float(1 << 32)  # hash32 is uniform over [0, 2^32)


def group_kmins(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The per-group sketch STATE: the k smallest hashes of the
    non-null value domain, as (group_cols..., _h) rows — the shared
    first stage of :func:`kmv_distinct`, :func:`kmv_set_ops`, and the
    streaming sketch maintenance. Mergeable: the k-mins of a union are
    the k-mins of the concatenated k-min sets.

    Standard KMV semantics: the sketch estimates the NON-NULL domain.
    (A NULL value would hash to NULL, which Spark's ascending window
    sorts first — occupying rank 1 and displacing a real k-min —
    while DuckDB sorts NULLs last; filtering is both correct and the
    only cross-engine-stable choice.)
    """
    group_cols = list(group_cols)
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, hash32(F.col(value_col).cast("string")).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate_from_kmins(kmins: DataFrame, group_cols: Sequence[str], k: int) -> DataFrame:
    """The KMV estimator over a k-min frame from :func:`group_kmins`:
    (group_cols..., n_seen, est_distinct) with the small-set rule
    (n_seen < k → the sketch IS the domain, estimate exactly)."""
    group_cols = list(group_cols)
    per_group = kmins.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max(F.col("_h")).alias("_hk"),
    )
    norm = (F.col("_hk").cast("double") + F.lit(1.0)) / F.lit(_HASH_SPACE)
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        (F.lit(float(k - 1))) / norm
    )
    return per_group.select(
        *group_cols,
        F.col("n_seen"),
        F.round(est, 4).alias("est_distinct"),
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count estimate of ``value_col``.

    Returns (group_cols..., n_seen, est_distinct) where ``n_seen`` is
    the exact number of distinct hashes retained (= exact distinct
    count when a group has fewer than k distinct values — the
    standard KMV small-set rule) and ``est_distinct`` the estimate.
    """
    group_cols = list(group_cols)
    return kmv_estimate_from_kmins(
        group_kmins(df, group_cols, value_col, k), group_cols, k
    )


def kmv_distinct_global(df: DataFrame, value_col: str, k: int = 64) -> DataFrame:
    """Global (single-group) KMV — the two-level mergeable formulation.

    The grouped :func:`kmv_distinct` funnels each group through one
    window task; with ONE global group that is a single-task sort of
    the whole distinct domain. Here instead:

    1. distinct hashes — one exchange keyed by the uniform hash itself
       (perfectly balanced at any scale);
    2. ``orderBy(_h).limit(k)`` — Catalyst compiles this to
       ``TakeOrderedAndProject``: each partition keeps its local k
       smallest, and only ≤ k·numPartitions candidate rows reach the
       final merge. That IS the per-partition-k-mins-then-merge
       mergeable-sketch property of KMV; the full domain never visits
       a single task.

    Returns one row (n_seen, est_distinct) with the same small-set
    rule and estimator as the grouped form, over the non-null domain.
    """
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(hash32(F.col(value_col).cast("string")).alias("_h"))
        .distinct()
    )
    topk = hashed.orderBy("_h").limit(k)
    agg = topk.agg(F.count(F.lit(1)).alias("n_seen"), F.max("_h").alias("_hk"))
    norm = (F.col("_hk").cast("double") + F.lit(1.0)) / F.lit(_HASH_SPACE)
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        F.lit(float(k - 1)) / norm
    )
    return agg.select(F.col("n_seen"), F.round(est, 4).alias("est_distinct"))


def kmv_set_ops(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
    materialize: bool = True,
    durable: bool = False,
) -> DataFrame:
    """Pairwise KMV set algebra between groups: union / intersection /
    Jaccard estimates from the MERGED sketches, without touching the
    raw data a second time.

    This is the mergeable-sketch property that makes KMV useful at
    100 TB: the per-group sketches (k smallest hashes each) are the
    only state the set operations read. For groups A and B:

    - **merged sketch** M = the k smallest of (kmin(A) ∪ kmin(B)) —
      exactly the sketch KMV would have built over A ∪ B, so the union
      estimate is the ordinary KMV estimator on M (with the standard
      small-set rule when |M| < k);
    - **Jaccard estimate** ĵ = |{h ∈ M : h ∈ kmin(A) ∧ h ∈ kmin(B)}|
      / |M| (Beyer et al., SIGMOD'07 — M is a uniform bottom-k sample
      of A ∪ B, so the fraction of it lying in both sets estimates
      |A∩B|/|A∪B|);
    - **intersection estimate** = ĵ · est_union (inclusion via the
      Jaccard route, the low-variance form).

    Returns one row per unordered group pair (g_a < g_b):
    (g_a, g_b, n_seen_a, est_a, n_seen_b, est_b,
     est_union, est_jaccard, est_intersection) — est_a/est_b are the
    per-group KMV estimates, identical in value to
    :func:`kmv_distinct`'s, so per-group cardinality reporting rides
    along for free.

    Scale shape: the per-group k-min stage is :func:`kmv_distinct`'s
    (hash-distinct exchange + group-keyed rank window). Everything
    after operates on sketches only — ≤ k rows per group, fanned out
    to the pairs each group participates in (k·G·(G−1) rows for G
    groups) and merged by a (g_a, g_b)-keyed window over ≤ 2k rows per
    pair. Pair enumeration is quadratic in the number of GROUPS by
    design (it is a cross-group similarity report, like the pair
    outputs of the dedup family); the raw data is read once —
    ``materialize`` (default on) checkpoints the k-min frame (≤ k rows
    per group), since four downstream consumers (both pair sides, both
    candidate fans) would otherwise each replay the full scan +
    distinct + window.
    """
    kmins = group_kmins(df, [group_col], value_col, k).select(
        F.col(group_col).alias("_g"), "_h"
    )
    if materialize:
        kmins = _materialize(kmins, durable=durable)
    pg = kmv_estimate_from_kmins(kmins, ["_g"], k).withColumnRenamed(
        "est_distinct", "est"
    )

    # unordered group pairs — the per-group sketch stats frame is tiny
    # (one row per group), so the pair enumeration is a broadcast join
    pair_frame = (
        pg.select(
            F.col("_g").alias("g_a"),
            F.col("n_seen").alias("n_seen_a"),
            F.col("est").alias("est_a"),
        )
        .join(
            F.broadcast(
                pg.select(
                    F.col("_g").alias("g_b"),
                    F.col("n_seen").alias("n_seen_b"),
                    F.col("est").alias("est_b"),
                )
            ),
            F.col("g_a") < F.col("g_b"),
        )
    )

    # fan each group's k-min hashes out to its pairs, tag membership,
    # merge per (pair, hash) so a hash in both sketches carries both
    # flags, and keep the pair's k smallest — the merged sketch M
    pair_keys = pair_frame.select("g_a", "g_b")
    cand_a = kmins.select(F.col("_g").alias("g_a"), "_h").join(
        F.broadcast(pair_keys), "g_a"
    ).select("g_a", "g_b", "_h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    cand_b = kmins.select(F.col("_g").alias("g_b"), "_h").join(
        F.broadcast(pair_keys), "g_b"
    ).select("g_a", "g_b", "_h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        cand_a.unionByName(cand_b)
        .groupBy("g_a", "g_b", "_h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wm = Window.partitionBy("g_a", "g_b").orderBy("_h")
    topm = merged.withColumn("_rn", F.row_number().over(wm)).filter(F.col("_rn") <= k)
    mstats = topm.groupBy("g_a", "g_b").agg(
        F.count(F.lit(1)).alias("_k2"),
        F.max("_h").alias("_mhk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("_n_both"),
    )
    mnorm = (F.col("_mhk").cast("double") + F.lit(1.0)) / F.lit(_HASH_SPACE)
    est_union = F.when(F.col("_k2") < k, F.col("_k2").cast("double")).otherwise(
        F.lit(float(k - 1)) / mnorm
    )
    est_j = F.col("_n_both").cast("double") / F.col("_k2").cast("double")
    return (
        # mstats is one row per unordered group pair (≤ G²/2 — the same
        # bound the pair_keys broadcasts already rely on); unhinted,
        # post-checkpoint size estimates pushed this tiny join to a
        # sort-merge with two extra exchanges (round 13)
        pair_frame.join(F.broadcast(mstats), ["g_a", "g_b"])
        .select(
            "g_a",
            "g_b",
            "n_seen_a",
            "est_a",
            "n_seen_b",
            "est_b",
            F.round(est_union, 4).alias("est_union"),
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(est_j * est_union, 4).alias("est_intersection"),
        )
    )


def bottomk_sample(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """Deterministic uniform sample without replacement: the k rows
    whose hashed id is smallest (the sample half of KMV — same bottom-k
    principle, keeping the rows instead of just the hashes).

    Mergeable by construction: bottom-k of a union is the bottom-k of
    the two bottom-k's, which is also exactly what Catalyst's
    ``TakeOrderedAndProject`` executes for ``orderBy(h, id).limit(k)``
    — per-partition k-mins, then a ≤ k·numPartitions merge; the corpus
    never funnels through one task. Hash-deterministic → the same rows
    on any engine/partitioning (ties impossible: id breaks them).
    """
    h = hash32(F.col(id_col).cast("string"))
    return df.withColumn("_bk_h", h).orderBy("_bk_h", id_col).limit(k).drop("_bk_h")


def sampled_quantiles(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 256,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable quantile estimation: exact quantiles of a
    deterministic :func:`bottomk_sample` of size k — the classic
    bounded-memory percentile estimator (sample error O(1/sqrt(k))),
    and unlike `percentile_approx`'s engine-specific digest, a pure
    function of the data that a SQL oracle reproduces bit-for-bit.

    NULL values are excluded (a NULL can't order). The estimate for
    probability p is the sample's order statistic at index
    ``1 + floor(p·(n-1))`` (lower empirical quantile, n = actual
    sample size). The final ordering window runs on ≤ k rows — bounded
    single-partition work by construction, like the KMV merge.

    Returns (p, est_value) per requested probability.
    """
    s = bottomk_sample(
        df.filter(F.col(value_col).isNotNull()), id_col, k
    ).select(F.col(value_col).alias("_sq_v"))
    w = Window.orderBy("_sq_v")
    ranked = s.select(
        "_sq_v",
        F.row_number().over(w).alias("_sq_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_sq_n"),
    )
    probs_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    target = F.lit(1) + F.floor(F.col("p") * (F.col("_sq_n") - F.lit(1)).cast("double"))
    return (
        ranked.join(F.broadcast(probs_df), target == F.col("_sq_rn"))
        .select("p", F.col("_sq_v").alias("est_value"))
    )


# ---------------------------------------------------------------------------
# Misra–Gries frequent items (heavy hitters)
# ---------------------------------------------------------------------------


def _mg_reduce_series(counters, k: int):
    """Reduce a counter Series to ≤ k entries by subtracting the
    (k+1)-th largest count and dropping non-positive counters — the
    batched Misra–Gries decrement (Agarwal et al., "Mergeable
    Summaries", PODS'12 §3: MG summaries merge by summing counters and
    re-reducing; the merged error stays ≤ n/(k+1))."""
    counters = counters.astype("int64")
    if len(counters) <= k:
        return counters
    d = int(counters.nlargest(k + 1).iloc[-1])
    return counters[counters > d] - d


def mg_partition_summaries(df: DataFrame, item_col: str, k: int = 128) -> DataFrame:
    """Per-partition Misra–Gries summaries — the bounded-memory
    frequent-items sketch STATE (Misra & Gries, "Finding repeated
    elements", Sci. Comput. Program. 1982).

    Emits ≤ k ``(_mg_item, _mg_lb)`` rows per input partition plus one
    sentinel row (``_mg_item`` NULL, ``_mg_lb`` = the partition's
    non-null item count). ``_mg_lb`` is a LOWER bound on the item's
    in-partition frequency, undercounting by at most
    ``N_p / (k + 1)``; an item absent from a partition's summary has
    in-partition frequency ≤ ``N_p / (k + 1)``. Summing summaries
    across partitions therefore bounds the global undercount by
    ``N / (k + 1)`` — the mergeable-summaries guarantee.

    Scale shape: the WHOLE point at 100 TB — executor state is k
    counters per task regardless of item cardinality (a full
    ``groupBy(item).count()`` over a token stream shuffles the entire
    vocabulary, dominated by the billions-of-distinct-tokens noise
    tail), and the exchange after this stage carries ≤ (k+1) rows per
    partition. Arrow-batched ``mapInPandas``: per batch one vectorized
    ``value_counts`` merge (O(unique-in-batch)), then one bounded
    reduce — no per-row Python.

    NULL items are not counted (SQL aggregate semantics); they do not
    contribute to the sentinel total either.
    """
    src = df.select(F.col(item_col).cast("string").alias("_mg_item"))

    def fn(batches):
        import pandas as pd

        counters = None
        total = 0
        for pdf in batches:
            s = pdf["_mg_item"].dropna()
            total += int(len(s))
            vc = s.value_counts()
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            counters = _mg_reduce_series(counters, k)
        if counters is None:
            items, lbs = [], []
        else:
            items = counters.index.tolist()
            lbs = [int(v) for v in counters.tolist()]
        items.append(None)
        lbs.append(total)
        yield pd.DataFrame({"_mg_item": items, "_mg_lb": lbs})

    return src.mapInPandas(fn, schema="_mg_item string, _mg_lb long")


def mg_heavy_hitters(
    df: DataFrame,
    item_col: str,
    phi: float,
    k: int | None = None,
    durable: bool = False,
) -> DataFrame:
    """EXACT heavy hitters — every item with frequency ≥ ⌈phi·N⌉ over
    the non-null item stream (N = its length) — computed with bounded
    state via a Misra–Gries candidate pass plus an exact recount of the
    candidates only.

    Guarantee chain (what makes the output exact and partition-layout
    invariant even though the sketch itself is not): per-partition MG
    undercounts by ≤ N_p/(k+1), so the summed summary undercounts any
    item by ≤ N/(k+1); with ``(k+1)·phi > 1`` (strict — at equality an
    item at exactly N/(k+1) can vanish from every summary) every true
    heavy hitter survives into the candidate set (candidates keep
    ``Σlb + ⌊N/(k+1)⌋ ≥ ⌈phi·N⌉``), and the exact recount then removes
    every false positive. Two passes over the data, never more than
    ``(k+1)·partitions`` rows of sketch state in between, and the final
    aggregate is keyed by the candidate set alone (non-candidates drop
    map-side at the broadcast semi-join, BEFORE the exchange).

    Returns (item, cnt) with exact BIGINT counts — a DuckDB
    GROUP BY/HAVING oracle reproduces it bit-for-bit.
    """
    import math

    if k is None:
        k = max(128, 2 * math.ceil(1.0 / phi))
    if (k + 1) * phi <= 1.0:  # fail loud BEFORE the summary pass
        # STRICT inequality: at (k+1)*phi == 1 an item with frequency
        # exactly N/(k+1) = ceil(phi*N) is a heavy hitter by the
        # recount definition yet can be decremented to 0 in every
        # partition summary (worst-case MG underestimate is exactly
        # N/(k+1)), so it would never enter the candidate set.
        # true minimum: smallest integer k with (k+1)*phi > 1, i.e.
        # floor(1/phi - 1) + 1 (NOT int(1/phi)+1, which overstates by
        # one when 1/phi is an exact integer — phi=0.25 admits k=4)
        raise ValueError(
            f"mg_heavy_hitters: k={k} cannot guarantee phi={phi}; "
            f"need (k+1)*phi > 1 strictly (k >= {math.floor(1.0 / phi - 1.0) + 1})"
        )
    summ = _materialize(mg_partition_summaries(df, item_col, k), durable=durable)
    return heavy_hitters_from_summaries(df, item_col, summ, phi, k)


def heavy_hitters_from_summaries(
    df: DataFrame,
    item_col: str,
    summaries: DataFrame,
    phi: float,
    k: int,
) -> DataFrame:
    """Stages 2+3 of :func:`mg_heavy_hitters` from an already-built
    summaries frame (``_mg_item``/``_mg_lb`` rows with NULL-item
    sentinels carrying stream totals): candidate pruning by the merged
    ``Σlb + ⌊N/(k+1)⌋`` upper bound, then the exact broadcast-semi-join
    recount over ``df``. Because MG summary sums are associative, the
    summaries may come from ANY partitioning of the same stream —
    including the per-micro-batch contributions a streaming job appends
    (streaming/job.py run_stream_mg) — and the result is identical to
    running the batch operator over the full history."""
    import math

    if (k + 1) * phi <= 1.0:  # strict — see mg_heavy_hitters
        # true minimum: smallest integer k with (k+1)*phi > 1, i.e.
        # floor(1/phi - 1) + 1 (NOT int(1/phi)+1, which overstates by
        # one when 1/phi is an exact integer — phi=0.25 admits k=4)
        raise ValueError(
            f"mg_heavy_hitters: k={k} cannot guarantee phi={phi}; "
            f"need (k+1)*phi > 1 strictly (k >= {math.floor(1.0 / phi - 1.0) + 1})"
        )
    n_total = (
        summaries.filter(F.col("_mg_item").isNull())
        .agg(F.sum("_mg_lb").alias("n"))
        .collect()[0]["n"]
    )
    spark = df.sparkSession
    if not n_total:
        return spark.createDataFrame([], "item string, cnt long")
    thresh = int(math.ceil(phi * float(n_total)))
    slack = int(n_total) // (k + 1)
    cands = (
        summaries.filter(F.col("_mg_item").isNotNull())
        .groupBy("_mg_item")
        .agg(F.sum("_mg_lb").alias("_mg_sum"))
        .filter(F.col("_mg_sum") + F.lit(slack) >= F.lit(thresh))
        .select(F.col("_mg_item").alias("item"))
    )
    stream = df.select(F.col(item_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    return (
        stream.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(thresh))
    )


def group_bottomk_sample(
    df: DataFrame, group_cols: Sequence[str], id_col: str, k: int
) -> DataFrame:
    """Per-group deterministic bottom-k-hash sample — :func:`bottomk_sample`
    with a grouping, in the two-level mergeable formulation: a first
    rank window keyed by (group, input partition) keeps k rows per
    group PER PARTITION (a hot group's sort spreads across the cluster
    instead of funneling into one task — the skew posture), then the
    final per-group rank runs over ≤ k·partitions pre-reduced rows.
    Bottom-k of a union is the bottom-k of the two bottom-k's, so the
    result is identical to a single global rank — and identical on any
    engine (hash-deterministic, id tie-break)."""
    group_cols = list(group_cols)
    h = hash32(F.col(id_col).cast("string"))
    local_w = Window.partitionBy(
        *group_cols, F.spark_partition_id()
    ).orderBy("_bk_h", id_col)
    final_w = Window.partitionBy(*group_cols).orderBy("_bk_h", id_col)
    return (
        df.withColumn("_bk_h", h)
        .withColumn("_rn", F.row_number().over(local_w))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(final_w))
        .filter(F.col("_rn") <= k)
        .drop("_bk_h", "_rn")
    )


def group_sampled_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group :func:`sampled_quantiles` — exact order statistics of
    each group's deterministic bottom-k-hash sample (grouped
    percentile_approx, but a pure function of the data a SQL oracle
    reproduces bit-for-bit; estimates are raw value passthroughs, no
    cross-engine float arithmetic). Groups with fewer than k non-null
    rows sample themselves entirely — exact quantiles, the small-set
    rule. NULL values are excluded per group (a NULL can't order).

    Returns (group_cols..., p, est_value) per requested probability;
    the order-statistic index is ``1 + floor(p·(n_g - 1))`` with n_g
    the group's actual sample size. The final ranking window runs on
    ≤ k rows per group — bounded work after the two-level sample
    reduction in :func:`group_bottomk_sample`."""
    group_cols = list(group_cols)
    s = group_bottomk_sample(
        df.filter(F.col(value_col).isNotNull()), group_cols, id_col, k
    ).select(*group_cols, F.col(value_col).alias("_sq_v"))
    w = Window.partitionBy(*group_cols).orderBy("_sq_v")
    ranked = s.select(
        *group_cols,
        "_sq_v",
        F.row_number().over(w).alias("_sq_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)).alias("_sq_n"),
    )
    probs_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    target = F.lit(1) + F.floor(F.col("p") * (F.col("_sq_n") - F.lit(1)).cast("double"))
    return ranked.join(F.broadcast(probs_df), target == F.col("_sq_rn")).select(
        *group_cols, "p", F.col("_sq_v").alias("est_value")
    )

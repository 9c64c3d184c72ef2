"""Corpus-selection operators for training-data pipelines: per-group
frequency capping and budget-bounded prefix selection.

No counterpart in the reference (its only row selection is predicate
filtering, s3logs/src/utils.rs:56 event-type match); these extend the
engine's training-data surface the way the dedup/sampling families do:

- :func:`cap_per_group` — "at most N documents per domain", the
  standard guard against a single crawl source dominating a training
  mix (the RefinedWeb/CCNet-style domain cap). Selection within a
  group is deterministic bottom-``cap`` by content hash with id
  tie-break, so the SAME representatives are kept on any engine, any
  partitioning, any cluster size.
- :func:`budget_select` — "take the best documents until the token
  budget is spent": the greedy prefix of a (score DESC, id) total
  order under a cumulative weight budget, the canonical data-selection
  rule when a training run has a fixed token target.

Scale posture shared by both:

- **No global single-reducer window.** ``budget_select`` finds the
  budget BOUNDARY, not a global running sum: scores are binned
  arithmetically (deterministic ``floor(score·B)`` — no sampled range
  partitioner), per-bin weight totals are one tiny aggregate (≤ B
  rows, the sanctioned bounded collect), the driver locates the single
  boundary bin by prefix over B numbers, and only in-bin cumulative
  sums run under a window keyed by bin — parallelism = B, per-task
  state = one bin. Rows in bins strictly above the boundary are
  selected map-side; strictly below, rejected map-side.
- **Skew-safe capping.** ``cap_per_group`` never window-sorts a hot
  group's full mass in one task: kept keys come from one rank window
  over a narrow (group, id, hash) projection of the RAW SCAN whose
  literal ``rn <= max_cap`` filter Spark 4 rewrites into map-side +
  final WindowGroupLimit prunes (each task keeps ≤ cap rows per group
  BEFORE the exchange — the two-level bottom-k, natively). Per-group
  counts join only the pruned kept keys (≤ cap per group), and the
  full-width rows rejoin by the UNIQUE id — a perfectly balanced
  exchange with no hot-key reducer (AQE-broadcast when the kept side
  fits).
- **Integer-exact.** Budgets and weights are integers; cumulative
  sums never cross a float; the only float comparison (score order)
  is on values both engines compute identically (the rounded-score
  convention of the quality gates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int | Column,
    id_col: str,
    *,
    rank_col: str = "cap_rk",
    keep_col: str = "cap_keep",
    max_cap: int | None = None,
) -> DataFrame:
    """Flag at most ``cap`` rows per group, chosen deterministically as
    the bottom-``cap`` by (content hash of id, id) within the group.

    ``cap`` may be an int or a Column expression over ``group_col``
    (e.g. a per-domain quota table expressed as a hash-derived
    function) — it must be constant within a group. For Column caps,
    pass ``max_cap`` (an upper bound on any group's cap) to enable the
    WindowGroupLimit map-side prune — without it the rank window is
    still correct but unbounded per task.

    Returns ``df`` plus two columns: ``keep_col`` (boolean — row is
    within its group's cap) and ``rank_col`` (the row's within-group
    hash rank, populated ONLY where the cap binds: rows of over-cap
    groups that made the cut. Under-cap groups' ranks are NULLed —
    the cap carries no information there — and dropped rows never get
    an exact global rank, because the WindowGroupLimit prune discards
    them before the final rank; both carry NULL).

    Every input row is preserved (report shape); filter on
    ``keep_col`` for the production cut.
    """
    cap_expr = F.lit(cap) if isinstance(cap, int) else cap
    if max_cap is None and isinstance(cap, int):
        max_cap = cap

    # Kept keys via ONE rank window over a NARROW (group, id, hash)
    # projection of the RAW frame — all groups, not just over-cap
    # ones. The literal rn <= max_cap filter is what Spark 4 rewrites
    # into map-side + final WindowGroupLimit prunes (plan-asserted in
    # tests): each scan task keeps ≤ max_cap rows per group BEFORE the
    # exchange, so a hot group never funnels its full mass into one
    # sort task. This only works because the window's child is the
    # scan itself — an earlier design joined per-group counts onto the
    # full frame FIRST, and that join's by-group exchange put the hot
    # group's entire mass into one reducer task before the prune could
    # run (measured: the straggler was the whole cost at 50M rows /
    # 80% hot, PERF.md "Corpus selection at 50M rows"). NOTE the
    # rewrite fires only for literal limits ≤ spark.sql.optimizer.
    # windowGroupLimitThreshold (default 1000); pass ``max_cap`` when
    # ``cap`` is a Column, and raise the threshold conf for caps
    # beyond it.
    h = hash32(F.col(id_col).cast("string"))
    proj = df.select(group_col, id_col).withColumn("_cg_h", h)
    w = Window.partitionBy(group_col).orderBy("_cg_h", id_col)
    ranked = proj.withColumn("_cg_rk", F.row_number().over(w))
    if max_cap is not None:
        ranked = ranked.filter(F.col("_cg_rk") <= F.lit(int(max_cap)))
    kept_keys = ranked.filter(F.col("_cg_rk") <= cap_expr)

    # Per-group counts join the PRUNED kept keys (≤ cap rows per
    # group — skew-free by construction), never the full frame; they
    # only decide whether the rank is surfaced (the cap binds) or
    # NULLed (under-cap passthrough).
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cg_n"))
    kept = kept_keys.join(counts, group_col).select(
        id_col,
        F.when(F.col("_cg_n") > cap_expr, F.col("_cg_rk"))
        .cast("long")
        .alias(rank_col),
        F.lit(True).alias("_cg_keep"),
    )
    # Full-width rows rejoin by id: unique key, perfectly balanced —
    # no hot-group reducer; AQE broadcasts the kept side when it fits.
    return df.join(kept, id_col, "left").select(
        *df.columns,
        F.col(rank_col),
        F.coalesce(F.col("_cg_keep"), F.lit(False)).alias(keep_col),
    )


def budget_select(
    df: DataFrame,
    score_col: str,
    id_col: str,
    weight_col: str,
    budget: int,
    *,
    num_bins: int = 1024,
    selected_col: str = "selected",
) -> DataFrame:
    """Greedy budget-bounded prefix selection: walk rows in
    (``score_col`` DESC, ``id_col`` ASC) order and select while the
    running sum of ``weight_col`` stays ≤ ``budget`` — the standard
    "best docs until the token budget is spent" data-selection rule.

    ``score_col`` values must lie in [0, 1] (the quality-score
    convention); ``weight_col`` must be integral (token counts).
    Zero-weight rows inside the selected prefix are selected (they
    cost nothing); rows with NULL score are never selected.

    Scale shape (see module docstring): deterministic score bins →
    ≤ ``num_bins``-row aggregate collect → driver boundary-bin find →
    one bin-keyed window for in-bin running sums. The single full-data
    exchange is the bin window; rows outside the boundary bin decide
    map-side off the broadcast boundary. A variant that windows ONLY
    the boundary bin (filter + union) trades a second scan for a
    smaller exchange; at narrow row widths the single-window plan
    wins.

    Returns ``df`` plus boolean ``selected_col``. The flag is a pure
    function of the data and the budget — independent of partitioning
    and engine (the boundary is exact, not sampled).
    """
    nb = F.lit(num_bins)
    # guard the NULL-score path explicitly: Spark's least() IGNORES
    # nulls (returns the least non-null), which would silently file
    # null scores into the top bin instead of excluding them
    bin_expr = F.when(
        F.col(score_col).isNotNull(),
        F.least(F.floor(F.col(score_col) * nb).cast("int"), F.lit(num_bins - 1)),
    )
    base = df.withColumn("_bs_bin", bin_expr).withColumn(
        "_bs_w", F.col(weight_col).cast("long")
    )
    totals = {
        int(r["_bs_bin"]): int(r["w"])
        for r in base.filter(F.col("_bs_bin").isNotNull())
        .groupBy("_bs_bin")
        .agg(F.sum("_bs_w").alias("w"))
        .collect()
    }
    cum = 0
    boundary_bin: int | None = None
    boundary_rest = 0
    for b in sorted(totals, reverse=True):
        if cum + totals[b] > budget:
            boundary_bin, boundary_rest = b, budget - cum
            break
        cum += totals[b]
    if boundary_bin is None:
        # the whole corpus fits the budget — map-only, no window
        return df.withColumn(selected_col, F.col(score_col).isNotNull())
    in_bin_w = Window.partitionBy("_bs_bin").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    run = F.sum("_bs_w").over(in_bin_w)
    sel = F.when(F.col("_bs_bin") > boundary_bin, F.lit(True)).otherwise(
        (F.col("_bs_bin") == boundary_bin) & (run <= F.lit(boundary_rest))
    )
    return base.withColumn(selected_col, F.coalesce(sel, F.lit(False))).drop(
        "_bs_bin", "_bs_w"
    )

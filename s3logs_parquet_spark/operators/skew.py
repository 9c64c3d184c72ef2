"""Skew-handling utilities: salting for hot keys.

At 100 TB the engine's shuffles are keyed by (bucket, window, id) — a
hot hour or a boilerplate document makes one reducer the straggler.
AQE's skew-join handles moderate join skew at runtime; these helpers
cover the aggregation case and extreme join skew deterministically.

Both are pure plan rewrites: salting an ALGEBRAIC aggregate splits it
into partial (keys+salt) → final (keys) — exactly the map-side-combine
structure, but with the combine forced through `n_salt` reducers
instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (partial_fn, final_fn) per supported algebraic aggregate
_ALGEBRAIC = {
    "count": (lambda c: F.count(c), lambda c: F.sum(c)),
    "sum": (lambda c: F.sum(c), lambda c: F.sum(c)),
    "min": (lambda c: F.min(c), lambda c: F.min(c)),
    "max": (lambda c: F.max(c), lambda c: F.max(c)),
}


def _salt(df: DataFrame, n_salt: int) -> Column:
    """Deterministic per-row salt (hash of all columns — no RNG, so
    retries and resumed stages stay consistent)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys.

    ``aggs``: output_name -> (input_col, fn) with fn in
    count|sum|min|max. Example::

        salted_agg(df, ["hot_key"], {"n": ("*", "count"),
                                     "total": ("value", "sum")})

    Phase 1 groups by (keys, salt) — the hot key fans out over n_salt
    reducers; phase 2 merges the n_salt partials per key (tiny).
    """
    for name, (_c, fn) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{name}: '{fn}' is not algebraic; supported: {list(_ALGEBRAIC)}")
    salted = df.withColumn("_salt", _salt(df, n_salt))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _ALGEBRAIC[fn][0](F.lit(1) if c == "*" else F.col(c)).alias(f"_p_{name}")
            for name, (c, fn) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[fn][1](F.col(f"_p_{name}")).alias(name)
            for name, (c, fn) in aggs.items()
        ]
    )

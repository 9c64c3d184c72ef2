"""Bloom-filter runtime join prefilter — the explicit form of the
semi-join reduction Spark's own InjectRuntimeFilter performs when its
heuristics fire.

At 100 TB the dominant cost of a selective fact⋈dim join is shuffling
fact rows that can never match. Spark's optimizer sometimes injects a
bloom runtime filter itself, but only under size/selectivity
heuristics and never across separately-planned jobs (e.g. a dim-side
predicate computed in one action, the fact scan in another). This
operator makes the pattern a first-class, deterministic primitive:

- **build** — one map + one tiny hash aggregation over the (already
  filtered) dim side: each key sets ``n_hashes`` bits via
  Kirsch–Mitzenmacher double hashing (two xxhash64 draws, positions
  ``h1 + i·h2 mod n_bits`` — the standard public construction);
  per-word OR-masks aggregate to at most ``n_bits/64`` longs. The
  collect is bounded by the FILTER size (16 KiB at the default 2^17
  bits), never by the key count.
- **probe** — map-only: the word array rides the plan as ONE array
  literal; each row tests its ``n_hashes`` bits with shift/AND
  arithmetic inside whole-stage codegen. No join, no shuffle, no
  broadcast exchange — rows that fail any bit are dropped before the
  real join's exchange ever sees them.

No false negatives (build and probe evaluate identical position
expressions), so ``bloom_probe(fact) ⋈ dim == fact ⋈ dim`` exactly —
false positives only waste a little shuffle, never change the result.
That identity is what the DuckDB oracle checks
(plans/relational.py orders_bloom_customer_revenue).

Sizing: ~1% false positives needs ``n_bits ≈ 10 × n_keys`` with
``n_hashes = 7``; the defaults (2^17 bits, 5 hashes) cover ~10^4 keys.
The filter must fit the driver and the plan — beyond ~10^7 keys fall
back to a shuffled semi-join (Spark's own runtime filter caps its
bloom at 64 MB for the same reason,
``spark.sql.optimizer.runtime.bloomFilter.maxNumBits``).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# second-draw seed for the double hashing; any fixed constant works
_SEED2 = 0x9E3779B9


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """Kirsch–Mitzenmacher: pos_i = (h1 + i·h2) mod n_bits, both draws
    xxhash64 (JVM-side, codegen). Build and probe share THIS function —
    identical expressions are the no-false-negative guarantee."""
    # reduce each draw mod n_bits BEFORE combining: (a + i·b) mod n ==
    # ((a mod n) + i·(b mod n)) mod n, and the reduced form can't
    # overflow ANSI long arithmetic (i·(b mod n) ≤ n_hashes·n_bits)
    h1 = F.pmod(F.xxhash64(key), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(_SEED2)), F.lit(n_bits))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes)]


def bloom_build(
    df: DataFrame, key_col: str, n_bits: int = 1 << 17, n_hashes: int = 5
) -> list[int]:
    """Aggregate df[key_col] into a Bloom filter, returned as
    ``n_bits/64`` long words — the tiny driver-side model, same
    discipline as ann.py's centroids/codebooks.

    Plan: project positions → explode(×n_hashes) → (word, mask) →
    ONE hash aggregation ``bit_or(mask)`` → collect ≤ n_bits/64 rows.
    NULL keys are skipped (join equality never matches NULL)."""
    if n_bits % 64 != 0:
        raise ValueError(f"bloom_build: n_bits must be a multiple of 64, got {n_bits}")
    pos = _positions(F.col(key_col), n_bits, n_hashes)
    words = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*pos)).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
        .collect()
    )
    bits = [0] * (n_bits // 64)
    for r in words:
        bits[int(r["w"])] = int(r["m"])
    return bits


def bloom_probe(
    df: DataFrame, key_col: str, bloom_bits: list[int], n_hashes: int = 5
) -> DataFrame:
    """Keep only rows whose key might be in the filter (NULL-key rows
    drop, matching join-equality semantics). Map-only: the word array
    is one plan literal (hidden column, dropped on exit); each row's
    test is ``n_hashes`` element_at + shiftright + AND probes — all
    codegen, no exchange."""
    n_bits = len(bloom_bits) * 64
    # ONE parsed SQL string for the word array, not a CreateArray of
    # n_bits/64 py4j Column objects (F.array(*[F.lit(w) ...]) — and
    # F.lit(list) expands to exactly that tree): at the default sizing
    # the 2048-child tree cost ~2 s of py4j round-trips PER CALL —
    # the dominant cost of the whole probe at bench scale (round 14,
    # guide §4: the Python/JVM boundary, here at plan-build time —
    # same class as the r13 SQ8 kernel fix)
    words_sql = "array(" + ",".join(f"{int(w)}L" for w in bloom_bits) + ")"
    out = df.filter(F.col(key_col).isNotNull()).withColumn(
        "__bloom_w", F.expr(words_sql)
    )
    positions = _positions(F.col(key_col), n_bits, n_hashes)
    out = out.withColumns({f"__bloom_p{i}": p for i, p in enumerate(positions)})
    # SQL-text form: shiftright takes a column shift amount in SQL, but
    # the DSL wrapper accepts only int literals
    conds = [
        F.expr(
            f"(shiftright(element_at(__bloom_w, CAST(__bloom_p{i} / 64 AS INT) + 1), "
            f"CAST(pmod(__bloom_p{i}, 64) AS INT)) & 1) = 1"
        )
        for i in range(n_hashes)
    ]
    return out.filter(reduce(and_, conds)).drop(
        "__bloom_w", *[f"__bloom_p{i}" for i in range(n_hashes)]
    )

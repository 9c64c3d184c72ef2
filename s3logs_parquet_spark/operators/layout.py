"""Z-order (Morton-order) data layout — multi-dimensional clustering
for min/max file skipping.

The reference partitions its output one-dimensionally (time prefix).
At 100 TB, queries that filter on TWO dimensions (time AND key, x AND
y) read far too much under any single-column sort: sorting by x packs
each file with the full y range, so a y-predicate prunes nothing.
Interleaving the bits of both dimensions (the Morton/Z curve — the
same layout Delta's OPTIMIZE ZORDER and many warehouse engines use)
makes every file cover a small RECTANGLE of (x, y) space, so parquet
footer min/max statistics prune files/row-groups on either or both
predicates.

Everything is integer bit arithmetic on columns (whole-stage codegen,
map-only); the write is one range exchange on the z-key. The pruning
claim is measured, not asserted: tests read back parquet row-group
statistics via pyarrow and count how many row groups a box predicate
can skip under z-order vs a linear sort (tools/bench_zorder_scale.py
records the same at millions of rows in PERF.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by linear scaling — the
    coordinate preparation step for z-ordering continuous dimensions.
    Values at/beyond the bounds clamp to the edge buckets."""
    n = 1 << bits
    scaled = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(hi - lo) * n)
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), scaled)).cast("long")


def zorder_key(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of the given non-negative
    integer columns into one long: with d columns, bit b of column i
    lands at position b·d + i. Columns must already be quantized to
    [0, 2^bits) (see :func:`quantize`); d·bits must fit a long's 63
    usable bits.

    Pure shift/AND arithmetic summed over disjoint bit positions
    (sum == bitwise-or when positions never collide) — one codegen
    expression, no shuffle, and directly re-expressible in ANSI SQL
    for the DuckDB oracle (plans/events.py events_zorder_key)."""
    d = len(cols)
    if d * bits > 63:
        raise ValueError(f"zorder_key: {d} cols × {bits} bits exceeds a long")
    terms: list[Column] = []
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, b * d + i))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[Column],
    bits: int = 16,
    n_files: int | None = None,
    key_col: str = "_zkey",
) -> None:
    """Write ``df`` clustered along the Z curve of ``cols``: compute
    the z-key, range-partition on it (one exchange — range boundaries
    from Spark's reservoir sampling), sort within partitions, write
    parquet. Each output file then covers a compact z-range = a small
    hyper-rectangle of the dimension space, which is what makes footer
    min/max skipping effective on every clustered dimension.

    The z-key column itself is dropped from the output: the layout IS
    the artifact; readers filter on the natural columns and parquet
    stats do the pruning."""
    keyed = df.withColumn(key_col, zorder_key(cols, bits))
    if n_files is not None:
        keyed = keyed.repartitionByRange(n_files, F.col(key_col))
    else:
        keyed = keyed.repartitionByRange(F.col(key_col))
    keyed.sortWithinPartitions(key_col).drop(key_col).write.mode(
        "overwrite"
    ).parquet(path)


def rowgroup_prune_fraction(
    path: str, predicates: dict[str, tuple[float, float]]
) -> tuple[int, int]:
    """Measured skipping evidence: read parquet footers (pyarrow) and
    count row groups whose min/max statistics allow skipping under the
    conjunction of ``{col: (lo, hi)}`` box predicates — exactly the
    decision a parquet reader makes. Returns (skippable, total)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    total = 0
    skippable = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        for rg in range(meta.num_row_groups):
            total += 1
            g = meta.row_group(rg)
            for col, (lo, hi) in predicates.items():
                st = g.column(names.index(col)).statistics
                if st is None or not st.has_min_max:
                    continue
                if st.min > hi or st.max < lo:
                    skippable += 1
                    break
    return skippable, total


def hilbert_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve index of a 2-D point — the locality-preserving
    alternative to :func:`zorder_key`. The Z curve's diagonal jumps
    put some adjacent cells in far-apart key ranges; the Hilbert curve
    visits every cell exactly once with EVERY step adjacent (unit
    Manhattan distance), so clustered files cover tighter rectangles
    and min/max skipping prunes strictly no worse (measured better on
    box predicates straddling Z-seams — tools/bench_zorder_scale.py
    --curve hilbert).

    Inputs must be quantized to [0, 2^bits) (see :func:`quantize`);
    ``bits <= 30`` keeps every intermediate inside a long. The
    classic per-level rotate-and-accumulate (the xy2d walk) is
    expressed as ONE JVM-side higher-order fold: ``aggregate`` over
    the descending s-value array with a (x, y, d) struct accumulator
    — ``bits`` iterations per row, no Python, no per-level expression
    blowup, and re-expressible verbatim as a DuckDB list_reduce for
    the oracle (plans/events.py events_hilbert_key)."""
    if bits > 30:
        raise ValueError(f"hilbert_key: bits={bits} > 30 overflows a long")
    svals = F.array(*[F.lit(1 << b).cast("long") for b in range(bits - 1, -1, -1)])
    init = F.struct(
        x.cast("long").alias("x"), y.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc: Column, s: Column) -> Column:
        rx = F.when(acc["x"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ry = F.when(acc["y"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        d2 = acc["d"] + s * s * ((F.lit(3) * rx).bitwiseXOR(ry))
        # rotation (ry == 0): flip both if rx == 1, then swap
        nx = F.when(ry == 1, acc["x"]).otherwise(
            F.when(rx == 1, s - 1 - acc["y"]).otherwise(acc["y"])
        )
        ny = F.when(ry == 1, acc["y"]).otherwise(
            F.when(rx == 1, s - 1 - acc["x"]).otherwise(acc["x"])
        )
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    return F.aggregate(svals, init, step)["d"]


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    x: Column,
    y: Column,
    bits: int = 16,
    n_files: int | None = None,
    key_col: str = "_hkey",
) -> None:
    """Write ``df`` clustered along the Hilbert curve of (x, y) —
    same range-exchange shape as :func:`write_zordered`, same
    key-is-dropped contract; only the space-filling curve differs."""
    keyed = df.withColumn(key_col, hilbert_key(x, y, bits))
    if n_files is not None:
        keyed = keyed.repartitionByRange(n_files, F.col(key_col))
    else:
        keyed = keyed.repartitionByRange(F.col(key_col))
    keyed.sortWithinPartitions(key_col).drop(key_col).write.mode(
        "overwrite"
    ).parquet(path)

"""Z-order (Morton-order) and Hilbert keys — multi-dimensional
clustering keys for min/max file skipping.

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
map-only). The row-group pruning these keys buy, measured at millions
of rows, is recorded in PERF.md ("Z-order layout").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of the given non-negative
    integer columns into one long: with d columns, bit b of column i
    lands at position b·d + i. Columns must already be quantized to
    [0, 2^bits); d·bits must fit a long's 63 usable bits.

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


def hilbert_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve index of a 2-D point — the locality-preserving
    alternative to :func:`zorder_key`. The Z curve's diagonal jumps
    put some adjacent cells in far-apart key ranges; the Hilbert curve
    visits every cell exactly once with EVERY step adjacent (unit
    Manhattan distance), so clustered files cover tighter rectangles
    and min/max skipping prunes strictly no worse (measured better on
    box predicates straddling Z-seams; PERF.md "Z-order layout").

    Inputs must be quantized to [0, 2^bits);
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

"""Z-order and Hilbert keys (operators/layout.py): bit-exact key
construction against Python models, locality and width validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.layout import zorder_key


def _interleave_py(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_python_model(spark):
    rows = [(i, (i * 7) % 64, (i * 13) % 64) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = df.select(
        "id", "x", "y", zorder_key([F.col("x"), F.col("y")], bits=6).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _interleave_py(r["x"], r["y"], 6), (r["x"], r["y"])


def test_zorder_key_locality(spark):
    """Adjacent (x, y) cells must map to nearby z values on average —
    the curve property the layout depends on. Weak sanity: the max z
    is (2^(2·bits))-1 and distinct inputs give distinct keys."""
    df = spark.range(0, 1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    zs = [r["z"] for r in df.select(zorder_key([F.col("x"), F.col("y")], 5).alias("z")).collect()]
    assert len(set(zs)) == 1024
    assert max(zs) == 1023 and min(zs) == 0


def test_zorder_key_validates_width():
    with pytest.raises(ValueError, match="exceeds a long"):
        zorder_key([F.lit(0), F.lit(0), F.lit(0), F.lit(0)], bits=16)


def _xy2d(n: int, x: int, y: int) -> int:
    """Pure-Python Hilbert xy2d reference (the classic per-level
    rotate-and-accumulate walk)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_python_model(spark):
    """Exhaustive 16x16 grid plus random 16-bit points agree with the
    reference walk — the JVM-side struct-fold is exact."""
    import random

    from s3logs_parquet_spark.operators.layout import hilbert_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    rng = random.Random(7)
    big = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.select(
            "x", "y", hilbert_key(F.col("x"), F.col("y"), 4).alias("h")
        ).collect()
    }
    assert got == {(x, y): _xy2d(16, x, y) for x, y in rows}
    df2 = spark.createDataFrame(big, ["x", "y"])
    got2 = {
        (r["x"], r["y"]): r["h"]
        for r in df2.select(
            "x", "y", hilbert_key(F.col("x"), F.col("y"), 16).alias("h")
        ).collect()
    }
    assert all(got2[(x, y)] == _xy2d(1 << 16, x, y) for x, y in big)


def test_hilbert_key_unit_step_locality(spark):
    """Every consecutive pair along the curve is Manhattan-adjacent and
    the curve visits every cell exactly once — the property that makes
    Hilbert clustering strictly tighter than the Z curve's seam jumps."""
    from s3logs_parquet_spark.operators.layout import hilbert_key

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        r["h"]: (r["x"], r["y"])
        for r in df.select(
            "x", "y", hilbert_key(F.col("x"), F.col("y"), 5).alias("h")
        ).collect()
    }
    assert sorted(got) == list(range(32 * 32))
    cells = [got[d] for d in range(32 * 32)]
    assert all(
        abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1
        for a, b in zip(cells, cells[1:])
    )


def test_hilbert_key_validates_width():
    import pytest

    from s3logs_parquet_spark.operators.layout import hilbert_key

    with pytest.raises(ValueError, match="bits"):
        hilbert_key(F.lit(0), F.lit(0), bits=31)

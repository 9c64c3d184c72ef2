"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count, schema (column names), and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
A query name that is not in the registry prints UNKNOWN and exits 1.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from s3logs_parquet_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        for name in unknown:
            print(f"UNKNOWN {name}")
        return 1

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols} ({spark_t:.1f}s)")
            continue
        try:
            # .sql() (not .execute()) so we can inspect DuckDB-level types:
            # HUGEINT survives fetchall() as a Python int here, but the
            # driver's arrow/numpy normalizer turns it into float64 and every
            # row hash-mismatches (round-1 docs_simhash failure) — so treat
            # any HUGEINT output column as a failure even if values match.
            drel = con.sql(oracles[name])
            dcols = list(drel.columns)
            dtypes = [str(t).upper() for t in drel.types]
            drows = drel.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            n_fail += 1
            continue
        problems = []
        huge = [f"{c}:{t}" for c, t in zip(dcols, dtypes) if "HUGEINT" in t]
        if huge:
            problems.append(f"oracle emits HUGEINT (cast ::BIGINT): {huge}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = frame_hash(scols, srows)
            dh = frame_hash(dcols, drows)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show first diff for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(norm_val(r[i]) for i in order_s) for r in srows)
                ld = sorted("|".join(norm_val(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  first diff:\n    spark: {a[:200]}\n    duck:  {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"OK   {name}: {len(srows)} rows ({spark_t:.1f}s)")
    print(("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES"))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

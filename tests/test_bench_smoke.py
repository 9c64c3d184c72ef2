"""Bench-scale executability guard.

Two bench rounds in a row nearly died to the same failure class: a
query green at the sf0.01 oracle gate crashed at the bench's sf0.1 —
r04's NTZ breakage voided BENCH_r04.json outright, and round 5's
interval-join span guard tripped only at sf0.1 (the `value` column's
max grows with scale, so an uncapped attribution window breached the
declared span bound there and nowhere smaller).

The oracle differential can't see these: it runs at sf0.01. This test
executes every HEADLINE query once at sf0.1 through the bench's own
noop-write sink (full evaluation — no timing, no best-of-2) so
"bench.py will produce a JSON line" is a tested invariant, not a
hope. Scale-dependent guards (span bounds, corpus validations)
thereby get exercised against the same data AND the same action the
driver benches.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="bench-scale testdata absent")
def test_every_headline_query_executes_at_bench_scale(spark):
    import bench
    from s3logs_parquet_spark.plans.queries import QUERIES

    failures = {}
    for name in bench.HEADLINE:
        fn, _sql = QUERIES[name]
        try:
            # bench.force (noop write), NOT count(): count() lets
            # Catalyst prune unused subtrees (e.g. an aggregate's
            # expression inputs and the joins feeding them), so a
            # scale-crash inside a pruned branch would never execute
            # here yet WOULD under the bench's full evaluation —
            # the exact gap this guard exists to close (the
            # count()-pruning artifact, PERF.md round 6)
            bench.force(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures[name] = repr(e)[:300]
    assert not failures, failures


def test_no_module_cache_outside_prebuilt():
    """session.prebuilt is the one build-once cache, and its docstring
    the one statement of the timed-region contract. Every module that
    defines a registry builder, and the table module, may hold no
    module-level empty dict/set, the shape a hand-rolled per-query
    cache takes."""
    import ast
    import inspect
    import sys

    from s3logs_parquet_spark.plans.queries import QUERIES
    from s3logs_parquet_spark.sources import tables

    mods = {sys.modules[fn.__module__] for fn, _ in QUERIES.values()} | {tables}
    assert len(mods) > 2, sorted(m.__name__ for m in mods)
    for mod in mods:
        for node in ast.parse(inspect.getsource(mod)).body:
            v = getattr(node, "value", None)
            empty_dict = isinstance(v, ast.Dict) and not v.keys
            empty_set = isinstance(v, ast.Call) and ast.unparse(v) in ("dict()", "set()")
            assert not (empty_dict or empty_set), f"{mod.__name__}:{node.lineno} cache"


def test_prebuilt_is_session_scoped(spark):
    """Same session: the same object, one build. Another session
    rebuilds. A value bound to a plan_heavy clone still hits, because
    the caller's session is what is compared."""
    from s3logs_parquet_spark.operators.ann import plan_heavy
    from s3logs_parquet_spark.session import prebuilt

    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    key = ("test_prebuilt", "sessions")
    first = prebuilt(spark, key, build)
    assert prebuilt(spark, key, build) is first
    assert len(builds) == 1
    other = spark.newSession()
    assert prebuilt(other, key, build) is not first
    assert len(builds) == 2
    assert prebuilt(spark, key, build) is not first  # the entry moved to `other`
    assert len(builds) == 3

    key = ("test_prebuilt", "plan_heavy")
    df = prebuilt(spark, key, lambda: plan_heavy(build()))
    assert df.sparkSession is not spark
    assert prebuilt(spark, key, lambda: plan_heavy(build())) is df
    assert len(builds) == 4

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


# Top-level definitions that no entry point reaches but that stay, each
# with its reason. Everything else in the package must be reached.
KEPT = {
    "functions.text_analysis.quality_score": (
        "pure-Column reference that test_with_quality_and_lang_matches_expressions "
        "checks the staged with_quality_and_lang against"
    ),
    "functions.text_analysis.langid": (
        "pure-Column reference that test_with_quality_and_lang_matches_expressions "
        "checks the staged with_quality_and_lang against"
    ),
    "operators.dedup.duplicated_spans": (
        "span report that test_remove_duplicated_spans_matches_span_report and "
        "test_span_family_matches_python_model check remove_duplicated_spans against"
    ),
    "operators.sketches.kmv_distinct": (
        "batch sketch that test_stream_kmv_equals_batch_sketch checks the "
        "streamed KMV sketch against"
    ),
    "schema.log_schema": (
        "built-in schema that test_parse_message_type_shipped_file_matches_builtin "
        "checks the shipped parquet.schema file against"
    ),
    "session.release_tracked": (
        "the only release for frames operators register with session.track; "
        "without it a long-lived driver can only leak them"
    ),
    "sources.tables.register_views": "the README's library example",
    "streaming.job.capture_stream_plans": "used by tools/stream_plan_scenarios.py",
    "writer.s3a_committer_profile": "the README's s3a deployment profile",
}


def _unreached(root: str, kept) -> tuple[set[str], set[str]]:
    """(every top-level def/class in the package, the ones that no root
    reaches), both as "module.name" without the package prefix.

    A definition is reached when reached code names it: a Name, an
    Attribute on a module, or an import alias, resolved through each
    module's imports to the defining module. Docstrings and comments
    are not code, and a module-level import (an ``__init__.py``
    re-export) is not a use. Roots: the CLI, the Lambda handlers and
    the SQS / manifest sources (every definition), the registry's
    QUERIES, the streaming ``run_*`` jobs and ``read_*`` readers,
    ``__spark_entry__.py``, ``bench.py`` and ``perfbench/``, plus
    ``kept``."""
    import ast
    from collections import deque

    pkg = "s3logs_parquet_spark"
    files = {}
    for d, _, names in os.walk(os.path.join(root, pkg)):
        for f in names:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), root)[:-3]
                files[rel.replace(os.sep, ".").removesuffix(".__init__")] = os.path.join(d, f)
    outside = ["__spark_entry__", "bench"] + [
        "perfbench." + f[:-3] for f in os.listdir(os.path.join(root, "perfbench")) if f.endswith(".py")
    ]
    for mod in outside:
        files[mod] = os.path.join(root, *mod.split(".")) + ".py"
    packages = {m for m, p in files.items() if p.endswith("__init__.py")}

    def absolute(mod: str, level: int, name: str | None) -> str:
        if not level:
            return name
        parts = mod.split(".") if mod in packages else mod.split(".")[:-1]
        return ".".join(parts[: len(parts) - level + 1] + ([name] if name else []))

    defs, aliases, units = {}, {}, {}
    for mod, path in files.items():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        defs[mod], aliases[mod], units[(mod, None)] = {}, {}, []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[mod][node.name] = True
                units[(mod, node.name)] = [node]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs[mod].setdefault(n.id, False)
                            units.setdefault((mod, n.id), []).append(node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    aliases[mod][bound] = ("mod", a.name if a.asname else bound)
            elif isinstance(node, ast.ImportFrom):
                src = absolute(mod, node.level, node.module)
                for a in node.names:
                    aliases[mod][a.asname or a.name] = ("from", src, a.name)
            else:  # module-level code runs whenever the module is imported
                units[(mod, None)].append(node)

    def resolve(mod, name, seen=()):
        if mod not in files:
            return None
        if name in defs[mod]:
            return (mod, name)
        if name in aliases[mod] and (mod, name) not in seen:
            return follow(aliases[mod][name], seen + ((mod, name),))
        if f"{mod}.{name}" in files:
            return ("mod", f"{mod}.{name}")
        return None

    def follow(alias, seen=()):
        return ("mod", alias[1]) if alias[0] == "mod" else resolve(alias[1], alias[2], seen)

    def uses(mod, nodes):
        local = {}
        for sub in (s for n in nodes for s in ast.walk(n)):
            if isinstance(sub, ast.Import):
                for a in sub.names:
                    bound = a.asname or a.name.split(".")[0]
                    local[bound] = ("mod", a.name if a.asname else bound)
                    yield ("mod", a.name)
            elif isinstance(sub, ast.ImportFrom):
                src = absolute(mod, sub.level, sub.module)
                for a in sub.names:
                    local[a.asname or a.name] = ("from", src, a.name)
                    yield resolve(src, a.name)

        def target(e):
            if isinstance(e, ast.Name):
                return follow(local[e.id]) if e.id in local else resolve(mod, e.id)
            if isinstance(e, ast.Attribute):
                owner = target(e.value)
                if owner and owner[0] == "mod":
                    return resolve(owner[1], e.attr)
            return None

        for sub in (s for n in nodes for s in ast.walk(n)):
            if isinstance(sub, (ast.Name, ast.Attribute)):
                yield target(sub)

    roots = [(f"{pkg}.plans.queries", "QUERIES")]
    for mod in files:
        short = mod.removeprefix(pkg + ".")
        if mod in outside or short in ("cli", "lambda_handlers", "sources.sqs_bridge", "sources.manifest_source"):
            roots += [(mod, None)] + [(mod, n) for n in defs[mod]]
        elif short.startswith("streaming."):
            roots += [(mod, n) for n in defs[mod] if n.startswith(("run_", "read_"))]
    roots += [tuple(f"{pkg}.{k}".rsplit(".", 1)) for k in kept]

    reached, queue = set(), deque(roots)
    while queue:
        key = queue.popleft()
        if key is None or key in reached:
            continue
        reached.add(key)
        if key[0] == "mod":
            parts = key[1].split(".")
            queue.extend(("mod", ".".join(parts[:i])) for i in range(1, len(parts)))
            queue.append((key[1], None))
        else:
            queue.append(("mod", key[0]))
            queue.extend(uses(key[0], units.get(key, [])))

    every = {
        f"{m.removeprefix(pkg + '.')}.{n}"
        for m in files if m.startswith(pkg) for n, is_def in defs[m].items() if is_def
    }
    return every, {q for q in every if tuple(f"{pkg}.{q}".rsplit(".", 1)) not in reached}


def test_every_definition_is_reachable():
    """Every top-level def/class in the package is reached from an entry
    point, or named in KEPT with a reason. A definition only tests,
    docs or another unreached definition use counts as unreached:
    delete it with its tests, or keep it in KEPT. A KEPT entry must
    exist and must not be reached already."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    every, dead = _unreached(root, KEPT)
    assert not dead, f"unreached definitions (delete, or add to KEPT): {sorted(dead)}"
    _, dead_without_kept = _unreached(root, ())
    stale = sorted(k for k in KEPT if k not in every or k not in dead_without_kept)
    assert not stale, f"KEPT entries that are missing or reached anyway: {stale}"
    assert all(reason.strip() for reason in KEPT.values())

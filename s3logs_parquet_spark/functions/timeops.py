"""Time bucketing + partition-name formatting (G1, P4, W5 key calc).

The reference's core temporal op is tumbling-window assignment by
integer arithmetic — ``ts - ts % align`` (timestamp_align_left,
s3logs/src/utils.rs:229-231) — plus strftime formatting of window
starts for staging filenames and S3 prefixes (timestamp_to_fmt
:238-247, get_s3_prefix_partition_part :1396-1399) with a fixed
configured TZ offset applied (UTC+0 default).

Everything here is integer/date arithmetic on columns — codegen'd JVM
expressions, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_micros(df: DataFrame, time_col: str) -> Column:
    """Epoch microseconds for an event-time column of EITHER timestamp
    dtype — the one sanctioned way to get numeric micros from a
    user-supplied time column.

    ``F.unix_micros`` rejects ``TIMESTAMP_NTZ`` with DATATYPE_MISMATCH,
    and tz-less parquet (what the reference's writer and the canonical
    testdata both produce) reads as NTZ under PySpark 4.x. The session
    timezone is pinned to UTC (session.py), so ``cast("timestamp")``
    reinterprets NTZ wall time as UTC — value-preserving — and the two
    dtypes yield identical epochs. Raises for non-timestamp dtypes so a
    silently-wrong unit (e.g. epoch seconds in a long) can't slip
    through; callers with genuinely numeric time handle that branch
    themselves.
    """
    dtype = dict(df.dtypes)[time_col]
    col = F.col(time_col)
    if dtype == "timestamp_ntz":
        return F.unix_micros(col.cast("timestamp"))
    if dtype.startswith("timestamp"):
        return F.unix_micros(col)
    raise TypeError(
        f"epoch_micros: column {time_col!r} has dtype {dtype!r}; expected a "
        "timestamp/timestamp_ntz column"
    )

# strftime directives the reference's format strings use → java.time.
_STRFTIME_TO_JAVA = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%b": "MMM",
    "%z": "xx",
    "%%": "%",
}


def strftime_to_java(fmt: str) -> str:
    """Translate the strftime subset used by the reference's configurable
    prefix/filename formats (README.md:61, utils.rs:54) into a
    java.time pattern, quoting literal text."""
    out: list[str] = []
    literal: list[str] = []

    def flush() -> None:
        if literal:
            text = "".join(literal).replace("'", "''")
            out.append(f"'{text}'")
            literal.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            if directive in _STRFTIME_TO_JAVA:
                flush()
                out.append(_STRFTIME_TO_JAVA[directive])
                i += 2
                continue
        literal.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


def align_left(epoch: Column, align_seconds: int) -> Column:
    """G1 — tumbling-window start (left-closed):  ts - ts % align
    (s3logs/src/utils.rs:229-231). Input/output: epoch seconds (long)."""
    return epoch - epoch % F.lit(align_seconds)


def window_start(ts: Column, align_seconds: int) -> Column:
    """Window-start epoch seconds for a timestamp column."""
    return align_left(F.unix_timestamp(ts), align_seconds)


def shifted(ts: Column, tz_offset_seconds: int) -> Column:
    """Apply the configured fixed TZ offset (s3logs/src/utils.rs:477-494)
    before formatting partition names."""
    if tz_offset_seconds == 0:
        return ts
    return F.timestamp_add("SECOND", F.lit(tz_offset_seconds), ts)


def partition_prefix(ts: Column, prefix_fmt: str, tz_offset_seconds: int = 0) -> Column:
    """W5 key calc — the Hive-style prefix string, e.g.
    ``year=2024/month=05/day=12/hour=09`` (README.md:61;
    s3logs/src/utils.rs:1396-1415)."""
    return F.date_format(shifted(ts, tz_offset_seconds), strftime_to_java(prefix_fmt))

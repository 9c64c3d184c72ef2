"""The parser expression bundle: P1-P7 of SURVEY.md §2.2.

The reference tokenizes each S3 access-log line with a single PCRE2
alternation — bracketed datetime | quoted string | bare token
(s3logs/src/utils.rs:42, extract_full :273-291) — and has two cheap
single-field extractors for the timestamp (:249-262) and source bucket
(:266-271). All three are plain alternation/character-class regexes, so
they express directly as Spark `regexp_*` built-ins and stay inside
whole-stage codegen: no UDFs anywhere in the parse path.

Design note (Spark-first): the reference parses row-at-a-time in Rust;
here each op is one vectorized JVM expression over a `value: string`
column, and Catalyst is free to prune/reorder. At 100 TB the parser is
a map-only stage — no shuffle — so throughput scales linearly with
executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s3logs_parquet_spark.schema import LOG_FIELDS

# One token of a log line. Mirrors the reference alternation
# (s3logs/src/utils.rs:42) but matches the WHOLE token (delimiters
# included) so a single regexp_extract_all(..., 0) call tokenizes the
# line; delimiters are stripped afterwards by shape. Semantics match the
# reference exactly:
#   - only datetime-shaped [..] groups are treated as one token; other
#     bracketed text falls through to the bare alternative with brackets
#     excluded, token-splitting its interior — same as the reference.
#   - quoted strings require >= 1 char, like the reference's "([^"]+)".
TOKEN_PATTERN = r'\[\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} \+\d{4}\]|"[^"]+"|[^\s"\[\]]+'

# Timestamp extractor regex (s3logs/src/utils.rs:43): third field,
# bracketed. Unanchored search like the reference.
TS_PATTERN = r"(\S+) (\S+) \[([^\]]+)\]"

# Source bucket = 2nd whitespace token (s3logs/src/utils.rs:44).
BUCKET_PATTERN = r"(\S+) (\S+)"

# S3 access-log time format, java.time syntax for the reference's
# "%d/%b/%Y:%H:%M:%S %z" (s3logs/src/utils.rs:45).
TIME_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"


def tokenize(line: Column) -> Column:
    """P1 — split one log line into an ordered array<string> of fields,
    quote/bracket aware, with delimiters stripped.
    """
    raw = F.regexp_extract_all(line, F.lit(TOKEN_PATTERN), 0)
    return F.transform(
        raw,
        lambda t: F.when(
            t.startswith("[") | t.startswith('"'),
            # strip one leading+trailing delimiter char
            t.substr(F.lit(2), F.length(t) - 2),
        ).otherwise(t),
    )


def extract_ts(line: Column) -> Column:
    """P2 — event timestamp of a raw line, or NULL if unparseable (F1's
    filter key). try_to_timestamp keeps ANSI mode crash-free."""
    ts_str = F.regexp_extract(line, TS_PATTERN, 3)
    return F.try_to_timestamp(F.nullif(ts_str, F.lit("")), F.lit(TIME_FORMAT))


def extract_bucket(line: Column) -> Column:
    """P3 — source bucket (2nd whitespace token)."""
    return F.regexp_extract(line, BUCKET_PATTERN, 2)


def with_tokens(df: DataFrame, line_col: str = "value") -> DataFrame:
    """P1 as a frame step: ``df`` plus the pinned token array ``_toks``.

    Every field, the timestamp and the dedup keys are then read from
    that one column with :func:`field_exprs` / :data:`TS_EXPR`, so a
    plan can carry ``_toks`` through its shuffles and project the
    fields once, at the end (the batch ETL does; see plans/batch.py).
    """
    if "_toks" in df.columns:
        raise ValueError(
            "with_tokens: input already has a '_toks' column — "
            "rename it (used as the tokenizer staging column)"
        )
    # The array is pinned behind an always-true nondeterministic no-op
    # (the with_quality_and_lang pattern, text_analysis.py): a
    # projection references it ~28 times (26 fields + ts + n_fields)
    # and the optimizer would otherwise inline the full regexp+transform
    # tree into every reference — 25 copies in the optimized plan.
    # Honest effect (PERF.md round 10): ~1.16x at a 200k-line probe
    # (178k → 206k lines/s), NOT 25x — these references are
    # unconditionally evaluated, so Spark's RUNTIME subexpression
    # elimination already recovered most of the work (unlike the
    # curation gate's copies, which sat inside when/CASE branches where
    # CSE does not apply). Staging still wins: smaller plans/codegen,
    # an explicit guarantee instead of a runtime optimization contingent
    # on expression shape, and the F1 `ts IS NOT NULL` gate can no
    # longer re-expand the tokenizer into a pushed filter (a separate
    # operator, outside CSE's scope). Values are unchanged (the branch
    # is always taken).
    # Pushdown consequence (ADVICE round 10): the pin blocks pushdown
    # of ALL later predicates, so selective filters on columns that
    # exist BEFORE the parse (source path, date partition) must be
    # applied to ``df`` first — after this call they no longer reach
    # the scan (see with_quality_and_lang's docstring for the pinned
    # test).
    return df.withColumn(
        "_toks", F.when(F.spark_partition_id() >= 0, tokenize(F.col(line_col)))
    )


# P2 over the token array: the timestamp comes from the already
# tokenized Time field (index 2) rather than a second full-line regex —
# profiling showed the extra regex pass cost 3x total parse throughput
# (169k → 512k lines/s at 200k lines on local[32]); outcomes are
# identical for both well-formed and garbage lines (either way a
# non-time third token fails try_to_timestamp).
TS_EXPR = f"try_to_timestamp(get(_toks, 2), '{TIME_FORMAT}')"


def field_expr(i: int) -> str:
    """Field ``i`` (0-based) of ``_toks``, short rows padded with ''
    (P6, s3logs/src/utils.rs:1110-1117). ``get`` is NULL past the end
    and ANSI-safe."""
    return f"coalesce(get(_toks, {i}), '')"


def field_exprs(
    names: tuple[str, ...],
    extra_fields: int = 0,
    extra_prefix: str = "ExtraField",
    replace_time: bool = False,
) -> list[str]:
    """The one field projection over ``_toks``: the named schema fields
    (padded, P6), then ``extra_fields`` nullable ``{extra_prefix}{N}``
    widening columns numbered on from the schema's width (M3).

    SQL strings, so one selectExpr analyses the whole projection in a
    single pass: 45 -> 16 ms per call on a warm local[4] session,
    against a select over ~28 Column objects (same schema and rows)."""
    exprs: list[str] = []
    for i, name in enumerate(names):
        c = field_expr(i)
        if replace_time and i == 2:  # Time is positionally field 3 (utils.rs:43)
            # P7, the dormant Time-replace branch (utils.rs:282-286):
            # the Time field rewritten as its epoch-seconds string
            c = f"coalesce(CAST(unix_timestamp({TS_EXPR}) AS STRING), {c})"
        exprs.append(f"{c} AS {_quoted(name)}")
    for j in range(extra_fields):
        idx = len(names) + j
        exprs.append(f"get(_toks, {idx}) AS {_quoted(f'{extra_prefix}{idx + 1}')}")
    return exprs


def parse_s3_access_log(
    df: DataFrame,
    line_col: str = "value",
    extra_fields: int = 0,
    extra_prefix: str = "ExtraField",
    replace_time: bool = False,
    fields: tuple[str, ...] | None = None,
) -> DataFrame:
    """P1-P7 fused: raw lines → typed log rows, i.e. :func:`with_tokens`
    then :func:`field_exprs`.

    Output columns: the 26 schema fields (short rows padded with '' —
    P6, s3logs/src/utils.rs:1110-1117), optional ``ExtraField{N}``
    widening columns (nullable), ``ts`` timestamp (NULL = unparseable,
    F1), and ``n_fields`` (token count, drives the widening decision).
    One narrow projection; no shuffle, no Python.

    ``fields`` overrides the built-in 26-name list with one loaded from
    a config schema file (schema.log_schema_from_file — the
    reference's startup path, utils.rs:781-791); widening numbers
    continue from the custom schema's width, like the reference's
    ExtraField{N} naming continues from its loaded schema's len.
    """
    names = tuple(fields) if fields is not None else LOG_FIELDS
    return with_tokens(df, line_col).selectExpr(
        *field_exprs(names, extra_fields, extra_prefix, replace_time),
        f"{TS_EXPR} AS ts",
        "size(_toks) AS n_fields",
    )


def _quoted(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def max_field_count(parsed: DataFrame) -> int:
    """Pass 1 of the adaptive-widening protocol (M3): the max token
    count over a batch. The reference learns this mid-write and restarts
    the file pass (s3logs/src/utils.rs:1066-1069, 1213-1235); in Spark
    it is one cheap map-side-combined aggregate."""
    row = parsed.agg(F.max("n_fields").alias("m")).collect()[0]
    return int(row["m"] or 0)

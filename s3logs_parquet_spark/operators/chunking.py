"""Context-window document chunking: fixed token windows with overlap.

The training-data prep step between curation and tokenization, where
long documents are cut into model-context
sized windows (e.g. 2048 tokens with a 256-token overlap) so no span
is lost at a window boundary. Out of reference scope — the reference
(`/root/reference`, a log ETL daemon) never re-shapes documents; this
is part of the LLM-pipeline extension surface (SURVEY §6).

Scale shape: map-only. One whitespace split, one per-row
``sequence()`` explode, one ``slice`` per chunk — no shuffle, no UDF,
all inside whole-stage codegen. Output row count ≈ corpus tokens /
stride, each row carrying only its own chunk text, so the operator
streams at scan speed on any number of executors. The token array is
materialized once per row and sliced per chunk (Spark evaluates the
split once per input row, not per exploded row: the explode sits
above the project in the physical plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 2048,
    stride: int = 1792,
    out_prefix: str = "chunk",
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Split each document into token windows of ``chunk_size``
    tokens, starting every ``stride`` tokens
    (overlap = chunk_size - stride).

    ``tokenizer``: ``"whitespace"`` (default) windows over
    whitespace-delimited words and the chunk text round-trips the
    corpus modulo whitespace normalization; ``"bpe"`` windows over the
    BPE-ish pre-tokenizer segmentation (letter runs / digit runs /
    single punctuation — functions/text_analysis._BPE_TOKEN), so window
    sizes align with what a subword tokenizer will later see. BPE-mode
    chunk text is the tokens space-joined — a deterministic token view,
    NOT a byte-faithful slice of the original ("don't" → "don ' t").

    Output: the ``id_col`` plus ``{out_prefix}_idx`` (0-based window
    index), ``{out_prefix}_text`` (the window's tokens re-joined with
    single spaces — whitespace-normalized by construction) and
    ``{out_prefix}_tokens`` (window token count; only the last window
    of a doc can be short).

    Chunk-count contract: every document with non-null text yields at
    least one chunk (an empty/whitespace doc yields one empty chunk —
    the caller filters, the operator never drops rows silently); a doc
    with n > chunk_size tokens yields 1 + ceil((n - chunk_size) /
    stride) chunks, so the final window always reaches the last token.
    NULL text propagates a null token array whose explode emits no
    rows — null-text docs DROP (verified identical in DuckDB: unnest
    of a null series) — count them upstream if the corpus allows them.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"stride must be in (0, chunk_size={chunk_size}], got {stride}"
        )
    if tokenizer == "whitespace":
        # Case-preserving whitespace tokens (functions/text_analysis.words
        # lowercases for analysis; chunk text must round-trip the corpus).
        toks = F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
        )
    elif tokenizer == "bpe":
        from s3logs_parquet_spark.functions.text_analysis import _BPE_TOKEN

        toks = F.regexp_extract_all(F.col(text_col), F.lit(_BPE_TOKEN), 0)
    else:
        raise ValueError(f"tokenizer must be whitespace|bpe, got {tokenizer!r}")
    nt = F.size("_toks")
    # integer ceil((nt - chunk)/stride); exact: values are far below
    # 2^52 so the double division floor is the integer result
    extra = F.floor((nt - F.lit(chunk_size) + F.lit(stride - 1)) / F.lit(stride))
    n_chunks = F.when(nt <= chunk_size, F.lit(1)).otherwise(
        (F.lit(1) + extra).cast("int")
    )
    ci = F.col(f"{out_prefix}_idx")
    chunk_toks = F.slice(F.col("_toks"), ci * stride + 1, chunk_size)
    return (
        df.withColumn("_toks", toks)
        .withColumn(
            f"{out_prefix}_idx",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)),
        )
        .withColumn(f"{out_prefix}_text", F.concat_ws(" ", chunk_toks))
        .withColumn(f"{out_prefix}_tokens", F.size(chunk_toks))
        .drop("_toks")
    )

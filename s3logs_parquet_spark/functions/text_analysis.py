"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (split/regexp/aggregate lambdas) — JVM-side
whole-stage codegen, map-only, no shuffle: each scales linearly to any
corpus size. Every op is designed to be re-expressible in ANSI SQL so
the DuckDB differential oracle checks exact values (see
plans/docs_text.py for the twin SQL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.hashing import MERSENNE_31, hash32

# Split on ASCII whitespace runs. trim first so no empty edge tokens.
_WS = r"\s+"


def words(text: Column) -> Column:
    """Lowercased whitespace tokens; empty text → empty array."""
    t = F.lower(F.trim(text))
    return F.filter(F.split(t, _WS), lambda w: w != "")


# BPE-ish subword segmentation: letter-runs, digit-runs, and single
# punctuation marks each count as one token — the classic pre-tokenizer
# shape (GPT-2-style contractions omitted for SQL portability).
_BPE_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# --- quality scoring -------------------------------------------------------

# Tiny embedded stopword lists (public, standard closed-class words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "de", "est", "pour", "dans", "que", "une"],
    "es": ["el", "la", "los", "de", "que", "es", "para", "con", "una", "por"],
}


def _stopword_hits(ws: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / word-shape features.

    Ratios are doubles in [0,1]; callers round before oracle compare.
    """
    ws = words(text)
    n_words = F.size(ws)
    n_chars = F.length(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_stop = _stopword_hits(ws, "en")
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0),
        "stopword_ratio": F.when(n_words > 0, n_stop.cast("double") / n_words).otherwise(0.0),
        "mean_word_len": mean_word_len,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards stopword presence and
    sane word lengths, penalizes punctuation soup and trivial length.
    Deterministic arithmetic over the features (portable to SQL)."""
    f = quality_features(text)
    length_ok = F.least(f["n_words"].cast("double") / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    punct_ok = F.greatest(F.lit(1.0) - f["punct_ratio"] * 5.0, F.lit(0.0))
    wordlen_ok = F.when(
        (f["mean_word_len"] >= 3.0) & (f["mean_word_len"] <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return (length_ok * 0.3 + stop_ok * 0.3 + punct_ok * 0.2 + wordlen_ok * 0.2)


# --- language ID -----------------------------------------------------------


def langid(text: Column) -> Column:
    """n-gram/stopword heuristic language ID over {en,de,fr,es}:
    language with the most stopword hits; ties and zero hits → 'und'
    (undetermined). Greater-than comparisons make the tie-break
    deterministic and SQL-portable (first language in fixed order wins
    ties only if strictly greater than all later ones... i.e. ties →
    'und')."""
    ws = words(text)
    hits = {lang: _stopword_hits(ws, lang) for lang in STOPWORDS}
    langs = list(STOPWORDS)
    best = F.lit("und")
    best_hits = F.lit(0)
    # iterate in fixed order; strict > keeps first-wins-on-tie = no, ties fall through to 'und'
    for lang in langs:
        cond = hits[lang] > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    return best


def with_quality_and_lang(
    df,
    text_col: str = "text",
    quality_col: str = "quality",
    lang_col: str = "lang_pred",
    round_quality: int | None = 6,
    emit: tuple[str, ...] = ("quality", "lang"),
    keep_features: bool = False,
):
    """``quality_score`` + ``langid`` as ONE shared-work plan:
    adds ``quality_col``/``lang_col`` to ``df`` with values IDENTICAL
    to the expression functions above (same arithmetic, same
    tie-breaks), but the words array and each language's stopword-hit
    count are named intermediate columns computed exactly once.

    Why this exists: the pure-Column forms duplicate their subtrees —
    langid's when-chain references each ``hits[lang]`` several times
    and every reference embeds its own split+filter scan, and codegen
    subexpression elimination does not cover higher-order functions —
    so the fused quality+langid projection evaluated split() ~15x per
    row. Multi-referenced non-cheap aliases block CollapseProject, so
    staging them as real columns pins one evaluation each. Profiled on
    the streaming curation pipeline (PERF.md round 9): the gate stage
    dropped ~4x; values bit-identical (pinned by
    tests/test_text_functions.py::test_with_quality_and_lang_matches_expressions).

    The ``_ws`` stage is additionally wrapped in an always-true
    nondeterministic no-op (``when(spark_partition_id() >= 0, ws)`` —
    the id is non-negative by contract, so the value is always ``ws``;
    ``rand() > -1`` does NOT work, Spark 4's optimizer knows rand's
    range and folds the branch away): CollapseProject's cost guard
    does not extend to
    predicate pushdown, so a caller's
    ``.filter(quality >= t & lang_pred.isin(...))`` — i.e. EVERY
    curation gate — was rewritten through the staging projections,
    re-expanding the split+stopword subtree into the pushed predicate
    ~37 times per row (measured round 10: the gate+filter plan held 37
    ``split()`` / 68 HOF-filter copies and ran 7.5 s per 50k docs vs
    0.33 s unfiltered). PushDownPredicates only substitutes through
    deterministic projections, so the no-op pins the filter ABOVE the
    tokenize stage; the residual duplication (stopword counts over the
    staged array) is array-local and cheap. Values are unchanged — the
    wrapper's branch is always taken — and the single-split plan shape
    is pinned by
    tests/test_text_functions.py::test_gate_filter_does_not_reexpand_tokenize.

    **Pushdown consequence (ADVICE round 10)**: the nondeterministic
    pin stops PushDownPredicates at this projection for ALL predicates,
    not just the quality/lang gate — a caller filtering a selective
    UNRELATED column (source, date partition) AFTER this helper pays a
    full scan plus full gate compute before its filter runs. Apply
    selective source filters to ``df`` BEFORE calling (partition/scan
    pruning happens below this projection, where it belongs); the same
    rule holds for :func:`functions.parse.parse_s3_access_log`'s staged
    tokenizer. Pinned by
    tests/test_text_functions.py::test_selective_filter_before_helper_prunes_scan.

    ``emit`` (round 10) narrows the staged work to what the caller
    consumes: ``("lang",)`` skips the punctuation regexp, word-length
    fold and quality arithmetic; ``("quality",)`` skips the three
    non-English stopword passes and the argmax chain. The round-10
    plan audit found the PURE forms doing 11-26 tokenizations per row
    at the single-output call sites (q_docs_langid: 26 ``split()``
    copies — langid's when-chain duplication is internal to the
    expression, no filter needed) — those callers route here instead.
    ``keep_features=True`` additionally emits the raw feature columns
    ``n_words``/``punct_ratio``/``stopword_ratio`` (unrounded doubles,
    exactly :func:`quality_features`' values) for scoring surfaces.
    """
    bad = set(emit) - {"quality", "lang"}
    if bad or not emit:
        raise ValueError(
            f"with_quality_and_lang: emit must be a non-empty subset of "
            f"('quality', 'lang'), got {emit!r}"
        )
    want_q = "quality" in emit
    want_l = "lang" in emit
    if keep_features and not want_q:
        raise ValueError(
            "with_quality_and_lang: keep_features requires 'quality' in emit"
        )
    text = F.col(text_col)
    sw_langs = list(STOPWORDS) if want_l else ["en"]
    staging = ["_ws", "_n_words", "_n_chars", "_n_punct", "_mwl_sum"] + [
        f"_sw_{lang}" for lang in sw_langs
    ]
    feature_names = ["n_words", "punct_ratio", "stopword_ratio"] if keep_features else []
    clash_out = sorted(set(feature_names) & set(df.columns))
    if clash_out:
        raise ValueError(
            f"with_quality_and_lang: keep_features would overwrite existing "
            f"columns {clash_out} — rename them first"
        )
    clash = sorted(set(staging) & set(df.columns))
    if clash:
        raise ValueError(
            f"with_quality_and_lang: input already has staging columns {clash} "
            "— rename them (they would be silently overwritten and dropped)"
        )
    def _pin(c: Column) -> Column:
        # always-true nondeterministic no-op: pins a pushed-down filter
        # ABOVE this projection tier (see docstring)
        return F.when(F.spark_partition_id() >= 0, c)

    ws = _pin(words(text))
    hit_cols = {
        f"_sw_{lang}": _pin(_stopword_hits(F.col("_ws"), lang)) for lang in sw_langs
    }
    tier2: dict[str, Column] = {**hit_cols, "_n_words": F.size(F.col("_ws"))}
    if want_q:
        tier2["_n_chars"] = F.length(text)
        tier2["_n_punct"] = _pin(
            F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
        )
        tier2["_mwl_sum"] = _pin(
            F.aggregate(F.col("_ws"), F.lit(0), lambda acc, w: acc + F.length(w))
        )
    staged = df.withColumn("_ws", ws).withColumns(tier2)

    out_cols: dict[str, Column] = {}
    n_words = F.col("_n_words")
    if want_q:
        n_chars = F.col("_n_chars")
        punct_ratio = F.when(
            n_chars > 0, F.col("_n_punct").cast("double") / n_chars
        ).otherwise(0.0)
        stopword_ratio = F.when(
            n_words > 0, F.col("_sw_en").cast("double") / n_words
        ).otherwise(0.0)
        mean_word_len = F.when(
            n_words > 0, F.col("_mwl_sum").cast("double") / n_words
        ).otherwise(F.lit(0.0))
        length_ok = F.least(n_words.cast("double") / F.lit(20.0), F.lit(1.0))
        stop_ok = F.least(stopword_ratio * 4.0, F.lit(1.0))
        punct_ok = F.greatest(F.lit(1.0) - punct_ratio * 5.0, F.lit(0.0))
        wordlen_ok = F.when(
            (mean_word_len >= 3.0) & (mean_word_len <= 10.0), F.lit(1.0)
        ).otherwise(F.lit(0.5))
        quality = length_ok * 0.3 + stop_ok * 0.3 + punct_ok * 0.2 + wordlen_ok * 0.2
        if round_quality is not None:
            quality = F.round(quality, round_quality)
        out_cols[quality_col] = quality
        if keep_features:
            out_cols["n_words"] = n_words.cast("long")
            out_cols["punct_ratio"] = punct_ratio
            out_cols["stopword_ratio"] = stopword_ratio

    if want_l:
        best = F.lit("und")
        best_hits = F.lit(0)
        for lang in STOPWORDS:  # same fixed order + strict > as langid()
            cond = F.col(f"_sw_{lang}") > best_hits
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_hits = F.when(cond, F.col(f"_sw_{lang}")).otherwise(best_hits)
        out_cols[lang_col] = best

    return staged.withColumns(out_cols).drop(
        "_ws", "_n_words", "_n_chars", "_n_punct", "_mwl_sum", *hit_cols
    )


# --- fingerprinting --------------------------------------------------------


def fingerprint(text: Column, base: int = 1_000_003) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over per-word portable hashes, mod 2^31-1.

        fp = fold(words, 0, (acc, w) -> (acc*base + hash32(w)) mod M)

    Same text → same fp; any reorder/edit → different fp (whp). Exactly
    reproducible in DuckDB list_reduce."""
    ws = words(text)
    return F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(base) + hash32(w)) % F.lit(MERSENNE_31),
    )


def _winnowing_wins(df, id_col: str, text_col: str, k: int, window: int):
    """Shared winnowing pipeline: (id, _i, _m) rows where _m is the
    window-min k-gram hash at gram index _i (pre-dedup)."""
    from pyspark.sql import Window as W

    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    g = df.select(F.col(id_col), F.posexplode(ws).alias("_i", "_w"))
    seq = W.partitionBy(id_col).orderBy("_i")
    per_doc = W.partitionBy(id_col)
    gram = F.concat_ws(" ", "_w", *[F.lead("_w", j).over(seq) for j in range(1, k)])
    grams = (
        g.select(
            F.col(id_col),
            F.col("_i"),
            gram.alias("_g"),
            F.count(F.lit(1)).over(per_doc).alias("_n"),
        )
        .filter(F.col("_i") <= F.greatest(F.col("_n") - F.lit(k), F.lit(0)))
        .select(id_col, "_i", hash32(F.col("_g")).alias("_h"))
    )
    roll = W.partitionBy(id_col).orderBy("_i").rowsBetween(0, window - 1)
    return grams.select(
        F.col(id_col),
        F.col("_i"),
        F.min("_h").over(roll).alias("_m"),
        F.max("_i").over(per_doc).alias("_last"),
    ).filter(F.col("_i") <= F.greatest(F.col("_last") - F.lit(window - 1), F.lit(0)))


def winnowing_fingerprint_rows(
    df, id_col: str, text_col: str, k: int = 5, window: int = 4
):
    """(id, fp) rows — one row per distinct selected fingerprint per
    doc. The long-format fingerprint table that contamination checks
    and fingerprint indexes join on; at scale this is the table you
    precompute write-side and keep bucketed by fp."""
    wins = _winnowing_wins(df, id_col, text_col, k, window)
    return wins.select(F.col(id_col), F.col("_m").alias("fp")).distinct()


# --- cleaning / repetition signals ----------------------------------------


def clean_text(text: Column) -> Column:
    """Normalization for training corpora: strip HTML-ish tags, drop
    control characters, collapse whitespace runs, trim. Pure regexp
    chain — portable to any engine with POSIX-ish regex."""
    no_tags = F.regexp_replace(text, r"<[^>]*>", " ")
    no_ctrl = F.regexp_replace(no_tags, r"[\x00-\x1f]", " ")
    collapsed = F.regexp_replace(no_ctrl, r"\s+", " ")
    return F.trim(collapsed)


def with_repetition_signals(
    df,
    text_col: str = "text",
    word_col: str = "dup_word_ratio",
    bigram_col: str = "dup_bigram_ratio",
):
    """Gopher-style within-document repetition signals as a staged plan
    (the with_quality_and_lang pattern): the fraction of duplicate words
    and of duplicate word-bigrams, whose high values flag boilerplate
    and spam. A dict-of-Columns form re-derives the words array per
    reference (~16 ``split()`` copies in q_docs_clean_and_repetition's
    optimized plan, round-10 audit); here the words array and the bigram
    array are pinned staging columns evaluated once (the oracle
    differential covers the values)."""
    staging = ["_rs_ws", "_rs_bg"]
    clash = sorted(set(staging + [word_col, bigram_col]) & set(df.columns))
    if clash:
        raise ValueError(
            f"with_repetition_signals: input already has columns {clash} "
            "— rename them (they would be silently overwritten)"
        )

    def _pin(c: Column) -> Column:
        # always-true nondeterministic no-op — same pushdown/collapse
        # barrier with_quality_and_lang documents
        return F.when(F.spark_partition_id() >= 0, c)

    ws = F.col("_rs_ws")
    n = F.size(ws)
    bigrams = F.zip_with(
        ws, F.slice(ws, 2, 2_000_000_000), lambda a, b: F.concat_ws(" ", a, b)
    )
    bigrams = F.slice(bigrams, 1, F.greatest(n - F.lit(1), F.lit(0)))
    staged = df.withColumn("_rs_ws", _pin(words(F.col(text_col)))).withColumn(
        "_rs_bg", _pin(bigrams)
    )
    bg = F.col("_rs_bg")
    uniq = F.size(F.array_distinct(ws))
    nb = F.size(bg)
    uniqb = F.size(F.array_distinct(bg))
    return staged.withColumns(
        {
            word_col: F.when(n > 0, (n - uniq).cast("double") / n).otherwise(0.0),
            bigram_col: F.when(nb > 0, (nb - uniqb).cast("double") / nb).otherwise(0.0),
        }
    ).drop("_rs_ws", "_rs_bg")


# PII redaction rules, applied IN ORDER (order matters: an SSN or IPv4
# is also a superstring match for the greedy phone pattern, so the
# specific patterns run first and replace digits with digit-free
# tokens the later patterns can't re-match). Patterns are restricted
# to syntax shared by Java regex (Spark) and RE2 (DuckDB/Go) so the
# redaction is engine-portable and differential-testable.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def pii_signals(text: Column) -> dict[str, Column]:
    """Per-rule match counts alongside the redacted text. Counts are
    taken at each rule's stage of the redaction chain (on the text as
    already redacted by earlier rules), so a digit run is attributed
    to exactly one rule — the same accounting an auditor replaying the
    chain would get."""
    out = text
    cols: dict[str, Column] = {}
    for name, pat, repl in PII_RULES:
        cols[f"n_{name}"] = F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, repl)
    cols["redacted"] = out
    return cols


def ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams as an array<string> (space-joined) — map-only
    slice/array_join codegen, the shared expansion under
    dup_ngram_fraction and top_ngrams. Texts with < n words yield an
    empty array."""
    ws = words(text)
    n_lit = F.lit(int(n))
    return F.when(
        F.size(ws) >= n_lit,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - n_lit + 1),
            lambda i: F.array_join(F.slice(ws, i, n_lit), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_ngrams(docs, id_col: str = "doc_id", text_col: str = "text", n: int = 3, k: int = 20):
    """Corpus-level top-k n-grams by total occurrence count, with the
    document frequency alongside — the discovery query behind
    boilerplate blocklists (dup_ngram_fraction consumes a threshold;
    this is how an operator of a 100 TB corpus finds what to
    threshold on).

    Plan: map-only n-gram expansion → explode → ONE hash-agg keyed by
    n-gram computing both total occurrences and distinct-document
    frequency (count distinct under the same grouping — Spark plans it
    as a two-phase partial/final expand, still a single exchange family
    keyed by the n-gram) → TakeOrderedAndProject for the top k (no
    global sort; each partition ships only k rows to the driver).
    Ties break on the gram string so the ranking is engine-portable.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(ngrams(F.col(text_col), n)).alias("ngram"),
    )
    counted = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    return counted.orderBy(
        F.desc("n_occurrences"), F.asc("ngram")
    ).limit(int(k))

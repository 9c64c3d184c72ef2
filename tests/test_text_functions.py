"""Unit tests for text-analysis primitives on hand-computed examples."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.text_analysis import (
    clean_text,
    fingerprint,
    langid,
    with_repetition_signals,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_clean_text(spark):
    got = _one(spark, clean_text(F.lit("<p>Hello   <b>world</b></p>\x07 !")))
    assert got == "Hello world !"


def test_repetition_signals(spark):
    df = spark.createDataFrame([("a a a b",)], "text string")
    row = with_repetition_signals(df).select(
        F.col("dup_word_ratio").alias("w"), F.col("dup_bigram_ratio").alias("b")
    ).collect()[0]
    assert abs(row["w"] - 0.5) < 1e-9       # 4 words, 2 distinct
    assert abs(row["b"] - 1 / 3) < 1e-9     # bigrams: aa,aa,ab → 2 distinct of 3


def test_langid_examples(spark):
    assert _one(spark, langid(F.lit("the cat and the dog in the house"))) == "en"
    assert _one(spark, langid(F.lit("der hund und die katze ist hier"))) == "de"
    assert _one(spark, langid(F.lit("zzz qqq www"))) == "und"


def test_fingerprint_order_sensitive(spark):
    a = _one(spark, fingerprint(F.lit("alpha beta gamma")))
    b = _one(spark, fingerprint(F.lit("beta alpha gamma")))
    c = _one(spark, fingerprint(F.lit("alpha beta gamma")))
    assert a == c and a != b


def test_pii_redaction_rules(spark):
    """Rule order attribution: SSNs and IPs must not be eaten by the
    greedy phone pattern; every digit-bearing PII span is replaced."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.functions.text_analysis import pii_signals

    text = (
        "alice@example.com wrote from 10.1.2.3 ssn 123-45-6789 "
        "call +1 (555) 123-4567 about order 7"
    )
    df = spark.createDataFrame([(text,)], "text string")
    sig = pii_signals(F.col("text"))
    row = df.select(
        *[sig[k].alias(k) for k in ("n_email", "n_ssn", "n_ipv4", "n_phone", "redacted")]
    ).collect()[0]
    assert (row["n_email"], row["n_ssn"], row["n_ipv4"], row["n_phone"]) == (1, 1, 1, 1)
    assert row["redacted"] == (
        "<EMAIL> wrote from <IP> ssn <SSN> call <PHONE> about order 7"
    )


def test_top_ngrams_counts_and_ties(spark):
    from s3logs_parquet_spark.functions.text_analysis import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),       # "a b c" x2, "b c a" x1, "c a b" x1
            (2, "a b c d"),           # "a b c", "b c d"
            (3, "x y"),               # < 3 words -> no ngrams
            (4, "b c d"),             # "b c d"
        ],
        "doc_id long, text string",
    )
    out = top_ngrams(docs, "doc_id", "text", n=3, k=3).collect()
    rows = [(r["ngram"], r["n_occurrences"], r["n_docs"]) for r in out]
    # "a b c": 3 occurrences over 2 docs; then ties at 2 occurrences
    # ("b c d", 2 docs) resolve alphabetically before the 1-occurrence tail
    assert rows[0] == ("a b c", 3, 2)
    assert rows[1] == ("b c d", 2, 2)
    assert rows[2][1] == 1 and rows[2][0] == min(x for x, n, _ in [
        ("b c a", 1, 1), ("c a b", 1, 1), ("b c a", 1, 1)
    ])


def test_with_quality_and_lang_matches_expressions(spark, sf_dir):
    """Round-9 shared-work gate: with_quality_and_lang must produce
    BIT-IDENTICAL quality and lang_pred to the pure-Column
    quality_score()/langid() forms over the full sf corpus plus the
    edge rows (empty, NULL, punct soup, non-English, ties)."""
    from s3logs_parquet_spark.functions.text_analysis import (
        langid,
        quality_score,
        with_quality_and_lang,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (10_000_001, ""),
            (10_000_002, None),
            (10_000_003, "!!! ??? ..."),
            (10_000_004, "der die das und ist von mit"),
            (10_000_005, "le la les et de est pour"),
            (10_000_006, "the der"),  # 1-1 tie -> und
            (10_000_007, "x"),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    fused = with_quality_and_lang(both, "text")
    expr = both.withColumn(
        "quality_e", F.round(quality_score(F.col("text")), 6)
    ).withColumn("lang_e", langid(F.col("text")))
    j = fused.join(expr.select("doc_id", "quality_e", "lang_e"), "doc_id")
    bad = j.filter(
        (~F.col("quality").eqNullSafe(F.col("quality_e")))
        | (~F.col("lang_pred").eqNullSafe(F.col("lang_e")))
    )
    assert bad.count() == 0
    assert fused.count() == both.count()
    # staging-name collisions fail loud, never silently clobber
    import pytest

    with pytest.raises(ValueError, match="staging columns"):
        with_quality_and_lang(both.withColumn("_ws", F.lit(1)), "text")


def test_gate_filter_does_not_reexpand_tokenize(spark, sf_dir):
    """Round-10 gate-plan pin: a quality/language FILTER above
    with_quality_and_lang must not be pushed through the staging
    projections — PushDownPredicates' substitution re-expanded the
    split+stopword subtree into the pushed predicate ~37x per row
    (measured: 7.5 s vs 0.7 s per 50k docs), the dominant per-trigger
    cost of the curation stream and the batch gate alike. The staged
    tiers carry an always-true nondeterministic no-op exactly so the
    filter stays above them; this pins the resulting plan shape (one
    tokenize, one stopword pass per language) against optimizer drift."""
    from s3logs_parquet_spark.functions.text_analysis import (
        STOPWORDS,
        with_quality_and_lang,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    flt = with_quality_and_lang(docs, "text").filter(
        (F.col("quality") >= 0.5) & F.col("lang_pred").isin("en")
    )
    plan = flt._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    # one stopword filter per language plus the tokenizer's empty-token
    # filter — any more means a projection tier got inlined again
    assert plan.count("filter(") <= len(STOPWORDS) + 1, plan
    # the pin itself must survive optimization (rand()-based variants
    # get range-folded away by Spark 4 — see with_quality_and_lang)
    assert "SPARK_PARTITION_ID" in plan.upper(), plan


def test_staged_callers_tokenize_once(spark, sf_dir):
    """Round-10 plan audit regressions: the registry queries that
    route through the staged text-analysis helpers must keep their
    single-tokenize plans (they previously re-expanded to 11-26
    split() copies via the pure Column forms' internal duplication).
    Counts are upper bounds per query so legitimately distinct uses
    (curation's shingling etc.) stay out of scope."""
    from s3logs_parquet_spark.plans.queries import QUERIES

    budgets = {
        "docs_langid": 1,
        "docs_selection_budget": 1,
        "docs_clean_and_repetition": 1,
        "docs_neardup_canonical_keep": 2,  # gate + shingle tokenizes
    }
    for name, max_splits in budgets.items():
        plan = (
            QUERIES[name][0](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("split(") <= max_splits, (name, plan.count("split("))


def test_selective_filter_before_helper_prunes_scan(spark, sf_dir):
    """ADVICE r10 documentation pin: the nondeterministic staging pin
    blocks pushdown of ALL predicates above with_quality_and_lang — so
    the documented pattern is filter-BEFORE-helper. Before: the
    selective doc_id predicate reaches the parquet scan (PushedFilters).
    After: it does not (it sits above the nondeterministic projection),
    which is exactly why the docstring tells callers to pre-filter."""
    from s3logs_parquet_spark.functions.text_analysis import with_quality_and_lang

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def scan_pushed(df) -> str:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        return next(
            (ln for ln in plan.splitlines() if "PushedFilters" in ln), ""
        )

    before = with_quality_and_lang(docs.filter(F.col("doc_id") < 10), "text")
    after = with_quality_and_lang(docs, "text").filter(F.col("doc_id") < 10)
    assert "LessThan(doc_id" in scan_pushed(before), scan_pushed(before)
    assert "LessThan(doc_id" not in scan_pushed(after), scan_pushed(after)

"""Text-analysis queries on the documents table: quality and language
features, batched inference, fingerprints, PII redaction, heavy
hitters, repetition filters, deterministic sampling and selection,
chunking, and the binary-payload metadata gate. ``_SQL_WORDS``,
``_SQL_BPE`` and ``_sql_stop_hits`` are the SQL twins of
functions/text_analysis.py primitives; docs_neardup.py reuses them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.hashing import hash32_sql
from s3logs_parquet_spark.functions.text_analysis import (
    STOPWORDS,
    fingerprint,
    with_quality_and_lang,
)
from s3logs_parquet_spark.sources.tables import load_table as _t


# SQL twins of functions/text_analysis.py primitives
_SQL_WORDS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w != '')"
_SQL_BPE = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')"


def _sql_stop_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(ws, w -> list_contains([{lst}], w)))"


def q_docs_inference_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched model inference (operators/inference.py, round 8): the
    quality-classifier shape — Arrow-batched mapInPandas scoring with
    broadcast weights. The shipped linear text model uses integer
    features x dyadic weights, so logit/label are exact in IEEE double
    and the DuckDB oracle reproduces them bit-for-bit: the gate proves
    the full plumbing (column pruning into the python boundary, batch
    contract, broadcast, passthrough ids)."""
    from s3logs_parquet_spark.operators.inference import score_documents

    d = _t(spark, sf_dir, "documents")
    return score_documents(d, "doc_id", "text")


# exact SQL twin of operators/inference.py linear_text_model: same
# integer features, same dyadic weights (2^-9, 2^-2, -2^-3, 2^-4).
# NULL text is coalesced to '' to match the model's fillna('') (a NULL
# doc scores logit=bias, it doesn't propagate NULL — ADVICE r8).
# Documented input-domain assumption: word splitting is ASCII-\s+ on
# both sides for ASCII corpora; pandas str.split() additionally splits
# on Unicode whitespace (U+00A0 etc.), DuckDB's RE2 \s does not — the
# documents fixtures are ASCII-whitespace only.
ORACLE_DOCS_INFERENCE = """
WITH f AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS n_chars,
         len(list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), w -> w != '')) AS n_words,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[0-9]', '', 'g')) AS n_digits,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[A-Z]', '', 'g')) AS n_upper
  FROM documents
)
SELECT doc_id,
       -2.0::DOUBLE + 0.001953125::DOUBLE * n_chars + 0.25::DOUBLE * n_words
            - 0.125::DOUBLE * n_digits + 0.0625::DOUBLE * n_upper AS logit,
       (-2.0::DOUBLE + 0.001953125::DOUBLE * n_chars + 0.25::DOUBLE * n_words
            - 0.125::DOUBLE * n_digits + 0.0625::DOUBLE * n_upper) >= 0.0 AS label
FROM f
"""


def q_docs_inference_mlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-model inference leg (operators/inference.py mlp_text_model,
    round 9): a two-layer ReLU MLP whose ndarray weight matrices ride
    the broadcast and whose scoring is a vectorized numpy matmul per
    Arrow batch — the payload/compute shape of an actual classifier.
    Dyadic weights x integer features keep every step exact in IEEE
    double, so the DuckDB oracle (hidden units as greatest(...,0)
    expressions) reproduces logit/label bit-for-bit."""
    from s3logs_parquet_spark.operators.inference import (
        MLP_TEXT_WEIGHTS,
        mlp_text_model,
        score_documents,
    )

    d = _t(spark, sf_dir, "documents")
    return score_documents(d, "doc_id", "text", weights=MLP_TEXT_WEIGHTS, model_fn=mlp_text_model)


# exact SQL twin of operators/inference.py mlp_text_model: the same
# dyadic W1/b1/W2/b2 constants, hidden relu as greatest(., 0.0);
# NULL text coalesced to '' matching the model's fillna('').
ORACLE_DOCS_INFERENCE_MLP = """
WITH f AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS c,
         len(list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), w -> w != '')) AS w,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[0-9]', '', 'g')) AS d,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[A-Z]', '', 'g')) AS u
  FROM documents
), h AS (
  SELECT doc_id,
         greatest(-2.0::DOUBLE + 0.001953125::DOUBLE * c + 0.25::DOUBLE * w
                  - 0.125::DOUBLE * d + 0.0625::DOUBLE * u, 0.0::DOUBLE) AS h1,
         greatest(1.0::DOUBLE - 0.00390625::DOUBLE * c + 0.5::DOUBLE * w
                  - 0.125::DOUBLE * u, 0.0::DOUBLE) AS h2,
         greatest(-0.5::DOUBLE + 0.0009765625::DOUBLE * c - 0.0625::DOUBLE * w
                  + 0.25::DOUBLE * d, 0.0::DOUBLE) AS h3,
         greatest(-1.0::DOUBLE + 0.125::DOUBLE * w + 0.0625::DOUBLE * d
                  - 0.03125::DOUBLE * u, 0.0::DOUBLE) AS h4
  FROM f
)
SELECT doc_id,
       -0.25::DOUBLE + 0.5::DOUBLE * h1 - 0.25::DOUBLE * h2
            + 0.375::DOUBLE * h3 + 0.25::DOUBLE * h4 AS logit,
       (-0.25::DOUBLE + 0.5::DOUBLE * h1 - 0.25::DOUBLE * h2
            + 0.375::DOUBLE * h3 + 0.25::DOUBLE * h4) >= 0.0 AS label
FROM h
"""


def q_docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # staged form: langid()'s when-chain duplicates each language's
    # stopword pass internally — 26 split() copies per row in the
    # optimized plan (round-10 audit); the fused helper is bit-identical
    # with ONE tokenize
    return with_quality_and_lang(
        d.select("doc_id", "text"), "text", emit=("lang",)
    ).select("doc_id", "lang_pred")


ORACLE_DOCS_LANGID = f"""
WITH h AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
), c AS (
  SELECT doc_id,
         {_sql_stop_hits('en')} AS h_en,
         {_sql_stop_hits('de')} AS h_de,
         {_sql_stop_hits('fr')} AS h_fr,
         {_sql_stop_hits('es')} AS h_es
  FROM h
)
SELECT doc_id,
       CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
            WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM c
"""


def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


ORACLE_DOCS_FINGERPRINT = f"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents)
SELECT doc_id,
       CASE WHEN len(ws) = 0 THEN 0
            ELSE list_reduce(
                   list_transform(ws, x -> {hash32_sql('x')}),
                   (acc, h) -> (acc * 1000003 + h) % 2147483647)
       END AS fp
FROM w
"""


def q_docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (80/10/10) by
    content hash — stable across runs, engines, and re-partitioning."""
    from s3logs_parquet_spark.functions.hashing import hash32

    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(hash32(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


ORACLE_DOCS_SPLIT = f"""
WITH b AS (
  SELECT doc_id, {hash32_sql("doc_id::VARCHAR")} % 100 AS bucket FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_id
FROM b GROUP BY 1
"""


def q_docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/text_analysis.py pii_signals): emails,
    SSNs, IPv4s and phone-shaped digit runs replaced with typed
    placeholders, with per-rule match counts. The corpus carries no
    real PII, so each doc is seeded with one deterministic instance of
    every type (same expression in the oracle) — the gate checks the
    full redacted TEXT value plus the counts, engine-differentially.
    Map-only regexp chain: zero shuffles at any scale."""
    from s3logs_parquet_spark.functions.text_analysis import pii_signals

    d = _t(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "_t",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 call +1 (555) 123-4567"),
        ),
    )
    sig = pii_signals(F.col("_t"))
    return seeded.select(
        "doc_id",
        sig["n_email"].cast("long").alias("n_email"),
        sig["n_ssn"].cast("long").alias("n_ssn"),
        sig["n_ipv4"].cast("long").alias("n_ipv4"),
        sig["n_phone"].cast("long").alias("n_phone"),
        sig["redacted"].alias("redacted"),
    )


def _oracle_pii_redact() -> str:
    from s3logs_parquet_spark.functions.text_analysis import PII_RULES

    sql = """
WITH s0 AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
              || (doc_id % 256)::VARCHAR || '.7 ssn 123-45-6789 call +1 (555) 123-4567' AS t
  FROM documents
)"""
    prev = "s0"
    for i, (name, pat, repl) in enumerate(PII_RULES, 1):
        counts = ", ".join(f"n_{n}" for n, _, _ in PII_RULES[: i - 1])
        carry = f"{counts}, " if counts else ""
        sql += f""", s{i} AS (
  SELECT doc_id, {carry}len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name},
         regexp_replace(t, '{pat}', '{repl}', 'g') AS t
  FROM {prev}
)"""
        prev = f"s{i}"
    names = ", ".join(f"n_{n}" for n, _, _ in PII_RULES)
    sql += f"\nSELECT doc_id, {names}, t AS redacted FROM {prev}"
    return sql


ORACLE_DOCS_PII_REDACT = _oracle_pii_redact()


def q_docs_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language vocabulary heavy hitters via a bounded-state
    Misra–Gries candidate pass + exact recount
    (operators/sketches.py mg_heavy_hitters): every (lang, word) token
    with frequency ≥ ⌈1% of the corpus token stream⌉. The gate data
    keeps ~155 live items against k=128 counters, so the MG decrement
    path genuinely engages while the exact rejoin keeps the answer a
    pure function of the data — partition-layout invariant and
    reproducible by a DuckDB GROUP BY/HAVING oracle. Scale shape: at
    100 TB the full-vocabulary groupBy this replaces shuffles billions
    of noise-tail tokens; here executor state is k counters per task
    and the only vocabulary-keyed exchange carries candidates alone."""
    from s3logs_parquet_spark.functions.text_analysis import words
    from s3logs_parquet_spark.operators.sketches import mg_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.col("lang"), F.explode(words(F.col("text"))).alias("_w")
    ).select(F.concat(F.col("lang"), F.lit(":"), F.col("_w")).alias("item"))
    out = mg_heavy_hitters(toks, "item", phi=0.01, k=128)
    return out.orderBy(F.desc("cnt"), F.asc("item"))


ORACLE_DOCS_HEAVY_HITTERS = f"""
WITH w AS (
  SELECT lang || ':' || unnest({_SQL_WORDS}) AS item FROM documents
), nn AS (
  SELECT item FROM w WHERE item IS NOT NULL
), t AS (
  SELECT count(*) AS n FROM nn
)
SELECT item, count(*)::BIGINT AS cnt
FROM nn
GROUP BY item
HAVING count(*) >= (SELECT ceil(0.01 * n) FROM t)
ORDER BY cnt DESC, item ASC
"""


def q_docs_clean_and_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization + within-doc repetition signals (the
    boilerplate/spam filters of a curation pipeline)."""
    from s3logs_parquet_spark.functions.text_analysis import (
        clean_text,
        with_repetition_signals,
    )

    d = _t(spark, sf_dir, "documents")
    # staged form (round-10 plan audit): one tokenize + one bigram
    # build instead of the pure dict form's ~16 split() copies
    return with_repetition_signals(d.select("doc_id", "text")).select(
        "doc_id",
        F.length(clean_text(F.col("text"))).alias("clean_chars"),
        F.round(F.col("dup_word_ratio"), 6).alias("dup_word_ratio"),
        F.round(F.col("dup_bigram_ratio"), 6).alias("dup_bigram_ratio"),
    )


ORACLE_DOCS_CLEAN_REP = f"""
WITH w AS (
  SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents
), b AS (
  SELECT doc_id, text, ws, len(ws) AS n,
         CASE WHEN len(ws) > 1
              THEN list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
              ELSE []::VARCHAR[] END AS bigrams
  FROM w
)
SELECT doc_id,
       length(trim(regexp_replace(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
              '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g'))) AS clean_chars,
       round(CASE WHEN n > 0 THEN (n - len(list_distinct(ws)))::DOUBLE / n ELSE 0.0 END, 6) AS dup_word_ratio,
       round(CASE WHEN len(bigrams) > 0
                  THEN (len(bigrams) - len(list_distinct(bigrams)))::DOUBLE / len(bigrams)
                  ELSE 0.0 END, 6) AS dup_bigram_ratio
FROM b
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents' text treated as an opaque
    binary payload with typed metadata — the schema/partition shape a
    multimodal (image/audio) table uses. Byte length + a sniffed
    "format" tag computed JVM-side over the binary column."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.when(F.length(F.col("text")) > 500, F.lit("large"))
        .otherwise(F.lit("small"))
        .alias("blob_class"),
    )


ORACLE_MULTIMODAL_META = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CASE WHEN length(text) > 500 THEN 'large' ELSE 'small' END AS blob_class
FROM documents
"""


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-source rates (5-15%,
    derived from the portable hash of the source name — no config
    table needed for the differential test) applied via content-hash
    thresholding. Map-only + one aggregate; identical row selection on
    any engine/partitioning."""
    from s3logs_parquet_spark.functions.hashing import hash32

    d = _t(spark, sf_dir, "documents")
    rate = F.lit(5) + F.pmod(hash32(F.col("source")), F.lit(11))
    sampled = F.pmod(hash32(F.col("doc_id").cast("string")), F.lit(100)) < rate
    return d.select("source", "doc_id", sampled.alias("_s")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_s").cast("bigint")).alias("n_sampled"),
        F.min(F.when(F.col("_s"), F.col("doc_id"))).alias("min_sampled_id"),
    )


ORACLE_DOCS_STRATIFIED = f"""
WITH s AS (
  SELECT source, doc_id,
         ({hash32_sql("doc_id::VARCHAR")} % 100
            < 5 + ({hash32_sql("source")} % 11)) AS sampled
  FROM documents
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE sampled)::BIGINT AS n_sampled,
       min(doc_id) FILTER (WHERE sampled) AS min_sampled_id
FROM s GROUP BY source
"""


def q_docs_selection_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus selection pipeline: per-source frequency cap (at most
    cap(source) docs per source, deterministic bottom-cap by content
    hash — the RefinedWeb-style domain cap) followed by greedy
    token-budget prefix selection over the survivors in (quality DESC,
    id) order (operators/selection.py). Caps are hash-derived per
    source (15-34) so BOTH the under-cap map-only passthrough and the
    over-cap two-level rank path face the driver oracle; quality is
    the rounded quality_score convention, surfaced per doc for EVERY
    row (the retired docs_quality_score per-doc values live on here).
    Budget semantics: running sum of whitespace-token counts of capped
    survivors ≤ 12,000 in quality order; zero-cost rows inside the
    prefix select."""
    from s3logs_parquet_spark.functions.hashing import hash32
    from s3logs_parquet_spark.operators.selection import (
        budget_select,
        cap_per_group,
    )

    d = _t(spark, sf_dir, "documents")
    cap = F.lit(15) + F.pmod(hash32(F.col("source")), F.lit(20))
    capped = cap_per_group(d, "source", cap, "doc_id", max_cap=34)
    # staged gate (round-10 plan audit): one tokenize instead of the
    # pure forms' ~11 split() copies; values bit-identical
    scored = (
        with_quality_and_lang(capped, "text", emit=("quality",), keep_features=True)
        .select(
            "doc_id",
            "source",
            "cap_rk",
            "cap_keep",
            "quality",
            F.col("n_words").alias("tok"),
        )
        .withColumn("_w", F.when(F.col("cap_keep"), F.col("tok")).otherwise(F.lit(0)))
    )
    out = budget_select(scored, "quality", "doc_id", "_w", 12_000)
    return out.select(
        "doc_id",
        "source",
        F.col("cap_rk").cast("long").alias("cap_rk"),
        F.col("cap_keep").cast("int").alias("cap_keep"),
        "quality",
        F.col("tok").cast("long").alias("tok"),
        (F.col("selected") & F.col("cap_keep")).cast("int").alias("selected"),
    )


ORACLE_DOCS_SELECTION_BUDGET = f"""
WITH feat AS (
  SELECT doc_id, source,
         {_SQL_WORDS} AS ws,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, source,
         len(ws)::BIGINT AS tok,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(ws) > 0 THEN {_sql_stop_hits('en')}::DOUBLE / len(ws) ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(ws) > 0
              THEN list_aggregate(list_transform(ws, w -> length(w)), 'sum')::DOUBLE / len(ws)
              ELSE 0.0 END AS mean_word_len
  FROM feat
), q AS (
  SELECT doc_id, source, tok,
         round(
           least(tok / 20.0, 1.0) * 0.3
           + least(stopword_ratio * 4.0, 1.0) * 0.3
           + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.2
           + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
         , 6) AS quality
  FROM m
), rk AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash32_sql("doc_id::VARCHAR")}, doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt,
         15 + ({hash32_sql("source")} % 20) AS cap
  FROM q
), c AS (
  SELECT doc_id, source, quality, tok,
         (cnt <= cap OR rn <= cap) AS keep,
         CASE WHEN cnt > cap AND rn <= cap THEN rn END::BIGINT AS cap_rk
  FROM rk
), b AS (
  SELECT *,
         sum(CASE WHEN keep THEN tok ELSE 0 END) OVER (
           ORDER BY quality DESC, doc_id
         ) AS cum
  FROM c
)
SELECT doc_id, source, cap_rk,
       keep::INT AS cap_keep, quality, tok,
       (keep AND cum <= 12000)::INT AS selected
FROM b
"""


def q_docs_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-trigram fraction
    (operators/dedup.py dup_ngram_fraction): the Gopher/RefinedWeb-style
    boilerplate signal — per doc, the share of its trigram occurrences
    whose trigram appears in ≥2 distinct docs."""
    from s3logs_parquet_spark.operators.dedup import dup_ngram_fraction

    d = _t(spark, sf_dir, "documents")
    return dup_ngram_fraction(d, "doc_id", "text", n=3, min_docs=2)


ORACLE_DOCS_DUP_NGRAM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
), ngr AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS ng
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM toks)
), pairs AS (
  SELECT doc_id, ng, count(*) AS cnt FROM ngr GROUP BY 1, 2
), nd AS (
  SELECT ng, count(*) AS n_docs FROM pairs GROUP BY 1
)
SELECT p.doc_id,
       sum(p.cnt)::BIGINT AS n_ngrams,
       round(sum(CASE WHEN d.n_docs >= 2 THEN p.cnt ELSE 0 END)::DOUBLE
             / sum(p.cnt), 6) AS dup_fraction
FROM pairs p JOIN nd d USING (ng)
GROUP BY p.doc_id
"""


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS systematic sampling (operators/sampling.py): ~50 docs drawn
    with probability proportional to n_chars — the deterministic
    quality/length-weighted corpus draw. Selection is pure integer
    arithmetic over the portable hash (binned prefix sum, no global
    window), so the oracle replicates it bit-for-bit with a SQL window
    cumsum."""
    from s3logs_parquet_spark.operators.sampling import weighted_systematic_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = weighted_systematic_sample(d, "n_chars", k=50, id_col="doc_id")
    return out.select(
        "doc_id", "source", F.col("n_chars").alias("weight"), "n_copies"
    )


ORACLE_DOCS_WEIGHTED_SAMPLE = f"""
WITH w AS (
  SELECT doc_id, source, n_chars::BIGINT AS w,
         {hash32_sql("doc_id::VARCHAR")} AS h
  FROM documents
), tot AS (
  SELECT sum(w)::BIGINT AS tw FROM w
), par AS (
  SELECT greatest(tw // 50, 1)::BIGINT AS step,
         (greatest(tw // 50, 1) // 2)::BIGINT AS off
  FROM tot
), c AS (
  SELECT doc_id, source, w,
         coalesce(sum(w) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cs
  FROM w
), sel AS (
  SELECT doc_id, source, w,
         (least(50, greatest(0, (cs + w - off + step - 1) // step))
        - least(50, greatest(0, (cs - off + step - 1) // step)))::BIGINT AS n_copies
  FROM c CROSS JOIN par
)
SELECT doc_id, source, w AS weight, n_copies FROM sel WHERE n_copies >= 1
"""


def q_docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture sampling (operators/sampling.py):
    per-source quotas ∝ sqrt(count) (alpha = 0.5 — the multilingual
    corpus-mixing rule), filled by hash-of-id rank. sqrt is IEEE
    correctly-rounded, so the integer quota math is engine-exact."""
    from s3logs_parquet_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = mixture_sample(d, "source", "doc_id", k_total=60, alpha=0.5)
    return out.select("source", "doc_id", "sample_rank", "quota")


ORACLE_DOCS_MIXTURE_SAMPLE = f"""
WITH n AS (
  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
), w AS (
  SELECT source, floor(sqrt(n::DOUBLE))::BIGINT AS w FROM n
), t AS (
  SELECT sum(w)::BIGINT AS tw FROM w
), q AS (
  SELECT source, greatest(1, (60 * w) // tw)::BIGINT AS quota
  FROM w CROSS JOIN t
), r AS (
  SELECT d.source, d.doc_id,
         row_number() OVER (PARTITION BY d.source
           ORDER BY {hash32_sql("d.doc_id::VARCHAR")}, d.doc_id)::INT AS sample_rank
  FROM documents d
)
SELECT r.source, r.doc_id, r.sample_rank, q.quota
FROM r JOIN q USING (source)
WHERE r.sample_rank <= q.quota
"""


def q_docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 trigrams (functions/text_analysis.py
    top_ngrams): total occurrences + distinct-doc frequency per gram,
    one ngram-keyed hash-agg then TakeOrdered — the boilerplate
    DISCOVERY query that feeds dup_ngram_fraction's thresholds."""
    from s3logs_parquet_spark.functions.text_analysis import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, "doc_id", "text", n=3, k=20)


ORACLE_DOCS_TOP_NGRAMS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
), ngr AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS ngram
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM toks)
)
SELECT ngram,
       count(*)::BIGINT          AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM ngr
GROUP BY ngram
ORDER BY n_occurrences DESC, ngram
LIMIT 20
"""


def q_docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py
    chunk_documents): 40-token windows every 30 tokens (overlap 10) —
    the curation→packing prep step. Emits one row per window with its
    token count and the md5 of the whitespace-normalized window text,
    so boundary placement, overlap, short-final-window clipping AND
    the exact chunk contents are all value-checked. Map-only: split +
    per-row sequence explode + slice; no shuffle, no UDF."""
    from s3logs_parquet_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_size=40, stride=30)
    return out.select(
        "doc_id",
        "chunk_idx",
        F.col("chunk_tokens").alias("n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


ORACLE_DOCS_CHUNKS = r"""
WITH d AS (
  SELECT doc_id, list_filter(str_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) <= 40 THEN 1
         ELSE 1 + CAST(ceil((len(toks) - 40) / 30.0) AS BIGINT) END AS n_chunks
  FROM d
), e AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS ci FROM n
)
SELECT doc_id, ci AS chunk_idx,
       len(toks[ci*30+1 : ci*30+40]) AS n_tokens,
       md5(array_to_string(toks[ci*30+1 : ci*30+40], ' ')) AS chunk_md5
FROM e
"""


def q_docs_chunk_windows_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-segmentation context-window chunking (operators/chunking.py
    tokenizer='bpe' — VERDICT r6 #7): windows counted over the BPE-ish
    pre-tokenizer segmentation (letter runs / digit runs / single
    punctuation — functions/text_analysis._BPE_TOKEN),
    so window sizes align with what a subword tokenizer later sees.
    Same 40/30 window/stride as the whitespace gate; chunk text is the
    tokens space-joined (deterministic token view, documented
    non-byte-faithful), value-checked via md5. Same map-only shape:
    one regexp_extract_all + per-row sequence explode + slice.

    The synthetic documents table contains NO punctuation (verified:
    0/500 docs at sf0.01), under which BPE and whitespace segmentation
    coincide and the gate would be vacuous — so the gate chunks a
    DERIVED text with punctuation injected deterministically
    (replace 'o' -> '.o': every 'o' splits its letter run and adds a
    '.' token), making the BPE-specific token boundaries load-bearing
    in the checked values."""
    from s3logs_parquet_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").withColumn(
        "punct_text", F.regexp_replace(F.col("text"), "o", ".o")
    )
    out = chunk_documents(
        d, "punct_text", "doc_id", chunk_size=40, stride=30, tokenizer="bpe"
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.col("chunk_tokens").alias("n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


_SQL_BPE_PUNCT = _SQL_BPE.replace(
    "regexp_extract_all(text,", "regexp_extract_all(replace(text, 'o', '.o'),"
)
ORACLE_DOCS_CHUNKS_BPE = f"""
WITH d AS (
  SELECT doc_id, {_SQL_BPE_PUNCT} AS toks FROM documents
), n AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) <= 40 THEN 1
         ELSE 1 + CAST(ceil((len(toks) - 40) / 30.0) AS BIGINT) END AS n_chunks
  FROM d
), e AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS ci FROM n
)
SELECT doc_id, ci AS chunk_idx,
       len(toks[ci*30+1 : ci*30+40]) AS n_tokens,
       md5(array_to_string(toks[ci*30+1 : ci*30+40], ' ')) AS chunk_md5
FROM e
"""

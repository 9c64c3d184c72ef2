"""The corpus-curation pipeline: the training-data operators composed
into one job — what a user actually runs over 100 TB of raw documents.

    quality filter → exact dedup (canonical = min doc_id per text)
      → near-dup filter (MinHash-LSH clusters, keep cluster minimum)
      → language filter → leakage-safe split assignment

Every stage is one of the engine's tested operators; the composition is
still a single lazy plan (plus the materialized signature checkpoint
inside the LSH stage). The curated frame stays fully SQL-expressible
for the differential oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3logs_parquet_spark.functions.hashing import hash32
from s3logs_parquet_spark.functions.text_analysis import with_quality_and_lang
from s3logs_parquet_spark.operators.dedup import (
    connected_components_clusters,
    exact_dedup,
    minhash_lsh_pairs,
)


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
) -> DataFrame:
    """The docs that pass the quality and language gate, with their
    ``quality`` and ``lang_pred`` columns. Shared-work gate: words and
    per-language stopword hits are computed once (values identical to
    quality_score()/langid() — see with_quality_and_lang's docstring;
    ~4x on the gate stage)."""
    return with_quality_and_lang(docs, text_col).filter(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*languages)
    )


def near_dup_canonicals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.3,
    lsh_max_bucket_size: int | None = 10_000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """The ids of ``docs`` that are the minimum of their near-dup
    cluster (MinHash-LSH candidates → connected components): the docs
    the near-dup stage keeps. ``banded`` passes already-computed band
    rows for ``docs`` (see minhash_lsh_pairs)."""
    pairs = minhash_lsh_pairs(
        docs,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=lsh_max_bucket_size,
        oversize_policy="star",
        banded=banded,
    )
    labels = connected_components_clusters(pairs, docs.select(id_col), id_col)
    return labels.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)


def assign_split(survivors: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The curated output rows (id, lang_pred, quality, split). The
    split is leakage-safe: a hash of the doc id, and survivors are
    cluster minima, so the doc id IS the cluster id."""
    bucket = F.pmod(hash32(F.col(id_col).cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return survivors.select(id_col, "lang_pred", "quality", split.alias("split"))


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 8,
    lsh_max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Returns the curated frame: (doc_id, lang_pred, quality, split).

    Deterministic end to end — filters and survivors are pure functions
    of content — so re-runs, other engines, and resumed jobs agree row
    for row.

    ``lsh_max_bucket_size`` (default 10k) bounds the LSH candidate join
    against boilerplate floods with the 'star' policy: an oversized
    band bucket links members to its min-id representative instead of
    emitting B²/2 pairs. For the cluster-minimum dedup this pipeline
    performs, star links preserve exactly what matters — bucket
    connectivity — while a 1M-doc boilerplate corpus without the cap
    generates ~1.8e12 candidate pairs and dies in shuffle spill. Inert
    below the cap (test scales see identical output); pass None for the
    unguarded exact join.

    streaming/job.py:run_stream_curation runs the same three stages per
    micro-batch, around its history probes."""
    kept = quality_gate(docs, text_col, min_quality, languages)
    # exact dedup: canonical row = min doc_id per identical text.
    # id_col routes the narrow path: the survivor aggregate shuffles
    # (digest, id) only — document text never rides that exchange.
    exact = exact_dedup(kept, text_col, keep_order_col=id_col, id_col=id_col)
    canonical = near_dup_canonicals(
        exact, id_col, text_col, num_hashes, bands, 3, jaccard_threshold,
        lsh_max_bucket_size,
    )
    return assign_split(exact.join(canonical, id_col, "left_semi"), id_col)

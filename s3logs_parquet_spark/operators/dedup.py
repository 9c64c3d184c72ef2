"""Deduplication operators: the reference's D1 plus the scale family
(exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine) a
training-data pipeline needs.

D1 (the only stateful relational op in the reference,
s3logs/src/utils.rs:1056-1090): window-scoped distinct-by-RequestID —
a HashSet of RequestIDs reset whenever the scan crosses an
aggregate_second boundary, i.e. `DISTINCT ON (bucket, window,
RequestID)` under scan order. Our `dropDuplicates` is the deterministic
order-insensitive superset (documented divergence, SURVEY.md §7.4.2).
Purpose: at-least-once redelivery can duplicate rows (FAQ.md:16-22).

Scale posture: dropDuplicates is one shuffle on the key, map-side
partial dedup first, AQE-coalesced. It plans as a SortAggregate, not a
hash aggregate: every non-key column rides it as a ``first()``, and
``first`` over a string or array has no fixed-width buffer, so both
sides of the shuffle sort the full rows. The near-dup
family below is designed so the pairwise stage only ever happens within
LSH buckets (self-join on band signature), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.schema import DEDUP_FIELD
from s3logs_parquet_spark.session import materialize as _materialize
from s3logs_parquet_spark.session import release as _release

# ---------------------------------------------------------------------------
# D1 — reference-parity window-scoped dedup
# ---------------------------------------------------------------------------


def dedup_log_rows(
    df: DataFrame,
    cfg: EngineConfig,
    window_col: str = "agg_window",
    bucket_col: str = "bucket_key",
    id_col: str | None = None,
) -> DataFrame:
    """D1 — keep one row per (bucket, agg window, RequestID).

    `dropDuplicates` keeps an arbitrary survivor like the reference
    keeps the first-seen; rows are byte-identical duplicates in the
    motivating crash-redelivery case, so survivor choice is unobservable.
    Gated by cfg.deduplication (S3LOGS_TRANSFORM_LOG_DEDUPLICATION,
    default true; short-circuit parity with utils.rs:1071-1073).
    The id column is POSITIONAL like the reference's (token index 5,
    utils.rs:1076): under a config-file schema with custom names the
    6th loaded field is the dedup key, whatever it is called.

    Every column of ``df`` besides the three keys rides the aggregate
    as a ``first()``, is sorted on both sides of its shuffle and
    crosses it, so pass a narrow frame: the batch ETL passes its token
    array and timestamp (plans/batch.py), not the 26 parsed fields.
    """
    if not cfg.deduplication:
        return df
    if id_col is None:
        id_col = cfg.schema_fields[5] if cfg.schema_fields else DEDUP_FIELD
    return df.dropDuplicates([bucket_col, window_col, id_col])


# ---------------------------------------------------------------------------
# Exact content dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def _content_digest(content_col: str) -> Column:
    """128-bit content digest (md5 hex). Collision probability between
    any two of N distinct documents is ~N²/2¹²⁹ — ≈2⁻⁶⁹ even at a
    trillion docs — so grouping on the digest alone is safe for any
    non-adversarial corpus; `content_key=True` restores byte-exact
    comparison for adversarial-collision settings."""
    return F.md5(F.col(content_col).cast("binary"))


def exact_dedup(
    df: DataFrame,
    content_col: str,
    keep_order_col: str | None = None,
    id_col: str | None = None,
    content_key: bool = False,
) -> DataFrame:
    """Exact dedup by content: keep the row with the smallest
    ``keep_order_col`` per distinct content (deterministic survivor —
    required for oracle differential tests).

    Scale shape (the 100 TB concern is the exchange payload — document
    text must NOT ride the dedup shuffle):

    - ``id_col`` given (a unique row id): survivor selection runs on a
      ``(digest, order, id)`` projection only — the aggregate exchange
      moves ~50 bytes/row regardless of document size — then a
      left-semi join on ``id_col`` brings the full surviving rows back.
      Trade-off (measured, PERF.md round 3): this scans the source
      twice, and the semi join still shuffles the full rows unless the
      survivor list is broadcastable — so it wins when the caller only
      needs the keep-list (use :func:`exact_dedup_survivor_keys`
      directly: zero full-width movement), when the corpus is bucketed
      by ``id_col`` (shuffle-free join), or when dup-rate is high
      (survivors small enough to broadcast).
    - no ``id_col`` (default path): min-struct survivor keyed by the
      digest; content rides the exchange once as aggregate payload
      (map-side combined to one row per digest per input partition),
      never as the key — one scan, one exchange, no content
      comparisons. The best default at any scale.
    - ``content_key=True``: legacy byte-exact grouping (content in the
      key — moves content twice and compares it) for
      adversarial-collision settings; opt-in only.
    """
    others = list(df.columns)
    if content_key:
        if keep_order_col is None:
            return df.dropDuplicates([content_col])
        strukt = F.struct(
            *[F.col(keep_order_col), *[F.col(c) for c in others if c != keep_order_col]]
        )
        agg = df.groupBy(
            F.xxhash64(F.col(content_col)).alias("_h"), F.col(content_col).alias("_c")
        ).agg(F.min(strukt).alias("_row"))
        return agg.select([F.col(f"_row.{c}").alias(c) for c in others])

    dg = _content_digest(content_col)
    if keep_order_col is None and id_col is None:
        return df.withColumn("__dg", dg).dropDuplicates(["__dg"]).drop("__dg")
    if id_col is None and keep_order_col is not None:
        # survivor = lexicographic-min row per digest; content moves once
        # as payload (never as key), map-side combined
        strukt = F.struct(
            *[F.col(keep_order_col), *[F.col(c) for c in others if c != keep_order_col]]
        )
        agg = df.groupBy(dg.alias("__dg")).agg(F.min(strukt).alias("_row"))
        return agg.select([F.col(f"_row.{c}").alias(c) for c in others])
    # narrow path: unique id ⇒ content-free survivor-key aggregate
    surv = exact_dedup_survivor_keys(df, content_col, id_col, keep_order_col)
    return df.join(surv, on=id_col, how="left_semi")


def exact_dedup_survivor_keys(
    df: DataFrame, content_col: str, id_col: str, keep_order_col: str | None = None
) -> DataFrame:
    """The narrow survivor-id frame of :func:`exact_dedup` (one
    ``id_col`` per distinct content) — exposed for plan tests and for
    callers that only need the keep-list (e.g. writing a tombstone
    table instead of materializing survivors)."""
    order = keep_order_col if keep_order_col is not None else id_col
    keys = df.select(
        _content_digest(content_col).alias("__dg"),
        F.col(order),
        *([id_col] if id_col != order else []),
    )
    fields = [F.col(order)] if id_col == order else [F.col(order), F.col(id_col)]
    return (
        keys.groupBy("__dg")
        .agg(F.min(F.struct(*fields)).alias("_k"))
        .select(F.col(f"_k.{id_col}").alias(id_col))
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH (near-dup at scale)
# ---------------------------------------------------------------------------

from s3logs_parquet_spark.functions.hashing import MERSENNE_31 as _MERSENNE_31
from s3logs_parquet_spark.functions.hashing import affine_coeffs, hash32


def _word_shingles(text: Column, k: int) -> Column:
    """k-word shingles as an array<string> of space-joined windows over
    the lowercased word sequence. Empty/short docs → their full word
    join (single shingle) so every doc has a signature."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.transform(
        idx,
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )


def _shingle_hash(shingle: Column) -> Column:
    """Deterministic 31-bit positive shingle hash, bit-identical in any
    engine with md5 (see functions/hashing.py) — this is what makes the
    whole MinHash family DuckDB-oracle-checkable by exact values."""
    return hash32(shingle) % F.lit(_MERSENNE_31)


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Distinct k-word shingles as (id, shingle) rows — the scale
    formulation shared by the sketch family.

    posexplode words → k-gram via `lead` window functions → distinct.
    Semantically identical to the array form (_word_shingles +
    array_distinct) including edges: concat_ws skips the NULL leads at
    a short doc's tail, reproducing the truncated-slice single shingle;
    the raw (unfiltered) split keeps empty docs as one '' shingle.
    Profiling at 5000 docs: 0.9 s vs 2.5 s for the nested-lambda array
    form (interpreted higher-order functions; window functions stay in
    codegen)."""
    from pyspark.sql import Window as W

    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    g = df.select(F.col(id_col), F.posexplode(ws).alias("_i", "_w"))
    win = W.partitionBy(id_col).orderBy("_i")
    per = W.partitionBy(id_col)
    gram = F.concat_ws(" ", "_w", *[F.lead("_w", j).over(win) for j in range(1, k)])
    return (
        g.select(
            F.col(id_col),
            F.col("_i"),
            gram.alias("shingle"),
            F.count(F.lit(1)).over(per).alias("_n"),
        )
        .filter(F.col("_i") <= F.greatest(F.col("_n") - F.lit(k), F.lit(0)))
        .select(id_col, "shingle")
        .dropDuplicates()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature: array<long> of length ``num_hashes``.

    h_i(x) = (a_i * x + b_i) mod (2^31-1) over 31-bit shingle hashes;
    (a_i, b_i) fixed by ``seed`` via a splitmix-style recurrence so runs
    are deterministic. All computed with builtin array lambdas
    (F.transform / F.array_min) — no Python in the row path.
    """
    coeffs = affine_coeffs(num_hashes, seed)

    # Spark-first shape: windowed shingle explosion → one hash-aggregate
    # computing all num_hashes mins in a single codegen'd pass (map-side
    # partial agg). ~4x faster than the nested array-lambda formulation
    # and scales to long documents row-wise.
    exploded = exploded_shingles(df, id_col, text_col, shingle_k).select(
        id_col, _shingle_hash(F.col("shingle")).alias("_x")
    )
    # ONE parsed SQL expression for all num_hashes mins (round 14,
    # guide §4 — the Python/JVM boundary at plan-build time, the SQ8
    # r13 lesson): the per-column DSL form cost ~10 py4j round-trips
    # per hash function, ~1 s of construction per call at the default
    # 64 — paid by every timed rep of every LSH gate. Arithmetic is
    # identical ((a*_x+b) % M over longs, first-minimum array order),
    # and Catalyst still plans a map-side partial aggregate; the array
    # wraps the aggregates in the result projection only.
    sig_sql = (
        "array("
        + ", ".join(
            f"min(({a} * _x + {b}) % {_MERSENNE_31})" for a, b in coeffs
        )
        + ") AS signature"
    )
    return exploded.groupBy(id_col).agg(F.expr(sig_sql))


def minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    materialize: bool = True,
    durable: bool = False,
) -> DataFrame:
    """(id, signature, band, band_hash) — the LSH index in long form.

    This is the table you PERSIST at scale (write-side precompute,
    bucketed by (band, band_hash)): both the corpus self-join
    (minhash_lsh_pairs) and continuous-ingest incremental dedup
    (incremental_neardup_pairs) are joins against it."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, seed)
    if materialize:
        sigs = _materialize(sigs, durable)
    return band_signatures(sigs, id_col, num_hashes, bands)


def band_signatures(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """The banding half of :func:`minhash_banded`, over an existing
    (id, signature) frame — lets a caller materialize the signature
    pass once (the dominant cost: shingling + num_hashes hashes per
    doc) and re-derive the cheap per-band explode for several
    consumers, releasing the blocks itself (run_stream_curation)."""
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "signature", "bk.band", "bk.band_hash")


def _pair_est_jaccard(pairs: DataFrame, num_hashes: int) -> Column:
    return (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_hashes)
    ).cast("double")


def incremental_neardup_pairs(
    batch: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    materialize: bool = True,
    durable: bool = False,
    batch_banded: DataFrame | None = None,
    carry_signatures: bool = False,
    check_index: bool = True,
) -> DataFrame:
    """Continuous-ingest dedup: near-dup pairs between a NEW batch and
    the EXISTING corpus, via its persisted LSH index.

    ``batch_banded`` accepts an already-computed :func:`minhash_banded`
    frame for ``batch`` (same parameters), skipping the batch signature
    pass — see minhash_lsh_pairs' ``banded``.

    ``carry_signatures`` (round 10): fetch the corpus signature FROM
    the band-join row itself (every index row carries the full
    signature) and dedup pairs with a (batch_id, corpus_id) aggregate,
    instead of rejoining the index's band-0 slice per probe. Built for
    a BUCKETED corpus index (plans/band_index.py): there the band join
    needs no exchange on the index side, so carrying the signature
    through it is free, and the band-0 rejoin — which re-exchanged the
    index's whole signature slice every probe, the other O(history)
    exchange — disappears; everything shuffled is O(batch) +
    O(candidates). On an UNBUCKETED index this trades the slim id-only
    band-join exchange for one carrying signatures — keep it False
    there (the round-7 exchange-slimming rationale). Results are
    identical either way (same pairs, same est_jaccard).

    ``corpus_index`` is a minhash_banded output — typically read back
    from a table, NOT recomputed: the incremental cost is
    O(batch signatures + bucket-matched candidates), independent of
    corpus size. The batch side is banded with the same parameters and
    equi-joined on (band, band_hash); no corpus self-pairs, no batch
    self-pairs (run minhash_lsh_pairs on the batch for those).

    Returns (batch_id, corpus_id, est_jaccard) — a batch doc with any
    row here is a near-dup of history and gets dropped/linked by the
    caller's policy.
    """
    required = {id_col, "signature", "band", "band_hash"}
    missing = required - set(corpus_index.columns)
    if missing:
        raise ValueError(
            f"incremental_neardup_pairs: corpus_index is missing columns {sorted(missing)} "
            "— expected a minhash_banded output"
        )
    # an index built with different num_hashes/bands yields different
    # band hashes → zero candidates → silent "no near-dups". The array
    # length isn't in the schema, so probe ONE row (bounded single-row
    # job) and fail loudly on mismatch. F.size(NULL) is NULL (Spark 4
    # non-legacy), so a NULL signature surfaces here too instead of a
    # misleading parameter-mismatch message. Only one arbitrary row is
    # probed; heterogeneous indexes are caught by the distributed check
    # folded into est_jaccard below. ``check_index=False`` skips the
    # probe job for callers that verified the index once already and
    # hold the parameters fixed (run_stream_curation checks on the
    # first trigger of a run, not every micro-batch); the distributed
    # est_jaccard guard still covers every emitted pair either way.
    probe = (
        corpus_index.select(F.size("signature").alias("_n")).limit(1).collect()
        if check_index
        else []
    )
    if probe:
        n = probe[0]["_n"]
        if n is None:
            raise ValueError(
                "incremental_neardup_pairs: corpus_index contains a NULL "
                "signature — the index is corrupt; rebuild it with minhash_banded"
            )
        if n != num_hashes:
            raise ValueError(
                f"incremental_neardup_pairs: corpus_index signatures have length "
                f"{n} but num_hashes={num_hashes} — the index was built "
                "with different parameters; rebuild it or pass matching num_hashes/bands"
            )
    if batch_banded is None:
        bb = minhash_banded(
            batch, id_col, text_col, num_hashes, bands, shingle_k, seed, materialize, durable
        )
    else:
        missing = {id_col, "signature", "band", "band_hash"} - set(batch_banded.columns)
        if missing:
            raise ValueError(
                f"incremental_neardup_pairs: batch_banded is missing columns "
                f"{sorted(missing)} — expected a minhash_banded output"
            )
        bb = batch_banded
    batch_sigs = bb.filter(F.col("band") == 0).select(
        F.col(id_col).alias("batch_id"), F.col("signature").alias("sig_a")
    )
    if carry_signatures:
        # bucketed-index topology (see docstring): signatures ride the
        # band join (exchange-free on the index side), pair dedup is
        # one O(candidates) aggregate, no band-0 slice rejoin.
        l = bb.select(id_col, "band", "band_hash").alias("l")
        r = corpus_index.alias("r")
        matched = l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
            ],
        ).select(
            F.col(f"l.{id_col}").alias("batch_id"),
            F.col(f"r.{id_col}").alias("corpus_id"),
            F.col("r.signature").alias("sig_b"),
        )
        pair_sigs = matched.groupBy("batch_id", "corpus_id").agg(
            F.first("sig_b").alias("sig_b")
        )
        pairs = pair_sigs.join(batch_sigs, on="batch_id")
        return _scored_pairs(pairs, num_hashes, jaccard_threshold)
    # candidate IDS only through the band join + cross-band dedup,
    # signatures re-joined once per unique pair from each side's
    # band-0 slice (every doc appears exactly once per band) — the
    # minhash_lsh_pairs exchange-slimming rework, PERF.md round 7
    l, r = bb.select(id_col, "band", "band_hash").alias("l"), corpus_index.alias("r")
    pair_ids = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("batch_id"),
            F.col(f"r.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    corpus_sigs = corpus_index.filter(F.col("band") == 0).select(
        F.col(id_col).alias("corpus_id"), F.col("signature").alias("sig_b")
    )
    pairs = pair_ids.join(batch_sigs, on="batch_id").join(
        corpus_sigs,
        on="corpus_id",
    )
    return _scored_pairs(pairs, num_hashes, jaccard_threshold)


def _scored_pairs(
    pairs: DataFrame, num_hashes: int, jaccard_threshold: float
) -> DataFrame:
    """Shared tail of incremental_neardup_pairs: score candidate rows
    carrying (batch_id, corpus_id, sig_a, sig_b) and threshold-filter.

    An index built with a different num_hashes would make zip_with pad
    with NULLs → NULL similarity → every cross-pair silently dropped
    ("no near-dups"). Fail loudly instead; the check runs on candidate
    pairs only (bounded by bucket matches), not the whole index. The
    guard is folded INTO the est_jaccard expression (not a dropped
    side column, which Catalyst would prune as unused) so every
    emitted row must evaluate it: a sig_b of the wrong length — or
    NULL, which makes the `when` condition NULL → otherwise branch —
    raises instead of silently yielding NULL similarity."""
    est = F.when(
        F.size("sig_b") == num_hashes,
        _pair_est_jaccard(pairs, num_hashes),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "incremental_neardup_pairs: corpus_index signature length "
                    f"!= num_hashes={num_hashes} (index built with different "
                    "parameters?); got "
                ),
                F.coalesce(F.size("sig_b").cast("string"), F.lit("NULL")),
            )
        ).cast("double")
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("batch_id", "corpus_id", "est_jaccard")
    )


def banded_pairs(
    banded: DataFrame,
    id_col: str,
    keys: tuple[str, ...],
    max_bucket_size: int | None,
    oversize_policy: str,
    op: str,
    carry: str | None = None,
    materialize: bool = False,
    durable: bool = False,
) -> DataFrame:
    """Hot-bucket-capped candidate pairs of a banded frame — the one
    candidate core of :func:`minhash_lsh_pairs`,
    :func:`simhash_near_pairs` and :func:`embedding_neardup_pairs`.

    ``banded`` holds one row per (id, bucket), the bucket named by
    ``keys``. Returns (id_a, id_b) with id_a < id_b for every pair
    sharing a bucket, NOT deduplicated across buckets (the caller
    scores and dedups in whichever order its scorer prefers).
    ``carry`` names a per-id column that rides along as
    ``{carry}_a`` / ``{carry}_b`` (simhash scores from it before the
    dedup). ``materialize`` checkpoints the tagged frame so both join
    sides and the star branch read it once.

    ``max_bucket_size`` guards the quadratic cliff: a boilerplate-heavy
    corpus can put most docs into ONE bucket per band (measured: 1M
    synthetic docs → 8 buckets of 500k-780k ≈ 1.8e12 candidate pairs,
    which fills shuffle-spill disk long before any result, PERF.md
    round 3). A bucket of B docs costs B²/2 pairs; buckets above the
    cap are handled per ``oversize_policy``:

    - ``"star"``: link every member to the bucket's min-id
      representative — O(B) pairs, and the caller's exact scorer still
      verifies every emitted pair. Connectivity caveat: capped
      connectivity is a SUBSET of all-pairs connectivity. A member
      whose similarity to the representative falls below the caller's
      threshold loses links that member↔member pairs (or transitive
      chains) would have kept under all-pairs — downstream
      connected-components can split what uncapped LSH would merge. In
      practice buckets big enough to trip the cap are band-identical
      boilerplate (measured: the 1M-doc flood buckets were byte-similar
      templates), where rep-similarity ≈ member-similarity and recall
      loss is nil; for borderline-threshold corpora either raise the
      cap or treat capped clusters as a lower bound.
    - ``"drop"``: skip oversized buckets entirely (ids can still pair
      via their other, smaller buckets).
    - ``"error"``: poison oversized buckets' rows with a runtime
      ``raise_error`` so the check stays distributed and the failure is
      loud, not a silent multi-TB spill.

    ``max_bucket_size=None`` opts back into exact all-pairs. The
    operators default to 10_000: value-neutral at any corpus where no
    single bucket exceeds 10k ids (5e7 pairs/bucket worst case, well
    inside one executor's shuffle budget). The guard bounds
    ADVERSARIAL skew only; uniform bucket saturation is sized by the
    band width (see the simhash/embedding docstrings).

    Tagging shape (round 14, guide §2.3/§5): a map-side-partial
    aggregate reduces the banded frame to per-bucket (count, rep) rows,
    FILTERED to the oversized ones, and a broadcast LEFT join attaches
    them as ``_bsz`` / ``_rep`` (NULL ``_bsz`` = in-cap row). The
    broadcast is bounded by construction — at most
    ``rows / max_bucket_size`` buckets can exceed the cap, e.g. ≤ 100k
    rows per billion inputs at the 10k default — so the banded side is
    never shuffled or buffered per bucket. It replaced a
    count-over-window: WindowExec buffers each bucket's FULL rows
    (signatures / unit vectors included) in
    ExternalAppendOnlyUnsafeRowArray before emitting one, so the exact
    flood the cap bounds exhausted execution memory inside the guard
    itself (measured: ``UNABLE_TO_ACQUIRE_MEMORY`` in
    WindowEvaluator.fetchNextPartition at 200k clustered vectors,
    local[8]). Null-safe join keys treat a NULL bucket key as an
    ordinary bucket, as the window did.
    """
    if oversize_policy not in ("star", "drop", "error"):
        raise ValueError(f"{op}: oversize_policy must be star|drop|error, got {oversize_policy!r}")
    carried = [carry] if carry else []
    star_pairs = None
    if max_bucket_size is not None:
        aggs = [F.count(F.lit(1)).alias("_bsz")]
        if oversize_policy == "star":
            # bucket-min id; a carried column rides in a struct with it.
            # Struct only when needed: min(struct) plans as a
            # SortAggregate, min(long) as a HashAggregate.
            rep = F.struct(F.col(id_col).alias("id"), F.col(carry)) if carry else F.col(id_col)
            aggs.append(F.min(rep).alias("_rep"))
        big = banded.groupBy(*keys).agg(*aggs).filter(F.col("_bsz") > int(max_bucket_size))
        big = big.toDF(*[f"_szk_{k}" for k in keys], *big.columns[len(keys):])
        cond = [F.col(k).eqNullSafe(F.col(f"_szk_{k}")) for k in keys]
        sized = banded.join(F.broadcast(big), on=cond, how="left").drop(
            *[f"_szk_{k}" for k in keys]
        )
        if oversize_policy == "error":
            sized = sized.withColumn(
                "_bsz",
                F.when(F.col("_bsz").isNull(), F.col("_bsz")).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(f"{op}: bucket over max_bucket_size={max_bucket_size} (size "),
                            F.col("_bsz").cast("string"),
                            F.lit(") — hot-bucket flood; use oversize_policy='star'"),
                        )
                    ).cast("long")
                ),
            )
        if materialize:
            sized = _materialize(sized, durable)
        if oversize_policy == "star":
            star_pairs = (
                sized.filter(F.col("_bsz").isNotNull())
                .select(
                    F.col("_rep.id" if carry else "_rep").alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in carried],
                    *[F.col(c).alias(f"{c}_b") for c in carried],
                )
                .filter(F.col("id_a") != F.col("id_b"))
            )
        banded = sized.filter(F.col("_bsz").isNull()).drop("_bsz", "_rep")

    l, r = banded.alias("l"), banded.alias("r")
    pairs = l.join(
        r,
        on=[F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")],
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{c}").alias(f"{c}_a") for c in carried],
        *[F.col(f"r.{c}").alias(f"{c}_b") for c in carried],
    )
    return pairs if star_pairs is None else pairs.unionByName(star_pairs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    materialize: bool = True,
    durable: bool = False,
    max_bucket_size: int | None = 10_000,
    oversize_policy: str = "star",
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH, then exact
    signature-similarity filter.

    ``banded`` accepts an already-computed :func:`minhash_banded` frame
    for ``df`` (same num_hashes/bands/seed), skipping the signature
    pass entirely — the signature-reuse lever for pipelines that band a
    batch once and feed self-join, incremental probe, and index write
    from the same frame (streaming/job.py run_stream_curation; round-9
    throughput rework). The caller owns parameter consistency the same
    way incremental_neardup_pairs' corpus_index contract states.

    Scale shape: explode signatures into ``bands`` rows keyed by
    (band_id, band_hash) → self-join within buckets only. At 100 TB the
    join key is uniformly hash-distributed; hot buckets (boilerplate
    docs) are the classic skew case — AQE skew-join handles moderate
    skew, and `spark.sql.shuffle.partitions` sizing the rest. Returns
    (id_a, id_b, est_jaccard) with id_a < id_b, deduped across bands.

    ``max_bucket_size`` / ``oversize_policy``: the hot-bucket guard of
    :func:`banded_pairs` over the (band, band_hash) buckets. The default
    cap is 10_000 — matching ``curate_documents`` — because the uncapped
    operator is a measured scale-killer (PERF.md round 3: one 777k-doc
    bucket → 1.8e12 candidate pairs → shuffle-spill disk exhaustion).

    ``materialize`` checkpoints the signatures before the self-join so
    they are computed once, not once per join side — 7.7x faster in
    profiling. ``durable=True`` uses a reliable checkpoint dir instead
    of executor-resident blocks, surviving executor loss (the 100 TB
    posture; see session.materialize). The production-scale analog is
    persisting signatures as a table (write-side precompute); disable
    only if you need a pure unexecuted plan.
    """
    if banded is None:
        banded = minhash_banded(
            df, id_col, text_col, num_hashes, bands, shingle_k, seed, materialize, durable
        )
    else:
        missing = {id_col, "signature", "band", "band_hash"} - set(banded.columns)
        if missing:
            raise ValueError(
                f"minhash_lsh_pairs: banded frame is missing columns {sorted(missing)} "
                "— expected a minhash_banded output"
            )
    # every doc appears exactly once per band, so band 0 of the
    # PRE-cap-filter banded frame IS the (id, signature) table — read
    # straight off the checkpointed blocks, no dedup exchange (the
    # cap filter may remove a doc's band-0 row, so capture it first)
    sigs = banded.filter(F.col("band") == 0).select(id_col, "signature")

    # Candidate IDS only through the band join and the cross-band
    # dedup: signatures (num_hashes ints per side) used to ride along
    # as pair payload, so every band copy of a pair carried ~1 KB
    # through the distinct exchange and the match count was (first
    # variant) evaluated once per COPY — near-dup families collide in
    # ~every band, which multiplied the 64-term scorer by the band
    # count for nothing. Now the distinct moves 16-byte id rows, and
    # each side's signature joins back ONCE per unique pair from the
    # band-0 slice of the checkpointed banded frame. Measured (PERF.md
    # round 7, 236k docs / 522k true pairs): 26.8 s / 1.86 GB shuffle
    # (dedup-then-score) and 56.1 s (score-per-copy) → **21.5 s /
    # 0.16 GB**, identical pair fingerprints on all three.
    pair_ids = banded_pairs(
        banded,
        id_col,
        ("band", "band_hash"),
        max_bucket_size,
        oversize_policy,
        "minhash_lsh_pairs",
    ).distinct()
    pairs = pair_ids.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")),
        on="id_a",
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")),
        on="id_b",
    )

    # expanded per-position integer match count (codegen-resident; the
    # HOF zip_with/aggregate form evaluates interpreted per element in
    # the per-pair hot path). Integer arithmetic — the value is exactly
    # the HOF form's, position count is num_hashes by construction so
    # no index can be out of bounds under ANSI.
    matches = " + ".join(
        f"(CASE WHEN sig_a[{i}] = sig_b[{i}] THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    est = F.expr(f"({matches})") / F.lit(num_hashes)
    return (
        pairs.withColumn("est_jaccard", est.cast("double"))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _cc_driver_union_find(edges: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """Driver-side path-compressed union-find over a BOUNDED edge list
    (caller checks the budget before collecting). Union-by-min keeps
    every tree's root at the component's minimum id, so root(x) IS the
    cluster_id contract. Arrow-batched toPandas for the transfer; the
    component map returns as a small DataFrame joined distributively
    against the full id set (singletons via left-anti, never
    collected)."""
    # the budget is checked by the caller against the DIRECTED edge-row
    # count (both directions already unioned in), so this collects at
    # most `driver_edge_limit` rows, not 2× it
    pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    # materialize the python lists ONCE; reused for the union loop and
    # the component enumeration (ADVICE r5). Touched nodes come from
    # src ∪ dst so the function accepts BOTH edge layouts: the
    # bidirectional list of the direct path and the one-directional
    # spanning forest of the contraction path.
    src_list = pdf["src"].tolist()
    dst_list = pdf["dst"].tolist()
    for s, d in zip(src_list, dst_list):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # attach larger root under smaller → root = min id

    import pandas as pd

    comp = pd.DataFrame({"src": sorted(set(src_list).union(dst_list))})
    comp["cluster_id"] = [find(x) for x in comp["src"]]
    spark = edges.sparkSession
    id_type = ids.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField("src", id_type), T.StructField("cluster_id", id_type)]
    )
    # pandas → Arrow batches, not a Python tuple list: createDataFrame
    # over N tuples pickles row-at-a-time on the driver, which at the
    # 2M-edge budget is the slowest step of the whole strategy
    map_df = spark.createDataFrame(comp, schema=schema)
    singletons = ids.select(F.col(id_col).alias("src")).join(
        map_df.select("src"), on="src", how="left_anti"
    ).select("src", F.col("src").alias("cluster_id"))
    return map_df.unionByName(singletons).select(
        F.col("src").alias(id_col), "cluster_id"
    )


def _cc_forest_contract(
    canon: DataFrame,
    cnt: int,
    durable: bool,
    driver_edge_limit: int,
    max_iters: int = 4,
    min_chunks: int = 1,
) -> tuple[DataFrame, int]:
    """Shrink a canonical (src < dst, distinct) edge list below the
    driver budget by iterated PARTITION-LOCAL union-find contraction —
    the 'filtering' CC scheme (Andoni et al., parallel graph
    connectivity): each task runs path-compressed union-find over just
    its partition's edges and emits the local spanning star
    (local_root → node, one row per non-root node). The union of the
    per-partition stars preserves global connectivity exactly, every
    touched node survives as an endpoint, and the output is ≤ the
    input (V_p − C_p ≤ E_p per partition), usually VASTLY smaller:
    near-dup graphs are clique-heavy, and a clique's edges collapse to
    a star in one pass.

    Each iteration re-partitions to ~½-budget-sized chunks so
    previously-separated subsets of a component meet, then contracts
    map-side (mapInPandas, Arrow-batched). Iteration stops when the
    list fits the budget, stalls (already a spread-out forest — the
    theoretical floor V − C), or ``max_iters`` passes. Returns the
    final frame and its row count; the caller decides driver
    union-find vs distributed loop on the result."""
    import pandas as pd

    out_schema = canon.schema

    def contract(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                rs, rd = find(s), find(d)
                if rs != rd:
                    if rd < rs:
                        rs, rd = rd, rs
                    parent[rd] = rs
        nodes = list(parent)
        roots = [find(x) for x in nodes]
        yield pd.DataFrame({"src": roots, "dst": nodes})

    cur = canon
    for _ in range(max_iters):
        if cnt <= driver_edge_limit:
            break
        # chunk size ~½ the driver budget: small enough that a task's
        # union-find dict stays tens of MB, big enough that clique
        # structure is visible to each task; ``min_chunks`` floors the
        # task count so a just-over-budget list still uses the cluster
        target = max(min_chunks, 1, -(-cnt // max(1, driver_edge_limit // 2)))
        red = _materialize(
            cur.repartition(target).mapInPandas(contract, schema=out_schema),
            durable,
        )
        new_cnt = red.count()
        # Decide stall BEFORE releasing the previous generation: `cur`
        # is what we return on a stall, so it must stay live (a released
        # localCheckpoint frame is unreadable — the caller's stall
        # fallback unions it into the propagation edge list).
        if new_cnt >= cnt:
            _release(red)
            break  # stall: the list is already (near-)minimal — V − C
        if cur is not canon:  # never release the caller's input frame
            _release(cur)
        cur, cnt = red, new_cnt
    return cur, cnt


def connected_components_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_rounds: int = 20,
    durable: bool = False,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Union near-dup pairs into clusters (cluster_id = min id in the
    component). Returns (id, cluster_id).

    Two execution strategies behind one contract:

    - **Driver union-find (edge count ≤ ``driver_edge_limit``)**: the
      pair list after LSH candidate capping is BOUNDED and tiny
      relative to the corpus (10M-doc curation bench: 5M surviving
      docs, 74k pairs — edges are ~0.002% of the data). Collecting two
      long columns (Arrow) and running path-compressed union-find costs
      well under a second at the budget and ZERO Spark rounds. The
      collect is explicitly budgeted: 16 B/edge against the DIRECTED
      edge-row count (~32 MB of driver memory at the default), and the
      edge count is checked BEFORE collecting.
    - **Partition-local contraction → driver union-find** (above the
      limit, the default 10⁹+-doc shape): mapInPandas tasks union-find
      their own partition's edges and emit local spanning stars; one
      to three such passes collapse a clique-heavy near-dup graph far
      below the budget (the 10M-doc bench's measured-slow ~20-round
      propagation loop was the motivation — PERF.md round 6 records
      the contraction at a ≥5M-edge shape). Components are preserved
      exactly, so the driver finish yields identical min-id labels.
    - **Distributed min-label propagation + pointer doubling** (last
      resort — only when contraction stalls above the budget, i.e. a
      matching-like topology whose forest genuinely exceeds driver
      memory): label(x) ← label(label(x)) each round reaches the
      component min in O(log diameter) rounds, capped at
      ``max_rounds`` with a verified fixpoint (raises rather than
      returning wrong ids — the leakage-safe split builds on these).
      Runs on the CONTRACTED list, only over edge-touched nodes;
      singletons bypass via one left-anti join.

    ``driver_edge_limit`` picks the path: at or above the edge count
    the driver union-find, below it the contraction (and its loop
    fallback), and 0 the propagation loop alone.

    Both strategies produce identical labels: components are computed
    over edges whose BOTH endpoints are in ``ids`` (an edge through a
    node outside ``ids`` does not relay connectivity — the propagation
    loop never had labels for such nodes, and the union-find filters
    to match)."""
    both_in = (
        pairs.select("id_a", "id_b")
        .join(ids.select(F.col(id_col).alias("id_a")), "id_a", "semi")
        .join(ids.select(F.col(id_col).alias("id_b")), "id_b", "semi")
    )
    edges = _materialize(  # reused every round — compute once
        both_in.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(both_in.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct(),
        durable,
    )
    n_edges = edges.count()
    if n_edges == 0:
        # Zero-edge short-circuit (round 11, VERDICT r10 #8): every id
        # is its own singleton cluster — no collect, no component map,
        # no anti-join. Streaming curation hits this on every trigger
        # whose batch holds no fresh candidate pairs (unique-corpus
        # regime); the edge count above IS the cheap pre-test, and
        # this drops the union-find collect + map-frame + anti-join
        # jobs that used to follow it (measured: 8 -> 5 jobs per
        # zero-pair CC call end-to-end, PERF.md round 11).
        _release(edges)
        return ids.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    if n_edges <= driver_edge_limit:
        out = _cc_driver_union_find(edges, ids, id_col)
        _release(edges)
        return out
    if driver_edge_limit > 0:
        # Above-budget path (VERDICT r5 #4): contract the edge list
        # with partition-local union-find until it fits the driver
        # budget — O(1..3) map-side passes instead of O(log diameter)
        # join rounds, each pass a single narrow shuffle. The forest
        # preserves components exactly (local stars relay
        # connectivity), so the driver union-find on the contracted
        # list yields the identical min-id labels.
        canon = _materialize(edges.filter(F.col("src") < F.col("dst")), durable)
        forest, f_cnt = _cc_forest_contract(
            canon, n_edges // 2, durable, driver_edge_limit
        )
        if f_cnt <= driver_edge_limit:
            out = _cc_driver_union_find(forest, ids, id_col)
            if forest is not canon:
                _release(forest)
            _release(canon)
            _release(edges)
            return out
        # contraction stalled above the budget: the graph genuinely
        # holds > limit forest edges (matching-like topology). Run the
        # label-propagation loop — but on the CONTRACTED list, which
        # is ≤ the original and component-equivalent.
        reduced = _materialize(
            forest.union(
                forest.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ),
            durable,
        )
        if forest is not canon:
            _release(forest)
        _release(canon)
        _release(edges)
        edges = reduced
    # Only nodes incident to an edge can ever change label — a
    # singleton's cluster_id is its own id at every round, so carrying
    # it through the loop is pure overhead. At dedup-realistic edge
    # densities that overhead DOMINATES: the 10M-doc curation bench had
    # 5M surviving nodes but only 74k near-dup pairs, and looping all
    # 5M cost 1,941 s (each round re-joined, re-materialized and
    # re-fingerprinted a 5M-row generation); looping only the ~100k
    # touched nodes and left-anti-unioning the singletons afterwards
    # is the same answer from frames 50x smaller (PERF.md "Curation at
    # 10M docs", round 6).
    touched = ids.select(F.col(id_col).alias("src")).join(
        edges.select("src").distinct(), on="src", how="semi"
    )
    labels = touched.select("src", F.col("src").alias("cluster_id"))
    labels = _materialize(labels, durable)
    # Convergence: labels only ever decrease (least() below and the
    # shortcut both replace a label with a ≤ one), so the label sum is
    # strictly decreasing until the fixpoint — one tiny scalar aggregate
    # per round replaces a join-based diff (2x faster loop in
    # profiling). Summing label ids can overflow int64 only past ~1e9
    # rows x 1e9 ids; for that regime swap in sum(xxhash64(cluster_id))
    # as the fingerprint.
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst2"), edges.dst == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, on="src", how="left").select(
            "src", F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias("cluster_id")
        )
        # Pointer doubling: jump to the label of my label. label(x) is
        # always a node id inside x's component, so the shortcut stays
        # in-component while halving the remaining chain length.
        parents = stepped.select(
            F.col("src").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        new_labels = _materialize(
            stepped.join(parents, stepped.cluster_id == parents.p_id, "left").select(
                "src", F.coalesce("p_label", "cluster_id").alias("cluster_id")
            ),
            durable,
        )
        new_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        # the new generation is eagerly materialized — free the old
        # one's blocks NOW, or rounds accumulate dead 10M-row
        # generations until the heap dies (measured: the 10M curation
        # bench OOM'd exactly here before this release; PERF.md
        # "Curation at 10M docs", round 6)
        _release(labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components_clusters: no fixpoint after {max_rounds} rounds "
            "(component diameter > 2^rounds is implausible — likely a data or "
            "fingerprint-overflow issue); refusing to return wrong cluster ids"
        )
    # the result only reads the final labels generation; the edge list
    # is done with
    _release(edges)
    # singletons (no incident edge) are their own cluster — one
    # left-anti against the touched set, never in the loop
    singletons = ids.select(F.col(id_col).alias("src")).join(
        labels.select("src"), on="src", how="left_anti"
    ).select("src", F.col("src").alias("cluster_id"))
    return labels.unionByName(singletons).select(
        F.col("src").alias(id_col), "cluster_id"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32, shingle_k: int = 2) -> DataFrame:
    """SimHash per doc: sign-sum of per-shingle hash bits (default 32
    bits via the portable md5-derived hash → exact DuckDB oracle).

    Vectorized as array lambdas: for each bit position, count shingles
    with that bit set vs total, bit = 1 iff majority. Returns
    (id, simhash long).

    ``bits`` up to 64 (round 13): bits <= 32 hash shingles with the
    portable :func:`hash32`; wider fingerprints use the native
    ``xxhash64`` (no DuckDB-oracle portability — the 64-bit path is
    the cluster-scale configuration, see
    :func:`simhash_near_pairs`'s candidate-complexity note).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash: bits must be in 1..64, got {bits}")
    # Spark-first shape (same rationale as minhash_signatures): windowed
    # shingle explosion → ONE hash-aggregate computing all per-bit ones
    # counts — instead of `bits` separate array traversals per row.
    shingle_hash = (
        hash32(F.col("shingle")) if bits <= 32 else F.xxhash64(F.col("shingle"))
    )
    exploded = exploded_shingles(df, id_col, text_col, shingle_k).select(
        id_col, shingle_hash.alias("_h")
    )
    # TWO parsed SQL expressions instead of ~bits*16 py4j round-trips
    # (round 14, guide §4 — plan-build boundary, same class as the
    # minhash/SQ8 kernels): per-bit ones counts as one array-wrapped
    # aggregate (Catalyst still plans the map-side partial agg), then
    # the majority-bit OR chain over the array. shiftleft (not 1<<b
    # arithmetic) keeps bit 63 from overflowing a signed long; OR-ing
    # disjoint one-bit terms is value-identical to the former
    # per-column construction for any bits.
    ones_sql = (
        "array("
        + ", ".join(f"sum(shiftrightunsigned(_h, {b}) & 1)" for b in range(bits))
        + ") AS _bs"
    )
    counts = exploded.groupBy(id_col).agg(
        F.expr("count(1) AS _n"), F.expr(ones_sql)
    )
    sim_sql = " | ".join(
        f"(CASE WHEN _bs[{b}] * 2 >= _n THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return counts.select(F.col(id_col), F.expr(sim_sql).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    materialize: bool = True,
    durable: bool = False,
    bits: int = 32,
    n_blocks: int = 4,
    max_bucket_size: int | None = 10_000,
    oversize_policy: str = "star",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using
    the block pigeonhole trick: with ``n_blocks`` blocks, any pair
    within distance ``n_blocks - 1`` shares at least one exact block of
    the signature → join per block, never all-pairs. The default
    (32-bit fingerprint, 4 x 8-bit blocks) guarantees recall for
    distance <= 3; a larger ``max_hamming`` (the gate query uses 8)
    keeps the same candidate screen and accepts partial recall —
    documented contract, replicated exactly by the DuckDB oracle.

    **Candidate-complexity note (round 13, measured)**: block values
    are uniform over ``2^block_bits`` even for unrelated docs, so the
    expected candidate count is ``n_blocks * n^2 / (2 * 2^block_bits)``
    — QUADRATIC in corpus size regardless of content. With the default
    8-bit blocks that is n^2/128: fine to ~100k docs, measured 34x
    wall for 10x docs crossing 50k→500k (PERF.md round 13 scaling
    record, alpha = 1.54). Worse, at loose thresholds the 32-bit
    SKETCH itself saturates: P[hamming(a,b) <= 8] for unrelated docs
    is ~0.35% over 32 bits, so even the emitted pair set goes
    quadratic (measured: 283.8M pairs at 500k docs). At cluster scale
    use ``bits=64`` (4 x 16-bit blocks): the same recall guarantee,
    buckets of n/65536, random-pair probability ~2e-10 — measured
    50k→500k at bits=64: 2.64 → 4.84 s, alpha = 0.26, 482k genuine
    pairs (PERF.md round 13). The 64-bit fingerprint hashes shingles
    with native xxhash64 (no DuckDB oracle; the 32-bit default stays
    the portable, value-checked configuration).

    ``max_bucket_size`` / ``oversize_policy`` (round 13): the
    :func:`banded_pairs` hot-bucket guard over the (blk, blk_val)
    buckets — an identical-text flood shares ALL blocks and a naive
    block join evaluates m^2/2 pairs per block; every star pair still
    passes the exact Hamming filter. The guard bounds ADVERSARIAL skew;
    it does not remove the uniform n^2/2^block_bits term above — size
    ``bits`` for that.
    """
    if not 1 <= n_blocks <= bits:
        raise ValueError(f"simhash_near_pairs: need 1 <= n_blocks <= bits, got {n_blocks}/{bits}")
    sigs = simhash(df, id_col, text_col, bits=bits)
    if materialize and max_bucket_size is None:
        # the guarded path checkpoints the TAGGED blocks in banded_pairs
        # instead (one checkpoint either way; the self-join never
        # recomputes signatures). Checkpointing before the tagging would
        # replan the guard's aggregate + broadcast once per consumer
        # (both join sides and the star branch).
        sigs = _materialize(sigs, durable)
    # block i covers bit range [i*bits//n_blocks, (i+1)*bits//n_blocks)
    # — equal 8-bit widths at the 32/4 default, uneven widths allowed
    bounds = [i * bits // n_blocks for i in range(n_blocks + 1)]
    blocks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), bounds[i])
                        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                        .alias("blk_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.blk", "b.blk_val")

    pairs = banded_pairs(
        blocks,
        id_col,
        ("blk", "blk_val"),
        max_bucket_size,
        oversize_policy,
        "simhash_near_pairs",
        carry="simhash",
        materialize=materialize,
        durable=durable,
    )
    # score before the pair dedup (the embedding_neardup_pairs rework,
    # PERF.md round 7): bit_count(xor) is identical on every block
    # copy, and pigeonhole collisions that FAIL the hamming cut — the
    # majority under random block matches — never reach the exchange.
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact set similarity — oracle-friendly)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    join_on: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for candidate pairs.

    Requires a candidate set (``join_on``, e.g. minhash_lsh_pairs
    output) — without one the only formulation is an all-pairs
    crossJoin, a quadratic scale hazard this module otherwise never
    permits, so that path must be opted into explicitly with
    ``allow_quadratic=True`` (small data / oracle checks only; raises
    otherwise). Expressed with array_intersect / array_union set
    semantics, fully SQL-portable (DuckDB oracle uses list_distinct +
    list intersection), so this op anchors the correctness of the whole
    near-dup family.
    """
    if join_on is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without join_on is an all-pairs crossJoin; "
            "pass a candidate set (e.g. minhash_lsh_pairs output) or opt in "
            "with allow_quadratic=True for small inputs"
        )
    base = df
    if join_on is not None:
        # gram computation (regex split + shingle + distinct per doc) is
        # the stage's CPU cost and only candidate ENDPOINTS need it — at
        # scale the candidate mass is a sliver of the corpus, so prune
        # with a semi-join on the candidate id set before shingling
        # (values unchanged: the verify join only ever reads endpoints)
        cand_ids = (
            join_on.select(F.col("id_a").alias(id_col))
            .unionByName(join_on.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = df.join(cand_ids, id_col, "left_semi")
    sh = base.select(
        F.col(id_col),
        F.array_distinct(_word_shingles(F.col(text_col), k)).alias("grams"),
    )
    l, r = sh.alias("l"), sh.alias("r")
    cond = [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")]
    if join_on is not None:
        cand = join_on.select(F.col("id_a"), F.col("id_b"))
        joined = cand.join(l, cand.id_a == F.col(f"l.{id_col}")).join(
            r, cand.id_b == F.col(f"r.{id_col}")
        )
    else:
        joined = l.crossJoin(r).filter(cond[0])
    inter = F.size(F.array_intersect(F.col("l.grams"), F.col("r.grams")))
    union = F.size(F.array_union(F.col("l.grams"), F.col("r.grams")))
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return (
        joined.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            jac,
        )
        .filter(F.col("jaccard") >= threshold)
    )


def canonical_keep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality: Column | None = None,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    est_threshold: float = 0.3,
    exact_threshold: float = 0.4,
    max_bucket_size: int | None = 10_000,
    materialize: bool = True,
    durable: bool = False,
) -> DataFrame:
    """Quality-aware canonical selection: the END decision of a fuzzy
    dedup pass — not just *that* documents are near-duplicates, but
    *which copy to keep*. Production curation keeps the best-quality
    member of each near-dup cluster (the min-id convention of
    plans/curation.py is the quality-blind special case).

    Pipeline: MinHash-LSH candidates (est_jaccard ≥ ``est_threshold``)
    → exact word-``shingle_k``-gram Jaccard verify
    (:func:`ngram_jaccard_pairs`, ≥ ``exact_threshold``) → connected
    components over the VERIFIED edges → per cluster, keep the member
    maximizing (quality, then min id on ties).

    ``quality`` defaults to
    :func:`~s3logs_parquet_spark.functions.text_analysis.quality_score`
    rounded to 6 places (rounded so the argmax ordering is portable
    across engines — the same convention the quality gate uses).

    Returns per document: (id, cluster_id, quality, max_jaccard, keep)
    where ``max_jaccard`` is the highest verified-edge similarity the
    document participates in (0.0 for singletons) and ``keep`` is 1
    for the cluster's canonical member, else 0.

    Scale shape: candidate generation is banded LSH with the hot-bucket
    star cap (never all-pairs), the verify join touches candidate pairs
    only, clustering is :func:`connected_components_clusters` (edge-
    budgeted driver union-find / partition-local contraction), and the
    keep decision is one cluster-keyed hash aggregate (max_by) joined
    back — no per-cluster sort window, no collect.
    """
    qdf = None
    if quality is None:
        # staged gate (round-10 plan audit): the pure quality_score
        # expression re-derives the words array per feature (~20
        # split() copies at this call site's plan); the fused helper
        # emits the identical round(quality_score, 6) value from ONE
        # tokenize pass
        from s3logs_parquet_spark.functions.text_analysis import (
            with_quality_and_lang,
        )

        qdf = with_quality_and_lang(
            df.select(F.col(id_col), F.col(text_col)),
            text_col,
            quality_col="_ck_q",
            emit=("quality",),
        ).select(id_col, "_ck_q")

    pairs = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=est_threshold,
        max_bucket_size=max_bucket_size,
        oversize_policy="star",
    )
    verified = ngram_jaccard_pairs(
        df, id_col, text_col, k=shingle_k, threshold=exact_threshold, join_on=pairs
    )
    if materialize:
        # three consumers replay the verified edge list (CC's edge
        # collect, both endpoint projections of the max-jaccard agg) —
        # checkpoint the bounded post-filter pair frame once instead of
        # re-running LSH banding + the grams verify join per consumer
        verified = _materialize(verified, durable=durable)
    labels = connected_components_clusters(
        verified.select("id_a", "id_b"), df.select(id_col), id_col
    )
    if qdf is None:
        qdf = df.select(F.col(id_col), quality.alias("_ck_q"))
    scored = labels.join(qdf, id_col)
    # per-doc best verified similarity (both endpoints of each edge)
    mj = (
        verified.select(F.col("id_a").alias(id_col), "jaccard")
        .unionByName(verified.select(F.col("id_b").alias(id_col), "jaccard"))
        .groupBy(id_col)
        .agg(F.max("jaccard").alias("_ck_mj"))
    )
    scored = scored.join(mj, id_col, "left").withColumn(
        "_ck_mj", F.coalesce(F.col("_ck_mj"), F.lit(0.0))
    )
    # canonical member per cluster: argmax (quality, -id) — one hash
    # aggregate, merged map-side; ties on quality resolve to min id
    best = scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col("_ck_q"), (-F.col(id_col)).alias("_neg"))
        ).alias("_ck_keep_id")
    )
    return (
        scored.join(best, "cluster_id")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("_ck_q").alias("quality"),
            F.round(F.col("_ck_mj"), 6).alias("max_jaccard"),
            (F.col(id_col) == F.col("_ck_keep_id")).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bands: int = 8,
    bits_per_band: int = 8,
    materialize: bool = True,
    durable: bool = False,
    max_bucket_size: int | None = 10_000,
    oversize_policy: str = "star",
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.

    Candidate generation by random-hyperplane LSH (sign bits of dot
    products with fixed pseudo-random planes, grouped into bands), then
    exact cosine on candidates. Deterministic planes derived from the
    vector index via a hash — no RNG at runtime. Tune the band shape to
    the threshold: per-band collision probability is
    ``(1 - θ/π)^bits_per_band`` (θ = target angle), so lower thresholds
    want fewer bits per band / more bands for recall, higher thresholds
    more bits for precision of the candidate set.

    Tune ``bits_per_band`` to CORPUS SIZE too (the simhash round-13
    lesson, PERF.md): band keys occupy only ``2^bits_per_band`` values,
    and unrelated vectors land ~uniformly over them, so expected
    candidates carry an ``n_bands * n^2 / 2^(bits_per_band+1)`` term
    regardless of content — with the 8-band x 8-bit default that is
    n^2/64.
    Keep ``2^bits_per_band >> n / target_bucket_size`` as the corpus
    grows (and add bands to hold recall at the threshold); otherwise
    the ``max_bucket_size`` star guard engages on SATURATED — not
    genuinely hot — buckets and silently trades recall for the bound
    (the measured alpha=0.08 scaling point in PERF.md round 13 is that
    guard absorbing a 10-cluster adversarial corpus).

    ``max_bucket_size`` / ``oversize_policy``: the :func:`banded_pairs`
    hot-bucket guard over the (band, band_key) buckets — an embedding
    hot spot (the duplicate mass itself!) puts m near-identical vectors
    in the same band bucket and a naive self-join evaluates m²/2 pairs
    per band; every star pair still passes the exact cosine filter.

    Per-pair scoring: the unit-vector L2 norm is precomputed per ROW
    and the pair test is an expanded dot / (na·nb) — bit-identical to
    the HOF cosine (same left-to-right arithmetic on the same input)
    but codegen-resident and evaluated n instead of Σ m² times (the
    semantic_dedup pair-stage lesson, PERF.md round 6).
    """
    from s3logs_parquet_spark.operators.ann import (
        dot_expanded,
        hyperplane_band_keys,
        l2_norm_expanded,
        with_unit_vector,
    )

    first = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    dim = int(first["_d"]) if first and first["_d"] is not None else 0
    if dim <= 0:
        # Empty frame, or a null/empty probe vector: the expanded
        # dot/SQRT kernels with dim=0 would generate invalid SQL
        # ('SQRT()'), so honor the repo-wide empty-input contract
        # (return an empty result) instead of building them.
        return df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    # Band on the RAW vector: sign(<v, p>) is invariant under the
    # positive scaling that normalization applies, so banding raw and
    # banding normalized generate the same candidates — and the raw
    # column is what the SQL oracle replicates (integer-quantized
    # projection, exact cross-engine — see hyperplane_band_keys).
    # Normalized vectors are still what the exact verification scores.
    unit = with_unit_vector(df, vec_col, "_unit").withColumn(
        "_un", l2_norm_expanded("_unit", dim)
    )
    banded = hyperplane_band_keys(
        unit, vec_col, n_bands=n_bands, bits_per_band=bits_per_band, dim=dim
    )
    if materialize:
        banded = _materialize(banded, durable)
    # band 0 of the PRE-cap-filter banded frame is the per-id
    # (unit vector, norm) table — straight off the checkpointed
    # blocks, one row per input (the minhash band-0 trick)
    vecs = banded.filter(F.col("band") == 0).select(id_col, "_unit", "_un")

    # Candidate IDS only through the band join and the cross-band
    # distinct (16-byte rows), then each side's unit vector + norm
    # joins back ONCE per unique pair and the exact cosine evaluates
    # ONCE per pair — the same exchange-slimming shape as
    # minhash_lsh_pairs. Both alternatives were measured and rejected
    # (PERF.md round 7 "the pair-exchange rework"): carrying vectors
    # as pair payload shuffles 2×dim doubles per candidate COPY
    # (11.47 GB at 200k×64); scoring per copy before the dedup wins
    # only when the threshold kills most candidates — at the gate's
    # low-threshold shape (0.45, 12 bands) survivors dominate and the
    # dim-64 dot ran 12× per pair (bench regression 4.0 → 7.1 s).
    # Id-dedup + rejoin is the shape that wins at BOTH regimes.
    pair_ids = banded_pairs(
        banded,
        id_col,
        ("band", "band_key"),
        max_bucket_size,
        oversize_policy,
        "embedding_neardup_pairs",
    ).distinct()
    pairs = pair_ids.join(
        vecs.select(
            F.col(id_col).alias("id_a"),
            F.col("_unit").alias("va"),
            F.col("_un").alias("na"),
        ),
        on="id_a",
    ).join(
        vecs.select(
            F.col(id_col).alias("id_b"),
            F.col("_unit").alias("vb"),
            F.col("_un").alias("nb"),
        ),
        on="id_b",
    )
    cos = dot_expanded("va", "vb", dim) / (F.col("na") * F.col("nb"))
    # Score through a (id_a, id_b) aggregate rather than a bare
    # filter/projection: with the cosine in the OUTPUT, Catalyst fuses
    # the dim-wide expression into the join stage's whole-stage-codegen
    # method, which blows the 64KB method fallback and drops the WHOLE
    # stage to interpreted eval (measured 7.8-9.0 s at sf0.1 under the
    # noop sink — while count(), which prunes the output column, ran
    # 1.2 s). Projecting the dot into a partial aggregate keeps it in
    # a JIT-able method shape on every consumer path; the exchange
    # carries (id_a, id_b, cosine) = 24 bytes/row, groups are
    # singletons (ids already distinct), and min() of identical values
    # is the value itself — bit-exact. Measured: noop 7.8 → 1.1 s,
    # count 1.2 → 1.3 s (PERF.md round 7 "the pair-exchange rework").
    return (
        pairs.select("id_a", "id_b", cos.alias("_c"))
        .groupBy("id_a", "id_b")
        .agg(F.min("_c").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def tfidf_similar_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_df: int = 1000,
    idf_scale: int = 1 << 14,
    tf_cap: int = 255,
    materialize: bool = True,
    durable: bool = False,
) -> DataFrame:
    """Weighted lexical similarity pairs: cosine over tf-idf-style
    term vectors ≥ ``threshold`` — the frequency-weighted complement
    to MinHash/SimHash (which see only set overlap): shared RARE
    vocabulary scores high, shared boilerplate scores ~0.

    Weighting is integer-quantized for cross-engine determinism, the
    same discipline as the hyperplane-banding kernel: per (doc, term)
    weight w = min(tf, tf_cap) · (idf_scale DIV df) — every operand an
    exact integer, so dot products and squared norms are exact BIGINT
    sums whose value is independent of aggregation order, and the
    DuckDB oracle reproduces cosines bit-for-bit (float log-idf would
    be ±1 ulp across libm implementations and flip rounded digits).
    ``idf_scale DIV df`` is a calibrated reciprocal-df weight: df = 1
    → idf_scale, df > idf_scale → 0 (auto-dropping ubiquitous terms).

    Plan shape (the sparse-vector inverted-index join): explode terms
    → tf hash-agg (map-side combined) → df hash-agg → postings
    self-join keyed by TERM → pair hash-agg for the dot → two id-keyed
    joins for norms. ``max_df`` bounds the per-term join fan-out
    (≤ max_df² candidate pairs per term) — the standard df-pruning
    that makes inverted-index similarity tractable; terms above it
    carry near-zero weight anyway. At 100 TB the term-keyed exchanges
    are uniform/high-cardinality; the postings table is the write-side
    precompute candidate.

    **Eager evaluation (ADVICE round 10)**: with ``materialize=True``
    (default) the postings table is localCheckpointed AT CALL TIME —
    this function runs a Spark job before returning, unlike the other
    lazy pair builders, and the checkpointed blocks live on executors
    until released. Long-lived drivers calling this repeatedly should
    free them once the returned pairs frame has been consumed
    (collected/written/materialized):
    ``session.release_tracked("tfidf_postings")`` — the handle is
    registered with the session module at call time, so it survives
    any transformation of the returned frame. The bare tag releases
    ALL registered postings frames (single-tenant loops); CONCURRENT
    callers in one driver must instead release only their own via the
    per-call token ``pairs._s3lps_postings._s3lps_track_token``
    (VERDICT r12 #5 — a shared-tag release would unpersist the other
    caller's still-in-flight postings). The frame ALSO carries
    the handle as ``pairs._s3lps_postings`` for single-call use, but
    that attribute lives on THIS frame only — ``.filter()/.select()``
    return a new DataFrame without it (ADVICE r11 #3), so read it off
    the frame returned by this call before transforming, or use the
    registry. ``materialize=False`` keeps the call fully lazy (and
    re-tokenizes ~8x, see below).

    Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    from s3logs_parquet_spark.functions.text_analysis import words

    w_tf = (
        docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.least(F.count(F.lit(1)), F.lit(tf_cap)).cast("long").alias("tf"))
    )
    w_df = w_tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        w_tf.join(w_df, "term")
        .filter(F.col("df") <= F.lit(int(max_df)))
        .select(
            F.col(id_col),
            "term",
            (F.col("tf") * F.expr(f"{int(idf_scale)} div df")).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    if materialize:
        # three consumers scan the postings table (the norms aggregate
        # and BOTH sides of the term self-join) — without a checkpoint
        # each replays tokenize + two hash-aggs + the df join (the
        # round-10 plan audit counted the tokenize 8× in this plan).
        # Same signature discipline as minhash_lsh_pairs; the
        # production-scale analog is persisting the postings table
        # (the docstring's write-side precompute).
        postings = _materialize(postings, durable)
    norms = postings.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))

    a = postings.select(
        F.col(id_col).alias("id_a"), "term", F.col("w").alias("wa")
    )
    b = postings.select(
        F.col(id_col).alias("id_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    scored = (
        dots.join(norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("n2a")), "id_a")
        .join(norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("n2b")), "id_b")
        .withColumn(
            "cosine",
            F.col("dot") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))),
        )
    )
    out = scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")
    if materialize:
        # release handles for long-lived drivers (see docstring) — the
        # checkpointed postings blocks outlive this call otherwise.
        # Registry first (transformation-proof, ADVICE r11 #3); the
        # frame attribute stays for single-call back-compat.
        from s3logs_parquet_spark.session import track as _track

        _track(postings, "tfidf_postings")
        out._s3lps_postings = postings
    return out


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared_fps: int = 1,
) -> DataFrame:
    """Benchmark decontamination: drop training docs sharing winnowing
    fingerprints with an eval/benchmark set — the standard guard
    against test-set leakage into training data.

    Both sides go through the same winnowing fingerprint extraction
    (functions/text_analysis.py); a doc is contaminated when it shares
    >= ``min_shared_fps`` distinct fingerprints with ANY benchmark
    doc. Returns ``docs`` with an ``is_contaminated`` flag (caller
    filters or audits).

    Scale shape: the benchmark fingerprint set is small by nature
    (benchmarks are thousands of docs, not billions) → broadcast
    semi-join against the exploded corpus fingerprints. Never
    all-pairs, never a shuffle of the corpus text itself — only
    (id, fp) longs move. At 100 TB the corpus fingerprint table is the
    write-side precomputed artifact winnowing_fingerprint_rows
    documents.
    """
    from s3logs_parquet_spark.functions.text_analysis import (
        winnowing_fingerprint_rows,
    )

    corpus_fps = winnowing_fingerprint_rows(docs, id_col, text_col, k=k, window=window)
    bench_fps = (
        winnowing_fingerprint_rows(benchmark, id_col, text_col, k=k, window=window)
        .select("fp")
        .distinct()
    )
    hits = (
        corpus_fps.join(F.broadcast(bench_fps), "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared_fps)
        .select(id_col)
    )
    return docs.join(
        hits.withColumn("is_contaminated", F.lit(True)), id_col, "left"
    ).withColumn("is_contaminated", F.coalesce(F.col("is_contaminated"), F.lit(False)))


def dup_ngram_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-n-gram fraction: for each document, the
    fraction of its word n-gram OCCURRENCES whose n-gram also appears
    in at least ``min_docs`` distinct documents (counting this one) —
    the corpus-level boilerplate signal behind Gopher/RefinedWeb-style
    filtering rules (within-document repetition lives in
    functions/text_analysis.with_repetition_signals; this is the
    across-document complement).

    Plan, in scan order: map-only n-gram expansion (tokens →
    slice/array_join — codegen, no Python), explode, then
    (1) hash-agg by (doc, ngram) to occurrence counts,
    (2) hash-agg by ngram over those distinct pairs to document
        frequencies, filtered to ngrams at/above ``min_docs`` — at
        corpus scale this survivor table is the boilerplate tail,
        far smaller than the n-gram universe,
    (3) join the (doc, ngram) counts against the survivors on ngram
        (re-using the ngram-keyed exchange) and one final hash-agg by
        doc.
    Shuffle keys are (doc,ngram) / ngram / doc — all high-cardinality
    and uniform, nothing collects, nothing broadcasts by necessity:
    the 100 TB shape is three hash aggregations over an exploded scan.

    Documents with fewer than ``n`` tokens have no n-grams and are
    absent from the output (their fraction is undefined, matching the
    SQL oracle's inner grouping).
    """
    from s3logs_parquet_spark.functions.text_analysis import words

    toks = docs.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    n_lit = F.lit(int(n))
    ngrams = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_w") >= n_lit,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - n_lit + 1),
                    lambda i: F.array_join(F.slice("_w", i, n_lit), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_ng"),
    )
    # explicit not-null guard (always true: array_join over a non-null
    # array never yields NULL, and the explode input defaults to []).
    # The frequent branch feeds a join key, so the optimizer INFERS
    # isnotnull(_ng) there and pushes it below that branch's partial
    # aggregate; stating it once on the shared source keeps the two
    # exchange subtrees byte-identical so ReuseExchange can fire.
    ngrams = ngrams.filter(F.col("_ng").isNotNull())
    pairs = ngrams.groupBy(id_col, "_ng").agg(F.count(F.lit(1)).alias("_cnt"))
    # the _cnt >= 1 filter is always true (count(*) per group ≥ 1); it
    # keeps `_cnt` referenced so the optimizer cannot rewrite this
    # branch's pair aggregate into a plain DISTINCT — that rewrite made
    # the two subtrees structurally different, defeating ReuseExchange,
    # and the scan + tokenizer + n-gram Generate ran TWICE (round 14,
    # guide §2.4: share one exchange between operations keyed alike)
    frequent = (
        pairs.filter(F.col("_cnt") >= 1)
        .groupBy("_ng")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= F.lit(int(min_docs)))
        .select("_ng")
    )
    # ONE doc-keyed aggregation over the flag-joined pairs (round 13):
    # the former two-branch shape (left-semi → dup agg; totals agg;
    # final doc join) aggregated the pairs table twice and joined the
    # two halves back on the doc id — a left join carrying a hit flag
    # folds both sums into a single hash-agg, removing a doc-keyed
    # exchange and the join. Values identical: sum(cnt) over all pairs
    # vs sum(cnt) where the n-gram is frequent, per doc (docs with no
    # frequent n-gram get 0/total = 0.0 either way).
    flagged = pairs.join(
        frequent.withColumn("_dup", F.lit(1)), on="_ng", how="left"
    )
    return flagged.groupBy(id_col).agg(
        F.sum("_cnt").alias("n_ngrams"),
        F.sum(
            F.when(F.col("_dup") == 1, F.col("_cnt")).otherwise(F.lit(0))
        ).alias("_dup_cnt"),
    ).select(
        F.col(id_col),
        F.col("n_ngrams"),
        F.round(F.col("_dup_cnt") / F.col("n_ngrams"), 6).alias("dup_fraction"),
    )


def _dup_span_islands(
    toks: DataFrame,
    id_col: str,
    n: int,
    min_docs: int,
    hash_ngrams: bool,
) -> DataFrame:
    """Shared core of :func:`duplicated_spans` /
    :func:`remove_duplicated_spans`: from (id, _w token-array) rows to
    one row per MERGED duplicated span — (id, _isl, _start, _end),
    1-based inclusive token positions, islands disjoint per document.
    See duplicated_spans for the plan narrative."""
    n = int(n)
    if n < 1:
        raise ValueError(f"duplicated_spans: n must be >= 1, got {n}")
    # a NULL id is not a document: its rows can never match the
    # callers' final equi-joins (spans for it are unreachable), so
    # excluding it up front is the operator contract. Stated as an
    # explicit filter because the consumers' joins INFER
    # isnotnull(id) on one branch of the shared pair exchange below —
    # stating it on the source keeps both exchange subtrees
    # byte-identical so ReuseExchange/AQE stage reuse can fire.
    toks = toks.filter(F.col(id_col).isNotNull())
    n_lit = F.lit(n)
    if hash_ngrams:
        gram = lambda i: F.xxhash64(F.slice("_w", i, n_lit))  # noqa: E731
        gram_t = "bigint"
    else:
        gram = lambda i: F.array_join(  # noqa: E731
            F.slice("_w", i, n_lit), " "
        )
        gram_t = "string"
    starts = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_w") >= n_lit,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - n_lit + 1),
                    lambda i: F.struct(i.alias("pos"), gram(i).alias("ng")),
                ),
            ).otherwise(F.array().cast(f"array<struct<pos:int,ng:{gram_t}>>"))
        ).alias("_s"),
    ).select(
        F.col(id_col), F.col("_s.pos").alias("_pos"), F.col("_s.ng").alias("_ng")
    )
    # ONE n-gram expansion for both consumers (round 14, guide §2.4):
    # the former shape derived `frequent` from a (doc, ngram) DISTINCT
    # and probed the positioned starts against it with a semi-join —
    # two structurally different subtrees over the same Generate, so
    # Spark planned the scan + tokenizer + n-gram expansion (the
    # dominant map CPU: n array slices + joins per token position)
    # TWICE with no exchange to reuse. Folding the positions into the
    # pair aggregate (collect_list — positions are unique per doc, so
    # the list is exactly the group's rows) makes the frequency count
    # and the probe SHARE one (doc, ngram)-keyed exchange: `frequent`
    # counts rows of the aggregated frame (one per distinct pair —
    # identical doc-frequency), the semi-join re-expands survivors
    # with explode. ReuseExchange now plans Scan→Generate→Exchange
    # once. The size(_ps) >= 1 filter is always true (every group has
    # at least one row); it exists to keep `_ps` referenced so the
    # optimizer cannot prune collect_list from the frequency branch
    # and split the shared exchange back into two.
    # Scale shape: the pair exchange is keyed (doc, ngram) — hot
    # boilerplate n-grams spread across docs; the semi-join ships one
    # ngram string + position array per DISTINCT pair where the old
    # probe shipped one string per OCCURRENCE.
    occ = starts.groupBy(id_col, "_ng").agg(F.collect_list("_pos").alias("_ps"))
    frequent = (
        occ.filter(F.size("_ps") >= 1)
        .groupBy("_ng")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= F.lit(int(min_docs)))
        .select("_ng")
    )
    # INNER join, not left_semi: `frequent` is distinct on _ng so both
    # are value-identical (no fan-out), but PushDownLeftSemiAntiJoin
    # would push a semi join below the pair aggregate, splitting the
    # shared exchange back into two Generates; inner joins stay put
    dup_starts = (
        occ.join(frequent, on="_ng", how="inner")
        .select(id_col, F.explode("_ps").alias("_pos"))
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    islands = dup_starts.withColumn(
        "_brk",
        F.when(F.col("_pos") - F.lag("_pos").over(w) <= n_lit, F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy(id_col, "_isl").agg(
        F.min("_pos").alias("_start"),
        (F.max("_pos") + n_lit - 1).alias("_end"),
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
    hash_ngrams: bool = False,
) -> DataFrame:
    """ExactSubstr-style cross-document span coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): per
    document, the MERGED token spans covered by word ``n``-grams that
    also occur in at least ``min_docs`` distinct documents — i.e. which
    contiguous stretches an exact-substring dedup pass would remove,
    and how much of the document they cover.

    This is the position-aware complement of :func:`dup_ngram_fraction`
    (which counts duplicated OCCURRENCES): two documents sharing one
    long boilerplate block have a handful of long spans here, while a
    document whose common trigrams are scattered shows many short
    spans. The reference has no text-curation surface; this extends the
    D1 dedup family to the training-data-pipeline shape.

    Plan, in scan order (all built-ins, no Python):
    1. map-only n-gram expansion carrying the START POSITION — one
       struct array built by transform over 1..len-n+1, exploded;
    2. hash-agg the distinct (doc, ngram) pairs, then hash-agg by
       ngram to document frequency, filtered to >= ``min_docs`` — the
       survivor table is the cross-document boilerplate tail, far
       smaller than the n-gram universe;
    3. shuffle left-semi join of the positioned starts against the
       survivors on the ngram (high-cardinality uniform key — never
       broadcast by assumption: the survivor side GROWS with corpus
       duplication);
    4. one exchange on the doc id for the gaps-and-islands merge: lag
       + running sum over the same (doc, pos) sort — two window
       functions, one sort. A new island starts when the gap to the
       previous start exceeds ``n`` (strictly-overlapping OR
       exactly-adjacent starts merge into one maximal span);
    5. island hash-agg (cov = max(pos) - min(pos) + n) and a final
       per-doc hash-agg, left-joined back to per-doc token totals so
       span-free documents report zero coverage.

    Shuffle keys are (doc,ngram) / ngram / doc — the identical
    100 TB shape as dup_ngram_fraction plus one keyed window; nothing
    collects, nothing is quadratic (positions are linear in tokens,
    islands are disjoint by construction).

    Output: (id_col, n_tokens, n_spans, dup_tokens, dup_coverage) with
    dup_coverage = dup_tokens / n_tokens rounded to 6 places (NULL for
    empty documents).

    ``hash_ngrams=True`` keys the three n-gram exchanges on
    xxhash64 over the token slice (8 bytes, no string materialization)
    instead of the joined n-gram text (~6-8 bytes/token): at corpus
    scale this cuts the dominant (doc, ngram) exchange roughly
    n·token-width / 8 ≈ 10× for n=13. The trade is a quantified
    collision risk (~G²/2⁶⁵ for G distinct n-grams — at 10⁹ grams
    ~3%, and a collision only perturbs one gram's doc-frequency, it
    cannot fabricate a whole span) — content-exact string keys remain
    the default and the oracle-gated mode.
    """
    from s3logs_parquet_spark.functions.text_analysis import words

    toks = docs.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    spans = _dup_span_islands(toks, id_col, n, min_docs, hash_ngrams).select(
        id_col, "_isl", (F.col("_end") - F.col("_start") + 1).alias("_cov")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("_cov").alias("dup_tokens"),
    )
    totals = toks.select(F.col(id_col), F.size("_w").alias("n_tokens"))
    return totals.join(per_doc, on=id_col, how="left").select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0))
        .cast("long")
        .alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"),
                6,
            ),
        ).alias("dup_coverage"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
    hash_ngrams: bool = False,
) -> DataFrame:
    """The APPLY half of ExactSubstr dedup: excise the merged
    cross-document duplicated spans :func:`duplicated_spans` reports
    and emit the cleaned TOKEN sequence per document — what the
    training-data pipeline actually feeds downstream (Lee et al. 2022
    cut the repeated substring from all but one occurrence; like that
    paper's released pipeline, the simpler uniform policy here cuts it
    everywhere — callers wanting keep-one join the span frame against
    an exact-dedup survivor pick instead).

    Token-level, not byte-level, by design: ``words()`` lowercases and
    collapses whitespace, so the reconstruction is the cleaned
    lowercase token stream joined by single spaces. Byte-faithful
    excision needs character offsets the tokenizer deliberately does
    not keep; the consumers of this stage (tokenize → pack → train)
    re-tokenize anyway.

    Plan (round 13 restructure): the shared island core (three
    hash-agg shuffles + one doc-keyed window exchange), then the spans
    collapse to ONE array row per doc (two stacked hash-aggs on the
    window's existing doc partitioning — no new exchange), left-join
    onto the token arrays, and the whole excision runs as map-side
    array algebra: covered = flatten(per-span sequences), kept =
    array_except(1..n_tokens, covered) (order-preserving on the first
    argument), clean_text = array_join over the kept positions. This
    replaces the former posexplode token STREAM (one row per token,
    ~50× the doc rows), its (doc, pos) anti-join exchange pair, and
    the collect_list + array_sort rebuild agg — the heaviest exchange
    of the old plan carried every token as a row; the new one carries
    each doc's span bounds once. Nothing collects.

    Output: (id_col, n_tokens, removed_tokens, clean_text) for EVERY
    input document (clean_text = '' when everything was removed or the
    doc was empty). removed_tokens always equals duplicated_spans'
    dup_tokens on the same inputs (standing differential in
    tests/test_similarity.py).
    """
    from s3logs_parquet_spark.functions.text_analysis import words

    toks = docs.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    spans = _dup_span_islands(toks, id_col, n, min_docs, hash_ngrams)
    span_arrays = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("_start", "_end")).alias("_spans")
    )
    joined = toks.join(span_arrays, on=id_col, how="left")
    excised = (
        joined.withColumn(
            "_pos",
            F.when(F.size("_w") > 0, F.sequence(F.lit(1), F.size("_w")))
            .otherwise(F.expr("array()").cast("array<int>")),
        )
        .withColumn(
            "_cov",
            # islands are disjoint, so the flattened covered set has no
            # duplicates; span-free docs (null _spans) cover nothing
            F.coalesce(
                F.expr("flatten(transform(_spans, s -> sequence(s._start, s._end)))"),
                F.expr("array()").cast("array<int>"),
            ),
        )
        # array_except keeps the FIRST argument's order, so kept
        # positions stay ascending and the rebuild needs no sort.
        # PINNED ASSUMPTION (ADVICE r13 #3): Spark only documents
        # "without duplicates" — first-argument order preservation is
        # an implementation detail (stable since 2.4; OpenHashSet scan
        # over arg1). It is enforced here by the DuckDB oracle hash
        # gate on docs_remove_dup_spans and by
        # tests/test_similarity.py's reconstruction differential: an
        # order change in a future Spark fails those loudly, and the
        # contractual fallback is filter(_pos, p -> NOT
        # array_contains(_cov, p)) at a measured perf cost.
        .withColumn("_kept", F.array_except("_pos", "_cov"))
    )
    return excised.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tokens"),
        (F.size("_w") - F.size("_kept")).cast("long").alias("removed_tokens"),
        F.expr("array_join(transform(_kept, p -> _w[p - 1]), ' ')").alias("clean_text"),
    )


def semantic_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """The write-side precompute of :func:`semantic_dedup`: every
    vector's quantizer cell and L2 norm, MATERIALIZED — in production
    these are columns written next to the embedding at ingest (the
    cluster assignment is a property of the corpus, not of any one
    dedup run). Schema: (id_col, vec_col, cell, vec_norm).

    Exposed so callers (and repeat dedup runs over the same corpus)
    pay the assignment kernel once; pass the result via
    ``semantic_dedup(..., assigned=...)``.

    Dim contract: vectors LONGER than the quantizer would silently
    truncate to its first ``dim`` components (the expanded kernel
    indexes 0..dim-1; shorter vectors already fail loudly under ANSI
    indexing), so the first row's width is probed and a mismatch
    raises — the same fail-loud guard the incremental probe applies
    to a persisted index (ADVICE r5)."""
    from s3logs_parquet_spark.operators.ann import ivf_assign, l2_norm_expanded

    dim = len(centroids[0])
    probe = df.select(F.size(F.col(vec_col)).alias("_d")).limit(1).collect()
    if probe and probe[0]["_d"] is not None and probe[0]["_d"] != dim:
        raise ValueError(
            f"semantic_assign: vectors have dim {probe[0]['_d']} but the "
            f"quantizer has dim {dim} — wrong model/centroids for this "
            "corpus (longer vectors would silently truncate)"
        )
    return _materialize(
        ivf_assign(
            df.select(F.col(id_col), F.col(vec_col)), vec_col, centroids, "cell"
        ).withColumn("vec_norm", l2_norm_expanded(vec_col, dim)),
        False,
    )


def _semantic_pair_flags_blas(
    assigned: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Per-cell blocked-BLAS pair stage: group the assignment by cell
    and compute each member's is_semdup flag (any LOWER-id member at
    cosine >= threshold) with one numpy matmul per row block — the
    whole pair join + distinct + flag join-back collapses into a
    single applyInPandas over the one cell-keyed exchange.

    Why not a SQL join condition (the round-6 design, kept as
    ``pair_kernel='expanded'``): the expanded dim-term dot in the join
    filter compiles to one 14,940-byte codegen method at dim 64 — past
    HotSpot's ~8 KB JIT ceiling — and evaluates BYTECODE-INTERPRETED
    (~2.8 µs/pair). A per-element scalar-column projection was tried
    and is WORSE: Catalyst's constraint propagation over a filter
    referencing 2×dim aliased attributes is super-linear (measured:
    >90 s of driver-side planning at dim 32 / 1024 cells vs 0.2 s with
    spark.sql.constraintPropagation.enabled=false), and the wide rows
    lose the broadcast join. The BLAS kernel sidesteps both: the JVM
    stage is a 457-byte method, pairs evaluate at SIMD matmul speed,
    and Arrow moves each vector ONCE (n rows, not Σ m² pair sides).
    Measured through the shipped operator (PERF.md round 7, "the
    semantic pair-stage kernel A/B"): sf0.1 dim-64 warm 6.0 s →
    0.30 s (20×); 1M×32-dim×4096-cell same-session end-to-end
    35.3 s → 11.6 s (3.0×); 200k×32-dim×1024 cells 1.89 s → 1.29 s
    (prototype) — identical flag fingerprints / dup counts on every
    shape.

    Same determinism caveat as _ivf_assign_arrow: BLAS summation order
    differs from left-to-right, so a pair sitting within float noise
    of the threshold can flag differently than the expanded kernel /
    a SQL oracle. Thresholded-flag outputs make that a measure-zero
    event on real embeddings; the parity test pins agreement.

    Scale shape: one task per cell (the max_cell_members budget bounds
    the group); block size keeps the scratch cosine matrix ≤ 2^25
    doubles. Ids must be unique (the operator's contract — "lower id"
    is strict)."""
    import numpy as np
    import pandas as pd

    out_schema = T.StructType(
        [
            assigned.schema[id_col],
            assigned.schema["cell"],
            T.StructField("is_semdup", T.BooleanType(), False),
        ]
    )
    thr = float(threshold)

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m == 0:
            return pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": pdf["cell"],
                    "is_semdup": np.zeros(0, dtype=bool),
                }
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        nrm = pdf["vec_norm"].to_numpy(dtype=np.float64)[order]
        dup = np.zeros(m, dtype=bool)
        blk = max(1, min(1024, (1 << 25) // m))
        with np.errstate(invalid="ignore", divide="ignore"):
            for s in range(1, m, blk):
                e = min(s + blk, m)
                C = (V[s:e] @ V[:e].T) / (nrm[s:e, None] * nrm[None, :e])
                dup[s:e] = (
                    (C >= thr)
                    & (np.arange(e)[None, :] < np.arange(s, e)[:, None])
                ).any(axis=1)
        return pd.DataFrame(
            {id_col: ids, "cell": pdf["cell"].iloc[0], "is_semdup": dup}
        )

    return (
        assigned.select(id_col, "cell", "vec_norm", vec_col)
        .groupBy("cell")
        .applyInPandas(fn, out_schema)
    )


def _semantic_probe_flags_blas(
    batch_assigned: DataFrame,
    corpus_assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Incremental counterpart of :func:`_semantic_pair_flags_blas`:
    cogroup batch and corpus index by cell and flag each batch vector
    that hits ANY corpus member at cosine >= threshold, one blocked
    matmul per batch row block. Cells present only in the corpus emit
    nothing; batch cells with no corpus members emit all-False flags
    (nothing in history to duplicate). Same determinism caveat and
    measured rationale as the batch kernel.

    The corpus side's columns are RENAMED (_c_n/_c_v) before the
    cogroup: with identical names on both sides, Spark 4.1 binds the
    cogroup UDF's right-side references to the LEFT child's attribute
    IDs, so a downstream count() (column pruning) drops the vector
    column from the right projection and the worker crashes with
    KeyError — while collect() (no pruning) works. Distinct names
    make the binding unambiguous; a regression test counts the
    output of common-lineage sides."""
    import numpy as np
    import pandas as pd

    out_schema = T.StructType(
        [
            batch_assigned.schema[id_col],
            batch_assigned.schema["cell"],
            T.StructField("is_semdup", T.BooleanType(), False),
        ]
    )
    thr = float(threshold)

    def fn(bdf: "pd.DataFrame", cdf: "pd.DataFrame") -> "pd.DataFrame":
        mb = len(bdf)
        ids = bdf[id_col].to_numpy()
        cells = bdf["cell"].to_numpy()
        if mb == 0 or len(cdf) == 0:
            return pd.DataFrame(
                {id_col: ids, "cell": cells, "is_semdup": np.zeros(mb, dtype=bool)}
            )
        B = np.stack(bdf[vec_col].to_numpy()).astype(np.float64)
        bn = bdf["vec_norm"].to_numpy(dtype=np.float64)
        Cv = np.stack(cdf["_c_v"].to_numpy()).astype(np.float64)
        cn = cdf["_c_n"].to_numpy(dtype=np.float64)
        dup = np.zeros(mb, dtype=bool)
        blk = max(1, min(1024, (1 << 25) // len(cdf)))
        with np.errstate(invalid="ignore", divide="ignore"):
            for s in range(0, mb, blk):
                e = min(s + blk, mb)
                C = (B[s:e] @ Cv.T) / (bn[s:e, None] * cn[None, :])
                dup[s:e] = (C >= thr).any(axis=1)
        return pd.DataFrame({id_col: ids, "cell": cells, "is_semdup": dup})

    corpus_side = corpus_assigned.select(
        F.col("cell"),
        F.col("vec_norm").alias("_c_n"),
        F.col(vec_col).alias("_c_v"),
    )
    return (
        batch_assigned.select(id_col, "cell", "vec_norm", vec_col)
        .groupBy("cell")
        .cogroup(corpus_side.groupBy("cell"))
        .applyInPandas(fn, out_schema)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    max_cell_members: int = 200_000,
    max_total_pairs: int = 2_000_000_000,
    assigned: DataFrame | None = None,
    pair_kernel: str = "blas",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then WITHIN each
    cluster mark a document as a semantic duplicate when a lower-id
    member sits at cosine >= ``threshold``. Every dense semantic
    neighborhood keeps exactly its min-id representative; documents
    similar across cluster boundaries are deliberately not compared —
    that blindness is the published trade that makes the op linear in
    corpus size (the cross-cluster tail is the lexical/LSH family's
    job: minhash_lsh_pairs, embedding_neardup_pairs). Two explicit
    budgets protect the within-cell quadratic stage: per-cell
    membership (``max_cell_members``) and TOTAL pair count
    (``max_total_pairs`` — the one that actually bounds the join;
    see the guard comment for the measured motivation).

    ``centroids`` is the trained quantizer (ivf_train or an external
    k-means — the write-side precompute; the paper's 5B-doc run used
    ~110k clusters). The k ≈ n / target_cell_size contract is
    MEASURED, both directions (PERF.md round 13): fixed k=8 against a
    dense 500k-doc corpus trips max_total_pairs at ~3.0B within-cell
    pairs (and the incremental variant runs 35x wall for 10x data),
    while k scaled with n holds alpha ~ 0.1 across the same 10x step
    with cells steady at the target size. Pass ``assigned`` (a :func:`semantic_assign`
    result for the SAME df/centroids) to skip the assignment pass —
    the production shape, where cell and norm are stored corpus
    columns. Returns the input ids with ``cell`` and an ``is_semdup``
    flag — callers filter, aggregate, or anti-join.

    Scale shape: the assignment pass is map-only (expanded-arithmetic
    codegen kernel under ~2k cells×dim terms, Arrow BLAS matmul above
    — ivf_assign's auto switch; 1M×4096 assigns in 10.5 s, PERF.md
    round 6), then ONE cell-keyed self-join whose cost is Σ m(m-1)/2
    over cell memberships. k must grow with the corpus
    (k ≈ n / target_cell); the two budgets enforce that contract —
    an over-budget corpus raises instead of silently running an
    unbounded pair explosion. It raises rather than caps (unlike the
    LSH hot-bucket cap) because LSH candidates are recall-optional
    while cluster membership is the op's entire semantics; the fix is
    a finer quantizer, not a quieter answer. The guards are one tiny
    pre-aggregate (a scalar collect, same pattern as the CC
    edge-budget check).

    ``pair_kernel``: 'blas' (default) runs the pair stage as one
    per-cell blocked-matmul applyInPandas (_semantic_pair_flags_blas —
    measured 20× the SQL join warm at dim 64, flag-identical);
    'expanded' keeps the round-6 cell-keyed self-join with
    left-to-right expanded arithmetic, bit-identical to a SQL oracle
    (the differential-testing kernel). Measured end-to-end: 1M
    vectors / 126.8M within-cell pairs on local[32] — same-session
    A/B 11.6 s blas vs 35.3 s expanded, identical counts (PERF.md
    round 7).
    """
    dim = len(centroids[0])
    # Materialize the assignment ONCE (semantic_assign): the expanded
    # k×dim sims expression would otherwise be inlined into BOTH
    # self-join children plus the guard aggregate (measured here: a
    # ~10 MiB task binary and ~24 s of codegen compile at 8×64 — the
    # same plan-duplication cliff embedding_neardup_pairs hits, fixed
    # the same way: the joined frame reads stored rows, not the
    # kernel). The L2 norm is precomputed there too, once per vector,
    # so the per-pair test below is a dot product and one division —
    # the norm value is bit-identical to inlining it in the pair
    # expression (same arithmetic on the same input), but evaluated n
    # times instead of Σ m² times (measured round 6: 3.9× on the pair
    # stage at 300k rows).
    if assigned is None:
        assigned = semantic_assign(df, id_col, vec_col, centroids)
    stats = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            F.max("m").alias("max_m"),
            F.sum(F.col("m") * (F.col("m") - F.lit(1)) / 2).alias("pairs"),
        )
        .collect()[0]
    )
    if stats["max_m"] is not None and stats["max_m"] > max_cell_members:
        raise ValueError(
            f"semantic_dedup: largest cell has {stats['max_m']} members "
            f"(> max_cell_members={max_cell_members}); train a finer "
            f"quantizer (more cells) so per-cell pairing stays bounded"
        )
    # The max-cell bound alone does NOT bound the join: many
    # mid-sized cells still sum to an arbitrarily large Σ m(m-1)/2
    # (measured round 6: a 1M-vector corpus where every cell sat under
    # the member cap still carried ~10^10 within-cell pairs — hours of
    # pair evaluation that no single-cell check predicts). Budget the
    # TOTAL pair count explicitly; the remedy is the same (finer k).
    if stats["pairs"] is not None and stats["pairs"] > max_total_pairs:
        raise ValueError(
            f"semantic_dedup: within-cell pairing would evaluate "
            f"~{int(stats['pairs']):,} pairs (> max_total_pairs="
            f"{max_total_pairs:,}); train a finer quantizer so k grows "
            f"with the corpus (k ≈ n / target_cell_size)"
        )
    if pair_kernel == "blas":
        # default: per-cell blocked BLAS (one applyInPandas over the
        # single cell exchange) — see _semantic_pair_flags_blas for
        # the measured rationale vs the SQL-join kernel
        return _semantic_pair_flags_blas(assigned, id_col, vec_col, threshold)
    if pair_kernel != "expanded":
        raise ValueError(f"unknown pair_kernel {pair_kernel!r} (blas|expanded)")
    # 'expanded': the cell-keyed self-join with the dot product spelled
    # as fixed left-to-right expanded arithmetic in the join filter —
    # bit-identical to a SQL oracle (the differential-testing kernel).
    # Slow past dim ~40: the condition method exceeds HotSpot's JIT
    # size ceiling and evaluates interpreted (PERF.md round 7).
    from s3logs_parquet_spark.operators.ann import dot_expanded

    a = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("_a_id"),
        F.col(vec_col).alias("_a_v"),
        F.col("vec_norm").alias("_a_n"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("_b_id"),
        F.col(vec_col).alias("_b_v"),
        F.col("vec_norm").alias("_b_n"),
    )
    pair_cos = dot_expanded("_a_v", "_b_v", dim) / (F.col("_a_n") * F.col("_b_n"))
    dup_ids = (
        a.join(b, on="cell")
        .filter(F.col("_a_id") > F.col("_b_id"))
        .filter(pair_cos >= F.lit(float(threshold)))
        .select(F.col("_a_id").alias(id_col))
        .distinct()
    )
    return assigned.select(id_col, "cell").join(
        dup_ids.withColumn("_dup", F.lit(True)), on=id_col, how="left"
    ).select(
        id_col,
        "cell",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_semdup"),
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus_assigned: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    max_total_pairs: int = 2_000_000_000,
    pair_kernel: str = "blas",
    batch_assigned: DataFrame | None = None,
    check_index: bool = True,
) -> DataFrame:
    """Continuous-ingest semantic dedup: flag NEW batch vectors that
    semantically duplicate the EXISTING corpus — the incremental
    complement of :func:`semantic_dedup`, mirroring
    :func:`incremental_neardup_pairs`' shape for the embedding space.

    ``corpus_assigned`` is a persisted :func:`semantic_assign` output
    (typically read back from a table, NOT recomputed): the batch
    assigns to cells with the SAME quantizer, probes only the matching
    cells of the index, and any corpus member at cosine >=
    ``threshold`` marks the batch vector a duplicate of history.
    Incremental cost is O(batch + cell-matched candidates) —
    independent of corpus size; the corpus is never rescanned, only
    its cell-bucketed index rows join. Within-batch duplicates are a
    separate concern: run semantic_dedup on the batch itself.

    Returns (id_col, cell, is_semdup) for the batch. The candidate
    volume Σ_cell batch_m·corpus_m is budgeted like semantic_dedup's
    pair stage (one tiny count-join pre-aggregate); an over-budget
    probe raises with the finer-quantizer remedy.

    ``batch_assigned`` accepts an already-computed
    :func:`semantic_assign` frame for ``batch`` (same centroids),
    skipping the batch assignment kernel — the signature-reuse lever
    for pipelines that assign a batch once and feed the within-batch
    dedup, the history probe and the index contribution from the same
    frame (run_stream_semantic_dedup; the batch_banded analog).
    ``check_index=False`` skips the bounded single-row dim probe for
    callers that verified the index once and hold the quantizer fixed
    (the per-run latch pattern incremental_neardup_pairs documents).
    """
    required = {id_col, vec_col, "cell", "vec_norm"}
    missing = required - set(corpus_assigned.columns)
    if missing:
        raise ValueError(
            f"semantic_dedup_incremental: corpus_assigned is missing columns "
            f"{sorted(missing)} — expected a semantic_assign output"
        )
    dim = len(centroids[0])
    # an index assigned with a different-dimension quantizer (or a
    # corrupt vector column) would silently probe wrong cells → "no
    # dups"; probe ONE row (bounded single-row job) and fail loudly
    probe = (
        corpus_assigned.select(F.size(vec_col).alias("_d")).limit(1).collect()
        if check_index
        else []
    )
    if probe:
        d = probe[0]["_d"]
        if d is None or d != dim:
            raise ValueError(
                f"semantic_dedup_incremental: corpus_assigned vectors have "
                f"dim {d} but the quantizer has dim {dim} — the index was "
                "built with a different model; rebuild with semantic_assign"
            )
    if batch_assigned is None:
        batch_assigned = semantic_assign(batch, id_col, vec_col, centroids)
    else:
        missing = required - set(batch_assigned.columns)
        if missing:
            raise ValueError(
                f"semantic_dedup_incremental: batch_assigned is missing "
                f"columns {sorted(missing)} — expected a semantic_assign output"
            )
    bm = batch_assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_bm"))
    cm = corpus_assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_cm"))
    total = (
        bm.join(cm, on="cell")
        .agg(F.sum(F.col("_bm") * F.col("_cm")))
        .collect()[0][0]
    )
    if total is not None and total > max_total_pairs:
        raise ValueError(
            f"semantic_dedup_incremental: probing would evaluate "
            f"~{int(total):,} batch×corpus pairs (> max_total_pairs="
            f"{max_total_pairs:,}); train a finer quantizer so cell "
            "volumes stay bounded"
        )
    if pair_kernel == "blas":
        return _semantic_probe_flags_blas(
            batch_assigned, corpus_assigned, id_col, vec_col, threshold
        )
    if pair_kernel != "expanded":
        raise ValueError(f"unknown pair_kernel {pair_kernel!r} (blas|expanded)")
    from s3logs_parquet_spark.operators.ann import dot_expanded

    b = batch_assigned.select(
        F.col("cell"),
        F.col(id_col).alias("_b_id"),
        F.col(vec_col).alias("_b_v"),
        F.col("vec_norm").alias("_b_n"),
    )
    c = corpus_assigned.select(
        F.col("cell"),
        F.col(vec_col).alias("_c_v"),
        F.col("vec_norm").alias("_c_n"),
    )
    pair_cos = dot_expanded("_b_v", "_c_v", dim) / (F.col("_b_n") * F.col("_c_n"))
    dup_ids = (
        b.join(c, on="cell")
        .filter(pair_cos >= F.lit(float(threshold)))
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )
    return batch_assigned.select(id_col, "cell").join(
        dup_ids.withColumn("_dup", F.lit(True)), on=id_col, how="left"
    ).select(
        id_col,
        "cell",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_semdup"),
    )

"""Similarity search over the embeddings table: exact cosine top-k,
hyperplane LSH, IVF (trained, product-quantized, persisted index), SQ8,
embedding near-dup pairs and semantic dedup (batch and incremental).
``_SQL_DOT`` / ``_SQL_NORM`` spell the Spark side's sequential double
dot product and norm, so oracle cosines match to the bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.ann import brute_force_topk
from s3logs_parquet_spark.session import prebuilt
from s3logs_parquet_spark.sources.tables import load_table as _t


def _query_vectors(emb: DataFrame) -> DataFrame:
    """The query set every top-k gate probes: the first 5 vectors."""
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )


def q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 vectors as queries.
    Query side broadcast; exact same double arithmetic as the oracle
    (sequential dot/norm over the array) → values match to the bit,
    rounded to 6 for safety."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = _query_vectors(emb)
    out = brute_force_topk(emb, queries, "vec_id", "query_id", k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ORACLE_EMB_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cv)), i -> cv[i] * qv[i])), (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)), (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (x, y) -> x + y))) AS cos_raw
  FROM c CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


def _band_keys_sql(
    planes: list[list[float]], n_bands: int, bits_per_band: int, dim: int
) -> str:
    """DuckDB expression for the hyperplane band-key list, computed
    from a column ``qv`` of integer-quantized components (see
    hyperplane_band_keys): projection = exact BIGINT sum of ±qv[i]
    following the ±1 plane signs, band key = packed sign bits."""

    def proj(plane: list[float]) -> str:
        terms = " + ".join(
            (f"qv[{i + 1}]" if x > 0 else f"(-qv[{i + 1}])")
            for i, x in enumerate(plane[:dim])
        )
        return f"({terms})"

    band_keys = []
    for b in range(n_bands):
        bits = [
            f"(CASE WHEN {proj(planes[b * bits_per_band + j])} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bits_per_band)
        ]
        band_keys.append(" + ".join(bits))
    return "[" + ", ".join(band_keys) + "]"


def _oracle_emb_lsh(n_bands: int = 12, bits_per_band: int = 4, dim: int = 64, k: int = 10) -> str:
    """Band keys replicate hyperplane_band_keys' integer-quantized
    projection exactly: q[i] = floor(v[i]·2^20) per element
    (order-independent), projection = exact BIGINT sum of ±q[i], so
    the engine's numpy matmul and this SQL agree bit-for-bit."""
    from s3logs_parquet_spark.operators.ann import plane_signs

    planes = plane_signs(n_bands * bits_per_band, dim, 42)
    bks = _band_keys_sql(planes, n_bands, bits_per_band, dim)
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), qz AS (
  SELECT vec_id, v, list_transform(v, x -> floor(x * 1048576.0)::BIGINT) AS qv FROM c
), keys AS (
  SELECT vec_id, v, {bks} AS bks FROM qz
), q AS (
  SELECT vec_id AS query_id, v AS qv, bks AS qbks FROM keys WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT q.query_id, k.vec_id, k.v, q.qv
  FROM keys k CROSS JOIN q CROSS JOIN generate_series(1, {n_bands}) t(b)
  WHERE k.bks[b] = q.qbks[b]
), scored AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dim}), i -> v[i] * qv[i])), (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (x, y) -> x + y))) AS cos_raw
  FROM cand
), ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


_SQL_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)
_SQL_NORM = "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), (x, y) -> x + y))"


def q_emb_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: deterministic Lloyd's
    k-means (init = vectors of the 8 smallest vec_ids, 2 iterations —
    operators/ann.py ivf_train with id_col), then the same probed
    search as emb_ivf_topk. The oracle unrolls the identical two Lloyd
    iterations in SQL (per-dim avg, argmax-cosine assignment, empty
    cells keep their centroid), so the whole train→assign→probe→rerank
    chain is value-checked."""
    from s3logs_parquet_spark.operators.ann import ivf_topk, ivf_train

    emb = _t(spark, sf_dir, "embeddings")
    centroids = ivf_train(emb, "embedding", n_cells=8, iters=2, id_col="vec_id")
    queries = _query_vectors(emb)
    out = ivf_topk(emb, queries, "vec_id", "query_id", centroids, k=10, n_probe=2)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _oracle_emb_ivf_trained(
    n_cells: int = 8, iters: int = 2, n_probe: int = 2, k: int = 10, dim: int = 64
) -> str:
    def cos(a: str, b: str) -> str:
        return f"{_SQL_DOT.format(a=a, b=b)} / ({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)})"

    sql = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cell, v AS cv FROM emb WHERE vec_id < {n_cells}
)"""
    prev = "c0"
    for t in range(1, iters + 1):
        sql += f""", a{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN {prev} c
  ) WHERE rn = 1
), m{t} AS (
  SELECT cell, list(a ORDER BY i) AS cv FROM (
    SELECT cell, i, avg(v[i]) AS a
    FROM a{t} CROSS JOIN generate_series(1, {dim}) t(i)
    GROUP BY cell, i
  ) GROUP BY cell
), c{t} AS (
  SELECT p.cell, coalesce(m.cv, p.cv) AS cv FROM {prev} p LEFT JOIN m{t} m USING (cell)
)"""
        prev = f"c{t}"
    sql += f""", assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN {prev} c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cell) AS rn
    FROM q CROSS JOIN {prev} c
  ) WHERE rn <= {n_probe}
), cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.vec_id, a.v
  FROM probes p JOIN assign a ON a.cell = p.cell
), ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM (SELECT s.query_id, s.vec_id, {cos('s.v', 's.qv')} AS cos_raw FROM cand s)
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""
    return sql


ORACLE_EMB_IVF_TRAINED = _oracle_emb_ivf_trained()


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/ann.py pq_*): deterministic
    codebooks (subvectors of the 8 smallest vec_ids, the same
    reproducible-init convention as emb_ivf_trained_topk), argmin
    encode, ADC candidate scan over the m-byte codes, exact-cosine
    rerank of the top 50. The oracle recomputes the identical
    codebooks/codes/ADC in SQL — the whole compressed-ANN pipeline is
    value-checked, not just shape-checked.

    A ``prebuilt`` plan entry: it saves the 8-row codebook collect and
    plan construction (sf0.1, 4 cores, median of 10 pairs: 0.79 s per
    call with it, 1.05 s without); every execution still recomputes."""
    from s3logs_parquet_spark.operators.ann import pq_codebooks, pq_topk

    def build() -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        cbs = pq_codebooks(emb, "embedding", m=4, k_sub=8, id_col="vec_id")
        queries = _query_vectors(emb)
        out = pq_topk(emb, queries, "vec_id", "query_id", cbs, k=10, n_candidates=50)
        return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")

    return prebuilt(spark, ("emb_pq_topk", sf_dir), build)


def _oracle_emb_pq(
    m: int = 4, sub: int = 16, k_sub: int = 8, n_candidates: int = 50, k: int = 10
) -> str:
    def sq(a: str, b: str, off: int) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {sub}), "
            f"i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i]))), "
            "(x, y) -> x + y)"
        )

    vdists = ", ".join(f"{sq('v.ev', 'c.cv', j * sub)} AS d{j}" for j in range(m))
    qdists = ", ".join(f"{sq('q.qv', 'c.cv', j * sub)} AS d{j}" for j in range(m))
    ranks = ", ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{j}, cid) AS r{j}" for j in range(m)
    )
    code_pick = ", ".join(f"max(CASE WHEN r{j} = 1 THEN cid END) AS code{j}" for j in range(m))
    qts = ", ".join(f"list(d{j} ORDER BY cid) AS qt{j}" for j in range(m))
    adc = " + ".join(f"t.qt{j}[k.code{j} + 1]" for j in range(m))
    return f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT {k_sub}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), vdist AS (
  SELECT v.vec_id, c.cid, {vdists} FROM e v CROSS JOIN c
), vrank AS (
  SELECT vec_id, cid, {ranks} FROM vdist
), codes AS (
  SELECT vec_id, {code_pick} FROM vrank GROUP BY vec_id
), qdist AS (
  SELECT q.query_id, c.cid, {qdists} FROM q CROSS JOIN c
), qt AS (
  SELECT query_id, {qts} FROM qdist GROUP BY query_id
), scored AS (
  SELECT t.query_id, k.vec_id, {adc} AS adc
  FROM codes k CROSS JOIN qt t
), cand AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS crank
  FROM scored
), rr AS (
  SELECT s.query_id, s.vec_id,
         {_SQL_DOT.format(a='e.ev', b='q.qv')}
         / ({_SQL_NORM.format(a='e.ev')} * {_SQL_NORM.format(a='q.qv')}) AS cos_raw
  FROM cand s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
  WHERE s.crank <= {n_candidates}
), ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


ORACLE_EMB_PQ = _oracle_emb_pq()


def q_emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the hyperplane-LSH path
    against exact brute-force top-10, per query. The standard metric a
    production ANN deployment monitors; both sides are deterministic
    here, so even the recall VALUE differential-tests."""
    from s3logs_parquet_spark.operators.ann import brute_force_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = _query_vectors(emb)
    exact = brute_force_topk(emb, queries, "vec_id", "query_id", k=10).select(
        "query_id", "vec_id"
    )
    approx = lsh_topk(
        emb, queries, "vec_id", "query_id", k=10, n_bands=12, bits_per_band=4
    ).select("query_id", F.col("vec_id").alias("_lv"))
    # broadcast: both sides are ≤ k·|queries| rows BY CONSTRUCTION
    # (top-k per query), but post-window size estimates push the join
    # to SortMergeJoin with its exchanges+sorts — the same
    # provably-tiny-side case as events_kmv_set_ops (round 13, §3.1)
    j = exact.join(
        F.broadcast(approx),
        (exact.query_id == approx.query_id) & (exact.vec_id == approx._lv),
        "left",
    ).select(exact.query_id, "vec_id", "_lv")
    return j.groupBy("query_id").agg(
        F.count("_lv").alias("n_overlap"),
        F.round(F.count("_lv") / F.lit(10.0), 6).alias("recall_at_10"),
    )


def _oracle_emb_lsh_recall() -> str:
    return f"""
SELECT e.query_id,
       count(l.vec_id)::BIGINT AS n_overlap,
       round(count(l.vec_id)::DOUBLE / 10.0, 6) AS recall_at_10
FROM ({ORACLE_EMB_TOPK}) e
LEFT JOIN ({_oracle_emb_lsh()}) l
  ON e.query_id = l.query_id AND e.vec_id = l.vec_id
GROUP BY e.query_id
"""


ORACLE_EMB_LSH_RECALL = _oracle_emb_lsh_recall()


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (operators/ann.py ivfpq_topk): trained
    coarse quantizer (same deterministic 2-iteration Lloyd as
    emb_ivf_trained_topk) prunes to each query's 2 nearest cells, ADC
    over 4-byte PQ codes ranks candidates inside those cells, exact
    cosine reranks the top 50. The oracle unrolls train + assign +
    probe + codebooks + codes + ADC + rerank in SQL — the full FAISS
    `IVF8,PQ4` pipeline value-checked end to end.

    A ``prebuilt`` index entry: the deterministic centroids, codebooks
    and encoded corpus; emb_ivf_trained_topk keeps the train-included
    cost measured."""
    from s3logs_parquet_spark.operators.ann import (
        build_flat,
        ivf_train,
        ivfpq_encode_corpus,
        ivfpq_topk,
        pq_codebooks,
        rebind_onto,
    )
    from s3logs_parquet_spark.session import materialize

    emb = _t(spark, sf_dir, "embeddings")

    def build():
        cents = ivf_train(emb, "embedding", n_cells=8, iters=2, id_col="vec_id")
        cbs = pq_codebooks(emb, "embedding", m=4, k_sub=8, id_col="vec_id")
        # the write-side precompute, checkpointed once per session:
        # repeat calls (the bench's timed runs, production query
        # batches) pay probe+ADC+rerank only — and skip re-generating
        # + re-compiling the encode kernel per call. build_flat: the
        # fused assign+PQ-tables span cannot compile (64 KB method
        # limit) — skip the doomed whole-stage compile for this one-off
        # build; rebind_onto returns the checkpointed frame to the
        # caller's session so the probe keeps whole-stage codegen
        enc = rebind_onto(
            materialize(build_flat(ivfpq_encode_corpus(emb, "vec_id", cents, cbs))),
            spark,
        )
        return cents, cbs, enc

    cents, cbs, enc = prebuilt(spark, ("emb_ivfpq_topk", sf_dir), build)
    queries = _query_vectors(emb)
    out = ivfpq_topk(
        emb,
        queries,
        "vec_id",
        "query_id",
        cents,
        cbs,
        k=10,
        n_probe=2,
        n_candidates=50,
        encoded=enc,
    )
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _oracle_emb_ivfpq(
    n_cells: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    m: int = 4,
    sub: int = 16,
    k_sub: int = 8,
    n_candidates: int = 50,
    k: int = 10,
    dim: int = 64,
) -> str:
    """Train/assign/probe CTEs from _oracle_emb_ivf_trained composed
    with the codebook/code/ADC CTEs from _oracle_emb_pq, candidates
    restricted to probed cells."""

    def cos(a: str, b: str) -> str:
        return f"{_SQL_DOT.format(a=a, b=b)} / ({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)})"

    def sq(a: str, b: str, off: int) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {sub}), "
            f"i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i]))), "
            "(x, y) -> x + y)"
        )

    sql = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cell, v AS cv FROM emb WHERE vec_id < {n_cells}
)"""
    prev = "c0"
    for t in range(1, iters + 1):
        sql += f""", a{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN {prev} c
  ) WHERE rn = 1
), m{t} AS (
  SELECT cell, list(a ORDER BY i) AS cv FROM (
    SELECT cell, i, avg(v[i]) AS a
    FROM a{t} CROSS JOIN generate_series(1, {dim}) t(i)
    GROUP BY cell, i
  ) GROUP BY cell
), c{t} AS (
  SELECT p.cell, coalesce(m.cv, p.cv) AS cv FROM {prev} p LEFT JOIN m{t} m USING (cell)
)"""
        prev = f"c{t}"

    vdists = ", ".join(f"{sq('v.ev', 'c.cv', j * sub)} AS d{j}" for j in range(m))
    qdists = ", ".join(f"{sq('q.qv', 'c.cv', j * sub)} AS d{j}" for j in range(m))
    ranks = ", ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{j}, cid) AS r{j}" for j in range(m)
    )
    code_pick = ", ".join(f"max(CASE WHEN r{j} = 1 THEN cid END) AS code{j}" for j in range(m))
    qts = ", ".join(f"list(d{j} ORDER BY cid) AS qt{j}" for j in range(m))
    adc = " + ".join(f"t.qt{j}[kk.code{j} + 1]" for j in range(m))
    sql += f""", assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN {prev} c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cell) AS rn
    FROM q CROSS JOIN {prev} c
  ) WHERE rn <= {n_probe}
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT {k_sub}
), e2 AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), vdist AS (
  SELECT v.vec_id, c.cid, {vdists} FROM e2 v CROSS JOIN cb c
), vrank AS (
  SELECT vec_id, cid, {ranks} FROM vdist
), codes AS (
  SELECT vec_id, {code_pick} FROM vrank GROUP BY vec_id
), qdist AS (
  SELECT q.query_id, c.cid, {qdists} FROM (SELECT query_id, qv FROM q) q CROSS JOIN cb c
), qt AS (
  SELECT query_id, {qts} FROM qdist GROUP BY query_id
), cellcand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.cell = p.cell
), scored AS (
  SELECT cc.query_id, cc.vec_id, {adc} AS adc
  FROM cellcand cc
  JOIN codes kk ON kk.vec_id = cc.vec_id
  JOIN qt t ON t.query_id = cc.query_id
), cand AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS crank
  FROM scored
), rr AS (
  SELECT s.query_id, s.vec_id,
         {_SQL_DOT.format(a='e.ev', b='q.qv')}
         / ({_SQL_NORM.format(a='e.ev')} * {_SQL_NORM.format(a='q.qv')}) AS cos_raw
  FROM cand s
  JOIN e2 e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
  WHERE s.crank <= {n_candidates}
), ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
"""
    return sql


ORACLE_EMB_IVFPQ = _oracle_emb_ivfpq()


def q_emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/dedup.py
    embedding_neardup_pairs): hyperplane-LSH banded candidates (12
    bands × 6 bits — shaped for the 0.45 threshold per the
    (1-θ/π)^bits band-collision rule), exact cosine on candidates. The
    oracle regenerates the same ±1 planes and unit-vector arithmetic,
    value-checking candidate generation AND verification end-to-end."""
    from s3logs_parquet_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # materialize stays at the operator default (localCheckpoint of the
    # banded frame): the self-join then scans cached blocks instead of
    # embedding the generated banding kernel in BOTH join children —
    # whole-stage codegen of two fused 4,608-term expressions measured
    # 90+ s of janino compile at sf0.01 (vs 6 s with codegen off)
    out = embedding_neardup_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=0.45,
        n_bands=12,
        bits_per_band=6,
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _oracle_emb_neardup(
    threshold: float = 0.45, n_bands: int = 12, bits_per_band: int = 6, dim: int = 64
) -> str:
    """Replicates embedding_neardup_pairs exactly: bands from the RAW
    vector via the same integer-quantized projection as the engine
    kernel (sign bits are scale-invariant, so banding raw equals
    banding normalized mathematically; quantized integer sums make the
    two engines agree bit-for-bit), unit vectors for the exact cosine
    verification, plane literals from the same seeded LCG."""
    from s3logs_parquet_spark.operators.ann import plane_signs

    planes = plane_signs(n_bands * bits_per_band, dim, 42)
    bks = _band_keys_sql(planes, n_bands, bits_per_band, dim)
    norm_u = "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), (x, y) -> x + y))"
    dot_uu = (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dim}), "
        "i -> ua[i] * ub[i])), (x, y) -> x + y)"
    )
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), u0 AS (
  SELECT vec_id, v, list_transform(v, x -> floor(x * 1048576.0)::BIGINT) AS qv,
         list_transform(v, x -> x / sqrt(list_reduce(list_prepend(0.0,
           list_transform(v, y -> y * y)), (a, b) -> a + b))) AS u
  FROM c
), keys AS (
  SELECT vec_id, u, {bks} AS bks FROM u0
), cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b, l.u AS ua, r.u AS ub
  FROM keys l JOIN keys r ON l.vec_id < r.vec_id
  CROSS JOIN generate_series(1, {n_bands}) t(b)
  WHERE l.bks[b] = r.bks[b]
), scored AS (
  SELECT id_a, id_b,
         {dot_uu} / ({norm_u.format(a="ua")} * {norm_u.format(a="ub")}) AS cos_raw
  FROM cand
)
SELECT id_a, id_b, round(cos_raw, 6) AS cosine
FROM scored WHERE cos_raw >= {threshold}
"""


ORACLE_EMB_NEARDUP = _oracle_emb_neardup()


def q_emb_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index ANN path: ivf_index_write materializes the
    corpus partitioned by cell + trained centroids on disk; the query
    side reads ONLY the probed cell partitions (static partition
    pruning — tests/test_ann.py asserts PartitionFilters). Same
    deterministic training as emb_ivf_trained_topk, so the identical
    oracle value-checks the whole build→persist→prune→rerank chain.

    The on-disk index is a ``prebuilt`` index entry: repeat calls
    probe it; emb_ivf_trained_topk keeps the build cost measured. A
    new session always rebuilds, so a stale index from an earlier run
    can't leak in."""
    import os
    import tempfile

    from s3logs_parquet_spark.operators.ann import ivf_index_topk, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_index_{tag}")
    prebuilt(
        spark,
        ("emb_ivf_indexed_topk", path),
        lambda: ivf_index_write(emb, path, "vec_id", n_cells=8, iters=2),
    )
    queries = _query_vectors(emb)
    out = ivf_index_topk(spark, path, queries, "vec_id", "query_id", k=10, n_probe=2)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.py
    semantic_dedup, Abbas et al. 2023): assign every embedding to its
    argmax-cosine cell of a fixed 8-centroid quantizer (the embeddings
    of vec_id < 8 — deterministic and table-derived so the oracle is
    exact; production trains via ivf_train), then within each cell
    mark any vector with a lower-id neighbor at cosine >= 0.4 as a
    semantic duplicate. Per-cell summary: members, dups, and the
    min-id kept representative. The only shuffle is the cell-keyed
    self-join; the pair-budget guards raise instead of running an
    unbounded quadratic pair stage.

    A ``prebuilt`` entry holds the built DataFrame: semantic_assign's
    cell + norm (stored corpus columns in production) and the pair
    plan, whose rebuild would recompile the codegen (PERF.md round 7).
    Every execution still re-runs the pair stage."""
    from s3logs_parquet_spark.operators.dedup import semantic_assign, semantic_dedup

    def build() -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        centroids = _fixed_centroids(emb)
        assigned = semantic_assign(emb, "vec_id", "embedding", centroids)
        return semantic_dedup(
            emb, "vec_id", "embedding", centroids, threshold=0.4, assigned=assigned
        ).groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("is_semdup").cast("bigint")).alias("n_dups"),
            F.min(F.when(~F.col("is_semdup"), F.col("vec_id"))).alias("min_kept_id"),
        )

    return prebuilt(spark, ("emb_semantic_dedup", sf_dir), build)


def _fixed_centroids(emb: DataFrame) -> list[list[float]]:
    """The semantic-dedup gates' fixed 8-centroid quantizer: the
    embeddings of vec_id < 8, in id order (one 8-row collect)."""
    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    return [[float(x) for x in r["embedding"]] for r in rows]


def _oracle_emb_semantic_dedup(n_cells: int = 8, threshold: float = 0.4) -> str:
    cos_vc = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    cos_ab = f"{_SQL_DOT.format(a='a.v', b='b.v')} / ({_SQL_NORM.format(a='a.v')} * {_SQL_NORM.format(a='b.v')})"
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < {n_cells}
), emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_vc} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN cents c
  ) WHERE rn = 1
), dup AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id > b.vec_id
  WHERE {cos_ab} >= {threshold}
), flag AS (
  SELECT s.vec_id, s.cell, (d.vec_id IS NOT NULL) AS is_semdup
  FROM assign s LEFT JOIN dup d ON s.vec_id = d.vec_id
)
SELECT cell, count(*) AS n_members,
       CAST(sum(CASE WHEN is_semdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       min(CASE WHEN NOT is_semdup THEN vec_id END) AS min_kept_id
FROM flag GROUP BY cell
"""


ORACLE_EMB_SEMANTIC_DEDUP = _oracle_emb_semantic_dedup()


def q_emb_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest semantic dedup (operators/dedup.py
    semantic_dedup_incremental — VERDICT r6 #1): the corpus is split
    into an EXISTING index (vec_id % 5 != 0, 80%) whose
    semantic_assign precompute is persisted once per session (the
    production shape: cell + norm are stored corpus columns), and a
    NEW batch (vec_id % 5 == 0) that assigns with the SAME fixed
    8-centroid quantizer as emb_semantic_dedup, probes only its
    matching cells of the index, and flags any batch vector with a
    corpus member at cosine >= 0.4 as a duplicate of history. Emits
    one row per batch vector: (vec_id, cell, is_semdup). Incremental
    cost is O(batch + cell-matched candidates) — the corpus is never
    rescanned; the batch x corpus candidate volume is budgeted by the
    same pre-aggregate guard as the batch op's pair stage."""
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    def build() -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        centroids = _fixed_centroids(emb)
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        index = semantic_assign(corpus, "vec_id", "embedding", centroids)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        return semantic_dedup_incremental(
            batch, index, "vec_id", "embedding", centroids, threshold=0.4
        )

    return prebuilt(spark, ("emb_semantic_dedup_incremental", sf_dir), build)


def _oracle_emb_semantic_dedup_incremental(
    n_cells: int = 8, threshold: float = 0.4
) -> str:
    cos_vc = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    cos_bc = f"{_SQL_DOT.format(a='b.v', b='c.v')} / ({_SQL_NORM.format(a='b.v')} * {_SQL_NORM.format(a='c.v')})"
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < {n_cells}
), emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_vc} DESC, c.cell) AS rn
    FROM emb e CROSS JOIN cents c
  ) WHERE rn = 1
), corpus AS (
  SELECT * FROM assign WHERE vec_id % 5 <> 0
), batch AS (
  SELECT * FROM assign WHERE vec_id % 5 = 0
), dup AS (
  SELECT DISTINCT b.vec_id
  FROM batch b JOIN corpus c ON b.cell = c.cell
  WHERE {cos_bc} >= {threshold}
)
SELECT b.vec_id, b.cell, (d.vec_id IS NOT NULL) AS is_semdup
FROM batch b LEFT JOIN dup d ON b.vec_id = d.vec_id
"""


ORACLE_EMB_SEMANTIC_DEDUP_INCREMENTAL = _oracle_emb_semantic_dedup_incremental()


def q_emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantized ANN (operators/ann.py sq8_topk, the
    FAISS SQ8 layout): per-dim min/max 'training' (one aggregate,
    2*dim scalars), floor-based int8 codes (1/8th the read bytes of
    the float64 column), asymmetric search — full-precision query
    against bucket-center dequantized corpus codes — then exact
    rerank of the top-50 candidates. floor (not round) quantization
    and expanded fixed-order float arithmetic keep the whole
    train -> quantize -> score -> rerank chain bit-reproducible in
    SQL, so even the quantization ERROR is value-checked.

    Stats + codes are a ``prebuilt`` index entry (write-side table
    properties/columns in production); repeat calls run the probe."""
    from s3logs_parquet_spark.operators.ann import sq8_topk, sq_encode, sq_stats
    from s3logs_parquet_spark.session import materialize

    def build() -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        dim = int(emb.select(F.size("embedding")).first()[0])
        stats = sq_stats(emb, "embedding", dim)
        enc = materialize(
            sq_encode(
                emb.select(F.col("vec_id"), F.col("embedding").alias("_cv")),
                "_cv",
                stats,
            )
        )
        queries = _query_vectors(emb)
        return sq8_topk(
            emb, queries, "vec_id", "query_id", stats, k=10, n_candidates=50,
            encoded=enc,
        ).select(
            "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    return prebuilt(spark, ("emb_sq8_topk", sf_dir), build)


def _oracle_emb_sq8(dim: int = 64, n_cand: int = 50, k: int = 10) -> str:
    cos_cq = f"{_SQL_DOT.format(a='s.cv', b='s.qv')} / ({_SQL_NORM.format(a='s.cv')} * {_SQL_NORM.format(a='s.qv')})"
    acos = (
        f"{_SQL_DOT.format(a='e.dq', b='q.qv')} / "
        f"({_SQL_NORM.format(a='e.dq')} * {_SQL_NORM.format(a='q.qv')})"
    )
    return f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), st AS (
  SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
  FROM emb, generate_series(1, {dim}) AS g(d)
  GROUP BY d
), enc AS (
  -- floor-quantize then bucket-center dequantize, exactly the Spark
  -- expression shapes: (v-mn)*(256/(mx-mn)) and mn+(q+0.5)*((mx-mn)/256)
  SELECT e.vec_id,
         list(CASE WHEN s.mx > s.mn
              THEN s.mn + (least(greatest(floor((e.v[s.d] - s.mn) * (256.0 / (s.mx - s.mn))), 0), 255) + 0.5) * ((s.mx - s.mn) / 256.0)
              ELSE s.mn END ORDER BY s.d) AS dq
  FROM emb e CROSS JOIN st s
  GROUP BY e.vec_id
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5
), cand AS (
  SELECT query_id, vec_id, qv FROM (
    SELECT q.query_id, e.vec_id, q.qv,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {acos} DESC, e.vec_id) AS crank
    FROM enc e CROSS JOIN q
  ) WHERE crank <= {n_cand}
), rer AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM (
    SELECT s.query_id, s.vec_id, {cos_cq} AS cos_raw
    FROM (SELECT c.query_id, c.vec_id, c.qv, m.v AS cv
          FROM cand c JOIN emb m ON m.vec_id = c.vec_id) s
  )
)
SELECT query_id, vec_id, cosine, rank FROM rer WHERE rank <= {k}
"""


ORACLE_EMB_SQ8 = _oracle_emb_sq8()

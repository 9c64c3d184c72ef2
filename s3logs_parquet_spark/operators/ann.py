"""Approximate-nearest-neighbor search over an embedding column.

Two tiers:
  - brute-force cosine top-k: exact baseline; a broadcast join of the
    (small) query set against the corpus, cosine via builtin array
    lambdas (F.zip_with/F.aggregate — JVM-side), ranked per query with
    a window function. Correct at any scale that can afford a full
    corpus scan per query batch.
  - LSH-bucketed (random hyperplane) and IVF (k-means-lite coarse
    quantizer) variants: prune the corpus per query to matching
    buckets/cells, then exact cosine inside. The 100 TB path —
    corpus-side keys are precomputed once (write-side), query-side keys
    are cheap, and the join hits only matching buckets.

No Python in the distance path; planes/centroids are deterministic
(hash-derived or seeded) so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Per parent session, its conf-isolated clones keyed by the one
# (conf key, value) each changes (see _conf_clone). WeakKey so a
# stopped/GC'd parent does not pin its clones alive.
_CONF_CLONES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def rebind_onto(df: DataFrame, sess: SparkSession) -> DataFrame:
    """Rebind ``df``'s logical plan onto ``sess`` (same SparkContext) —
    the inverse of plan_heavy/build_flat for results that outlive a
    scoped build (e.g. a localCheckpoint materialized under the build
    clone): downstream queries composed on the returned frame plan and
    execute under ``sess``'s conf, not the clone's."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDataFrame

    jdf = sess._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        sess._jsparkSession, df._jdf.logicalPlan()
    )
    return _CDataFrame(jdf, sess)


def _conf_clone(df: DataFrame, conf_key: str, value: str) -> DataFrame:
    """Rebind ``df`` onto the clone of its session (same context, shared
    catalog, isolated SQLConf) whose conf differs only in ``conf_key =
    value``. One clone per (parent session, conf), cached; a frame
    already bound to that clone is returned as is."""
    sess = df.sparkSession
    if getattr(sess, "_s3lps_conf", None) == (conf_key, value):
        return df
    clones = _CONF_CLONES.setdefault(sess, {})
    clone = clones.get((conf_key, value))
    if clone is None:
        jclone = df._jdf.sparkSession().cloneSession()
        jclone.conf().set(conf_key, value)
        clone = SparkSession(sess.sparkContext, jclone)
        clone._s3lps_conf = (conf_key, value)
        clones[(conf_key, value)] = clone
    return rebind_onto(df, clone)


def build_flat(df: DataFrame) -> DataFrame:
    """Rebind ``df`` onto a session clone with
    ``spark.sql.codegen.wholeStage=false`` — the execution posture for
    ONE-OFF write-side builds whose fused map stage cannot compile
    (round 13, OPTIMIZATION_r13.md "Not yet optimized" #1 follow-up).

    Why: the IVF-PQ corpus encode fuses the coarse-assign sims kernel
    with all m ADC distance-table arrays into a single whole-stage
    ``processNext()`` that janino cannot split, so compilation FAILS
    against the JVM's hard 64 KB method limit (``ERROR CodeGenerator
    ... Code grows beyond 64 KB``) and Spark falls back to per-operator
    execution anyway — after paying the doomed compile attempt on every
    cold build. Planning the build under this clone skips straight to
    the per-operator path (each Project still gets expression-level
    codegen, which splits fine) and keeps driver logs free of spurious
    ERRORs. Value-identical by construction: same expressions, same
    evaluation semantics, only the fusion strategy changes.

    Scoped: ONLY the one-off build runs here. Callers rebind the
    materialized result back onto their own session (rebind_onto) so
    the hot probe path keeps full whole-stage codegen."""
    return _conf_clone(df, "spark.sql.codegen.wholeStage", "false")


def plan_heavy(df: DataFrame) -> DataFrame:
    """Rebind ``df`` onto a session clone with
    ``spark.sql.constraintPropagation.enabled=false`` — the planning
    posture for expanded-arithmetic kernel plans (round 13,
    OPTIMIZATION_r13.md "IVF family").

    Why: the constraint optimizer walks every alias's expression tree
    per rule pass, and InferFiltersFromConstraints clones the inferred
    ``IsNotNull(<kernel expr>)`` predicates INTO the plan as Filter
    nodes. For the expanded sims/cosine kernels (1–2k generated terms)
    that (a) makes optimization super-linear in kernel size, and (b)
    duplicates the kernel into the fused sort stage of the window
    top-k, pushing the generated ``sort_addToSorter`` past the JVM's
    hard 64 KB method limit — whole-stage codegen then FAILS and the
    entire scan→sims→join→sort stage runs interpreted (measured: the
    `ERROR CodeGenerator ... 64 KB` in every bench/oracle run; cold
    ivf probe at sf0.01 8.3 s → 1.6 s with the constraint pass off,
    answer hash identical). The inferred constraints are redundant by
    construction — removing them can never change results, only the
    extra Filter/pushdown nodes they would have added — and every
    frame routed through here joins on non-null synthetic keys.

    Scoped as a REBIND (same context, shared catalog, isolated
    SQLConf — the `write_contribution` clone precedent) instead of a
    session-wide conf so the other ~90 query paths keep inferred
    join-key IsNotNull pushdown. Clones are cached one per parent
    session; repeat calls are cheap.

    Snapshot semantics (ADVICE r13 #2): the clone copies the parent's
    SQLConf at FIRST use and is reused for the process lifetime —
    parent conf changes made later (shuffle partitions, AQE toggles,
    timezone) do not propagate to frames planned through it. Callers
    that retune the parent session mid-process should treat the clone
    as stale-by-design: the rebound frames carry the conf of the
    moment the first heavy plan was built.

    The returned DataFrame is BOUND TO THE CLONE (ADVICE r13 #1):
    ``df.sparkSession is not`` the caller's session. Cache-invalidation
    checks comparing session identity ('cached.sparkSession is not
    spark') over a plan_heavy-derived frame would thrash — compare
    ``sparkContext`` or rebind_onto the caller's session first."""
    return _conf_clone(df, "spark.sql.constraintPropagation.enabled", "false")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def dot_expanded(a: str, b: str, dim: int) -> Column:
    """Dot product of two array COLUMNS (by name), expanded per
    dimension — fixed left-to-right summation, codegen-resident."""
    qa = "`" + a.replace("`", "``") + "`"
    qb = "`" + b.replace("`", "``") + "`"
    d = " + ".join(
        f"(CAST({qa}[{i}] AS DOUBLE) * CAST({qb}[{i}] AS DOUBLE))" for i in range(dim)
    )
    return F.expr(f"({d})")


def l2_norm_expanded(a: str, dim: int) -> Column:
    """L2 norm of an array COLUMN, expanded per dimension (same
    left-to-right order as the HOF l2_norm — bit-identical)."""
    qa = "`" + a.replace("`", "``") + "`"
    n = " + ".join(
        f"(CAST({qa}[{i}] AS DOUBLE) * CAST({qa}[{i}] AS DOUBLE))" for i in range(dim)
    )
    return F.expr(f"SQRT({n})")


def cosine_sim_expanded(a: str, b: str, dim: int) -> Column:
    """cosine_sim between two array COLUMNS (by name) with the
    arithmetic expanded per dimension — for hot candidate-scoring loops
    where ``dim`` is known (e.g. from the trained centroids). Same
    fixed left-to-right summation as the HOF form, so values are
    bit-identical; unlike the HOF form it stays inside whole-stage
    codegen instead of interpreted per-element lambda evaluation.

    For SELF-JOIN pair scoring, prefer precomputing each side's norm
    once per ROW (l2_norm_expanded before the join) and dividing the
    pair dot by the norm product: the value is bit-identical (same
    expression on the same input, just evaluated n instead of n²/cell
    times) and the per-pair arithmetic drops ~3× — measured in
    semantic_dedup round 6."""
    return dot_expanded(a, b, dim) / (
        l2_norm_expanded(a, dim) * l2_norm_expanded(b, dim)
    )


def with_unit_vector(df: DataFrame, vec_col: str, out_col: str = "unit_vec") -> DataFrame:
    norm = l2_norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm),
    )


def _top_per_query(
    df: DataFrame,
    query_id: str,
    corpus_id: str,
    order: Column,
    n: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The per-query top-``n`` cut every ANN operator ends with (and a
    rerank starts with): ``row_number()`` over ``partitionBy(query_id)``
    ordered by ``order`` then ``corpus_id`` ascending (the tie-break
    that keeps results deterministic and oracle-checkable), kept where
    ``rank_col <= n``.

    The bound stays a LITERAL: Spark 4 then plans the cut as a
    partition-local ``WindowGroupLimit`` ahead of the query-keyed
    exchange plus the final window (prune locally, merge globally —
    the REPOSE top-k shape), so the shuffle carries at most ``n`` rows
    per query per partition. A column-valued bound loses that plan."""
    w = Window.partitionBy(query_id).orderBy(order, F.asc(corpus_id))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= n
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the query set, score every
    corpus row, rank with a per-query window.

    Plan shape at scale: corpus scan is embarrassingly parallel; the
    only shuffle is the per-query top-k, bounded by k rows per query
    per partition (see _top_per_query).
    Returns (query_id, corpus_id, cosine, rank).
    """
    q = F.broadcast(queries.select(F.col(query_id), F.col(query_vec).alias("_qv")))
    c = corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("_cv"))
    scored = c.crossJoin(q).select(
        query_id,
        corpus_id,
        cosine_sim(F.col("_cv"), F.col("_qv")).alias("cosine"),
    )
    return _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k)


def plane_signs(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplane components from a seeded LCG — plain
    integer arithmetic, reproducible in any language/SQL, so LSH bucket
    assignments (and therefore candidate sets) are engine-portable."""
    state = (seed & 0x7FFFFFFF) or 1
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % 2147483647
            row.append(1.0 if state % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def hyperplane_band_keys(
    df: DataFrame,
    vec_col: str,
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH: sign bit of <v, p_j> for n_bands*bits_per_band
    fixed ±1 planes (literal, seeded — see plane_signs); bits grouped
    into bands → one row per (band, band_key). Exploded layout so the
    bucket join is a plain equi-join.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"]) if first else 0
    planes = plane_signs(n_bands * bits_per_band, dim, seed)

    # Kernel choice, third iteration (the first two are worth recording
    # because each hit a different Spark cliff at 72 planes × 64 dims):
    #   1. zip_with/aggregate HOF lambdas — interpreted per element
    #      (≈4,600 lambda frames/row) plus seconds of py4j tree build
    #      per plan: 29 s at sf0.1.
    #   2. one expanded-arithmetic SQL string (the with_centroid_sims
    #      trick) — parses fast and runs fine in a standalone stage,
    #      but whole-stage codegen of the ~4,600-term expression costs
    #      35-90 s of janino compile, re-paid EVERY call because fresh
    #      expr IDs change the generated source and miss the codegen
    #      cache; interpreted fallback is ~20 ms/row. Fine at ≤2,048
    #      terms (the centroid kernel), a cliff above it.
    # So this kernel is the one place the engine drops to Python: an
    # Arrow-batched pandas UDF over an INTEGER-quantized projection.
    # Each component is quantized per element q[i] = floor(v[i]·2^20)
    # (order-independent, bit-identical in any engine), and the ±1
    # plane projection is an exact int64 sum — so numpy's matmul order
    # doesn't matter and a SQL oracle can replicate the band keys
    # exactly: sign(Σ ±q[i]) is an integer comparison. Quantization at
    # 2^-20 granularity is far below embedding noise; it only shifts
    # sign decisions for |proj| < dim·2^-20, where the bit is
    # LSH-noise anyway. Map-only, no shuffle, BLAS-grade throughput —
    # the actual 100 TB shape for signature computation.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.int64).T  # (dim, n_planes)
    n_bands_l, bits_l = n_bands, bits_per_band
    weights = (1 << np.arange(bits_l, dtype=np.int64))

    # no type hints: PEP-563 string annotations from `from __future__
    # import annotations` break pandas_udf signature inference
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _band_keys(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        # contract: non-null, fixed-dim vectors. np.stack on a null or
        # ragged batch raises an opaque shape error that kills the whole
        # job — fail with the actual contract instead (ADVICE r5).
        arrs = vs.to_numpy()
        bad = [
            i
            for i, a in enumerate(arrs)
            if a is None or len(a) != P.shape[0]
        ]
        if bad:
            raise ValueError(
                f"hyperplane_band_keys: vector column must be non-null "
                f"fixed-dim (expected dim={P.shape[0]}); offending batch "
                f"rows: {bad[:5]} (filter nulls / normalize dims upstream)"
            )
        V = np.stack(arrs).astype(np.float64)
        Q = np.floor(V * float(1 << 20)).astype(np.int64)
        bits = (Q @ P) >= 0  # (n, n_planes) exact int64 sums
        keys = (
            bits.reshape(len(V), n_bands_l, bits_l).astype(np.int64) * weights
        ).sum(axis=2)
        return pd.Series(list(keys.astype(np.int32)))

    keyed = df.withColumn("_bks", _band_keys(F.col(vec_col)))
    return keyed.select(
        "*", F.posexplode(F.col("_bks")).alias("band", "band_key")
    ).drop("_bks")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
    n_bands: int = 8,
    bits_per_band: int = 8,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH candidate generation, exact cosine on
    candidates, per-query rank. Recall < 1.0 by construction; tune
    n_bands/bits_per_band. At scale the corpus band keys are a
    write-side precomputation (bucketed table), making queries
    shuffle-light."""
    cb = hyperplane_band_keys(
        corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("_cv")), "_cv", n_bands, bits_per_band
    )
    qb = hyperplane_band_keys(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv")), "_qv", n_bands, bits_per_band
    )
    cand = (
        cb.join(F.broadcast(qb), on=["band", "band_key"])
        .select(query_id, corpus_id, "_cv", "_qv")
        .dropDuplicates([query_id, corpus_id])
    )
    scored = cand.select(
        query_id, corpus_id, cosine_sim(F.col("_cv"), F.col("_qv")).alias("cosine")
    )
    return _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k)


def _dlit(x: float) -> str:
    """A double literal for a generated SQL expression. repr() round-trips
    IEEE doubles exactly, so the parsed value is bit-identical to the
    Python float."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite centroid component: {x}")
    return f"{x!r}D"


def with_centroid_sims(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col: str = "_sims"
) -> DataFrame:
    """``out_col[i]`` = cosine(vec, centroids[i]) for every row —
    the shared kernel under IVF assignment and probe-cell selection.

    The arithmetic is EXPANDED per dimension into one generated SQL
    expression (fixed left-to-right summation — bit-identical to the
    former zip_with/aggregate formulation and to the SQL oracles)
    instead of higher-order array lambdas: HOF lambdas evaluate
    interpreted per element, while the expanded form stays inside
    whole-stage codegen. Measured at 1M×32-dim vectors × 64 cells on
    local[32]: 16.4 s → 2.1-3.7 s per assignment pass (PERF.md round
    5). Building the expression as ONE parsed SQL string also keeps
    plan-construction cost flat (~1 s at 64×32 vs ~12 s for the
    equivalent py4j Column-tree build)."""
    dim = len(centroids[0])
    v = "`" + vec_col.replace("`", "``") + "`"
    vterm = " + ".join(
        f"(CAST({v}[{i}] AS DOUBLE) * CAST({v}[{i}] AS DOUBLE))" for i in range(dim)
    )
    sims = []
    for c in centroids:
        d = " + ".join(
            f"(CAST({v}[{i}] AS DOUBLE) * {_dlit(x)})" for i, x in enumerate(c)
        )
        cn = _dlit(sum(x * x for x in c) ** 0.5)
        sims.append(f"(({d}) / (_ivf_vn * {cn}))")
    return (
        df.withColumn("_ivf_vn", F.expr(f"SQRT({vterm})"))
        .withColumn(out_col, F.expr("array(" + ", ".join(sims) + ")"))
        .drop("_ivf_vn")
    )


# Above this many expanded terms (cells × dim), whole-stage codegen of
# the sims expression pays 35-90 s of janino compile per call (the
# cliff measured for the banding kernel — PERF.md round 5); the Arrow
# kernel takes over there.
_EXPANDED_TERM_CLIFF = 2048


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "cell",
    kernel: str = "auto",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (argmax cosine, first-maximum tie-break). Centroids are a
    driver-side list (trained by ivf_train below or supplied); compiled
    into the plan as literals / a broadcast ndarray — an intentional
    broadcast of a tiny model.

    Kernel selection (``kernel='auto'``): the expanded-arithmetic SQL
    kernel (with_centroid_sims — bit-identical to the DuckDB oracles,
    fully inside codegen) up to ~2k generated terms; past that cliff
    the per-call janino compile dominates (measured for the banding
    kernel, PERF.md round 5) and assignment switches to an
    Arrow-batched BLAS matmul (_ivf_assign_arrow). The differential
    gates all sit below the cliff (8-16 cells × 64 dims), so oracle
    bit-exactness is preserved exactly where it is checked; the Arrow
    kernel is the 100 TB shape for production quantizers (k in the
    thousands, SemDeDup/IVF scale)."""
    if kernel == "auto":
        kernel = (
            "arrow"
            if len(centroids) * len(centroids[0]) > _EXPANDED_TERM_CLIFF
            else "expanded"
        )
    if kernel == "arrow":
        return _ivf_assign_arrow(df, vec_col, centroids, out_col)
    if kernel != "expanded":
        raise ValueError(f"unknown kernel {kernel!r} (auto|expanded|arrow)")
    return (
        with_centroid_sims(df, vec_col, centroids, "_sims")
        .withColumn(out_col, (F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))) - 1).cast("int"))
        .drop("_sims")
    )


def _ivf_assign_arrow(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col: str
) -> DataFrame:
    """Arrow-batched assignment: one float64 BLAS matmul per batch
    against the norm-scaled centroid matrix (argmax of dot(v, c)/|c| —
    the |v| factor is constant per row so cosine argmax needs no row
    normalization). First-maximum tie-break like the expanded kernel.

    Determinism caveat (why the under-cliff gates keep the expanded
    kernel): BLAS summation order differs from left-to-right, so a
    vector whose top-two cosines agree to ~1e-15 relative can assign
    differently than the expanded kernel or a SQL oracle. That noise
    band is far below any real embedding separation; the kernel-parity
    test pins agreement on margin-separated data."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    norms = np.sqrt((C * C).sum(axis=1))
    norms[norms == 0.0] = 1.0
    Cs = (C / norms[:, None]).T.copy()  # (dim, k), scaled once

    @pandas_udf(T.IntegerType())
    def _assign(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        arrs = vs.to_numpy()
        bad = [i for i, a in enumerate(arrs) if a is None or len(a) != Cs.shape[0]]
        if bad:
            raise ValueError(
                f"ivf_assign(arrow): vector column must be non-null "
                f"fixed-dim (expected dim={Cs.shape[0]}); offending "
                f"batch rows: {bad[:5]}"
            )
        V = np.stack(arrs).astype(np.float64)
        return pd.Series((V @ Cs).argmax(axis=1).astype(np.int32))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_train(
    df: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    iters: int = 3,
    sample_fraction: float = 1.0,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on (a sample of) the corpus, driver-coordinated:
    per-iteration one groupBy over cell assignments — the classic Spark
    k-means shape. Centroid count is tiny (≤ thousands), so driver
    round-trips are cheap; the heavy lifting is distributed.

    With ``id_col`` the init is fully deterministic — centroid i is the
    vector of the i-th smallest id — which makes the TRAINED quantizer
    (not just a fixed codebook) reproducible enough to be differential-
    tested against an oracle that unrolls the same Lloyd iterations
    (plans/embeddings.py emb_ivf_trained_topk). Without it, the init samples via
    limit() (fine for production, not value-checkable)."""
    if id_col is not None:
        # deterministic branch honors sample_fraction too — via a
        # content-hash filter, not sample() (whose seeded RNG is
        # partition-layout-dependent and would break the determinism
        # this branch promises; `seed` therefore doesn't apply here)
        src = df
        if sample_fraction < 1.0:
            from s3logs_parquet_spark.functions.hashing import hash32

            bucket = F.pmod(hash32(F.col(id_col).cast("string")), F.lit(1_000_000))
            src = df.filter(bucket < int(sample_fraction * 1_000_000))
        init_rows = src.orderBy(F.col(id_col)).limit(n_cells).select(vec_col).collect()
        centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
        if len(centroids) < n_cells:
            raise ValueError(
                f"ivf_train: only {len(centroids)} rows available for init but "
                f"n_cells={n_cells} — the corpus (after sample_fraction="
                f"{sample_fraction} hash filtering) is too small; raise "
                "sample_fraction or lower n_cells"
            )
        data = src.select(F.col(vec_col).alias("v"))
    else:
        data = df.select(F.col(vec_col).alias("v"))
        if sample_fraction < 1.0:
            data = data.sample(fraction=sample_fraction, seed=seed)
        init = data.limit(n_cells * 50).toPandas()["v"].tolist()
        if len(init) < n_cells:
            raise ValueError(
                f"ivf_train: only {len(init)} rows available for init but "
                f"n_cells={n_cells} — the (sampled) corpus is too small; raise "
                "sample_fraction or lower n_cells"
            )
        step = max(1, len(init) // n_cells)
        centroids = [list(map(float, init[i])) for i in range(0, step * n_cells, step)][:n_cells]
    # every Lloyd job plans the expanded sims kernel fused with the
    # 64-column partial aggregate — run them under the constraint-
    # propagation-off clone (see plan_heavy) so the stage compiles
    # inside the 64 KB method limit instead of falling back to
    # interpreted execution (round 13)
    data = plan_heavy(data)
    # cache the training set across Lloyd iterations — each iteration
    # re-derives assignments from `data`, and without the persist every
    # iteration re-scans (and re-decodes) the source. Measured at 1M×32
    # vectors / 2 iters: build 59.8 s → see PERF.md round 5. Bounded:
    # only the projected vector column is cached, and it is released
    # before returning.
    cached = iters > 1
    if cached:
        data = data.persist()
    try:
        for _ in range(iters):
            assigned = ivf_assign(data, "v", centroids, "cell")
            dim = len(centroids[0])
            sums = assigned.groupBy("cell").agg(
                *[F.sum(F.col("v")[i].cast("double")).alias(f"s{i}") for i in range(dim)],
                F.count(F.lit(1)).alias("n"),
            )
            rows = {r["cell"]: r for r in sums.collect()}
            new_centroids = []
            for ci in range(len(centroids)):
                r = rows.get(ci)
                if r is None or r["n"] == 0:
                    new_centroids.append(centroids[ci])
                else:
                    new_centroids.append([r[f"s{i}"] / r["n"] for i in range(dim)])
            centroids = new_centroids
    finally:
        if cached:
            data.unpersist()
    return centroids


def _probe_cells_py(rows, centroids: list[list[float]], n_probe: int):
    """Per-query top-``n_probe`` nearest cells of the collected
    (``_qid``, ``_qv``) query rows, computed DRIVER-side.

    The query batch is broadcast-small by contract (every IVF caller
    broadcasts it into the candidate join), so collecting it is the
    same bounded-collect discipline as the probed-cell list. Doing the
    n_queries × n_cells probe scoring in plain Python sidesteps a real
    cliff: the expression form of this scoring embeds n_cells × dim
    literals, and once Catalyst inlines it through the
    sort/slice/explode chain the optimized plan blows up multi-MB —
    measured 11-14 s of compile/eval for EIGHT query rows at 64×32
    (PERF.md round 5). Arithmetic is the same fixed left-to-right
    summation as the SQL kernel (IEEE doubles both sides), ties broken
    toward the lower cell id — probe choices are bit-identical."""
    cns = []
    for c in centroids:
        s = 0.0
        for x in c:
            s += float(x) * float(x)
        cns.append(s**0.5)
    out = []
    for r in rows:
        v = [float(x) for x in r["_qv"]]
        vn = 0.0
        for x in v:
            vn += x * x
        vn = vn**0.5
        ranked = []
        for ci, c in enumerate(centroids):
            d = 0.0
            for x, y in zip(v, c):
                d += x * float(y)
            ranked.append((-(d / (vn * cns[ci])), ci))
        ranked.sort()
        out.append((r["_qid"], [ci for _, ci in ranked[:n_probe]]))
    return out


def _probe_plan(
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    centroids: list[list[float]],
    n_probe: int,
) -> tuple[list[tuple[object, list[int]]], DataFrame]:
    """(probes, qp): per-query probed cells plus the (query_id, _qv,
    cell) broadcast frame — both derived from ONE bounded collect of
    the query batch.

    Until round 14 the qp frame was built by re-scanning the query
    source and joining a (qid, cell) local frame onto it — a parquet
    scan + broadcast join PER CALL inside the broadcast build, when
    the probe scoring had already collected the very (qid, vector)
    rows the join re-derived (guide §2.4: an exchange/scan you already
    have the answer to). Building the frame locally from that collect
    is value-identical (same rows, same vectors) and turns the probe
    side into a LocalTableScan."""
    rows = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv")
    ).collect()
    probes = _probe_cells_py(rows, centroids, n_probe)
    spark = queries.sparkSession
    id_field = queries.schema[query_id]
    vec_type = queries.schema[query_vec].dataType
    data = [
        (r["_qid"], r["_qv"], c)
        for r, (_qid, cells) in zip(rows, probes)
        for c in cells
    ]
    qp = spark.createDataFrame(
        data,
        T.StructType(
            [
                T.StructField(query_id, id_field.dataType),
                T.StructField("_qv", vec_type),
                T.StructField("cell", T.IntegerType()),
            ]
        ),
    )
    return probes, qp


def _assign_corpus(
    corpus: DataFrame, corpus_id: str, corpus_vec: str, centroids: list[list[float]]
) -> DataFrame:
    """(corpus_id, _cv, cell): the corpus side of every IVF operator."""
    return ivf_assign(
        corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("_cv")), "_cv", centroids
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    centroids: list[list[float]],
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search: corpus rows pre-assigned to cells; each query probes
    its ``n_probe`` nearest cells; exact cosine inside probed cells.

    Returns a frame bound to the plan_heavy session CLONE (ADVICE r13
    #1): ``result.sparkSession`` is not the caller's session (the
    SparkContext IS shared, and execution semantics are identical).
    Callers caching the result behind a session-identity check should
    compare ``sparkContext`` or rebind_onto their own session."""
    c = _assign_corpus(corpus, corpus_id, corpus_vec, centroids)
    _probes, qp = _probe_plan(queries, query_id, query_vec, centroids, n_probe)
    cand = c.join(F.broadcast(qp), on="cell").select(query_id, corpus_id, "_cv", "_qv")
    scored = cand.select(
        query_id,
        corpus_id,
        cosine_sim_expanded("_cv", "_qv", len(centroids[0])).alias("cosine"),
    )
    # plan_heavy: the WindowGroupLimit pushdown fuses a map-side Sort
    # with the sims+cosine projections; with constraint propagation on,
    # the inferred IsNotNull(kernel) filter doubles that stage past the
    # 64 KB codegen limit (round 13 — measured interpreted fallback on
    # every execution of this plan)
    return plan_heavy(
        _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-codes ANN tier
# ---------------------------------------------------------------------------


def pq_codebooks(
    df: DataFrame, vec_col: str, m: int = 4, k_sub: int = 8, id_col: str = "vec_id"
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: sub-centroid i of subspace j is the
    j-th subvector of the vector with the i-th smallest id — the same
    reproducible-init convention as ivf_train(id_col=...), which also
    demonstrates how Lloyd refinement would distribute; PQ reuses the
    init-only form so the whole encode→ADC→rerank pipeline stays
    value-checkable against a SQL oracle. Returns
    codebooks[j][c] = list of sub_dim floats (tiny driver-side model,
    compiled into plans as literals)."""
    rows = df.orderBy(F.col(id_col)).limit(k_sub).select(vec_col).collect()
    vecs = [[float(x) for x in r[vec_col]] for r in rows]
    if len(vecs) < k_sub:
        raise ValueError(
            f"pq_codebooks: corpus has only {len(vecs)} rows but k_sub={k_sub} "
            "sub-centroids were requested — PQ needs at least k_sub vectors "
            "for the deterministic init; lower k_sub or use a larger corpus"
        )
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)]


def _sub_sq_l2_sql(vec_col: str, offset: int, cent: list[float]) -> str:
    """Squared L2 between vec[offset : offset+len(cent)] and a literal
    sub-centroid as generated SQL with the arithmetic expanded per
    dimension — fixed left-to-right summation order (the property that
    keeps it bit-identical across engines AND to the zip_with/aggregate
    formulation it replaces; the HOF form evaluated interpreted
    per-element and cost seconds of py4j tree construction per plan —
    see with_centroid_sims)."""
    v = "`" + vec_col.replace("`", "``") + "`"
    return " + ".join(
        f"((CAST({v}[{offset + i}] AS DOUBLE) - {_dlit(x)}) * "
        f"(CAST({v}[{offset + i}] AS DOUBLE) - {_dlit(x)}))"
        for i, x in enumerate(cent)
    )


def _sub_dists_sql(vec_col: str, j: int, sub: int, cents: list[list[float]]) -> str:
    """ADC table for subspace ``j``: array of squared L2 distances from
    vec's j-th subvector to each of the k_sub sub-centroids."""
    return (
        "array(" + ", ".join(f"({_sub_sq_l2_sql(vec_col, j * sub, c)})" for c in cents) + ")"
    )


def _adc_tables(vec_col: str, codebooks: list[list[list[float]]]) -> list[Column]:
    """The query side of asymmetric distance computation (ADC): one
    lookup table ``_qt{j}`` per subspace, the squared L2 distances
    from ``vec_col``'s j-th subvector to each sub-centroid."""
    sub = len(codebooks[0][0])
    return [
        F.expr(_sub_dists_sql(vec_col, j, sub, cents)).alias(f"_qt{j}")
        for j, cents in enumerate(codebooks)
    ]


def _adc_score(m: int) -> Column:
    """A candidate's ADC distance: the sum over the ``m`` subspaces of
    its table entry ``_qt{j}[pq_code[j]]`` — m lookups and adds, the
    full corpus vector never read."""
    adc = F.get(F.col("_qt0"), F.get(F.col("pq_code"), 0))
    for j in range(1, m):
        adc = adc + F.get(F.col(f"_qt{j}"), F.get(F.col("pq_code"), j))
    return adc


def pq_encode(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]], out_col: str = "pq_code"
) -> DataFrame:
    """Encode each vector as m uint8-ish codes (argmin sub-centroid per
    subspace, first-minimum tie-break). This is the write-side
    precompute at 100 TB: m bytes per vector instead of the full
    embedding ride every ANN scan."""
    sub = len(codebooks[0][0])
    # distance tables as intermediate columns so each is computed once
    # (argmin reads the array twice: array_position + array_min)
    tmp = df
    for j, cents in enumerate(codebooks):
        tmp = tmp.withColumn(f"_pqd{j}", F.expr(_sub_dists_sql(vec_col, j, sub, cents)))
    codes = F.expr(
        "array("
        + ", ".join(
            f"CAST(array_position(_pqd{j}, array_min(_pqd{j})) - 1 AS INT)"
            for j in range(len(codebooks))
        )
        + ")"
    )
    return tmp.withColumn(out_col, codes).drop(
        *[f"_pqd{j}" for j in range(len(codebooks))]
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    codebooks: list[list[list[float]]],
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
    n_candidates: int = 50,
) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC) + exact
    rerank: per query, a lookup table of squared distances to every
    sub-centroid; a candidate's approximate distance is m array lookups
    + adds over its codes (never touches the full corpus vector); the
    ``n_candidates`` best by ADC are reranked by exact cosine.

    Scale shape: codes are map-computed (or read precomputed), the
    query table broadcasts, the ADC scan is map-only over (id, codes),
    and only candidate rows' full vectors feed the exact rerank —
    the classic IVF-less PQ pipeline (Jégou et al., TPAMI'11)."""
    enc = pq_encode(corpus, corpus_vec, codebooks)
    q = queries.select(
        F.col(query_id), F.col(query_vec).alias("_qv"), *_adc_tables(query_vec, codebooks)
    )
    joined = enc.crossJoin(F.broadcast(q)).withColumn("_adc", _adc_score(len(codebooks)))
    cand = _top_per_query(
        joined, query_id, corpus_id, F.asc("_adc"), n_candidates, "_crank"
    )
    scored = cand.withColumn("cosine", cosine_sim(F.col(corpus_vec), F.col("_qv")))
    return _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k).select(
        query_id, corpus_id, "cosine", "rank"
    )


# ---------------------------------------------------------------------------
# Persisted IVF index — build once, query many (the production shape)
# ---------------------------------------------------------------------------


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
    corpus_vec: str = "embedding",
    n_cells: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Materialize the IVF index on disk: the corpus cell-assigned and
    PARTITIONED BY cell (`<path>/corpus/cell=N/...`), plus the trained
    centroids as a tiny companion table (`<path>/centroids`).

    The partition layout is the point: a query probing n_probe of
    n_cells cells reads n_probe/n_cells of the corpus bytes — static
    partition pruning at the parquet scan, no index structure beyond
    the directory tree. At 100 TB this is the difference between a
    full-corpus scan per query batch and touching only probed cells.
    Training is the deterministic ivf_train(id_col=...) so the index is
    reproducible and its query results oracle-checkable."""
    spark = corpus.sparkSession
    centroids = ivf_train(
        corpus, corpus_vec, n_cells=n_cells, iters=iters, id_col=corpus_id
    )
    assigned = _assign_corpus(corpus, corpus_id, corpus_vec, centroids)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus")
    _write_centroids(spark, path, centroids)
    return centroids


def _write_centroids(spark: SparkSession, path: str, centroids: list[list[float]]) -> None:
    """The persisted indexes' coarse quantizer: ``<path>/centroids`` as
    one tiny (cell, centroid) parquet file."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell INT, centroid ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    """Inverse of _write_centroids: the centroid list in cell order."""
    rows = spark.read.parquet(f"{path}/centroids").collect()
    return [
        [float(x) for x in r["centroid"]] for r in sorted(rows, key=lambda r: r["cell"])
    ]


def _probed_corpus(spark: SparkSession, path: str, probes) -> DataFrame:
    """A fresh scan of the persisted corpus with a literal IN filter on
    the probed cells — static partition pruning, visible as
    PartitionFilters in the plan."""
    probed = sorted({c for _qid, cells in probes for c in cells})
    return spark.read.parquet(f"{path}/corpus").filter(F.col("cell").isin(probed))


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Query a persisted IVF index: load centroids (tiny), compute each
    query's n_probe nearest cells, then scan ONLY those cell partitions
    (a literal IN filter on the partition column → static partition
    pruning, visible as PartitionFilters in the plan) and rank exact
    cosine inside.

    The probe-cell collect is bounded by n_queries × n_probe ints —
    the same tiny-model discipline as the centroid literals."""
    centroids = _read_centroids(spark, path)
    probes, qp = _probe_plan(queries, query_id, query_vec, centroids, n_probe)
    corpus = _probed_corpus(spark, path, probes)
    cand = corpus.join(F.broadcast(qp), on="cell").select(
        query_id, corpus_id, "_cv", "_qv"
    )
    scored = cand.select(
        query_id,
        corpus_id,
        cosine_sim_expanded("_cv", "_qv", len(centroids[0])).alias("cosine"),
    )
    return _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k)


# ---------------------------------------------------------------------------
# IVF-PQ — coarse cell pruning + compressed-code ADC inside probed cells
# ---------------------------------------------------------------------------


def ivfpq_encode_corpus(
    corpus: DataFrame,
    corpus_id: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The IVF-PQ write-side precompute: (id, _cv, cell, pq_code) for
    every corpus row — cell from the coarse quantizer, code from the
    PQ codebooks. In production this is materialized once per corpus;
    callers that query repeatedly should checkpoint/persist the result
    and pass it to ivfpq_topk(encoded=...)."""
    assigned = _assign_corpus(corpus, corpus_id, corpus_vec, centroids)
    return pq_encode(assigned, "_cv", codebooks, "pq_code")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
    n_candidates: int = 50,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (Jégou et al., TPAMI'11 — the FAISS `IVFx,PQy` layout):
    coarse quantizer prunes the corpus to each query's ``n_probe``
    nearest cells, ADC over the m-byte PQ codes ranks candidates INSIDE
    those cells without touching full vectors, and only the top
    ``n_candidates`` get an exact-cosine rerank.

    This composes the two tiers that already exist separately
    (ivf_topk's cell pruning, pq_topk's ADC): cell assignment and codes
    are write-side precomputes; the query side is a broadcast of
    (query, probed-cell, ADC lookup tables); the candidate join is an
    equi-join on cell. Against 100 TB the scan cost is
    ``n_probe/n_cells`` of the CODES (m bytes/vector), not the corpus —
    the only full-width vector reads are the ``n_candidates`` rerank
    rows per query. Deterministic train/codebooks keep the whole chain
    oracle-checkable (plans/embeddings.py emb_ivfpq_topk).

    ``encoded`` short-circuits the write-side precompute: a frame with
    columns (corpus_id, _cv, cell, pq_code) — e.g. the output of
    ivfpq_encode_corpus, computed once and checkpointed/persisted —
    so repeated query batches pay only the probe+ADC+rerank path, the
    production cost model."""
    enc = encoded if encoded is not None else ivfpq_encode_corpus(
        corpus, corpus_id, centroids, codebooks, corpus_vec
    )
    _probes, qp = _probe_plan(queries, query_id, query_vec, centroids, n_probe)
    qt = qp.select(F.col(query_id), "cell", "_qv", *_adc_tables("_qv", codebooks))
    joined = enc.join(F.broadcast(qt), on="cell").withColumn(
        "_adc", _adc_score(len(codebooks))
    )
    cand = _top_per_query(
        joined, query_id, corpus_id, F.asc("_adc"), n_candidates, "_crank"
    )
    scored = cand.withColumn("cosine", cosine_sim(F.col("_cv"), F.col("_qv")))
    return _top_per_query(scored, query_id, corpus_id, F.desc("cosine"), k).select(
        query_id, corpus_id, "cosine", "rank"
    )


# --- scalar quantization (SQ8) --------------------------------------------


def sq_stats(df: DataFrame, vec_col: str, dim: int) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 quantizer's
    'training', a single aggregate returning 2*dim scalars to the
    driver (bounded by the embedding width, never by corpus size).
    In production these are write-side table properties, recomputed
    only when the embedding model changes."""
    # posexplode → groupBy(pos) instead of one 2*dim-buffer single-row
    # aggregate (round 14, VERDICT r13 #5; guide §5 — wide single-row
    # aggregates vs a narrow shuffle): the wide form generates 2*dim
    # aggregate expressions each indexing the array, whose codegen
    # compile + interpreted fallback dominated the one-off train
    # (measured at sf0.1 embeddings, cold/warm/warm: dim 64
    # 17.5/9.3/8.3 s wide vs 2.5/1.3/1.0 s exploded; dim 512 synthetic
    # 34-65 s vs 3.1-4.7 s). min/max are order-insensitive, so the
    # values are identical — asserted against the wide form at both
    # dims before the switch; null elements are skipped by min/max in
    # both shapes. The shuffle this adds is dim groups of two doubles.
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("_pos", "_val"))
        .groupBy("_pos")
        .agg(F.min("_val").alias("_mn"), F.max("_val").alias("_mx"))
        .collect()
    )
    by = {int(r["_pos"]): (float(r["_mn"]), float(r["_mx"])) for r in rows}
    return [by[i] for i in range(dim)]


def sq_encode(
    df: DataFrame,
    vec_col: str,
    stats: list[tuple[float, float]],
    out_col: str = "sq_code",
    with_norm: bool = True,
) -> DataFrame:
    """8-bit scalar quantization (the FAISS `SQ8` layout): per
    dimension, q_i = clamp(floor((v_i - mn_i) * 256 / (mx_i - mn_i)),
    0, 255), stored as array<int> codes — 1/8th the bytes of the
    float64 parquet column (1/4 vs float32). floor (not round) keeps
    the arithmetic bit-identical across engines with no half-even /
    half-up ambiguity; a constant dimension (mx == mn) encodes 0.

    Write-side precompute: encode once at ingest, scan codes for
    candidate generation, fetch full vectors only for the rerank set
    (sq8_topk). Map-only, codegen-resident — no UDF, no shuffle.

    ``with_norm`` also stores ``sq_norm`` = the L2 norm of the
    DEQUANTIZED vector — query-independent, so computing it per
    (query x row) in the scoring expression would repeat it Q times
    per corpus row AND double the expression size (the semantic-dedup
    pair-stage lesson, PERF.md round 6: per-row invariants move OUT
    of per-pair expressions); sq8_topk uses the stored column when
    present."""
    # generated-SQL construction (round 13): identical arithmetic in
    # identical order to the former Column-tree build — CAST/FLOOR/
    # LEAST/GREATEST coerce exactly the same way through the SQL
    # parser — but ONE parse instead of ~1,500 py4j round-trips at
    # dim 64 (pinned value-stable by test_sq8_quantization_and_topk
    # and the emb_sq8_topk oracle gate)
    v = "`" + vec_col.replace("`", "``") + "`"
    terms = []
    for i, (mn, mx) in enumerate(stats):
        if mx > mn:
            scaled = (
                f"((CAST({v}[{i}] AS DOUBLE) - {_dlit(mn)}) * "
                f"({_dlit(256.0)} / ({_dlit(mx)} - {_dlit(mn)})))"
            )
            terms.append(f"CAST(LEAST(GREATEST(FLOOR({scaled}), 0), 255) AS INT)")
        else:
            terms.append("CAST(0 AS INT)")
    out = df.withColumn(out_col, F.expr("array(" + ", ".join(terms) + ")"))
    if with_norm:
        out = out.withColumn("sq_norm", F.expr(_sq_norm_sql(out_col, stats)))
    return out


def _sq_norm_sql(code_col: str, stats: list[tuple[float, float]]) -> str:
    """L2 norm of the dequantized codes, fixed-order expanded SQL."""
    sqsum = " + ".join(f"({c} * {c})" for c in _sq_dequant_sqls(code_col, stats))
    return f"SQRT({sqsum})"


def _sq_dequant_sqls(code_col: str, stats: list[tuple[float, float]]) -> list[str]:
    """Reconstruction expressions as SQL strings: v'_i = mn_i +
    (q_i + 0.5) * (mx_i - mn_i) / 256 (bucket-center dequantization;
    constant dims reconstruct mn exactly). Same term order as the
    former Column-tree build — Catalyst constant-folds
    ``(mx - mn) / 256`` identically either way."""
    c = "`" + code_col.replace("`", "``") + "`"
    out = []
    for i, (mn, mx) in enumerate(stats):
        if mx > mn:
            out.append(
                f"({_dlit(mn)} + ((CAST({c}[{i}] AS DOUBLE) + {_dlit(0.5)}) * "
                f"(({_dlit(mx)} - {_dlit(mn)}) / {_dlit(256.0)})))"
            )
        else:
            out.append(_dlit(mn))
    return out


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    stats: list[tuple[float, float]],
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 10,
    n_candidates: int | None = 50,
    encoded: DataFrame | None = None,
    code_col: str = "sq_code",
) -> DataFrame:
    """Asymmetric SQ8 search: score every corpus row by the cosine of
    the FULL-PRECISION query against the DEQUANTIZED corpus code (the
    standard asymmetric distance — queries are few, corpus is huge, so
    only the corpus side pays quantization error), take the top
    ``n_candidates`` per query, then exact-cosine rerank those with
    the full vectors and return the top ``k``.

    At 100 TB the candidate scan reads the CODES column only (parquet
    column pruning: 1 int8-worth per dim instead of 8 bytes) and full
    vectors are fetched for n_candidates rows per query — the same
    bytes discipline as PQ's ADC path but with a far simpler quantizer
    and no codebook training. ``n_candidates=None`` skips the rerank
    and returns quantized-score ranks directly (the recall-measurement
    mode). ``encoded`` short-circuits sq_encode (write-side codes).

    Deterministic end-to-end (floor-based codes, expanded fixed-order
    float arithmetic), so the whole quantize -> score -> rerank chain
    is oracle-checkable (plans/embeddings.py emb_sq8_topk)."""
    dim = len(stats)
    if encoded is not None:
        # validate the externally-supplied frame's contract up front —
        # a non-default encode out_col or a codes-only (vector-pruned)
        # store would otherwise surface as an opaque unresolved-column
        # error deep in the plan (ADVICE r7)
        need = [code_col] + (["_cv"] if n_candidates is not None else [])
        missing = [c for c in need if c not in encoded.columns]
        if missing:
            raise ValueError(
                f"sq8_topk: `encoded` is missing column(s) {missing}; it must "
                f"carry the SQ8 codes as {code_col!r} (pass code_col= for a "
                f"non-default encode out_col)"
                + (
                    " and the full vectors as '_cv' for the exact rerank "
                    "(codes-only stores must pass n_candidates=None to use "
                    "the quantized-rank mode)"
                    if n_candidates is not None
                    else ""
                )
                + f". Got columns: {encoded.columns}"
            )
    enc = encoded if encoded is not None else sq_encode(
        corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("_cv")),
        "_cv",
        stats,
        code_col,
    )
    if "sq_norm" not in enc.columns:
        # older/minimal encodes: derive the norm from the codes (same
        # fixed-order arithmetic sq_encode stores)
        enc = enc.withColumn("sq_norm", F.expr(_sq_norm_sql(code_col, stats)))
    q = F.broadcast(queries.select(F.col(query_id), F.col(query_vec).alias("_qv")))
    dq = _sq_dequant_sqls(code_col, stats)
    qn = " + ".join(
        f"(CAST(_qv[{i}] AS DOUBLE) * CAST(_qv[{i}] AS DOUBLE))" for i in range(dim)
    )
    # expanded fixed-order dot over the reconstruction columns; the
    # corpus-side norm is the STORED sq_norm (query-independent —
    # recomputing it per (query x row) would repeat it Q times per
    # corpus row and double the scoring expression). One parsed SQL
    # string (round 13) — same terms, same order as the former
    # Column-tree build.
    approx_dot = " + ".join(
        f"({dq[i]} * CAST(_qv[{i}] AS DOUBLE))" for i in range(dim)
    )
    approx_cos = F.expr(f"(({approx_dot}) / (sq_norm * SQRT({qn})))")
    scored = enc.crossJoin(q).withColumn("_acos", approx_cos)
    if n_candidates is None:
        return _top_per_query(scored, query_id, corpus_id, F.desc("_acos"), k).select(
            query_id, corpus_id, F.col("_acos").alias("cosine"), "rank"
        )
    cand = _top_per_query(
        scored, query_id, corpus_id, F.desc("_acos"), n_candidates, "_crank"
    )
    rescored = cand.withColumn("cosine", cosine_sim_expanded("_cv", "_qv", dim))
    return _top_per_query(rescored, query_id, corpus_id, F.desc("cosine"), k).select(
        query_id, corpus_id, "cosine", "rank"
    )

"""ANN operator tests: exactness of brute force, recall of LSH/IVF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.ann import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    ivf_train,
    lsh_topk,
)
from s3logs_parquet_spark.operators.dedup import embedding_neardup_pairs


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )


def test_brute_force_self_is_rank1(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = brute_force_topk(emb, _queries(emb), "vec_id", "query_id", k=3).collect()
    rank1 = {r["query_id"]: (r["vec_id"], r["cosine"]) for r in out if r["rank"] == 1}
    for qid, (vid, cos) in rank1.items():
        assert vid == qid
        assert abs(cos - 1.0) < 1e-9


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    exact = brute_force_topk(emb, q, "vec_id", "query_id", k=5)
    approx = lsh_topk(emb, q, "vec_id", "query_id", k=5, n_bands=16, bits_per_band=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_train_and_search(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = ivf_train(emb, "embedding", n_cells=4, iters=2)
    assert len(cents) == 4
    assigned = ivf_assign(emb.select(F.col("embedding").alias("v")), "v", cents)
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells.issubset(set(range(4)))

    q = _queries(emb)
    exact = brute_force_topk(emb, q, "vec_id", "query_id", k=5)
    approx = ivf_topk(emb, q, "vec_id", "query_id", cents, k=5, n_probe=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5


def test_embedding_neardup_self_duplicates(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(50)
    # plant an exact duplicate vector with a new id
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.union(dup)
    pairs = embedding_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in found


def test_pq_self_retrieval_and_recall(spark, sf_dir):
    """PQ (codebooks → encode → ADC → exact rerank): every query is a
    corpus member, so with 50 ADC candidates over 500 vectors the query
    itself must surface and rerank to rank 1 (cosine 1.0); and the
    reranked top-10 must overlap substantially with the exact top-10."""
    from s3logs_parquet_spark.operators.ann import pq_codebooks, pq_encode, pq_topk

    emb = _emb(spark, sf_dir)
    cbs = pq_codebooks(emb, "embedding", m=4, k_sub=8, id_col="vec_id")
    assert len(cbs) == 4 and all(len(c) == 8 for c in cbs)
    assert all(len(cent) == 16 for c in cbs for cent in c)

    codes = pq_encode(emb.limit(50), "embedding", cbs).select("pq_code").collect()
    assert all(len(r["pq_code"]) == 4 for r in codes)
    assert all(0 <= x < 8 for r in codes for x in r["pq_code"])

    q = _queries(emb)
    out = pq_topk(emb, q, "vec_id", "query_id", cbs, k=10, n_candidates=50).collect()
    rank1 = {r["query_id"]: (r["vec_id"], r["cosine"]) for r in out if r["rank"] == 1}
    for qid, (vid, cos) in rank1.items():
        assert vid == qid and abs(cos - 1.0) < 1e-9

    exact = brute_force_topk(emb, q, "vec_id", "query_id", k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    pq_sets = {}
    for r in out:
        pq_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(len(exact_sets[q0] & pq_sets[q0]) for q0 in exact_sets) / sum(
        len(s) for s in exact_sets.values()
    )
    assert recall >= 0.5, f"PQ recall@10 collapsed: {recall}"


def test_ivf_index_persist_prune_and_parity(spark, sf_dir, tmp_path):
    """The persisted IVF index must (a) return exactly what the
    in-memory trained path returns, and (b) scan only the probed cell
    partitions — static partition pruning visible in the plan."""
    from s3logs_parquet_spark.operators.ann import (
        ivf_index_topk,
        ivf_index_write,
        ivf_topk,
        ivf_train,
    )

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf_index")
    centroids = ivf_index_write(emb, path, "vec_id", n_cells=8, iters=2)
    assert centroids == ivf_train(emb, "embedding", n_cells=8, iters=2, id_col="vec_id")

    q = _queries(emb)
    indexed = ivf_index_topk(spark, path, q, "vec_id", "query_id", k=10, n_probe=2)
    mem = ivf_topk(emb, q, "vec_id", "query_id", centroids, k=10, n_probe=2)
    key = lambda r: (r["query_id"], r["rank"])
    got = sorted(((r["query_id"], r["rank"], r["vec_id"]) for r in indexed.collect()))
    want = sorted(((r["query_id"], r["rank"], r["vec_id"]) for r in mem.collect()))
    assert got == want and len(got) > 0

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruned scan must carry a cell IN (...) partition filter, not
    # read all 8 cells
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "cell" in pf


def test_ivf_train_and_pq_codebooks_validate_corpus_size(spark):
    """ADVICE r3 #4: too-small corpora must raise clear ValueErrors,
    not an opaque IndexError (pq) or a silently short centroid list
    (ivf_train under aggressive sample_fraction)."""
    import pytest

    from s3logs_parquet_spark.operators.ann import pq_codebooks

    def emb_df(n, dim=8):
        return spark.createDataFrame(
            [(i, [float(i + j) for j in range(dim)]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )

    tiny = emb_df(4)

    with pytest.raises(ValueError, match="k_sub"):
        pq_codebooks(tiny, "embedding", m=4, k_sub=8)

    # a dim that m does not divide must raise, also under python -O
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb_df(8, dim=10), "embedding", m=4, k_sub=8)

    with pytest.raises(ValueError, match="n_cells"):
        ivf_train(tiny, "embedding", n_cells=8, iters=1, id_col="vec_id")

    with pytest.raises(ValueError, match="n_cells"):
        ivf_train(tiny, "embedding", n_cells=8, iters=1)

    # deterministic branch + sample_fraction filtering below n_cells
    with pytest.raises(ValueError, match="sample_fraction"):
        ivf_train(
            emb_df(64), "embedding", n_cells=32, iters=1,
            sample_fraction=0.05, id_col="vec_id",
        )


def test_ivf_assign_kernel_parity_and_auto_switch(spark):
    """The Arrow matmul kernel and the expanded-arithmetic kernel agree
    on margin-separated vectors, and 'auto' picks by the codegen term
    cliff (cells x dim)."""
    import random

    from s3logs_parquet_spark.operators.ann import _EXPANDED_TERM_CLIFF, ivf_assign

    rng = random.Random(3)
    dim, k = 16, 6
    cents = []
    for c in range(k):
        v = [0.0] * dim
        v[c] = 1.0
        v[(c + 7) % dim] = 0.5
        cents.append(v)
    rows = []
    for i in range(200):
        c = i % k
        base = cents[c]
        # noise well inside the assignment margin
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exp = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(df, "embedding", cents, kernel="expanded").collect()
    }
    arr = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(df, "embedding", cents, kernel="arrow").collect()
    }
    assert exp == arr
    # the constructed corpus also assigns to its generating centroid
    assert all(cell == i % k for i, cell in exp.items())

    # auto-switch boundary: k*dim below cliff -> expanded plan has no
    # Python eval; a quantizer past the cliff -> BatchEvalPython/ArrowEval
    small = ivf_assign(df, "embedding", cents)  # 96 terms, expanded
    assert "Eval" not in small._jdf.queryExecution().executedPlan().toString().replace(
        "WholeStageCodegen", ""
    )
    big_k = _EXPANDED_TERM_CLIFF // dim + 1
    big_cents = [[1.0 if j == (c % dim) else 0.01 * c for j in range(dim)] for c in range(big_k)]
    big = ivf_assign(df, "embedding", big_cents)
    assert "Eval" in big._jdf.queryExecution().executedPlan().toString()


def test_ivf_assign_arrow_rejects_ragged(spark):
    import pytest

    from s3logs_parquet_spark.operators.ann import ivf_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 3.0])], ["vec_id", "embedding"]
    )
    out = ivf_assign(df, "embedding", [[1.0, 0.0], [0.0, 1.0]], kernel="arrow")
    with pytest.raises(Exception, match="fixed-dim"):
        out.collect()


def test_sq8_quantization_and_topk(spark):
    """SQ8 (round 7): floor-quantized codes bound reconstruction error
    by one bucket width per dim; asymmetric search + exact rerank
    recovers the exact top-k on a clustered corpus; the write-side
    `encoded` precompute path returns identical results."""
    import random

    from s3logs_parquet_spark.operators.ann import (
        brute_force_topk,
        sq8_topk,
        sq_encode,
        sq_stats,
    )

    rng = random.Random(7)
    dim = 8
    # 4 well-separated anchors + jitter, plus one CONSTANT dim (index 7)
    anchors = [[(1.0 if j == c else 0.1) for j in range(dim - 1)] + [2.5] for c in range(4)]
    rows = [
        (i, [x + rng.uniform(-0.02, 0.02) for x in anchors[i % 4][:-1]] + [2.5])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stats = sq_stats(df, "embedding", dim)
    assert stats[dim - 1][0] == stats[dim - 1][1] == 2.5  # constant dim

    # per-dim reconstruction error <= bucket width (mx-mn)/256
    enc = sq_encode(df.selectExpr("vec_id", "embedding AS _cv"), "_cv", stats)
    r = enc.first()
    for i, (mn, mx) in enumerate(stats):
        q = r["sq_code"][i]
        assert 0 <= q <= 255
        recon = mn + (q + 0.5) * ((mx - mn) / 256.0) if mx > mn else mn
        assert abs(recon - r["_cv"][i]) <= (mx - mn) / 256.0 + 1e-12

    queries = df.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in brute_force_topk(df, queries, "vec_id", "query_id", k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5, n_candidates=40
        ).collect()
    }
    assert got == exact  # rerank recovers the exact ranking

    pre = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5, n_candidates=40,
            encoded=enc,
        ).collect()
    }
    assert pre == exact

    # no-rerank mode ranks by the quantized score only
    approx = sq8_topk(
        df, queries, "vec_id", "query_id", stats, k=5, n_candidates=None
    )
    assert approx.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert approx.count() == 15


def test_sq8_minimal_encode_derives_norm(spark):
    """An externally-passed encode WITHOUT sq_norm (older/minimal
    write-side tables) must still work: sq8_topk derives the norm from
    the codes with the same fixed-order arithmetic, so results are
    identical to the with_norm path."""
    from s3logs_parquet_spark.operators.ann import sq8_topk, sq_encode, sq_stats

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stats = sq_stats(df, "embedding", 3)
    queries = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")

    base = sq_encode(df.selectExpr("vec_id", "embedding AS _cv"), "_cv", stats)
    assert "sq_norm" in base.columns
    minimal = base.drop("sq_norm")

    want = sorted(
        map(tuple, sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5, encoded=base
        ).collect())
    )
    got = sorted(
        map(tuple, sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5, encoded=minimal
        ).collect())
    )
    assert got == want and len(got) == 10


def test_sq8_code_col_and_contract_errors(spark):
    """ADVICE r7: an encode built with a non-default out_col works via
    code_col=, and a contract violation (missing codes, or codes-only
    store on the rerank path) raises a descriptive ValueError up front
    instead of an unresolved-column plan error."""
    import pytest

    from s3logs_parquet_spark.operators.ann import sq8_topk, sq_encode, sq_stats

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stats = sq_stats(df, "embedding", 3)
    queries = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")

    base = sq_encode(df.selectExpr("vec_id", "embedding AS _cv"), "_cv", stats)
    renamed = base.withColumnRenamed("sq_code", "codes8")
    want = sorted(
        map(tuple, sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5, encoded=base
        ).collect())
    )
    got = sorted(
        map(tuple, sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5,
            encoded=renamed, code_col="codes8",
        ).collect())
    )
    assert got == want and len(got) == 10

    # default code_col against the renamed store: clear contract error
    with pytest.raises(ValueError, match="missing column.*sq_code"):
        sq8_topk(df, queries, "vec_id", "query_id", stats, k=5, encoded=renamed)

    # codes-only (vector-pruned) store on the rerank path: names '_cv'
    # and points at the quantized-rank escape hatch
    codes_only = renamed.drop("_cv")
    with pytest.raises(ValueError, match="_cv.*n_candidates=None"):
        sq8_topk(
            df, queries, "vec_id", "query_id", stats, k=5,
            encoded=codes_only, code_col="codes8",
        )
    # ...and the quantized-rank mode itself accepts the codes-only store
    approx = sq8_topk(
        df, queries, "vec_id", "query_id", stats, k=5,
        encoded=codes_only, code_col="codes8", n_candidates=None,
    )
    assert approx.count() == 10


def test_plan_heavy_rebind_scopes_constraint_propagation(spark, sf_dir):
    """Round-13 codegen fix: ivf_topk returns a frame bound to a
    constraint-propagation-off session CLONE (so the fused window-topk
    sort stage compiles inside the JVM's 64 KB method limit instead of
    falling back to interpreted execution), while the caller's session
    keeps the default ON — and the rebind changes no values."""
    from s3logs_parquet_spark.operators.ann import plan_heavy

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cents = ivf_train(emb, "embedding", n_cells=4, iters=1, id_col="vec_id")
    out = ivf_topk(emb, q, "vec_id", "query_id", cents, k=5, n_probe=2)
    # scoped: the result's session has the pass off, the parent keeps it
    assert out.sparkSession is not spark
    assert out.sparkSession.conf.get("spark.sql.constraintPropagation.enabled") == "false"
    assert spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    # idempotent + cached: rebinding again reuses the same clone
    again = plan_heavy(out)
    assert again.sparkSession is out.sparkSession
    # value parity vs the same plan executed on the parent session (the
    # inferred constraints are redundant — removing them must not
    # change a single row)
    from pyspark.sql.classic.dataframe import DataFrame as CDataFrame

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, out._jdf.logicalPlan()
    )
    on_parent = CDataFrame(jdf, spark)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, on_parent.collect()))
    assert got == want and len(got) == 25


def test_build_flat_scoped_and_rebind_onto_round_trips(spark, sf_dir):
    """Round-13 cold-path fix: the IVF-PQ corpus encode is built under a
    whole-stage-codegen-off clone (its fused assign+PQ-tables span
    cannot compile within the JVM's 64 KB method limit — build_flat
    skips the doomed compile), and rebind_onto returns the materialized
    result to the CALLER's session so probe queries keep full
    whole-stage codegen. Values must be identical either way."""
    from s3logs_parquet_spark.operators.ann import (
        build_flat,
        ivf_train,
        ivfpq_encode_corpus,
        pq_codebooks,
        rebind_onto,
    )

    emb = _emb(spark, sf_dir)
    cents = ivf_train(emb, "embedding", n_cells=4, iters=1, id_col="vec_id")
    cbs = pq_codebooks(emb, "embedding", m=4, k_sub=4, id_col="vec_id")
    enc = ivfpq_encode_corpus(emb, "vec_id", cents, cbs)
    flat = build_flat(enc)
    # scoped: the build frame's session has whole-stage codegen off,
    # the parent keeps the default ON
    assert flat.sparkSession is not spark
    assert flat.sparkSession.conf.get("spark.sql.codegen.wholeStage") == "false"
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    # idempotent + cached: rebinding again reuses the same clone
    assert build_flat(flat).sparkSession is flat.sparkSession
    # rebind_onto round-trips to the caller's session
    back = rebind_onto(flat, spark)
    assert back.sparkSession is spark
    # value parity: same rows whichever session plans the build
    got = sorted(map(tuple, flat.select("vec_id", "cell", "pq_code").collect()))
    want = sorted(map(tuple, back.select("vec_id", "cell", "pq_code").collect()))
    assert got == want and len(got) > 0


def _topk_exact(spark, emb, q, tmp_path):
    return brute_force_topk(emb, q, "vec_id", "query_id", k=5)


def _topk_lsh(spark, emb, q, tmp_path):
    return lsh_topk(emb, q, "vec_id", "query_id", k=5, n_bands=16, bits_per_band=4)


def _topk_ivf(spark, emb, q, tmp_path):
    cents = ivf_train(emb, "embedding", n_cells=4, iters=1, id_col="vec_id")
    return ivf_topk(emb, q, "vec_id", "query_id", cents, k=5, n_probe=2)


def _topk_ivf_index(spark, emb, q, tmp_path):
    from s3logs_parquet_spark.operators.ann import ivf_index_topk, ivf_index_write

    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, path, "vec_id", n_cells=4, iters=1)
    return ivf_index_topk(spark, path, q, "vec_id", "query_id", k=5, n_probe=2)


def _topk_pq(spark, emb, q, tmp_path):
    from s3logs_parquet_spark.operators.ann import pq_codebooks, pq_topk

    cbs = pq_codebooks(emb, "embedding", m=4, k_sub=8, id_col="vec_id")
    return pq_topk(emb, q, "vec_id", "query_id", cbs, k=5, n_candidates=20)


def _topk_ivfpq(spark, emb, q, tmp_path):
    from s3logs_parquet_spark.operators.ann import ivfpq_topk, pq_codebooks

    cents = ivf_train(emb, "embedding", n_cells=4, iters=1, id_col="vec_id")
    cbs = pq_codebooks(emb, "embedding", m=4, k_sub=8, id_col="vec_id")
    return ivfpq_topk(
        emb, q, "vec_id", "query_id", cents, cbs, k=5, n_probe=2, n_candidates=20
    )


def _topk_sq8(spark, emb, q, tmp_path):
    from s3logs_parquet_spark.operators.ann import sq8_topk, sq_stats

    stats = sq_stats(emb, "embedding", 64)
    return sq8_topk(emb, q, "vec_id", "query_id", stats, k=5, n_candidates=20)


@pytest.mark.parametrize(
    "build, limits",
    [
        (_topk_exact, [5]),
        (_topk_lsh, [5]),
        (_topk_ivf, [5]),
        (_topk_ivf_index, [5]),
        (_topk_pq, [5, 20]),
        (_topk_ivfpq, [5, 20]),
        (_topk_sq8, [5, 20]),
    ],
    ids=["exact", "lsh", "ivf", "ivf_index", "pq", "ivfpq", "sq8"],
)
def test_topk_cuts_plan_as_window_group_limit(spark, sf_dir, tmp_path, build, limits):
    """Every per-query cut (the final top-k, and the candidate cut ahead
    of a rerank) must execute as a partition-local WindowGroupLimit
    before the query-keyed shuffle. The AQE final plan holds one
    ``WindowGroupLimit …, <n>, Final`` node per cut, so single-cut
    operators show the k cut and candidate + rerank operators show the
    n_candidates cut as well. A non-literal rank bound plans as a plain
    Window + Filter and fails here."""
    import re

    emb = _emb(spark, sf_dir)
    out = build(spark, emb, _queries(emb), tmp_path)
    rows = out.collect()
    assert rows and out.columns[-1] == "rank"
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    cuts = [int(n) for n in re.findall(r"WindowGroupLimit .*, (\d+), Final", plan)]
    assert len(cuts) >= len(limits) and set(limits) <= set(cuts), plan

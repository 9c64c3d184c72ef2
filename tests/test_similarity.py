"""Near-dup / similarity operator tests on constructed corpora with
known ground truth."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.dedup import (
    connected_components_clusters,
    exact_dedup,
    minhash_banded,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
NEAR = BASE.replace("warm", "cold")  # one-word edit → high overlap
OTHER = (
    "completely different content about databases query engines and "
    "distributed systems running on large clusters with many executors"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)],  # 4 = exact dup of 1
        ["doc_id", "text"],
    )


def test_exact_dedup_deterministic_survivor(spark):
    d = _docs(spark)
    out = exact_dedup(d, "text", keep_order_col="doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 3]  # 4 collapsed into 1 (min doc_id survives)


def test_minhash_estimates_jaccard(spark):
    d = _docs(spark)
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(d, "doc_id", "text", num_hashes=128).collect()}
    est_near = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 128
    est_far = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 128
    # true 3-gram jaccard of BASE vs NEAR is high (one word changed)
    assert est_near > 0.5
    assert est_far < 0.2
    assert sigs[1] == sigs[4]  # identical docs → identical signatures


def test_minhash_lsh_finds_planted_pairs(spark):
    d = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs  # exact dup always found
    assert (1, 2) in pairs and (2, 4) in pairs  # near dup found
    assert all(3 not in p for p in pairs)  # unrelated doc excluded
    with pytest.raises(ValueError, match="divisible"):
        minhash_banded(d, "doc_id", "text", num_hashes=10, bands=3)


def test_simhash_hamming_structure(spark):
    d = _docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(d, "doc_id", "text").collect()}
    assert sh[1] == sh[4]
    near_d = bin(sh[1] ^ sh[2]).count("1")
    far_d = bin(sh[1] ^ sh[3]).count("1")
    assert near_d < far_d
    assert near_d <= 6


def test_simhash_near_pairs(spark):
    d = _docs(spark)
    # the 4-block pigeonhole guarantees recall only for hamming <= 3;
    # beyond that pairs may be missed (documented operator contract)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(d, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs[(1, 4)] == 0  # exact dup always found
    assert all(h <= 3 for h in pairs.values())
    sh = {r["doc_id"]: r["simhash"] for r in simhash(d, "doc_id", "text").collect()}
    if bin(sh[1] ^ sh[2]).count("1") <= 3:
        assert (1, 2) in pairs


def test_simhash_64bit_pigeonhole_equals_bruteforce(spark):
    """The cluster-scale configuration (bits=64, 4 x 16-bit blocks):
    the pigeonhole guarantee — any pair within Hamming distance
    n_blocks-1 = 3 shares at least one exact block — means the
    screened join must find EXACTLY the brute-force hamming<=3 set.
    Pins the round-13 generalized block extraction (shift/mask bounds,
    xxhash64 shingle path, bit-63 shiftleft construction)."""
    rows = [(i, f"word{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(40)]
    # planted identical + near-identical docs land within distance 3
    rows += [(100, rows[0][1]), (101, rows[1][1])]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {r["doc_id"]: r["simhash"] for r in simhash(d, "doc_id", "text", bits=64).collect()}
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(
            d, "doc_id", "text", max_hamming=3, bits=64
        ).collect()
    }
    assert got == brute
    assert (0, 100) in got and got[(0, 100)] == 0  # planted exact dup


def test_simhash_32bit_value_stable_across_construction(spark):
    """The round-13 OR/shiftleft construction must produce bit-identical
    32-bit simhashes to the original sum construction (the DuckDB
    oracle replicates the original formula)."""
    d = _docs(spark)
    sh = simhash(d, "doc_id", "text", bits=32).collect()
    from s3logs_parquet_spark.functions.hashing import hash32
    from s3logs_parquet_spark.operators.dedup import exploded_shingles

    exploded = exploded_shingles(d, "doc_id", "text", 2).select(
        "doc_id", hash32(F.col("shingle")).alias("_h")
    )
    counts = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftrightunsigned(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
            for b in range(32)
        ],
    )
    sim = None
    for b in range(32):
        term = (
            F.when(F.col(f"_b{b}") * 2 >= F.col("_n"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            * F.lit(1 << b).cast("long")
        )
        sim = term if sim is None else sim + term
    legacy = {r["doc_id"]: r["s"] for r in counts.select("doc_id", sim.alias("s")).collect()}
    for r in sh:
        assert r["simhash"] == legacy[r["doc_id"]]


def test_ngram_jaccard_exact_value(spark):
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"]
    )
    out = ngram_jaccard_pairs(d, "doc_id", "text", k=2, threshold=0.0, allow_quadratic=True).collect()
    # 2-grams: {ab, bc, cd} vs {ab, bc, ce} → J = 2/4
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 0.5) < 1e-9


def test_connected_components(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_clusters(pairs, ids, "doc_id").collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[4] == 4
    assert labels[5] == labels[6] == 5


def test_connected_components_long_chain(spark):
    # A 40-node path graph: plain neighbor-min propagation needs 39
    # rounds; pointer doubling must finish well inside the 20-round cap.
    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_clusters(pairs, ids, "doc_id").collect()
    }
    assert all(labels[i] == 0 for i in range(n))


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    ids = spark.createDataFrame([(i,) for i in range(20)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(19)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no fixpoint"):
        # driver_edge_limit=0 forces the distributed loop (the fast
        # union-find path has no rounds to run out of)
        connected_components_clusters(
            pairs, ids, "doc_id", max_rounds=1, driver_edge_limit=0
        )


def test_connected_components_durable_checkpoint(spark, tmp_path):
    import os

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    try:
        ids = spark.createDataFrame([(i,) for i in range(1, 5)], ["doc_id"])
        pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_clusters(pairs, ids, "doc_id", durable=True).collect()
        }
        assert labels == {1: 1, 2: 1, 3: 3, 4: 3}
        # blocks actually landed in the reliable checkpoint dir
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)


def test_ngram_jaccard_requires_candidates(spark):
    import pytest

    d = spark.createDataFrame([(1, "a b"), (2, "a c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="allow_quadratic"):
        ngram_jaccard_pairs(d, "doc_id", "text")


def test_incremental_neardup_equals_cross_side_of_full(spark):
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
        minhash_lsh_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark physical plans use exchanges and codegen for scalable execution",
        "training data pipelines deduplicate documents with minhash signatures",
    ]
    rows = []
    for i in range(30):
        t = base[i % 3]
        if i % 5 == 0:
            t = t + " slightly changed"  # batch docs: near-dups of corpus
        rows.append((i, t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    kw = dict(num_hashes=32, bands=8, shingle_k=3)
    index = minhash_banded(corpus, "doc_id", "text", **kw)
    inc = {
        (r["batch_id"], r["corpus_id"])
        for r in incremental_neardup_pairs(
            batch, index, jaccard_threshold=0.3, **kw
        ).collect()
    }
    full = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.3, **kw)
    cross = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert inc == cross and len(inc) > 0


def test_precomputed_banded_paths_match(spark):
    """Round-9 signature-reuse lever: minhash_lsh_pairs(banded=...) and
    incremental_neardup_pairs(batch_banded=...) must return EXACTLY the
    non-reuse results (same frame fed to all consumers — the
    run_stream_curation topology), and reject non-banded frames."""
    import pytest
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.dedup import (
        band_signatures,
        incremental_neardup_pairs,
        minhash_banded,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark physical plans use exchanges and codegen for scalable execution",
        "training data pipelines deduplicate documents with minhash signatures",
    ]
    rows = [
        (i, base[i % 3] + (" slightly changed" if i % 5 == 0 else ""))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=32, bands=8, shingle_k=3)

    sigs = minhash_signatures(docs, "doc_id", "text", kw["num_hashes"], kw["shingle_k"])
    banded = band_signatures(sigs, "doc_id", kw["num_hashes"], kw["bands"])
    direct = {
        tuple(r)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.3, **kw).collect()
    }
    reused = {
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", jaccard_threshold=0.3, banded=banded, **kw
        ).collect()
    }
    assert direct == reused and len(direct) > 0

    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    index = minhash_banded(corpus, "doc_id", "text", **kw)
    batch_banded = banded.join(batch.select("doc_id"), "doc_id", "left_semi")
    inc_direct = {
        tuple(r)
        for r in incremental_neardup_pairs(batch, index, jaccard_threshold=0.3, **kw).collect()
    }
    inc_reused = {
        tuple(r)
        for r in incremental_neardup_pairs(
            batch, index, jaccard_threshold=0.3, batch_banded=batch_banded, **kw
        ).collect()
    }
    assert inc_direct == inc_reused and len(inc_direct) > 0

    with pytest.raises(ValueError, match="banded frame is missing"):
        minhash_lsh_pairs(docs, "doc_id", "text", banded=docs, **kw)
    with pytest.raises(ValueError, match="batch_banded is missing"):
        incremental_neardup_pairs(batch, index, batch_banded=batch, **kw)


def test_exact_dedup_narrow_and_legacy_modes(spark):
    """All three exact_dedup modes agree on survivors: the narrow
    (digest + semi-join, the 100 TB path), the digest-keyed min-struct,
    and the opt-in byte-exact legacy mode."""
    d = _docs(spark)
    for kwargs in (
        {"id_col": "doc_id"},          # narrow: content-free aggregate
        {},                            # min-struct keyed by digest
        {"content_key": True},         # legacy byte-exact grouping
    ):
        out = exact_dedup(d, "text", keep_order_col="doc_id", **kwargs)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3], kwargs
        assert set(out.columns) == {"doc_id", "text"}


def test_incremental_neardup_rejects_mismatched_index(spark):
    """ADVICE r2: an index built with different num_hashes must raise,
    not silently report 'no near-dups'."""
    import pytest

    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
    )

    d = _docs(spark)
    idx = minhash_banded(d, "doc_id", "text", num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="num_hashes"):
        incremental_neardup_pairs(d, idx, num_hashes=64, bands=16)


def test_lsh_bucket_cap_policies(spark):
    """max_bucket_size guards the boilerplate-flood quadratic cliff
    (measured: 1M synthetic docs put 500k-780k docs into ONE bucket per
    band = 1.8e12 candidate pairs → shuffle-spill disk exhaustion).
    A non-engaging cap must be a no-op, and the capped policies may only
    remove pairs: drop ⊆ star ⊆ uncapped. The per-policy behaviour of
    all three banded operators is test_oversize_policy."""
    kw = dict(num_hashes=32, bands=8, shingle_k=3, jaccard_threshold=0.3)
    # boilerplate flood: 20 identical docs + the planted near/far docs
    flood = [(100 + i, BASE) for i in range(20)]
    d = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)] + flood, ["doc_id", "text"]
    )

    base = minhash_lsh_pairs(d, "doc_id", "text", **kw)
    noop = minhash_lsh_pairs(d, "doc_id", "text", max_bucket_size=10**6, **kw)
    assert base.exceptAll(noop).count() == 0 and noop.exceptAll(base).count() == 0

    def pairs(policy):
        out = minhash_lsh_pairs(
            d, "doc_id", "text", max_bucket_size=4, oversize_policy=policy, **kw
        )
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    base_pairs = {(r["id_a"], r["id_b"]) for r in base.collect()}
    star_pairs = pairs("star")
    assert star_pairs <= base_pairs
    assert any(2 in p for p in star_pairs)  # the near-dup still pairs
    assert pairs("drop") <= star_pairs


# score of a pair of identical copies, per operator
IDENTICAL_SCORE = {"minhash": 1.0, "simhash": 0, "embedding": 1.0}


def _flood_case(spark, op):
    """(call, flood ids, cap) for one banded near-dup operator over a
    corpus whose identical copies share every band bucket, so each of
    those buckets exceeds ``cap``. ``call(**kw)`` runs the operator
    with extra keyword arguments."""
    from s3logs_parquet_spark.operators.dedup import embedding_neardup_pairs

    if op == "embedding":
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
        rows.append((99, [0.0, 1.0, 0.0, 0.0]))  # different region
        v = spark.createDataFrame(rows, ["vec_id", "embedding"])

        def call(**kw):
            return embedding_neardup_pairs(
                v, "vec_id", "embedding", threshold=0.99, n_bands=4, bits_per_band=4, **kw
            )

        return call, set(range(12)), 5
    flood = [(i, "flood flood flood identical text body here") for i in range(30)]
    distinct = [
        (100 + i, f"unique{i} totally different doc number {i} with words") for i in range(5)
    ]
    d = spark.createDataFrame(flood + distinct, ["doc_id", "text"])
    if op == "simhash":

        def call(**kw):
            return simhash_near_pairs(d, "doc_id", "text", max_hamming=3, **kw)

    else:

        def call(**kw):
            return minhash_lsh_pairs(
                d, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.3, **kw
            )
    return call, set(range(30)), 10


@pytest.mark.parametrize("policy", ["star", "drop", "error", "invalid"])
@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_oversize_policy(spark, op, policy):
    """The banded_pairs hot-bucket guard, per operator and policy:
    star links every flood member to the bucket-min representative and
    to nothing else (m-1 pairs instead of the uncapped m(m-1)/2, each
    still scored exactly); drop emits no pair touching the flood; error
    fails the job loudly; an unknown policy is rejected when the plan
    is built."""
    call, flood, cap = _flood_case(spark, op)

    def flood_pairs(**kw):
        return [
            tuple(r)
            for r in call(**kw).collect()
            if r["id_a"] in flood or r["id_b"] in flood
        ]

    if policy == "star":
        star = flood_pairs(max_bucket_size=cap, oversize_policy="star")
        assert sorted((a, b) for a, b, _ in star) == [(0, m) for m in sorted(flood - {0})]
        assert all(abs(score - IDENTICAL_SCORE[op]) < 1e-12 for _, _, score in star)
        m = len(flood)
        assert len(flood_pairs(max_bucket_size=None)) == m * (m - 1) // 2
    elif policy == "drop":
        assert flood_pairs(max_bucket_size=cap, oversize_policy="drop") == []
    elif policy == "error":
        with pytest.raises(Exception, match="max_bucket_size"):
            call(max_bucket_size=cap, oversize_policy="error").collect()
    else:
        with pytest.raises(ValueError, match="oversize_policy"):
            call(max_bucket_size=cap, oversize_policy="nope")


@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_capped_plans_tag_by_broadcast_not_window(spark, op):
    """Pins the round-14 OOM fix: the guard sizes buckets with a
    broadcast of a filtered per-bucket aggregate, not a count-over-
    window, whose WindowExec buffered a flood bucket's full rows and
    died with UNABLE_TO_ACQUIRE_MEMORY at 200k clustered vectors. In
    the capped plan no Window node computes the bucket size, the size
    filter is present, and the tag table adds a BroadcastExchange.
    (Unmaterialized, so the guard is in the plan rather than behind a
    checkpoint; the shingling window of the text operators is not the
    guard's.)"""
    from tools.audit_plan_duplication import exchange_hits, physical_plan

    call, _, cap = _flood_case(spark, op)

    def plan(max_bucket_size):
        return physical_plan(
            spark,
            lambda *_: call(materialize=False, max_bucket_size=max_bucket_size),
            None,
        )

    capped, uncapped = plan(cap), plan(None)
    windows = [line for line in capped.splitlines() if re.search(r"\bWindow \[", line)]
    assert not [line for line in windows if "_bsz" in line]
    assert re.search(rf"Filter .*_bsz#\d+L > {cap}\b", capped)
    assert exchange_hits(capped).get("BroadcastExchange", 0) > exchange_hits(
        uncapped
    ).get("BroadcastExchange", 0)


def test_lsh_star_cap_preserves_clusters_on_flood(spark):
    """Connected components over star-capped pairs match the uncapped
    clustering on a boilerplate flood — the cap changes the edge set,
    not the connectivity."""
    from s3logs_parquet_spark.operators.dedup import connected_components_clusters

    kw = dict(num_hashes=32, bands=8, shingle_k=3, jaccard_threshold=0.3)
    flood = [(100 + i, BASE) for i in range(20)]
    d = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)] + flood, ["doc_id", "text"]
    )
    ids = d.select("doc_id")

    def clusters(pairs):
        return {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components_clusters(pairs, ids, "doc_id").collect()
        }

    exact = clusters(minhash_lsh_pairs(d, "doc_id", "text", **kw))
    capped = clusters(
        minhash_lsh_pairs(
            d, "doc_id", "text", max_bucket_size=4, oversize_policy="star", **kw
        )
    )
    assert exact == capped


def test_minhash_lsh_pairs_caps_by_default(spark):
    """ADVICE/VERDICT r3: the raw operator defaults to the same 10k
    hot-bucket cap as curate_documents (the uncapped plan is a measured
    shuffle-spill death on boilerplate floods); None is the explicit
    opt-out, and at sub-cap scale the default is value-neutral."""
    import inspect

    sig = inspect.signature(minhash_lsh_pairs)
    assert sig.parameters["max_bucket_size"].default == 10_000
    assert sig.parameters["oversize_policy"].default == "star"

    d = _docs(spark)
    kw = dict(num_hashes=32, bands=8, jaccard_threshold=0.3)
    capped = {
        tuple(r) for r in minhash_lsh_pairs(d, "doc_id", "text", **kw).collect()
    }
    uncapped = {
        tuple(r)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", max_bucket_size=None, **kw
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_incremental_neardup_heterogeneous_index_raises(spark):
    """ADVICE r3 #1: a corpus index with MIXED signature lengths slips
    past the single-row driver probe; the distributed guard folded into
    the est_jaccard expression must raise instead of silently yielding
    NULL similarities / dropped pairs."""
    import pytest

    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
    )

    d = _docs(spark)
    kw = dict(num_hashes=32, bands=8)
    banded = minhash_banded(d, "doc_id", "text", **kw)
    rows = banded.collect()
    good = rows[0]
    # first row keeps full length (the probe sees it and passes); every
    # other row truncated to 16 hashes with band/band_hash untouched so
    # bucket joins still produce candidate pairs against the batch
    mixed = spark.createDataFrame(
        [(good["doc_id"], list(good["signature"]), good["band"], good["band_hash"])]
        + [
            (r["doc_id"], list(r["signature"])[:16], r["band"], r["band_hash"])
            for r in rows[1:]
        ],
        schema=banded.schema,
    )
    with pytest.raises(Exception, match="signature length"):
        incremental_neardup_pairs(d, mixed, jaccard_threshold=0.0, **kw).collect()


def test_incremental_neardup_null_signature_probe(spark):
    """ADVICE r3 #5: a NULL signature in the probed row must produce a
    'corrupt index' error, not a misleading parameter-mismatch one."""
    import pytest

    from s3logs_parquet_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_banded,
    )

    d = _docs(spark)
    banded = minhash_banded(d, "doc_id", "text", num_hashes=32, bands=8)
    sig_type = dict(banded.dtypes)["signature"]
    nul = banded.withColumn("signature", F.lit(None).cast(sig_type))
    with pytest.raises(ValueError, match="NULL"):
        incremental_neardup_pairs(d, nul, num_hashes=32, bands=8)


def test_dup_ngram_fraction_hand_corpus(spark):
    """Known trigram overlap: A and B share one trigram ("the quick
    fox"), C is unique, D is too short for any trigram (absent from
    output)."""
    from s3logs_parquet_spark.operators.dedup import dup_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "the quick fox jumped high"),      # 3 trigrams, 1 shared
            (2, "see the quick fox"),              # 2 trigrams, 1 shared
            (3, "completely different words here"),# 2 trigrams, 0 shared
            (4, "too short"),                      # no trigram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_ngram_fraction(docs, n=3, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_ngrams"] == 3 and abs(out[1]["dup_fraction"] - 1 / 3) < 1e-6
    assert out[2]["n_ngrams"] == 2 and abs(out[2]["dup_fraction"] - 0.5) < 1e-6
    assert out[3]["n_ngrams"] == 2 and out[3]["dup_fraction"] == 0.0


def test_dup_ngram_fraction_counts_occurrences_not_types(spark):
    """A doc repeating a globally-shared trigram twice counts both
    OCCURRENCES in the numerator (the Gopher-style definition)."""
    from s3logs_parquet_spark.operators.dedup import dup_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),   # trigrams: abc bca cab abc → "a b c"×2
            (2, "x a b c y"),     # shares "a b c"
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_ngram_fraction(docs, n=3, min_docs=2).collect()}
    assert out[1]["n_ngrams"] == 4
    assert abs(out[1]["dup_fraction"] - 0.5) < 1e-6  # 2 of 4 occurrences


def test_duplicated_spans_merges_overlapping_runs(spark):
    """Two disjoint duplicated runs in one doc merge into two maximal
    spans; coverage counts the union of covered token positions, not
    the sum of n-gram occurrences."""
    from s3logs_parquet_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            # "a b c d e" duplicated at both ends, unique middle
            (1, "a b c d e x y z a b c d e"),
            (2, "p q a b c d e r s"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, n=3, min_docs=2).collect()
    }
    # doc1: dup trigram starts {1,2,3, 9,10,11} -> islands [1..3],[9..11],
    # each covering 5 tokens
    assert out[1]["n_tokens"] == 13
    assert out[1]["n_spans"] == 2
    assert out[1]["dup_tokens"] == 10
    assert abs(out[1]["dup_coverage"] - 10 / 13) < 1e-6
    # doc2: one island [3..5] covering "a b c d e"
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 5
    assert abs(out[2]["dup_coverage"] - 5 / 9) < 1e-6


def test_duplicated_spans_adjacent_starts_merge(spark):
    """Starts exactly n apart produce contiguous coverage and merge
    into ONE maximal span (pos - lag == n keeps the island open)."""
    from s3logs_parquet_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, n=3, min_docs=2).collect()
    }
    # doc1 dup starts {1, 4}: spans [1,3] and [4,6] are adjacent -> one
    # island covering the whole doc
    assert out[1]["n_spans"] == 1
    assert out[1]["dup_tokens"] == 6
    assert out[1]["dup_coverage"] == 1.0
    assert out[2]["n_spans"] == 1 and out[2]["dup_coverage"] == 1.0


def test_duplicated_spans_reports_span_free_and_short_docs(spark):
    """Unlike dup_ngram_fraction, every document appears in the output:
    span-free and too-short docs report zero spans; an empty doc
    reports NULL coverage (0/0 undefined)."""
    from s3logs_parquet_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "the quick fox jumped high"),
            (2, "see the quick fox"),
            (3, "completely different words here"),
            (4, "too short"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, n=3, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # docs 1/2 share "the quick fox": one 3-token span each
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 3
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 3
    assert out[3]["n_spans"] == 0 and out[3]["dup_coverage"] == 0.0
    assert out[4]["n_tokens"] == 2 and out[4]["n_spans"] == 0
    assert out[5]["n_tokens"] == 0 and out[5]["dup_coverage"] is None


def test_duplicated_spans_hash_mode_parity(spark):
    """hash_ngrams=True (8-byte xxhash64 slice keys, the corpus-scale
    exchange) must give the same answer as the content-exact string
    keys on a collision-free corpus."""
    from s3logs_parquet_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z a b c d e"),
            (2, "p q a b c d e r s"),
            (3, "completely different words here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    exact = sorted(
        tuple(r) for r in duplicated_spans(docs, n=3, min_docs=2).collect()
    )
    hashed = sorted(
        tuple(r)
        for r in duplicated_spans(
            docs, n=3, min_docs=2, hash_ngrams=True
        ).collect()
    )
    assert exact == hashed


def test_remove_duplicated_spans_hand_corpus(spark):
    """The excision emits the kept token stream in order; fully-unique
    docs pass through (lowercased/space-joined), fully-duplicated docs
    come back empty."""
    from s3logs_parquet_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z a b c d e"),
            (2, "p q a b c d e r s"),
            (3, "Completely  Different words here"),
            (4, "a b c"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(docs, n=3, min_docs=2).collect()
    }
    # doc1: spans [1..5] and [9..13] cut -> middle survives
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["removed_tokens"] == 10
    # doc2: span [3..7] cut
    assert out[2]["clean_text"] == "p q r s"
    # doc3 untouched, but normalized to the token stream
    assert out[3]["clean_text"] == "completely different words here"
    assert out[3]["removed_tokens"] == 0
    # doc4 == a duplicated 3-gram with docs 1/2 -> everything removed
    assert out[4]["clean_text"] == "" and out[4]["removed_tokens"] == 3
    assert out[5]["clean_text"] == "" and out[5]["n_tokens"] == 0


def test_remove_duplicated_spans_matches_span_report(spark, sf_dir):
    """Standing differential on real documents: removed_tokens from the
    excision operator == dup_tokens from the span report, per doc."""
    from s3logs_parquet_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    report = duplicated_spans(docs, n=13, min_docs=2).select(
        "doc_id", "dup_tokens"
    )
    removed = remove_duplicated_spans(docs, n=13, min_docs=2).select(
        "doc_id", "removed_tokens", "n_tokens", "clean_text"
    )
    j = report.join(removed, on="doc_id", how="full_outer")
    assert j.filter(F.col("dup_tokens") != F.col("removed_tokens")).count() == 0
    # and the cleaned token count is consistent with the cut
    kept_len = F.when(F.col("clean_text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("clean_text"), " "))
    )
    assert (
        j.filter(
            F.col("n_tokens") - F.col("removed_tokens") != kept_len
        ).count()
        == 0
    )


def test_duplicated_spans_empty_input_and_param_guard(spark):
    import pytest

    from s3logs_parquet_spark.operators.dedup import duplicated_spans

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert duplicated_spans(empty).count() == 0
    with pytest.raises(ValueError, match="n must be"):
        duplicated_spans(empty, n=0)


def test_tfidf_similar_pairs_hand_corpus(spark):
    """Near-identical docs (one rare-word edit) score high; docs
    sharing only ubiquitous terms score ~0 and never pair. Weights are
    integer-quantized, so the cosine of an exact duplicate pair is
    exactly 1.0."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs

    rows = [
        (1, BASE),
        (2, BASE),          # verbatim duplicate of 1 → cosine exactly 1.0
        (3, NEAR),          # one-word edit → high but < 1
        (4, OTHER),         # disjoint topic; shares only 'and' with BASE
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5, max_df=1000)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert (2, 3) in got and got[(2, 3)] == got[(1, 3)]
    # note: no corpus-level stopword knowledge exists in a 4-doc corpus
    # (df('the') = 3 of 4 is a 'rare' term here) — the judge of
    # weighting quality is the sf-scale oracle gate, not this corpus
    assert not any(4 in pair for pair in got)


def test_tfidf_similar_pairs_df_pruning_bounds_fanout(spark):
    """A term above max_df never generates candidates: two docs whose
    only shared term is ubiquitous produce no pair even at threshold
    0, and the df cap drops the term from the postings join."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs

    # 30 docs all share 'common'; docs 1/2 also share rare terms
    rows = [(i, f"common filler{i}") for i in range(10, 40)]
    rows += [(1, "common rareword specialterm"), (2, "common rareword specialterm")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.0, max_df=5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # 'common' (df=32 > 5) is pruned → only the rare-term pair remains
    assert pairs == {(1, 2)}


def test_cc_driver_union_find_matches_distributed_loop(spark):
    """The two connected-components strategies (driver union-find under
    the edge budget, distributed min-label + pointer doubling above
    it) are one contract: identical (id, cluster_id) labels, with
    cluster_id = min id of the component. Exercises a long chain (the
    shape that needs pointer doubling), a clique, and singletons."""
    from s3logs_parquet_spark.operators.dedup import connected_components_clusters

    ids = spark.range(200).selectExpr("id AS doc_id")
    pairs = [(i, i + 1) for i in range(49)]  # chain: diameter 49
    pairs += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]  # clique
    p = spark.createDataFrame(pairs, ["id_a", "id_b"])

    fast = connected_components_clusters(p, ids, "doc_id")
    dist = connected_components_clusters(p, ids, "doc_id", driver_edge_limit=0)
    diffs = (
        fast.join(dist.withColumnRenamed("cluster_id", "c2"), "doc_id")
        .filter("cluster_id != c2")
        .count()
    )
    assert diffs == 0
    got = {r["doc_id"]: r["cluster_id"] for r in fast.collect()}
    assert len(got) == 200
    assert all(got[i] == 0 for i in range(50))        # chain labels = min id 0
    assert all(got[i] == 100 for i in range(100, 105))  # clique labels = 100
    assert got[60] == 60 and got[199] == 199          # singletons untouched


def test_cc_contract_strategy_parity(spark):
    """VERDICT r5 #4: the partition-local-contraction path (and its
    stall→loop fallback) must produce the exact driver-path labels.
    The chain+clique graph's forest floor is V−C = 53 canonical edges,
    so the three budgets below exercise: contraction that lands inside
    the budget (55), contraction that stalls at the floor and falls
    back to the propagation loop (20), and a skip-contraction
    straight-to-driver finish (60 ≥ canonical count). driver_edge_limit
    alone picks the path: the 118 directed edges exceed every budget,
    so none of them takes the direct driver union-find."""
    from s3logs_parquet_spark.operators.dedup import connected_components_clusters

    ids = spark.range(200).selectExpr("id AS doc_id")
    pairs = [(i, i + 1) for i in range(49)]  # chain: diameter 49
    pairs += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]  # clique
    p = spark.createDataFrame(pairs, ["id_a", "id_b"])

    want = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_clusters(p, ids, "doc_id").collect()
    }
    for limit in (60, 55, 20):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_clusters(
                p, ids, "doc_id", driver_edge_limit=limit
            ).collect()
        }
        assert got == want, f"contract path diverged at driver_edge_limit={limit}"
    assert want[25] == 0 and want[103] == 100 and want[199] == 199


def test_cc_contract_stall_after_progress_returns_live_frame(spark):
    """ADVICE r6: when contraction makes progress on iteration 1 and
    stalls on a later iteration while still above the budget, the
    returned forest frame must be LIVE (pre-fix, the stall branch had
    already _release()d the generation it returned, and the caller's
    loop fallback crashed reading freed localCheckpoint blocks).

    K30 clique (435 canonical edges — contracts fast) + 300-edge
    matching (already a forest — can never contract) gives a forest
    floor of 29 + 300 = 329 edges, above the 100-edge budget, so the
    loop can only exit via the stall branch (or max_iters, set high
    enough to be unreachable before convergence)."""
    from s3logs_parquet_spark.operators.dedup import _cc_forest_contract

    edges = [(a, b) for a in range(30) for b in range(a + 1, 30)]
    edges += [(1000 + 2 * i, 1001 + 2 * i) for i in range(300)]
    canon = spark.createDataFrame(edges, ["src", "dst"])

    forest, f_cnt = _cc_forest_contract(
        canon, len(edges), durable=False, driver_edge_limit=100, max_iters=12
    )
    rows = forest.collect()  # pre-fix: freed-block error here
    assert len(rows) == f_cnt
    assert f_cnt >= 329  # never below the forest floor V - C

    # component preservation: union-find over the returned forest must
    # reproduce the original components exactly
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    assert all(find(i) == 0 for i in range(30))  # clique is one component
    for i in range(300):
        assert find(1001 + 2 * i) == 1000 + 2 * i  # matching pairs intact


# --- semantic dedup (SemDeDup) --------------------------------------------


def _emb_rows():
    # 2 centroid anchors along axes, then members near each: 10/11 are
    # near-identical (cos ~1) in cell of [1,0,0,0]; 20 is alone in the
    # other cell; 30 is a lower-cosine member of cell 0 (kept).
    return [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.9, 0.11, 0.0, 0.0]),
        (20, [0.1, 0.9, 0.0, 0.0]),
        (30, [0.7, 0.0, 0.7, 0.1]),
    ]


def test_semantic_dedup_marks_lower_id_neighbors(spark):
    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(_emb_rows(), ["vec_id", "embedding"])
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.995)
    got = {r["vec_id"]: (r["cell"], r["is_semdup"]) for r in out.collect()}
    # 10 and 11 are within 0.995 cosine of each other; 11 (higher id)
    # is the duplicate, 10 the kept representative. 0 is also within
    # 0.995 of neither (cos(0,10)≈0.994) — everything else kept.
    assert got[11] == (0, True)
    assert {i: d for i, (c, d) in got.items() if i != 11} == {
        0: False, 1: False, 10: False, 20: False, 30: False,
    }
    # cells: axis-0 members in cell 0, axis-1 members in cell 1
    assert got[0][0] == 0 and got[10][0] == 0 and got[30][0] == 0
    assert got[1][0] == 1 and got[20][0] == 1


def test_semantic_dedup_matches_brute_force_reference(spark):
    """Parity with a pure-Python per-cell pairwise reference on a
    pseudo-random corpus."""
    import math
    import random

    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    cents = [rows[i][1] for i in range(4)]
    tau = 0.8

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    assign = {i: max(range(4), key=lambda c: (cos(v, cents[c]), -c)) for i, v in rows}
    by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for i, v in rows:
        by_cell.setdefault(assign[i], []).append((i, v))
    expect_dup = set()
    for members in by_cell.values():
        for i, vi in members:
            for j, vj in members:
                if j < i and cos(vi, vj) >= tau:
                    expect_dup.add(i)

    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, "vec_id", "embedding", cents, threshold=tau)
    got_dup = {r["vec_id"] for r in out.collect() if r["is_semdup"]}
    got_cells = {r["vec_id"]: r["cell"] for r in out.collect()}
    assert got_dup == expect_dup
    assert got_cells == assign


def test_semantic_dedup_cell_guard_raises(spark):
    import pytest

    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="max_cell_members"):
        semantic_dedup(
            df, "vec_id", "embedding", [[1.0, 0.0], [0.0, 1.0]],
            threshold=0.9, max_cell_members=5,
        )


def test_semantic_dedup_empty_input(spark):
    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = semantic_dedup(df, "vec_id", "embedding", [[1.0, 0.0]], threshold=0.9)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cell", "is_semdup"]


def test_semantic_dedup_kernel_parity(spark):
    """The blas pair kernel (per-cell blocked matmul, default) and the
    expanded SQL-join kernel (bit-exact differential form) produce
    identical (id, cell, is_semdup) rows on a margin-separated corpus
    — the same parity contract ivf_assign's kernels carry."""
    import random

    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    cents = [rows[i][1] for i in range(4)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        kernel: sorted(
            map(
                tuple,
                semantic_dedup(
                    df, "vec_id", "embedding", cents,
                    threshold=0.8, pair_kernel=kernel,
                ).collect(),
            )
        )
        for kernel in ("blas", "expanded")
    }
    assert got["blas"] == got["expanded"]


def test_semantic_dedup_rejects_unknown_kernel(spark):
    import pytest

    from s3logs_parquet_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="pair_kernel"):
        semantic_dedup(
            df, "vec_id", "embedding", [[1.0, 0.0]],
            threshold=0.9, pair_kernel="simd",
        )


def test_semantic_dedup_incremental_flags_corpus_dups(spark):
    """A batch vector duplicates HISTORY iff a same-cell corpus member
    sits above the threshold; within-batch near-identical pairs are
    NOT flagged (that's semantic_dedup's job on the batch)."""
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    index = semantic_assign(corpus, "vec_id", "embedding", cents)
    batch = spark.createDataFrame(
        [
            (10, [0.9, 0.11, 0.0, 0.0]),   # ~= corpus 2 -> dup
            (11, [0.7, 0.0, 0.7, 0.1]),    # cell 0 but far -> kept
            (12, [0.1, 0.9, 0.0, 0.0]),    # cell 1, ~= corpus 1? cos ~0.995
            (13, [0.1, 0.901, 0.0, 0.0]),  # near-identical to 12 (batch-internal)
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: (r["cell"], r["is_semdup"])
        for r in semantic_dedup_incremental(
            batch, index, "vec_id", "embedding", cents, threshold=0.995
        ).collect()
    }
    assert out[10] == (0, True)
    assert out[11] == (0, False)
    # 12/13 vs corpus 1: cos([0.1,0.9],[0,1]) = 0.9/sqrt(0.82) ~ 0.9939
    # < 0.995 -> both kept; their mutual ~1.0 similarity is batch-
    # internal and deliberately NOT this operator's concern
    assert out[12] == (1, False) and out[13] == (1, False)


def test_semantic_dedup_incremental_batch_only_cell(spark):
    """A batch vector landing in a cell with NO corpus members has no
    history to duplicate — emitted with is_semdup=False (the cogroup
    kernel's empty-corpus-side leg), and kernels agree on it."""
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    # corpus occupies ONLY cell 0
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])], ["vec_id", "embedding"]
    )
    index = semantic_assign(corpus, "vec_id", "embedding", cents)
    batch = spark.createDataFrame(
        [(10, [0.95, 0.05]), (11, [0.0, 1.0]), (12, [0.05, 0.95])],
        ["vec_id", "embedding"],
    )
    for kernel in ("blas", "expanded"):
        out = {
            r["vec_id"]: (r["cell"], r["is_semdup"])
            for r in semantic_dedup_incremental(
                batch, index, "vec_id", "embedding", cents,
                threshold=0.99, pair_kernel=kernel,
            ).collect()
        }
        assert out[10] == (0, True), kernel
        assert out[11] == (1, False) and out[12] == (1, False), kernel


def test_semantic_dedup_incremental_count_survives_pruning(spark):
    """Regression: with batch and corpus filtered from the SAME parent
    frame (the gate's shape) and identical column names on both
    cogroup sides, Spark 4.1 bound the UDF's corpus-side vector
    reference to the batch side's attribute ID; count() then pruned
    the vector off the corpus projection and the worker crashed with
    KeyError — while collect() worked. The corpus side now carries
    renamed columns; count() must agree with collect()."""
    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    parent = spark.createDataFrame(
        [(i, [1.0 - 0.01 * i, 0.01 * i]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    index = semantic_assign(
        parent.filter("vec_id % 5 != 0"), "vec_id", "embedding", cents
    )
    out = semantic_dedup_incremental(
        parent.filter("vec_id % 5 == 0"), index, "vec_id", "embedding",
        cents, threshold=0.99,
    )
    assert out.count() == len(out.collect()) == 4
    assert out.filter("is_semdup").count() == 4


def test_semantic_dedup_incremental_validates_index(spark):
    import pytest

    from s3logs_parquet_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup_incremental,
    )

    cents2 = [[1.0, 0.0], [0.0, 1.0]]
    cents4 = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    batch = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    # missing columns
    with pytest.raises(ValueError, match="missing columns"):
        semantic_dedup_incremental(
            batch, batch, "vec_id", "embedding", cents2, threshold=0.9
        )
    # dim mismatch: index built at dim 4, quantizer at dim 2
    corpus4 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    index4 = semantic_assign(corpus4, "vec_id", "embedding", cents4)
    with pytest.raises(ValueError, match="dim"):
        semantic_dedup_incremental(
            batch, index4, "vec_id", "embedding", cents2, threshold=0.9
        )
    # pair budget
    corpus2 = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(20)], ["vec_id", "embedding"]
    )
    index2 = semantic_assign(corpus2, "vec_id", "embedding", cents2)
    with pytest.raises(ValueError, match="max_total_pairs"):
        semantic_dedup_incremental(
            batch, index2, "vec_id", "embedding", cents2,
            threshold=0.9, max_total_pairs=10,
        )


def test_semantic_assign_rejects_dim_mismatch(spark):
    """Round 7: vectors LONGER than the quantizer would silently
    truncate to its first dim components — semantic_assign probes the
    first row's width and raises instead (shorter vectors already
    fail loudly under ANSI array indexing)."""
    import pytest

    from s3logs_parquet_spark.operators.dedup import semantic_assign

    cents = [[1.0, 0.0], [0.0, 1.0]]
    too_long = spark.createDataFrame(
        [(10, [1.0, 0.0, 5.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="dim 3.*quantizer has dim 2"):
        semantic_assign(too_long, "vec_id", "embedding", cents)

    ok = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    assert semantic_assign(ok, "vec_id", "embedding", cents).count() == 1


# --- canonical keep (round 7) ----------------------------------------------


def test_canonical_keep_prefers_quality(spark):
    """The cluster's canonical member is the quality argmax, not the
    min id: doc 2 (NEAR, same content shape as BASE) and docs 1/4
    (exact dups) cluster together; the keep flag must sit on exactly
    one member, every cluster member must share cluster_id, and
    singletons keep themselves with max_jaccard 0."""
    from s3logs_parquet_spark.operators.dedup import canonical_keep

    d = _docs(spark)
    rows = {r["doc_id"]: r for r in canonical_keep(d, "doc_id", "text").collect()}
    assert set(rows) == {1, 2, 3, 4}
    # 1, 2, 4 near/exact dups -> one cluster; 3 singleton
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[4]["cluster_id"]
    assert rows[3]["cluster_id"] == 3
    keeps = [i for i, r in rows.items() if r["keep"] == 1]
    assert rows[3]["keep"] == 1 and rows[3]["max_jaccard"] == 0.0
    cluster_keeps = [i for i in keeps if i != 3]
    assert len(cluster_keeps) == 1
    # identical quality (same text for 1/4, near-identical for 2):
    # argmax ties resolve to the min id among the max-quality members
    best_q = max(rows[i]["quality"] for i in (1, 2, 4))
    expected = min(i for i in (1, 2, 4) if rows[i]["quality"] == best_q)
    assert cluster_keeps[0] == expected
    # exact duplicates share max_jaccard 1.0
    assert rows[1]["max_jaccard"] == 1.0 and rows[4]["max_jaccard"] == 1.0


def test_canonical_keep_explicit_quality_column(spark):
    """A caller-supplied quality expression drives the argmax: plant a
    low-id low-quality member so min-id and best-quality disagree."""
    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.dedup import canonical_keep

    d = _docs(spark)
    # doc 4 (exact dup of 1) gets the highest planted quality
    planted = F.when(F.col("doc_id") == 4, 0.9).otherwise(0.1)
    rows = {
        r["doc_id"]: r
        for r in canonical_keep(d, "doc_id", "text", quality=planted).collect()
    }
    keeps = sorted(i for i, r in rows.items() if r["keep"] == 1)
    assert keeps == [3, 4]  # 4 beats min-id 1 on quality; 3 is a singleton


def test_ngram_jaccard_quadratic_duckdb_differential(spark, sf_dir):
    """Standing differential for the retired docs_ngram_jaccard_pairs
    gate: the standalone quadratic exact-Jaccard form vs DuckDB on the
    real sf0.001 documents subsample (same query + oracle the driver
    used through round 6)."""
    import duckdb

    from s3logs_parquet_spark.functions.hashing import hash32_sql  # noqa: F401

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 20 == 0
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.01, allow_quadratic=True
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        (a, b): round(j, 6)
        for a, b, j in con.execute(
            """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w != '') AS ws
  FROM documents WHERE doc_id % 20 = 0
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(ws) - 3, 0)),
           i -> array_to_string(array_slice(ws, i + 1, i + 3), ' ')
         )) AS grams
  FROM d
)
SELECT a.doc_id, b.doc_id,
       len(list_intersect(a.grams, b.grams))::DOUBLE /
       (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jac
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.01
"""
        ).fetchall()
    }
    assert got == want


def test_tfidf_pairs_release_handle(spark):
    """ADVICE r10: tfidf_similar_pairs' eager postings checkpoint is
    releasable by callers — the handle rides the returned frame and
    session.release() frees the blocks without breaking an
    already-consumed result (long-lived-driver discipline)."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs
    from s3logs_parquet_spark.session import release

    d = spark.createDataFrame(
        [
            (1, "rare alpha vocabulary shared tokens"),
            (2, "rare alpha vocabulary shared tokens"),
            (3, "completely different boilerplate body"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5)
    assert hasattr(out, "_s3lps_postings"), "release handle missing"
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got
    release(out._s3lps_postings)  # must not raise
    # lazy mode attaches no handle (nothing eager to release)
    lazy = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5, materialize=False)
    assert not hasattr(lazy, "_s3lps_postings")


def test_tfidf_pairs_release_registry_survives_transforms(spark):
    """ADVICE r11 #3: the frame attribute dies on any transformation
    (.filter returns a NEW DataFrame), so the session registry is the
    transformation-proof release path — release_tracked frees every
    handle registered since the last release, and is idempotent."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs
    from s3logs_parquet_spark.session import release_tracked

    release_tracked("tfidf_postings")  # drain leftovers from other tests
    d = spark.createDataFrame(
        [
            (1, "rare alpha vocabulary shared tokens"),
            (2, "rare alpha vocabulary shared tokens"),
            (3, "completely different boilerplate body"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5)
    transformed = out.filter(F.col("cosine") >= 0.9)
    # the documented pitfall: the attribute does NOT ride transformations
    assert not hasattr(transformed, "_s3lps_postings")
    assert {(r["id_a"], r["id_b"]) for r in transformed.collect()} == {(1, 2)}
    assert release_tracked("tfidf_postings") == 1  # frees the blocks anyway
    assert release_tracked("tfidf_postings") == 0  # idempotent
    # lazy mode registers nothing
    tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5, materialize=False)
    assert release_tracked("tfidf_postings") == 0


def test_tracked_release_token_spares_concurrent_caller(spark):
    """VERDICT r12 #5 / What's wrong #1: two concurrent callers sharing
    the 'tfidf_postings' tag must be able to release ONLY their own
    postings — the per-call token minted by track() scopes the release,
    so the second caller's still-in-flight frame survives the first
    caller's release instead of being unpersisted mid-query."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs
    from s3logs_parquet_spark.session import release_tracked

    release_tracked("tfidf_postings")  # drain leftovers from other tests
    d = spark.createDataFrame(
        [
            (1, "rare alpha vocabulary shared tokens"),
            (2, "rare alpha vocabulary shared tokens"),
            (3, "completely different boilerplate body"),
        ],
        "doc_id long, text string",
    )
    out_a = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5)
    out_b = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5)
    tok_a = out_a._s3lps_postings._s3lps_track_token
    tok_b = out_b._s3lps_postings._s3lps_track_token
    assert tok_a != tok_b and tok_a.startswith("tfidf_postings#")
    # caller A releases via its token: exactly one frame freed, and
    # caller B's postings stay registered AND usable
    assert release_tracked(tok_a) == 1
    assert release_tracked(tok_a) == 0  # idempotent per token
    assert {(r["id_a"], r["id_b"]) for r in out_b.collect()} == {(1, 2)}
    assert out_b._s3lps_postings.count() > 0  # blocks still alive
    # B's frame is still in the registry: the bare-tag release-all
    # finds exactly it
    assert release_tracked("tfidf_postings") == 1


def test_release_drains_registry_attribute_path(spark):
    """ADVICE r12 #2: the documented attribute path
    release(pairs._s3lps_postings) must ALSO remove the frame from the
    session registry — otherwise a long-lived driver following that
    path accumulates dead DataFrame handles in _TRACKED forever."""
    from s3logs_parquet_spark.operators.dedup import tfidf_similar_pairs
    from s3logs_parquet_spark.session import release, release_tracked

    release_tracked("tfidf_postings")
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = tfidf_similar_pairs(d, "doc_id", "text", threshold=0.5)
    release(out._s3lps_postings)
    # nothing left to release: the attribute-path release drained it
    assert release_tracked("tfidf_postings") == 0


def test_connected_components_zero_edges_short_circuit(spark):
    """Round 11 (VERDICT r10 #8): zero candidate pairs → identity
    labels with NO driver collect/map-join plan (the per-trigger job
    floor for unique-corpus streaming triggers). Semantics pinned:
    every id is its own cluster, same as the general path's answer."""
    from s3logs_parquet_spark.operators.dedup import (
        connected_components_clusters,
    )

    ids = spark.range(50).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    labels = connected_components_clusters(pairs, ids, "doc_id")
    # the short-circuit plan is a bare projection over ids — no Join
    assert "Join" not in labels._jdf.queryExecution().optimizedPlan().toString()
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: i for i in range(50)}

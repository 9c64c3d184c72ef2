"""Property-based semantics tests: window assignment and dedup vs an
independent Python model on arbitrary inputs (hypothesis)."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from s3logs_parquet_spark.config import EngineConfig
from s3logs_parquet_spark.operators.dedup import dedup_log_rows
from s3logs_parquet_spark.operators.windows import with_agg_window

epochs = st.integers(min_value=0, max_value=2_000_000_000)
aligns = st.sampled_from([60, 300, 900, 3600, 86400])


@settings(max_examples=15, deadline=None)
@given(ts=st.lists(epochs, min_size=1, max_size=60), align=aligns)
def test_window_counts_match_python_model(spark, ts, align):
    df = spark.createDataFrame([(t,) for t in ts], ["e"]).select(
        F.timestamp_seconds("e").alias("ts")
    )
    got = {
        r["agg_window"]: r["count"]
        for r in with_agg_window(df, align_seconds=align).groupBy("agg_window").count().collect()
    }
    expected = Counter(t - t % align for t in ts)
    assert got == dict(expected)


keys = st.tuples(
    st.sampled_from(["a", "b"]),           # bucket
    st.integers(min_value=0, max_value=3), # window index
    st.sampled_from(["R1", "R2", "R3"]),   # request id
)


@settings(max_examples=15, deadline=None)
@given(rows=st.lists(keys, min_size=1, max_size=50))
def test_dedup_count_equals_distinct_keys(spark, rows):
    df = spark.createDataFrame(
        [(b, w * 900, r, i) for i, (b, w, r) in enumerate(rows)],
        ["bucket_key", "agg_window", "RequestID", "payload"],
    )
    out = dedup_log_rows(df, EngineConfig())
    distinct_keys = {(b, w * 900, r) for b, w, r in rows}
    assert out.count() == len(distinct_keys)
    # survivors' keys are exactly the distinct key set
    got = {(r["bucket_key"], r["agg_window"], r["RequestID"]) for r in out.collect()}
    assert got == distinct_keys


# --- ExactSubstr span family vs an independent Python model ----------------

# tiny vocabulary + short docs force heavy cross-document n-gram
# collisions, overlapping spans, and adjacent-island merges
_span_doc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12)


def _model_spans(token_lists: dict[int, list[str]], n: int, min_docs: int):
    """Independent model of duplicated_spans/remove_duplicated_spans:
    df over distinct (doc, n-gram), 1-based dup starts, islands merged
    while the start gap is <= n."""
    from collections import Counter

    df = Counter()
    grams = {}
    for d, ws in token_lists.items():
        gs = [tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        grams[d] = gs
        for g in set(gs):
            df[g] += 1
    out = {}
    for d, ws in token_lists.items():
        starts = [i + 1 for i, g in enumerate(grams[d]) if df[g] >= min_docs]
        islands = []
        for p in starts:
            if islands and p - islands[-1][1] <= n:
                islands[-1][1] = p
            else:
                islands.append([p, p])
        covered = set()
        for first, last in islands:
            covered.update(range(first, last + n))
        kept = [w for i, w in enumerate(ws, start=1) if i not in covered]
        out[d] = dict(
            n_tokens=len(ws),
            n_spans=len(islands),
            dup_tokens=len(covered),
            clean_text=" ".join(kept),
        )
    return out


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(_span_doc, min_size=1, max_size=5),
    n=st.integers(min_value=1, max_value=4),
)
def test_span_family_matches_python_model(spark, docs, n):
    from s3logs_parquet_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    token_lists = {i: ws for i, ws in enumerate(docs)}
    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in token_lists.items()],
        "doc_id long, text string",
    )
    want = _model_spans(token_lists, n, 2)
    got = {
        r["doc_id"]: r
        for r in duplicated_spans(frame, n=n, min_docs=2).collect()
    }
    assert set(got) == set(want)
    for d, w in want.items():
        assert got[d]["n_tokens"] == w["n_tokens"], (d, docs)
        assert got[d]["n_spans"] == w["n_spans"], (d, docs)
        assert got[d]["dup_tokens"] == w["dup_tokens"], (d, docs)
    cleaned = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(frame, n=n, min_docs=2).collect()
    }
    for d, w in want.items():
        assert cleaned[d]["clean_text"] == w["clean_text"], (d, docs)
        assert cleaned[d]["removed_tokens"] == w["dup_tokens"], (d, docs)


# --- canonical_keep vs an independent Python model --------------------------

_ck_doc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8)


def _py_hash32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _round6(x: float) -> float:
    # Spark F.round = BigDecimal(double) HALF_UP — NOT Python round()'s
    # banker's rounding
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _model_canonical_keep(texts: dict[int, str]):
    """Independent model of canonical_keep's full chain with the
    operator's default parameters (32 hashes / 8 bands / 3-gram
    shingles / est 0.3 / exact 0.4): md5-derived shingle hashes, affine
    MinHash, banded candidates, exact-Jaccard verify, union-find
    components, quality argmax."""
    import re

    M31 = (1 << 31) - 1
    coeffs = []
    state = 42
    for _ in range(32):
        state = (state * 1103515245 + 12345) % M31
        a = state or 1
        state = (state * 1103515245 + 12345) % M31
        coeffs.append((a, state))

    grams, sigs, qual = {}, {}, {}
    stop = {"the", "and", "of", "to", "in", "is", "that", "for", "with", "was"}
    for d, text in texts.items():
        raw = re.split(r"\s+", text.strip().lower())  # NO empty filter (shingle path)
        n = len(raw)
        g = {" ".join(raw[i : i + 3]) for i in range(0, max(n - 3, 0) + 1)}
        grams[d] = g
        hs = {_py_hash32(s) % M31 for s in g}
        sigs[d] = [min((a * x + b) % M31 for x in hs) for a, b in coeffs]
        ws = [w for w in raw if w != ""]  # quality path filters empties
        n_words = len(ws)
        n_chars = len(text)
        n_punct = len(re.findall(r"[^\w\s]", text))
        punct_ratio = n_punct / n_chars if n_chars else 0.0
        stop_ratio = sum(w in stop for w in ws) / n_words if n_words else 0.0
        mwl = sum(len(w) for w in ws) / n_words if n_words else 0.0
        q = (
            min(n_words / 20.0, 1.0) * 0.3
            + min(stop_ratio * 4.0, 1.0) * 0.3
            + max(1.0 - punct_ratio * 5.0, 0.0) * 0.2
            + (1.0 if 3.0 <= mwl <= 10.0 else 0.5) * 0.2
        )
        qual[d] = _round6(q)

    ids = sorted(texts)
    edges, mj = [], {d: 0.0 for d in ids}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sigs[a], sigs[b]
            banded = any(sa[r * 4 : (r + 1) * 4] == sb[r * 4 : (r + 1) * 4] for r in range(8))
            if not banded:
                continue
            est = sum(x == y for x, y in zip(sa, sb)) / 32
            if est < 0.3:
                continue
            inter = len(grams[a] & grams[b])
            union = len(grams[a] | grams[b])
            jac = inter / union
            if jac >= 0.4:
                edges.append((a, b))
                mj[a] = max(mj[a], jac)
                mj[b] = max(mj[b], jac)

    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cluster = {d: find(d) for d in ids}
    keep = {}
    for c in set(cluster.values()):
        members = [d for d in ids if cluster[d] == c]
        keep[c] = min(members, key=lambda d: (-qual[d], d))
    return {
        d: dict(
            cluster_id=cluster[d],
            quality=qual[d],
            max_jaccard=_round6(mj[d]),
            keep=int(keep[cluster[d]] == d),
        )
        for d in ids
    }


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(_ck_doc, min_size=1, max_size=5))
def test_canonical_keep_matches_python_model(spark, docs):
    from s3logs_parquet_spark.operators.dedup import canonical_keep

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    frame = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    want = _model_canonical_keep(texts)
    got = {r["doc_id"]: r for r in canonical_keep(frame, "doc_id", "text").collect()}
    assert set(got) == set(want)
    for d, w in want.items():
        g = got[d]
        assert g["cluster_id"] == w["cluster_id"], (d, docs)
        assert g["keep"] == w["keep"], (d, docs)
        assert abs(g["quality"] - w["quality"]) < 1e-12, (d, docs)
        assert abs(g["max_jaccard"] - w["max_jaccard"]) < 1e-12, (d, docs)


# --- corpus selection (operators/selection.py) --------------------------

_sel_row = st.tuples(
    st.integers(min_value=0, max_value=9),  # group
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
    st.integers(min_value=0, max_value=50),  # weight
)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(_sel_row, min_size=1, max_size=60),
    cap=st.integers(min_value=1, max_value=8),
    budget=st.integers(min_value=0, max_value=800),
)
def test_selection_pipeline_matches_python_model(spark, rows, cap, budget):
    """cap_per_group + budget_select vs an independent Python model:
    bottom-cap by (md5 hash, id) per group, then greedy (score desc,
    id) prefix over kept rows under the weight budget — the full
    docs_selection_budget composition on adversarial shapes (ties,
    zero weights, groups exactly at cap)."""
    import hashlib

    from pyspark.sql import functions as F

    from s3logs_parquet_spark.operators.selection import (
        budget_select,
        cap_per_group,
    )

    data = [
        (i, f"g{g}", round(s, 6), w) for i, (g, s, w) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "id bigint, grp string, score double, w bigint"
    ).repartition(5)
    capped = cap_per_group(df, "grp", cap, "id", max_cap=cap)
    out = budget_select(
        capped.withColumn(
            "_w", F.when(F.col("cap_keep"), F.col("w")).otherwise(F.lit(0))
        ),
        "score",
        "id",
        "_w",
        budget,
    )
    got = {
        r["id"]: (r["cap_keep"], r["cap_rk"], bool(r["selected"] and r["cap_keep"]))
        for r in out.collect()
    }

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    by_g: dict = {}
    for i, g, _s, _w in data:
        by_g.setdefault(g, []).append(i)
    keep, rank = {}, {}
    for g, ids in by_g.items():
        order = sorted(ids, key=lambda i: (h32(str(i)), i))
        for pos, i in enumerate(order, start=1):
            keep[i] = len(ids) <= cap or pos <= cap
            rank[i] = pos if (len(ids) > cap and pos <= cap) else None
    cum, sel = 0, {}
    for i, _g, s, w in sorted(data, key=lambda r: (-r[2], r[0])):
        cum += w if keep[i] else 0
        sel[i] = keep[i] and cum <= budget
    want = {i: (keep[i], rank[i], sel[i]) for i, _g, _s, _w in data}
    assert got == want

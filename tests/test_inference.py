"""Batched-inference hook (operators/inference.py, round 8)."""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import drain
from pyspark.sql import functions as F

from s3logs_parquet_spark.operators.inference import (
    LINEAR_TEXT_WEIGHTS,
    batched_inference,
    linear_text_model,
    score_documents,
)


def test_score_documents_exact_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello World 42"),      # 14 chars, 3 words, 2 digits, 2 upper
            (2, ""),                    # all-zero features -> bias only
            (3, None),                  # NULL text == empty per fillna
            (4, "x" * 2048),            # long doc, single word
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["logit"], r["label"]) for r in score_documents(docs).collect()}
    bias, (wc, ww, wd, wu) = LINEAR_TEXT_WEIGHTS
    assert got[1] == (bias + wc * 14 + ww * 3 + wd * 2 + wu * 2, False)
    assert got[2] == (bias, False)
    assert got[3] == (bias, False)
    assert got[4] == (bias + wc * 2048 + ww * 1, True)


def test_batched_inference_passthrough_and_multicolumn(spark):
    """Generic contract: multiple input columns, multiple passthrough
    columns, model outputs appended in order."""
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i), i % 3) for i in range(100)],
        "id long, tag string, x double, grp long",
    )

    def model(batch: pd.DataFrame, w) -> pd.DataFrame:
        return pd.DataFrame({"y": batch["x"] * w["scale"] + batch["grp"]})

    out = batched_inference(
        df,
        model,
        input_cols=["x", "grp"],
        output_schema="id long, tag string, y double",
        weights={"scale": 2.0},
        passthrough_cols=["id", "tag"],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 100
    assert rows[7]["tag"] == "s7" and rows[7]["y"] == 14.0 + 1
    assert out.columns == ["id", "tag", "y"]


def test_batched_inference_row_count_contract(spark):
    """A model that drops/duplicates rows inside a batch fails loud —
    silent misalignment between passthrough ids and scores would be
    data corruption."""
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")

    def bad(batch, w):
        return pd.DataFrame({"y": batch["v"].head(1)})

    out = batched_inference(df, bad, ["v"], "y long")
    with pytest.raises(Exception, match="row"):
        out.collect()


def test_inference_scan_prunes_to_needed_columns(spark, sf_dir):
    """100-TB posture: the python boundary must not widen the scan —
    the parquet read under score_documents carries only doc_id+text,
    not the full documents row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(docs.columns) > 2
    plan = (
        score_documents(docs)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    scan = next(
        s for s in plan.split("\n\n") if "Scan parquet" in s and "ReadSchema" in s
    )
    read_schema = next(l for l in scan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema  # an existing wide column stays unread


def test_inference_matches_sql_twin_via_duckdb(spark, sf_dir):
    """Direct differential at test scale (the driver gate re-runs this
    at sf0.01): exact equality, not approx — the dyadic-weights design
    makes the python and SQL sides bit-identical."""
    import duckdb

    from s3logs_parquet_spark.plans.docs_text import (
        ORACLE_DOCS_INFERENCE,
        q_docs_inference_scores,
    )
    from tools.check_oracles import frame_hash

    sdf = q_docs_inference_scores(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    drel = con.sql(ORACLE_DOCS_INFERENCE)
    drows = drel.fetchall()
    assert len(srows) == len(drows) > 0
    assert frame_hash(sdf.columns, srows) == frame_hash(list(drel.columns), drows)
    con.close()


def test_mlp_model_exact_values(spark):
    """The round-9 real-model leg: two-layer ReLU MLP, ndarray weights.
    Hand-evaluated expectations in pure Python floats — every step is
    exact dyadic arithmetic, so equality is exact, not approx."""
    from s3logs_parquet_spark.operators.inference import (
        MLP_TEXT_WEIGHTS,
        mlp_text_model,
        score_documents,
    )

    docs = spark.createDataFrame(
        [(1, "Hello World 42"), (2, ""), (3, None), (4, "abc DEF 123 xy 9")],
        "doc_id long, text string",
    )
    out = score_documents(
        docs, weights=MLP_TEXT_WEIGHTS, model_fn=mlp_text_model
    )
    got = {r["doc_id"]: (r["logit"], r["label"]) for r in out.collect()}

    def expect(c, w, d, u):
        h1 = max(-2.0 + 0.001953125 * c + 0.25 * w - 0.125 * d + 0.0625 * u, 0.0)
        h2 = max(1.0 - 0.00390625 * c + 0.5 * w - 0.125 * u, 0.0)
        h3 = max(-0.5 + 0.0009765625 * c - 0.0625 * w + 0.25 * d, 0.0)
        h4 = max(-1.0 + 0.125 * w + 0.0625 * d - 0.03125 * u, 0.0)
        logit = -0.25 + 0.5 * h1 - 0.25 * h2 + 0.375 * h3 + 0.25 * h4
        return (logit, logit >= 0.0)

    # "Hello World 42": 14 chars, 3 words, 2 digits, 2 upper
    assert got[1] == expect(14, 3, 2, 2)
    assert got[2] == expect(0, 0, 0, 0) == got[3]  # NULL == '' via fillna
    # "abc DEF 123 xy 9": 16 chars, 5 words, 4 digits, 3 upper
    assert got[4] == expect(16, 5, 4, 3)


def test_mlp_matches_sql_twin_via_duckdb(spark, sf_dir):
    """Full-corpus differential for the MLP gate with the driver's hash
    semantics (the driver re-runs this at sf0.01)."""
    import duckdb

    from s3logs_parquet_spark.plans.docs_text import (
        ORACLE_DOCS_INFERENCE_MLP,
        q_docs_inference_mlp,
    )
    from tools.check_oracles import frame_hash

    sdf = q_docs_inference_mlp(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    drel = con.sql(ORACLE_DOCS_INFERENCE_MLP)
    drows = drel.fetchall()
    assert len(srows) == len(drows) > 0
    # both labels must occur or the gate degenerates to a constant
    assert {bool(r[2]) for r in drows} == {True, False}
    assert frame_hash(sdf.columns, srows) == frame_hash(list(drel.columns), drows)
    con.close()


def test_inference_oracle_null_text_matches_model(spark, tmp_path):
    """ADVICE r8: the oracle must coalesce NULL text to '' like the
    model's fillna('') — a NULL doc scores logit=bias/label=false on
    BOTH sides, not NULL. Differential on a corpus containing NULLs
    (the sf fixtures have none, so this pins the latent divergence)."""
    import duckdb

    from s3logs_parquet_spark.plans.docs_text import (
        ORACLE_DOCS_INFERENCE,
        q_docs_inference_scores,
    )

    docs = spark.createDataFrame(
        [(1, "Hello World 42"), (2, None), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    pdir = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.parquet(pdir)
    got = {r["doc_id"]: (r["logit"], r["label"]) for r in q_docs_inference_scores(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pdir}/*.parquet')")
    want = {r[0]: (r[1], r[2]) for r in con.sql(ORACLE_DOCS_INFERENCE).fetchall()}
    con.close()
    assert got == want
    assert got[2] == (-2.0, False) and got[4] == (-2.0, False)


def test_score_documents_streaming_microbatch(spark, tmp_path):
    """The same call works under Structured Streaming (stateless
    projection): stream a parquet dir, score per micro-batch, equal to
    the batch result."""
    docs = spark.createDataFrame(
        [(i, f"Doc number {i} with SOME text") for i in range(50)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        score_documents(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = sorted(
        (r["doc_id"], r["logit"], r["label"])
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r["doc_id"], r["logit"], r["label"]) for r in score_documents(docs).collect()
    )
    assert got == want and len(got) == 50

"""Batched model inference over DataFrames — the quality-classifier
shape of a training-data pipeline (VERDICT r7 #9).

No reference counterpart (the reference is a log ETL engine); this is
part of the §8 training-data extension surface. The design constraints
at 100 TB:

- **Arrow batches, never rows.** `mapInPandas` streams each partition
  through the scorer in columnar batches
  (``spark.sql.execution.arrow.maxRecordsPerBatch``, default 10k — the
  effective micro-batch-size knob); a row-at-a-time Python UDF would
  be 10-100x slower and is banned in this repo.
- **Weights ride a broadcast, not the closure.** The model payload is
  shipped once per executor via ``SparkContext.broadcast`` and
  deserialized once per python worker — closing over a big ndarray
  would re-pickle it into every task. For a 1000-executor cluster
  scoring 100 TB that is the difference between one 100 MB transfer
  per node and one per task.
- **Deterministic contract.** ``model_fn`` gets (pandas.DataFrame of
  the selected input columns, the broadcast value) and returns a
  pandas.DataFrame matching ``output_schema`` MINUS the passthrough id
  columns, same length, same order. Pure-function scoring keeps
  re-runs / speculative tasks identical — required for the
  exactly-once write paths downstream.

The shipped example model (`linear_text_model` / `score_documents`) is
a deterministic linear text classifier over integer text features with
dyadic weights: every arithmetic step is exact in IEEE double, so a
SQL oracle reproduces the scores bit-for-bit (plans/docs_text.py
docs_inference_scores) — the gate proves the plumbing (schema,
batching, broadcast, column pruning) without needing a real model in
the container. A real classifier (e.g. a quality model's weight
matrix) drops in as a different ``weights`` payload + ``model_fn``.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batched_inference(
    df: DataFrame,
    model_fn: Callable,
    input_cols: Sequence[str],
    output_schema: str,
    weights=None,
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """Score ``df`` with ``model_fn`` in Arrow batches.

    ``model_fn(batch: pd.DataFrame, weights) -> pd.DataFrame`` is
    called once per Arrow batch with exactly ``input_cols``; its output
    columns are appended to the ``passthrough_cols`` of the same rows.
    ``output_schema`` is the FULL result schema (passthrough + model
    outputs), DDL string. ``weights`` (any picklable payload) is
    broadcast once per executor; None skips the broadcast entirely.

    The input projection happens BEFORE the python boundary
    (select → mapInPandas), so parquet scans prune to
    passthrough+input columns — at 100 TB the scorer reads only the
    text column and the id, never the full row.
    """
    cols = list(dict.fromkeys([*passthrough_cols, *input_cols]))
    narrow = df.select(*cols)
    bc = df.sparkSession.sparkContext.broadcast(weights) if weights is not None else None
    pass_cols = list(passthrough_cols)
    in_cols = list(input_cols)

    def run(batches: Iterator) -> Iterator:
        w = bc.value if bc is not None else None
        for pdf in batches:
            out = model_fn(pdf[in_cols], w)
            if len(out) != len(pdf):
                raise ValueError(
                    f"model_fn returned {len(out)} rows for a {len(pdf)}-row batch"
                )
            if pass_cols:
                res = pdf[pass_cols].reset_index(drop=True)
                for c in out.columns:
                    res[c] = out[c].reset_index(drop=True)
                yield res
            else:
                yield out

    return narrow.mapInPandas(run, schema=output_schema)


# ---------------------------------------------------------------------------
# The deterministic example model: a linear text classifier whose
# arithmetic is exact in IEEE double (integer features x dyadic
# weights), so the driver gate's DuckDB oracle matches bit-for-bit.
# ---------------------------------------------------------------------------

# (bias, per-feature weights) — dyadic rationals: 2^-9, 2^-2, -2^-3,
# 2^-4. Feature order: n_chars, n_words, n_digits, n_upper.
LINEAR_TEXT_WEIGHTS = (-2.0, (0.001953125, 0.25, -0.125, 0.0625))


def linear_text_model(batch, weights):
    """Integer text features -> exact linear logit -> boolean label.

    Features: n_chars (len), n_words (whitespace tokens), n_digits
    ([0-9] count), n_upper ([A-Z] count). All integers; the weighted
    sum of dyadic multiples is exact, so logit/label are
    reproducible in SQL (the gate's oracle) and across reruns.
    """
    import pandas as pd

    bias, (w_chars, w_words, w_digits, w_upper) = weights
    text = batch.iloc[:, 0].fillna("")
    n_chars = text.str.len().astype("int64")
    n_words = text.str.split().str.len().fillna(0).astype("int64")
    n_digits = text.str.count(r"[0-9]").astype("int64")
    n_upper = text.str.count(r"[A-Z]").astype("int64")
    logit = (
        bias
        + w_chars * n_chars
        + w_words * n_words
        + w_digits * n_digits
        + w_upper * n_upper
    )
    return pd.DataFrame({"logit": logit.astype("float64"), "label": logit >= 0.0})


# ---------------------------------------------------------------------------
# A real (if tiny) network: two-layer MLP with ReLU, weights as numpy
# ndarrays on the broadcast — the payload/matmul shape of an actual
# classifier, proving the contract beyond the scalar linear model
# (VERDICT r8 #8). Every entry is a dyadic rational and the features
# are integers, so X@W1.T+b1, relu, H@W2+b2 are exact in IEEE double in
# ANY summation order (all intermediates fit 53 significand bits for
# any document under ~10^6 chars): the SQL oracle matches bit-for-bit.
# ---------------------------------------------------------------------------


def _mlp_weights():
    import numpy as np

    return {
        # (4 hidden x 4 features); feature order: n_chars, n_words,
        # n_digits, n_upper. First hidden unit IS the linear model.
        "W1": np.array(
            [
                [0.001953125, 0.25, -0.125, 0.0625],
                [-0.00390625, 0.5, 0.0, -0.125],
                [0.0009765625, -0.0625, 0.25, 0.0],
                [0.0, 0.125, 0.0625, -0.03125],
            ]
        ),
        "b1": np.array([-2.0, 1.0, -0.5, -1.0]),
        "W2": np.array([0.5, -0.25, 0.375, 0.25]),
        "b2": -0.25,
    }


MLP_TEXT_WEIGHTS = _mlp_weights()


def mlp_text_model(batch, weights):
    """Two-layer ReLU MLP over the same integer text features:
    logit = W2 · relu(W1 · x + b1) + b2, ndarray weights from the
    broadcast, vectorized numpy matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    text = batch.iloc[:, 0].fillna("")
    X = np.stack(
        [
            text.str.len().to_numpy(np.float64),
            text.str.split().str.len().fillna(0).to_numpy(np.float64),
            text.str.count(r"[0-9]").to_numpy(np.float64),
            text.str.count(r"[A-Z]").to_numpy(np.float64),
        ],
        axis=1,
    )
    H = np.maximum(X @ weights["W1"].T + weights["b1"], 0.0)
    logit = H @ weights["W2"] + weights["b2"]
    return pd.DataFrame({"logit": logit, "label": logit >= 0.0})


def score_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights=LINEAR_TEXT_WEIGHTS,
    model_fn: Callable = linear_text_model,
    output_cols: str = "logit double, label boolean",
) -> DataFrame:
    """The quality-classifier shape: (id, text) -> (id, logit, label).

    Streaming-safe: mapInPandas is a stateless projection, so the same
    call works on a readStream frame inside a micro-batch pipeline.
    """
    id_field = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(id_col).schema.fields
    )
    return batched_inference(
        df,
        model_fn,
        input_cols=[text_col],
        output_schema=f"{id_field}, {output_cols}",
        weights=weights,
        passthrough_cols=[id_col],
    )

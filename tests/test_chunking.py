"""Context-window chunking operator tests (operators/chunking.py)."""

from __future__ import annotations

import pytest

from s3logs_parquet_spark.operators.chunking import chunk_documents


def _chunks(spark, text, chunk_size, stride):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = chunk_documents(df, "text", "doc_id", chunk_size=chunk_size, stride=stride)
    return sorted(
        (r["chunk_idx"], r["chunk_text"], r["chunk_tokens"]) for r in out.collect()
    )


def _py_chunks(text, chunk_size, stride):
    toks = [w for w in text.strip().split() if w]
    if len(toks) <= chunk_size:
        n = 1
    else:
        n = 1 + -(-(len(toks) - chunk_size) // stride)
    return [
        (i, " ".join(toks[i * stride : i * stride + chunk_size]),
         len(toks[i * stride : i * stride + chunk_size]))
        for i in range(n)
    ]


@pytest.mark.parametrize(
    "n_words,chunk,stride",
    [
        (0, 4, 3),    # empty doc -> one empty chunk
        (1, 4, 3),
        (4, 4, 3),    # exactly one full window
        (5, 4, 3),    # one token past -> 2 windows, short tail
        (10, 4, 3),   # ragged tail
        (10, 4, 4),   # no overlap, exact cover on 8, ragged on 10
        (13, 4, 3),   # (13-4) divisible by 3 -> final window full
        (7, 7, 7),    # chunk == stride == n
    ],
)
def test_chunking_matches_python_reference(spark, n_words, chunk, stride):
    text = " ".join(f"w{i}" for i in range(n_words))
    assert _chunks(spark, text, chunk, stride) == _py_chunks(text, chunk, stride)


def test_chunking_covers_every_token_with_overlap(spark):
    text = " ".join(f"t{i}" for i in range(101))
    got = _chunks(spark, text, 40, 30)
    # every token appears in some chunk; consecutive chunks overlap by
    # chunk_size - stride except (possibly) at the clipped tail
    seen = set()
    for _, ctext, _ in got:
        seen.update(ctext.split())
    assert seen == {f"t{i}" for i in range(101)}
    # 101 tokens, windows start at 0,30,60,90 -> 4 chunks; last has 11
    assert [n for _, _, n in got] == [40, 40, 40, 11]


def test_chunking_normalizes_whitespace_and_preserves_case(spark):
    got = _chunks(spark, "  Foo\tBar\n\nbaz   QUX  ", 3, 2)
    assert got == [(0, "Foo Bar baz", 3), (1, "baz QUX", 2)]


def test_chunking_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_size=4, stride=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_size=4, stride=5)
    with pytest.raises(ValueError, match="chunk_size"):
        chunk_documents(df, chunk_size=0, stride=1)


def test_chunking_plan_is_map_only(spark):
    """No exchange anywhere: split -> explode -> slice is scan-local."""
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = chunk_documents(df, chunk_size=2, stride=1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_tokenizer_mode_matches_python_reference(spark):
    """tokenizer='bpe' windows over the BPE-ish segmentation: letter
    runs, digit runs, single punctuation marks."""
    import re

    text = "Don't panic! 42 miles, give-or-take...  OK?"
    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    toks = pat.findall(text)
    chunk, stride = 5, 3
    n = 1 if len(toks) <= chunk else 1 + -(-(len(toks) - chunk) // stride)
    want = sorted(
        (i, " ".join(toks[i * stride : i * stride + chunk]),
         len(toks[i * stride : i * stride + chunk]))
        for i in range(n)
    )
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = chunk_documents(df, chunk_size=chunk, stride=stride, tokenizer="bpe")
    got = sorted(
        (r["chunk_idx"], r["chunk_text"], r["chunk_tokens"]) for r in out.collect()
    )
    assert got == want


def test_chunking_rejects_unknown_tokenizer(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="tokenizer"):
        chunk_documents(df, chunk_size=4, stride=2, tokenizer="words")

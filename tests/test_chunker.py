"""C1/C2 goldens + properties: the Spark chunker must reproduce the
reference algorithm (``zc_agent/load_data.py:13-25``) exactly —
including the strict-``>`` break rule and zero-chunk empty docs."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineering_rag_spark.operators.chunker import chunk_documents


def reference_sliding_window(seq: str, size: int, step: int) -> list[dict]:
    # Reimplementation of the reference algorithm (load_data.py:13-25)
    # used as the test oracle.
    if size <= 0 or step <= 0:
        raise ValueError("size and step must be positive")
    n = len(seq)
    result = []
    for i in range(0, n, step):
        batch = seq[i : i + size]
        result.append({"start": i, "content": batch})
        if i + size > n:
            break
    return result


def spark_chunks(spark, texts: list[str], size: int, step: int) -> dict[int, list[tuple[int, str]]]:
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "content"]
    )
    out = chunk_documents(df, text_col="content", size=size, step=step).collect()
    got: dict[int, list[tuple[int, str]]] = {i: [] for i in range(len(texts))}
    for r in out:
        got[r.doc_id].append((r.start, r.content))
    return {k: sorted(v) for k, v in got.items()}


EDGE_LENGTHS = [0, 1, 999, 1000, 1999, 2000, 2001, 3001, 5000]


def test_golden_edge_lengths(spark):
    texts = ["x" * n for n in EDGE_LENGTHS]
    got = spark_chunks(spark, texts, 2000, 1000)
    for i, t in enumerate(texts):
        expected = sorted(
            (c["start"], c["content"]) for c in reference_sliding_window(t, 2000, 1000)
        )
        assert got[i] == expected, f"len={len(t)}"


@pytest.mark.parametrize("size,step", [(10, 3), (3, 10), (5, 5), (1, 1), (7, 2)])
def test_golden_small_windows(spark, size, step):
    texts = ["abcdefghijklmnopqrstuvwxyz"[:n] for n in range(0, 26)]
    got = spark_chunks(spark, texts, size, step)
    for i, t in enumerate(texts):
        expected = sorted(
            (c["start"], c["content"]) for c in reference_sliding_window(t, size, step)
        )
        assert got[i] == expected, f"n={len(t)} size={size} step={step}"


def test_rejects_nonpositive(spark):
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "content"])
    with pytest.raises(ValueError):
        chunk_documents(df, size=0, step=5)
    with pytest.raises(ValueError):
        chunk_documents(df, size=5, step=0)


def test_metadata_fanout(spark):
    df = spark.createDataFrame([(1, "meta", "x" * 2500)], ["doc_id", "lang", "content"])
    rows = chunk_documents(df, size=2000, step=1000).collect()
    assert all(r.lang == "meta" and r.doc_id == 1 for r in rows)
    assert sorted(r.start for r in rows) == [0, 1000]


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=400),
    size=st.integers(min_value=1, max_value=50),
    step=st.integers(min_value=1, max_value=50),
)
def test_property_matches_reference(spark, n, size, step):
    text = ("abcdefgh" * 60)[:n]
    got = spark_chunks(spark, [text], size, step)[0]
    expected = sorted(
        (c["start"], c["content"]) for c in reference_sliding_window(text, size, step)
    )
    assert got == expected


# ---------------------------------------------------------------- tokens


def reference_token_windows(tokens: list[str], size: int, step: int) -> list[tuple[int, str, int]]:
    # Same break rule as reference_sliding_window, over a token list.
    n = len(tokens)
    out = []
    for i in range(0, n, step):
        w = tokens[i : i + size]
        out.append((i, " ".join(w), len(w)))
        if i + size > n:
            break
    return out


@pytest.mark.parametrize("n_tokens", [0, 1, 31, 32, 63, 64, 65, 97, 200])
def test_token_chunker_matches_reference_loop(spark, n_tokens):
    from data_engineering_rag_spark.operators.chunker import chunk_tokens

    words = [f"tok{i:03d}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "content"])
    got = sorted(
        (r.tok_start, r.chunk, r.n_tokens)
        for r in chunk_tokens(df, text_col="content", size=64, step=32).collect()
    )
    assert got == sorted(reference_token_windows(words, 64, 32))


def test_token_chunker_rejects_bad_params(spark):
    from data_engineering_rag_spark.operators.chunker import chunk_tokens

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "content"])
    with pytest.raises(ValueError):
        chunk_tokens(df, size=0)
    with pytest.raises(ValueError):
        chunk_tokens(df, step=-1)

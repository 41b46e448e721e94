"""Paragraph-boundary token-budget chunking (operators/chunking.py)."""

from __future__ import annotations

from ocr_platform_spark.operators.chunking import chunk_paragraphs


def _doc(paras: list[str]) -> str:
    return "\n\n".join(paras)


def _p(n_tokens: int, word: str) -> str:
    return " ".join(f"{word}{i}" for i in range(n_tokens))


def test_chunk_boundaries_by_cumulative_offset(spark):
    """Four 10-token paragraphs under a 20-token budget: cum offsets
    0/10/20/30 → chunks 0,0,1,1; text rejoins in order."""
    paras = [_p(10, c) for c in "abcd"]
    df = spark.createDataFrame([(1, _doc(paras))], "doc_id long, text string")
    rows = chunk_paragraphs(df, budget_tokens=20).orderBy("chunk_id").collect()
    assert [(r["chunk_id"], r["n_paras"], r["n_tokens"], r["start_idx"]) for r in rows] == [
        (0, 2, 20, 0),
        (1, 2, 20, 2),
    ]
    assert rows[0]["text"] == _doc(paras[:2])
    assert rows[1]["text"] == _doc(paras[2:])


def test_oversized_paragraph_owns_its_bucket_with_id_gap(spark):
    """A 50-token paragraph under budget 20 is never split: it lands in
    chunk 0 alone; the next paragraph starts at cum 50 → chunk 2 (ids
    increasing, not contiguous)."""
    paras = [_p(50, "big"), _p(5, "tail")]
    df = spark.createDataFrame([(7, _doc(paras))], "doc_id long, text string")
    rows = chunk_paragraphs(df, budget_tokens=20).orderBy("chunk_id").collect()
    assert [(r["chunk_id"], r["n_tokens"]) for r in rows] == [(0, 50), (2, 5)]


def test_empty_paragraphs_dropped_and_single_chunk_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two\n\n\n\nthree"), (2, "solo")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_paragraphs(df, budget_tokens=100).collect()
    }
    assert rows[(1, 0)]["n_paras"] == 2 and rows[(1, 0)]["n_tokens"] == 3
    assert rows[(1, 0)]["text"] == "one two\n\nthree"
    assert rows[(2, 0)]["n_paras"] == 1


def test_partitioning_invariance(spark):
    docs = [(i, _doc([_p(7, f"w{i}_{j}_") for j in range(6)])) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = chunk_paragraphs(df, budget_tokens=15).orderBy("doc_id", "chunk_id").collect()
    b = (
        chunk_paragraphs(df.repartition(13), budget_tokens=15)
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 40  # budget actually splits the docs


# --- overlapping sliding windows -------------------------------------------


def test_sliding_windows_short_doc_single_window(spark):
    from ocr_platform_spark.operators.chunking import sliding_token_windows

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = sliding_token_windows(df, "doc_id", "text", size=4, overlap=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["chunk_id"], r["start_tok"], r["end_tok"], r["body"]) == (0, 0, 3, "a b c")


def test_sliding_windows_overlap_and_trailing_partial(spark):
    from ocr_platform_spark.operators.chunking import sliding_token_windows

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    # size 4, overlap 2 -> stride 2 -> windows [0,4) [2,6) [4,8) [6,10): 4 windows
    rows = sorted(
        sliding_token_windows(df, "doc_id", "text", size=4, overlap=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [(r["start_tok"], r["end_tok"]) for r in rows] == [(0, 4), (2, 6), (4, 8), (6, 10)]
    assert rows[1]["body"] == "t2 t3 t4 t5"  # overlaps chunk 0's tail
    # 11 tokens -> trailing partial [8,11) emitted clamped
    df2 = spark.createDataFrame([(1, " ".join(toks + ["t10"]))], "doc_id long, text string")
    rows2 = sorted(
        sliding_token_windows(df2, "doc_id", "text", size=4, overlap=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert (rows2[-1]["start_tok"], rows2[-1]["end_tok"], rows2[-1]["n_tokens"]) == (8, 11, 3)
    assert rows2[-1]["body"] == "t8 t9 t10"


def test_sliding_windows_every_token_covered(spark):
    from ocr_platform_spark.operators.chunking import sliding_token_windows

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i))) for i in range(1, 40)],
        "doc_id long, text string",
    )
    rows = sliding_token_windows(df, "doc_id", "text", size=8, overlap=3).collect()
    cover = {}
    for r in rows:
        cover.setdefault(r["doc_id"], set()).update(range(r["start_tok"], r["end_tok"]))
    for i in range(2, 40):  # doc 1 has "w0" = 1 token; doc i has i tokens
        assert cover[i] == set(range(i))


def test_sliding_windows_rejects_bad_overlap(spark):
    import pytest

    from ocr_platform_spark.operators.chunking import sliding_token_windows

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sliding_token_windows(df, "doc_id", "text", size=4, overlap=4)

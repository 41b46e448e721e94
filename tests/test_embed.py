"""Deterministic trigram-hash embedder (operators/embed.py): Spark↔DuckDB
recompute parity from raw text, edge cases, float exactness, and the
map-side-only plan shape. The sf0.01 catalog parity (doc_embedding) is
covered by tests/test_oracle_parity.py and the driver's CORRECTNESS gate."""

from __future__ import annotations

import duckdb
import numpy as np

from ocr_platform_spark.operators.embed import (
    MOD,
    MULT,
    _embed_one,
    derived_embeddings_cte,
    hashed_ngram_embedding,
)

ROWS = [
    (1, "The quick  Brown\tfox jumps over the lazy dog"),
    (2, ""),
    (3, None),
    (4, "ab"),  # sub-trigram: one zero-padded gram
    (5, "é 界 mixed Unicode ß text with CÉDILLE ç"),
    (6, "x" * 2000),  # one repeated gram hammering a single bucket
    (7, "  leading and trailing   whitespace  "),
]


def test_embed_one_reference_math():
    """Hand-check the polynomial, bucket, and sign on a tiny input."""
    v, n = _embed_one("abc", 64)
    h = ((ord("a") * MULT + ord("b")) % MOD * MULT + ord("c")) % MOD
    assert n == 1
    expected = np.zeros(64, np.int64)
    expected[h % 64] = 1 - 2 * ((h // 64) % 2)
    assert (v == expected).all()
    # empty and None embed as the zero-padded gram: h=0 → +1 in bucket 0
    for t in ("", None):
        v0, n0 = _embed_one(t, 64)
        assert n0 == 1 and v0[0] == 1 and v0.sum() == 1
    # normalization: case and whitespace runs collapse
    assert (_embed_one("A  b\tC", 16)[0] == _embed_one("a b c", 16)[0]).all()


def test_embed_mass_conservation():
    """Σ|signs| per doc == n_grams (every gram lands in exactly one
    bucket with weight ±1), so Σv ≡ n_grams (mod 2)."""
    for _, t in ROWS:
        v, n = _embed_one(t, 64)
        assert int(np.abs(v).sum()) <= n
        assert (int(v.sum()) - n) % 2 == 0


def test_spark_matches_duckdb_recompute(spark, tmp_path):
    """The full oracle contract on adversarial rows: DuckDB recomputes
    every vector from the parquet bytes and matches Spark exactly."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    path = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(path)
    got = {
        r["id"]: (list(r["embedding"]), r["n_grams"])
        for r in hashed_ngram_embedding(df, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sql = "WITH " + derived_embeddings_cte() + \
        " SELECT doc_id, embedding, n_grams FROM demb ORDER BY doc_id"
    ora = {r[0]: (list(r[1]), r[2]) for r in con.execute(sql).fetchall()}
    assert got == ora


def test_as_float_is_exact_and_plan_is_map_side(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    ints = hashed_ngram_embedding(df, "doc_id", "text")
    floats = hashed_ngram_embedding(df, "doc_id", "text", as_float=True)
    a = {r["id"]: [float(x) for x in r["embedding"]] for r in ints.collect()}
    b = {r["id"]: list(r["embedding"]) for r in floats.collect()}
    assert a == b
    plan = ints._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-side only: no shuffle
    assert "BatchEvalPython" not in plan  # Arrow-batched, never per-row

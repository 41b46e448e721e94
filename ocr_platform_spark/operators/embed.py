"""Deterministic text→embedding: hashed char-trigram features with a
hash-derived sign (the feature-hashing trick, Weinberger et al. 2009 —
the fastText/SimHash middle ground). Vectors come from RAW TEXT instead
of pregenerated embeddings.

Reference scope note: the OCR reference has no embedder (its similarity
surface is the fuzzy string mapper, `ocr_backend/app/utils/fuzzy_matching.py`);
this operator serves the engine's own web-corpus north star, where
semantic dedup / retrieval over 10^12 documents needs a vectorizer that
is cheap, deterministic, and exactly replayable by an independent engine.

Design constraints, in order:

1. **Integer-exact cross-engine.** Every step is integer arithmetic over
   Unicode codepoints — the catalog oracle RECOMPUTES every vector from
   the raw parquet in DuckDB (no staging): normalize (lower + collapse
   ASCII whitespace + trim), slide char trigrams, hash each gram with a
   31-bit modular polynomial, bucket ``h mod dim`` with sign
   ``(h div dim) mod 2``, and sum signs per bucket. ``ascii('') = 0`` on
   both engines supplies the sub-n zero padding.
2. **One Arrow pass, numpy throughout.** The Spark side is a vectorized
   pandas UDF: codepoints via a single ``utf-32-le`` reinterpret (no
   per-char Python), the polynomial/bucket/sign math as whole-array int64
   ops, one ``np.add.at`` scatter per document.
3. **Embedding values are small signed counts** (|v_j| ≤ n_grams), exact
   in float32 far beyond any real document length (< 2^24), so the
   ``array<float>`` cast (``as_float=True``) loses nothing.

Scale shape: map-side only — no shuffle, no model, no driver state; the
embedder composes with any upstream text segmentation.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: modulus (2^31) and multiplier of the gram polynomial. Intermediates are
#: bounded by (MOD-1)*MULT + 0x10FFFF < 2^52 — exact in int64 and in
#: DuckDB's BIGINT with the same expression.
MOD = 2_147_483_648
MULT = 1_000_003

# Java-\s (ASCII whitespace), NOT Python's unicode-aware \s — mirrors
# functions/textfns.normalized_text exactly (same contract as the
# lmscore map-side twin)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _embed_one(text: str | None, dim: int) -> tuple[np.ndarray, int]:
    norm = _WS.sub(" ", (text or "").lower()).strip(" ")
    # codepoints in one reinterpret — no per-char Python
    codes = np.frombuffer(norm.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    n_grams = max(len(codes) - 2, 1)
    if len(codes) < 3:
        codes = np.concatenate([codes, np.zeros(3 - len(codes), np.int64)])
    a, b, c = codes[:-2], codes[1:-1], codes[2:]
    h = ((a * MULT + b) % MOD * MULT + c) % MOD
    idx = h % dim
    sign = 1 - 2 * ((h // dim) % 2)
    v = np.zeros(dim, np.int64)
    np.add.at(v, idx, sign)
    return v, n_grams


def hashed_ngram_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    as_float: bool = False,
) -> DataFrame:
    """(id, embedding, n_grams) — the deterministic trigram-hash embedding
    of every document. ``embedding`` is ``array<bigint>`` of signed bucket
    counts (``as_float=True`` casts to ``array<float>``; counts are exact
    in float32).

    NULL/empty text embeds as the single zero-padded gram (h = 0 →
    +1 in bucket 0) — present, deterministic, and identical in the
    DuckDB replay, so downstream joins never lose rows."""

    @F.pandas_udf("struct<embedding: array<bigint>, n_grams: bigint>")
    def _embed(texts: pd.Series) -> pd.DataFrame:
        vecs, ngs = [], []
        for t in texts:
            v, ng = _embed_one(t, dim)
            vecs.append(v.tolist())
            ngs.append(ng)
        return pd.DataFrame({"embedding": vecs, "n_grams": ngs})

    out = df.select(
        F.col(id_col).alias("id"), _embed(F.col(text_col)).alias("_e")
    ).select("id", "_e.embedding", "_e.n_grams")
    if as_float:
        out = out.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("float"))
        )
    return out


def derived_embeddings_cte(dim: int = 64, table: str = "documents") -> str:
    """The DuckDB CTE bodies (caller wraps in ``WITH``) that recompute
    :func:`hashed_ngram_embedding` from the raw ``documents`` parquet —
    final CTE ``demb`` is (doc_id, embedding list<BIGINT>, n_grams).
    One source of truth for every derived-embedding oracle."""
    return rf"""
    norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                  '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ') AS t
      FROM {table}
    ),
    gpos AS (
      SELECT doc_id, t, unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS i
      FROM norm
    ),
    gh AS (
      SELECT doc_id,
             ((CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT) * {MULT}
               + ascii(substr(t, CAST(i + 1 AS INT), 1))) % {MOD} * {MULT}
               + ascii(substr(t, CAST(i + 2 AS INT), 1))) % {MOD} AS h
      FROM gpos
    ),
    feat AS (
      SELECT doc_id, h % {dim} AS idx,
             CASE WHEN (h // {dim}) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM gh
    ),
    acc AS (SELECT doc_id, idx, CAST(SUM(s) AS BIGINT) AS c
            FROM feat GROUP BY doc_id, idx),
    demb AS (
      SELECT d.doc_id, list(COALESCE(a.c, 0) ORDER BY dims.j) AS embedding,
             MAX(d.n_grams) AS n_grams
      FROM (SELECT doc_id, greatest(length(t) - 2, 1) AS n_grams FROM norm) d
      CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) dims
      LEFT JOIN acc a ON a.doc_id = d.doc_id AND a.idx = dims.j
      GROUP BY d.doc_id
    )
    """

"""Vectorized fuzzy SELECT mapping — the similarity join (SURVEY.md J6).

The reference scores each OCR value against a per-field option vocabulary
(``ocr_backend/app/api/ocr_routes.py:31-166``). Relationally this is a theta
/similarity join: ``values ⋈_{score(v,label) ≥ 75} options``. The vocabulary
is tiny (a dimension table), so the distributed execution is:

  broadcast(vocab as a plain dict) → Arrow-batched pandas UDF computing the
  top-scoring option per value, memoized per distinct value.

No shuffle at all — the fact side streams through map tasks; this is the
broadcast-nested-loop-join plan Catalyst would pick, executed inside one
vectorized kernel where the scorer lives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ocr_platform_spark.functions.fuzzy import CachedMapper, VocabScorer

# Per-worker registries: the lru_cache of distinct-value mappings and the
# per-label prebuilt matcher states survive across Arrow batches AND across
# tasks of the same stage on one worker (they used to be rebuilt per batch,
# re-scoring every repeated value and re-preparing every label). Worker-side
# Broadcast objects expose no ``id``; their spill file ``_path`` is the
# stable per-broadcast identity on a worker.
_WORKER_MAPPERS: dict[object, CachedMapper] = {}
_WORKER_SCORERS: dict[object, VocabScorer] = {}


def _mapper_for(bc) -> CachedMapper:
    key = getattr(bc, "_path", None) or id(bc)
    m = _WORKER_MAPPERS.get(key)
    if m is None:
        m = CachedMapper(bc.value)
        _WORKER_MAPPERS[key] = m
    return m


def _scorer_for(bc) -> VocabScorer:
    key = getattr(bc, "_path", None) or id(bc)
    s = _WORKER_SCORERS.get(key)
    if s is None:
        s = VocabScorer(bc.value)
        _WORKER_SCORERS[key] = s
    return s


def vocab_dict(field_options: DataFrame) -> dict[str, list[tuple[str, str]]]:
    """Collect a field_options dimension (field_name, option_value,
    option_label) into the broadcastable python shape. The dimension is tiny
    by construction (constrained vocabularies) — collect is correct here."""
    out: dict[str, list[tuple[str, str]]] = {}
    rows = field_options.select("field_name", "option_value", "option_label").collect()
    for r in rows:
        out.setdefault(r["field_name"], []).append((r["option_value"], r["option_label"]))
    # deterministic vocabulary order regardless of collect order
    for k in out:
        out[k].sort()
    return out


def map_select_column(
    df: DataFrame,
    value_col: str,
    field_col: str,
    field_options: DataFrame,
    out_col: str = "mapped_value",
) -> DataFrame:
    """Append ``out_col``: the vocabulary-mapped value (None when no match
    clears the cutoff; passthrough when the field has no vocabulary)."""
    spark = df.sparkSession
    vocab = vocab_dict(field_options)
    bc = spark.sparkContext.broadcast(vocab)

    @F.pandas_udf("string")
    def _map(values: pd.Series, fields: pd.Series) -> pd.Series:
        mapper = _mapper_for(bc)
        return pd.Series(
            [mapper.map(f, v) for v, f in zip(values, fields)], dtype="object"
        )

    return df.withColumn(out_col, _map(F.col(value_col), F.col(field_col)))


def map_select_single_vocab(
    df: DataFrame, value_col: str, options: list[tuple[str, str]], out_col: str = "mapped_value"
) -> DataFrame:
    """Single-vocabulary variant (one SELECT field)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast({"_": sorted(options)})

    @F.pandas_udf("string")
    def _map(values: pd.Series) -> pd.Series:
        mapper = _mapper_for(bc)
        return pd.Series([mapper.map("_", v) for v in values], dtype="object")

    return df.withColumn(out_col, _map(F.col(value_col)))


def score_select_column(
    df: DataFrame,
    value_col: str,
    options: list[tuple[str, str]],
    out_col: str = "scores",
) -> DataFrame:
    """Append ``out_col``: the full per-option score vector (``array<int>``,
    vocabulary order, no cutoff). Verification surface, not the hot path —
    |values| × |vocab| scores exist so an independent engine can re-apply
    the cutoff/top-k/tie-break selection over the exact same numbers."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(sorted(options))

    @F.pandas_udf("array<int>")
    def _scores(values: pd.Series) -> pd.Series:
        scorer = _scorer_for(bc)
        memo: dict[str, list[int]] = {}

        def of(v):
            if not v:
                return None
            got = memo.get(v)
            if got is None:
                got = memo[v] = scorer.score_all_fast(v)
            return got

        return pd.Series([of(v) for v in values])

    return df.withColumn(out_col, _scores(F.col(value_col)))

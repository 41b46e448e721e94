"""Vectorized fuzzy SELECT mapping — the similarity join (SURVEY.md J6).

The reference scores each OCR value against a per-field option vocabulary
(``ocr_backend/app/api/ocr_routes.py:31-166``). Relationally this is a theta
/similarity join: ``values ⋈_{score(v,label) ≥ 75} options``. The vocabulary
is tiny (a dimension table), so the distributed execution is:

  broadcast(vocab as a plain dict) → Arrow-batched pandas UDF computing the
  top-scoring option per value, memoized per distinct value.

The UDFs take the iterator-of-batches form: the mapper (with its memo and
prebuilt label states) is built once per task and freed when the task
ends, so a reused Python worker holds no vocabulary past its task.

No shuffle at all — the fact side streams through map tasks; this is the
broadcast-nested-loop-join plan Catalyst would pick, executed inside one
vectorized kernel where the scorer lives.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ocr_platform_spark.functions.fuzzy import CachedMapper, VocabScorer


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
    value_col: str | Column,
    field_col: str,
    field_options: DataFrame,
    out_col: str = "mapped_value",
) -> DataFrame:
    """Append ``out_col``: the vocabulary-mapped value (None when no match
    clears the cutoff or the value is null/empty; passthrough when the
    field has no vocabulary). ``value_col`` is a column name or a Column
    expression."""
    spark = df.sparkSession
    vocab = vocab_dict(field_options)
    bc = spark.sparkContext.broadcast(vocab)

    @F.pandas_udf("string")
    def _map(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        mapper = CachedMapper(bc.value)
        for values, fields in batches:
            yield pd.Series(
                [mapper.map(f, v) for v, f in zip(values, fields)], dtype="object"
            )

    return df.withColumn(out_col, _map(value_col, field_col))


def map_select_single_vocab(
    df: DataFrame, value_col: str, options: list[tuple[str, str]], out_col: str = "mapped_value"
) -> DataFrame:
    """Single-vocabulary variant (one SELECT field)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast({"_": sorted(options)})

    @F.pandas_udf("string")
    def _map(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        mapper = CachedMapper(bc.value)
        for values in batches:
            yield pd.Series([mapper.map("_", v) for v in values], dtype="object")

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
    def _scores(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scorer = VocabScorer(bc.value)
        memo: dict[str, list[int]] = {}

        def of(v):
            if not v:
                return None
            got = memo.get(v)
            if got is None:
                got = memo[v] = scorer.score_all_fast(v)
            return got

        for values in batches:
            yield pd.Series([of(v) for v in values])

    return df.withColumn(out_col, _scores(F.col(value_col)))

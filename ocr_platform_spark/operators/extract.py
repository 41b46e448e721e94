"""The extraction operator: whole-partition Arrow kernels, no per-row Python.

Replaces the reference's one-document-per-HTTP-request loop
(``ocr_backend/app/api/ocr_routes.py:485-738``: load → extract → convert →
persist, one doc at a time) with a single set-oriented ``mapInArrow`` pass:
each Python worker receives whole Arrow batches of ``(url, html)``, runs the
deterministic kernels, and emits result batches plus per-partition lineage
counters (north rule).

Scale notes
-----------
- The kernel cost is a function of ``length(html)``, which Catalyst cannot
  see — so skew handling is explicit: partitioning.py's
  ``repartition_for_extraction`` (the AQE-rebalanced url-hash partitioning)
  runs *before* this operator. Hot-host salting serves host-keyed
  aggregations, not extraction.
- Only ``url`` and ``html`` are shipped to Python (column pruning by
  explicit select); the parquet scan reads nothing else.
- ``cum_elapsed_ms`` is a per-partition running counter carried on rows so
  lineage can be derived with one hash aggregate (max per partition) without
  a second pass over the payloads.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ocr_platform_spark import EXTRACTOR_VERSION
from ocr_platform_spark.kernels import extract_payload
from ocr_platform_spark.schemas import EXTRACTED_ARROW

_EXTRACTED_DDL = (
    "url string, payload_kind string, text string, "
    "spans array<struct<field:string,start:int,end:int,value:string>>, "
    "error string, partition_id int, input_bytes bigint, cum_elapsed_ms bigint"
)


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    span_type = EXTRACTED_ARROW.field("spans").type
    struct_fields = list(span_type.value_type)
    elapsed_ns = 0
    for batch in batches:
        t0 = time.monotonic_ns()
        payloads = batch.column("html").to_pylist()
        n = len(payloads)
        kinds: list[str] = []
        texts: list[str] = []
        errors: list[str | None] = []
        nbytes: list[int] = []
        # flat span columns + list offsets: no per-span dict objects
        sp_field: list[str] = []
        sp_start: list[int] = []
        sp_end: list[int] = []
        sp_value: list[str] = []
        offsets: list[int] = [0]
        for data in payloads:
            kind, text, spans, err = extract_payload(data)
            kinds.append(kind)
            texts.append(text)
            errors.append(err)
            nbytes.append(len(data) if data else 0)
            for f, s, e, v in spans:
                sp_field.append(f)
                sp_start.append(s)
                sp_end.append(e)
                sp_value.append(v)
            offsets.append(len(sp_field))
        struct = pa.StructArray.from_arrays(
            [
                pa.array(sp_field, pa.string()),
                pa.array(sp_start, pa.int32()),
                pa.array(sp_end, pa.int32()),
                pa.array(sp_value, pa.string()),
            ],
            fields=struct_fields,
        )
        spans_arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
        elapsed_ns += time.monotonic_ns() - t0
        cum_ms = elapsed_ns // 1_000_000
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                spans_arr,
                pa.array(errors, pa.string()),
                pa.array([pid] * n, pa.int32()),
                pa.array(nbytes, pa.int64()),
                pa.array([cum_ms] * n, pa.int64()),
            ],
            schema=EXTRACTED_ARROW,
        )


def extract_documents(docs: DataFrame) -> DataFrame:
    """documents(url, warc_ts, html, ...) → extracted rows.

    Pure function of the payload bytes → byte-identical output at any
    parallelism. Input columns beyond (url, html) are pruned before the
    Python hop.
    """
    return docs.select("url", "html").mapInArrow(_extract_batches, _EXTRACTED_DDL)


def lineage_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (partition id, input count, bytes,
    extractor version, elapsed ms, run id) — FIXTURES.md §3, north rule.

    One hash aggregate; partial aggregation (map-side combine) makes this
    nearly free at scale."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("input_count"),
            F.sum("input_bytes").alias("input_bytes"),
            F.max("cum_elapsed_ms").alias("elapsed_ms"),
        )
        .select(
            "partition_id",
            "input_count",
            "input_bytes",
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            "elapsed_ms",
            F.lit(run_id).alias("run_id"),
        )
    )


def extraction_stats(extracted: DataFrame) -> DataFrame:
    """Corpus-level rollup used as the flagship aggregate (SURVEY §7.1)."""
    return (
        extracted.groupBy("payload_kind")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_text_chars"),
            F.sum(F.size(F.coalesce("spans", F.array()))).alias("total_spans"),
            F.count(F.col("error")).alias("n_errors"),
        )
        .orderBy("payload_kind")
    )

"""Declared schemas (no inference anywhere — mirrors the reference's fully
declarative models, ``ocr_backend/app/models/*``; SURVEY.md §1.1).

Both Spark ``StructType``s and the matching ``pyarrow`` schemas are declared
here because the extraction kernels run under ``mapInArrow`` and must emit
exactly the Arrow shape Spark expects.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# --- input: Common-Crawl-style documents (BASELINE.json input_hint) -------
DOCUMENTS_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=True),
        pa.field("html", pa.large_binary(), nullable=True),
        pa.field("text", pa.string(), nullable=True),
        pa.field("lang", pa.string(), nullable=True),
    ]
)

# golden companion columns (fixtures only, FIXTURES.md §4)
GOLDEN_ARROW = pa.schema(
    list(DOCUMENTS_ARROW)
    + [
        pa.field("expected_kind", pa.string()),
        pa.field("expected_text", pa.string()),
        pa.field("expected_error", pa.string()),
    ]
)

# --- output: extracted (FIXTURES.md §3; replaces the reference's EAV triple
# ocr_data/ocr_line_items/ocr_line_item_values with one wide nested row) ----
SPAN_STRUCT = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_bytes", T.LongType(), False),
        T.StructField("cum_elapsed_ms", T.LongType(), False),
    ]
)

SPAN_ARROW = pa.struct(
    [
        pa.field("field", pa.string(), nullable=False),
        pa.field("start", pa.int32(), nullable=False),
        pa.field("end", pa.int32(), nullable=False),
        pa.field("value", pa.string(), nullable=False),
    ]
)

EXTRACTED_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("payload_kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=True),
        pa.field("spans", pa.list_(SPAN_ARROW), nullable=True),
        pa.field("error", pa.string(), nullable=True),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("input_bytes", pa.int64(), nullable=False),
        pa.field("cum_elapsed_ms", pa.int64(), nullable=False),
    ]
)

# --- lineage: per-partition run metrics (north rule; FIXTURES.md §3) -------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_count", T.LongType(), False),
        T.StructField("input_bytes", T.LongType(), False),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("elapsed_ms", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

# --- template dimension tables (reference extraction schema; SURVEY §1.1b) -
TEMPLATE_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("template_id", T.IntegerType(), False),
        T.StructField("field_name", T.StringType(), False),
        T.StructField("field_order", T.IntegerType(), False),
        T.StructField("field_type", T.StringType(), False),
        T.StructField("ai_instructions", T.StringType(), True),
    ]
)

FIELD_OPTIONS_SCHEMA = T.StructType(
    [
        T.StructField("options_id", T.IntegerType(), False),
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("option_value", T.StringType(), False),
        T.StructField("option_label", T.StringType(), False),
    ]
)

# --- EAV view shape (parity with ocr_data / ocr_line_item_values) ----------
EAV_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("field_name", T.StringType(), False),
        T.StructField("row_index", T.IntegerType(), True),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("predicted_value", T.StringType(), True),
        T.StructField("actual_value", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)

# Reference default confidence (ocr_backend/app/config.py:30).
DEFAULT_CONFIDENCE = 0.8

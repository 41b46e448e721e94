"""Declared schemas (no inference anywhere — mirrors the reference's fully
declarative models, ``ocr_backend/app/models/*``; SURVEY.md §1.1).

The schemas are ``pyarrow`` schemas because the extraction kernels run
under ``mapInArrow`` and must emit exactly the Arrow shape Spark expects.
"""

from __future__ import annotations

import pyarrow as pa

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

# Reference default confidence (ocr_backend/app/config.py:30).
DEFAULT_CONFIDENCE = 0.8

"""Template/schema-driven document processing — the reference's flagship
``process_document_internal`` (``ocr_backend/app/api/ocr_routes.py:485-738``)
rebuilt set-oriented over extracted spans.

Reference flow (one document per HTTP request):
  extract fields named by the template → typed conversion per field_type →
  SELECT-vocabulary mapping → persist EAV rows + response dict carrying
  ``<field>``, ``<field>_original``, ``<field>_conversion_error``,
  ``<field>_mapped`` keys (``ocr_routes.py:592-596``).

Rebuild (one job, all documents):
  extracted spans (kernel output) ⋈ broadcast template dimension →
  ``convert_by_type`` column dispatch → broadcast-vocab fuzzy mapping →
  one wide nested row per url with a per-field struct
  ``(value, original, conversion_error, mapped)`` + the flat EAV
  persistence rows (``ocr_data`` parity: stringified values, DEFAULT
  confidence 0.8, ``config.py:30``).

Template model: each scalar field binds (field_name, source_tag,
occurrence, field_type) — "the Nth block of tag T"; a TABLE field binds
all occurrences of its tag as ordered rows (row_index = span order, W1)
with a per-row data_type — the reference's TABLE field as one column
per row (its multi-column sub-template fields are not rebuilt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_platform_spark.functions.conversions import convert_by_type
from ocr_platform_spark.operators.eav import unpivot_extracted
from ocr_platform_spark.operators.select_mapping import map_select_column
from ocr_platform_spark.schemas import DEFAULT_CONFIDENCE

TEMPLATE_FIELDS_DDL = (
    "field_name string, source_tag string, occurrence int, "
    "field_type string, field_order int"
)

def process_extracted(
    extracted: DataFrame,
    template_fields: DataFrame,
    field_options: DataFrame | None = None,
) -> DataFrame:
    """EAV result rows: one per (url, template field [, table row]).

    Columns mirror the reference's persisted ``ocr_data`` +
    response-metadata contract:
      value             converted, stringified (ocr_routes.py:585)
      original_value    raw extracted text (``*_original``)
      conversion_error  error-as-data (``*_conversion_error``)
      mapped_value      SELECT vocabulary mapping (``*_mapped``; null for
                        non-select fields or no-match)
      confidence        DEFAULT_OCR_CONFIDENCE (config.py:30)
    """
    eav = unpivot_extracted(extracted)

    scalar = template_fields.where(F.col("field_type") != "table")
    table = template_fields.where(F.col("field_type") == "table")

    # scalar: the Nth occurrence of the bound tag
    s = (
        eav.join(
            F.broadcast(scalar),
            (eav.field_name == scalar.source_tag)
            & (eav.row_index == scalar.occurrence),
        )
        .select(
            "url",
            template_fields.field_name.alias("out_field"),
            F.lit(None).cast("int").alias("row_index"),
            "field_order",
            "field_type",
            F.col("predicted_value").alias("original_value"),
        )
    )
    # table: every occurrence becomes an ordered row
    t = (
        eav.join(F.broadcast(table), eav.field_name == table.source_tag)
        .select(
            "url",
            template_fields.field_name.alias("out_field"),
            eav.row_index.alias("row_index"),
            "field_order",
            F.lit("string").alias("field_type"),  # sub-field data_type
            F.col("predicted_value").alias("original_value"),
        )
    )
    raw = s.unionByName(t)

    conv = convert_by_type(F.col("original_value"), F.col("field_type"))
    converted = raw.select(
        "url",
        F.col("out_field").alias("field_name"),
        "row_index",
        "field_order",
        "field_type",
        "original_value",
        conv.getField("value").alias("value"),
        conv.getField("error").alias("conversion_error"),
    )

    if field_options is not None:
        converted = map_select_column(
            converted, "value", "field_name", field_options, "mapped_value"
        )
        # reference maps only SELECT fields (ocr_routes.py:560-567)
        converted = converted.withColumn(
            "mapped_value",
            F.when(F.col("field_type") == "select", F.col("mapped_value")),
        )
    else:
        converted = converted.withColumn(
            "mapped_value", F.lit(None).cast("string")
        )
    return converted.withColumn("confidence", F.lit(DEFAULT_CONFIDENCE))


def wide_response(result_rows: DataFrame) -> DataFrame:
    """One row per url: ``fields`` map field_name → struct(value, original,
    conversion_error, mapped) (the reference's response dict with its
    ``*_original`` / ``*_conversion_error`` / ``*_mapped`` keys) + ordered
    ``tables`` map field_name → array of row values (table reconstruction,
    ``document_routes.py:11-63``)."""
    scalars = result_rows.where(F.col("row_index").isNull())
    tables = result_rows.where(F.col("row_index").isNotNull())

    wide_scalars = scalars.groupBy("url").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "field_name",
                        F.struct(
                            F.col("value"),
                            F.col("original_value").alias("original"),
                            F.col("conversion_error"),
                            F.col("mapped_value").alias("mapped"),
                        ).alias("v"),
                    )
                )
            )
        ).alias("fields")
    )
    wide_tables = tables.groupBy("url", "field_name").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("row_index", "value"))),
            lambda r: r["value"],
        ).alias("rows")
    ).groupBy("url").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("field_name", "rows")))
        ).alias("tables")
    )
    return wide_scalars.join(wide_tables, "url", "full_outer")

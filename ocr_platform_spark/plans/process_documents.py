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

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ocr_platform_spark.functions.conversions import convert_by_type
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

    Spans bind to template fields map-side: each extracted row meets the
    broadcast template, and per field ``filter(spans, s -> s.field = tag)``
    holds that tag's spans in span order. A scalar field takes element
    ``occurrence`` of it (no row when out of range), a table field takes
    every element with ``row_index`` = its position; one ``explode`` yields
    the rows. No window and no shuffle: the rows equal
    ``unpivot_extracted``'s per-(url, field) enumeration joined to the
    template whenever each url is one extracted row, as the extraction's
    output is.

    The rows come back persisted (MEMORY_AND_DISK) so that
    :func:`wide_response` and any other reader reuse them instead of
    re-running the scan and the SELECT UDF; the caller releases them with
    ``unpersist()``.
    """
    tmpl = template_fields.select(
        "field_name", "source_tag", "occurrence", "field_type", "field_order"
    )
    # hits is bound in its own projection: it is read up to three times
    # below, and a higher-order function is not collapsed into its readers
    bound = extracted.select("url", "spans").crossJoin(F.broadcast(tmpl)).select(
        "url",
        "field_name",
        "occurrence",
        "field_type",
        "field_order",
        F.filter("spans", lambda s: s["field"] == F.col("source_tag")).alias("_hits"),
    )
    hits, occ = F.col("_hits"), F.col("occurrence")
    is_table = F.col("field_type") == "table"
    cells = F.when(
        is_table,  # every occurrence becomes an ordered row
        F.transform(
            hits,
            lambda s, i: F.struct(
                i.alias("row_index"), s["value"].alias("original_value")
            ),
        ),
    ).when(
        # scalar: the Nth occurrence of the bound tag
        (F.col("field_type") != "table") & (occ >= 0) & (occ < F.size(hits)),
        F.array(
            F.struct(
                F.lit(None).cast("int").alias("row_index"),
                F.get(hits, occ)["value"].alias("original_value"),
            )
        ),
    )
    raw = bound.select(
        "url",
        "field_name",
        "field_order",
        # sub-field data_type of a table row
        F.when(is_table, F.lit("string")).otherwise(F.col("field_type")).alias("field_type"),
        F.explode(cells).alias("c"),
    )

    conv = convert_by_type(F.col("c.original_value"), F.col("field_type"))
    converted = raw.select(
        "url",
        "field_name",
        F.col("c.row_index").alias("row_index"),
        "field_order",
        "field_type",
        F.col("c.original_value").alias("original_value"),
        conv.getField("value").alias("value"),
        conv.getField("error").alias("conversion_error"),
    )

    if field_options is not None:
        # reference maps only SELECT fields (ocr_routes.py:560-567); other
        # rows reach the mapper as null, which it maps to null
        converted = map_select_column(
            converted,
            F.when(F.col("field_type") == "select", F.col("value")),
            "field_name",
            field_options,
            "mapped_value",
        )
    else:
        converted = converted.withColumn(
            "mapped_value", F.lit(None).cast("string")
        )
    return converted.withColumn("confidence", F.lit(DEFAULT_CONFIDENCE)).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def wide_response(result_rows: DataFrame) -> DataFrame:
    """One row per url: ``fields`` map field_name → struct(value, original,
    conversion_error, mapped) (the reference's response dict with its
    ``*_original`` / ``*_conversion_error`` / ``*_mapped`` keys) + ordered
    ``tables`` map field_name → array of row values (table reconstruction,
    ``document_routes.py:11-63``).

    One ``groupBy(url)`` collects each url's cells once; scalar cells
    (``row_index`` null) build ``fields`` and the rest build ``tables``.
    Both maps are key-sorted and each table's rows are sorted by
    ``row_index``; a column is null when the url has no cells of its
    kind."""
    cells = result_rows.groupBy("url").agg(
        F.collect_list(
            F.struct(
                "field_name",
                "row_index",
                "value",
                "original_value",
                "conversion_error",
                "mapped_value",
            )
        ).alias("_cells")
    )
    # each url's cells sorted once per kind: (field_name, v) entries, and
    # (field_name, row_index, value) triples — fields ascending, each
    # table's rows in row_index order
    scalars = F.sort_array(
        F.transform(
            F.filter("_cells", lambda c: c["row_index"].isNull()),
            lambda c: F.struct(
                c["field_name"].alias("field_name"),
                F.struct(
                    c["value"].alias("value"),
                    c["original_value"].alias("original"),
                    c["conversion_error"].alias("conversion_error"),
                    c["mapped_value"].alias("mapped"),
                ).alias("v"),
            ),
        )
    )
    rows = F.sort_array(
        F.transform(
            F.filter("_cells", lambda c: c["row_index"].isNotNull()),
            lambda c: F.struct(
                c["field_name"].alias("field_name"),
                c["row_index"].alias("row_index"),
                c["value"].alias("value"),
            ),
        )
    )
    names = F.array_distinct(F.transform("_rows", lambda c: c["field_name"]))
    tables = F.map_from_arrays(
        names,
        F.transform(
            names,
            lambda k: F.transform(
                F.filter("_rows", lambda c: c["field_name"] == k), lambda c: c["value"]
            ),
        ),
    )
    return cells.select(
        "url", scalars.alias("_scalars"), rows.alias("_rows")
    ).select(
        "url",
        F.when(F.size("_scalars") > 0, F.map_from_entries("_scalars")).alias("fields"),
        F.when(F.size("_rows") > 0, tables).alias("tables"),
    )

"""EAV ⇄ nested-wide reshaping (SURVEY.md §2.10 V1/V2).

The reference stores extraction results in EAV layout — one row per
(document, field) in ``ocr_data`` and one per (line-item, sub-field) in
``ocr_line_item_values`` (``ocr_backend/app/models/ocr_data.py:4-14``,
``ocr_line_item_value.py:4-14``) — and reassembles wide dicts on read
(``document_routes.py:416-446``). The rebuild keeps ONE wide nested row per
url and derives the EAV view by explode (V1) / rebuilds the wide shape by
group-aggregation (V2): no N+1 query pattern, one shuffle each way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_platform_spark.schemas import DEFAULT_CONFIDENCE


def unpivot_extracted(extracted: DataFrame) -> DataFrame:
    """V1: wide nested → EAV rows, one per span.

    ``row_index`` enumerates spans per (url, field) in span order — the
    reference's row_index assignment (W1, ``ocr_routes.py:625-631``):
    ``posexplode`` gives each span's position, and a ``row_number`` window
    partitioned by (url, field) and ordered by it numbers each field's
    spans. That window costs a hash shuffle on (url, field). The template
    path (plans/process_documents.py) does not use this view: it numbers
    each field's spans inside the row with ``filter`` and needs no
    shuffle."""
    exploded = extracted.select(
        "url", F.posexplode_outer("spans").alias("pos", "span")
    ).where(F.col("span").isNotNull())
    w = F.row_number().over(
        Window.partitionBy("url", F.col("span.field")).orderBy("pos")
    )
    return exploded.select(
        "url",
        F.col("span.field").alias("field_name"),
        (w - F.lit(1)).cast("int").alias("row_index"),
        F.lit(None).cast("string").alias("column_name"),
        F.col("span.value").alias("predicted_value"),
        F.lit(None).cast("string").alias("actual_value"),
        F.lit(DEFAULT_CONFIDENCE).alias("confidence"),
    )


def canonical_value() -> F.Column:
    """The read-side value: human correction wins over prediction
    (``coalesce(actual_value, predicted_value)``, document_routes.py:430)."""
    return F.coalesce(F.col("actual_value"), F.col("predicted_value"))


def rows_nested(eav: DataFrame) -> DataFrame:
    """V2: table-field EAV rows → ordered nested rows per (url, field) —
    the reference's table reconstruction (``document_routes.py:11-63``:
    ORDER BY row_index + per-cell relationship walk) as one
    ``sort_array(collect_list(struct(...)))`` hash aggregate (A9/O1)."""
    return (
        eav.groupBy("url", "field_name")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("row_index"), canonical_value().alias("value")
                        )
                    )
                ),
                lambda s: s["value"],
            ).alias("rows")
        )
    )

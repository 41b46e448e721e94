"""Human-correction overlay + MERGE-on-read (SURVEY.md J5, §2.11 reprocess).

The reference lets a reviewer overwrite a single field's value by mutating
``actual_value`` in place (``ocr_backend/app/api/document_routes.py:487-533``:
find the OCRData row by (document, field), set ``actual_value``, commit) and
reads it back with correction-wins semantics
(``document_routes.py:416-446``).

In-place row mutation doesn't exist in an immutable-snapshot table, so the
rebuild models corrections the way Iceberg models MERGE: corrections are an
*append-only overlay table* (one row per correction event, timestamped), and
the read side resolves

    latest correction per key  →  coalesce(correction, actual, predicted)

with one broadcast join — corrections are human-made, i.e. always a tiny
dimension next to the extraction facts, so the overlay costs no shuffle at
any corpus scale.

Key identity matches the reference's EAV layout: scalar fields are
(url, field_name) with null row_index/column_name (``ocr_data.py:4-14``);
table cells are (url, field_name, row_index, column_name)
(``ocr_line_item_value.py:4-14``). Null-safe equality everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ocr_platform_spark.operators.resume import SnapshotTable

#: The EAV row identity a correction addresses.
CORRECTION_KEYS = ["url", "field_name", "row_index", "column_name"]

CORRECTIONS_DDL = (
    "url string, field_name string, row_index int, column_name string, "
    "corrected_value string, corrected_at timestamp"
)


def latest_corrections(corrections: DataFrame) -> DataFrame:
    """One winning correction per EAV key: last write wins
    (max ``corrected_at``; ties broken by value for determinism — the
    reference's serial HTTP writes can't tie, concurrent engines can)."""
    w = Window.partitionBy(*CORRECTION_KEYS).orderBy(
        F.desc("corrected_at"), F.desc("corrected_value")
    )
    return (
        corrections.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_corrections(eav: DataFrame, corrections: DataFrame) -> DataFrame:
    """MERGE-shaped overlay, resolved at read time.

    Returns ``eav`` with ``actual_value`` filled from the latest matching
    correction (a correction beats any previously-stored actual_value, which
    beats the prediction — exactly the reference's overwrite-then-coalesce
    lifecycle). Rows without a correction pass through unchanged; correction
    rows addressing keys absent from ``eav`` are ignored (the reference 404s
    those, ``document_routes.py:536-541``)."""
    latest = latest_corrections(corrections).select(
        *[F.col(k).alias(f"_c_{k}") for k in CORRECTION_KEYS],
        F.col("corrected_value").alias("_c_value"),
    )
    cond = None
    for k in CORRECTION_KEYS:
        clause = F.col(k).eqNullSafe(F.col(f"_c_{k}"))
        cond = clause if cond is None else (cond & clause)
    out_cols = eav.columns
    return (
        eav.join(F.broadcast(latest), cond, "left")
        .withColumn("actual_value", F.coalesce(F.col("_c_value"), F.col("actual_value")))
        .select(*out_cols)
    )


class CorrectionStore:
    """Append-only correction log with snapshot-commit semantics.

    Each batch of corrections commits as one snapshot (idempotent on
    run_id — a replayed submission can't double-apply); ``overlay`` returns
    the full correction history for :func:`apply_corrections` /
    :func:`latest_corrections` to resolve."""

    def __init__(self, path: str) -> None:
        self.table = SnapshotTable(path)

    def submit(self, corrections: DataFrame, run_id: str) -> dict:
        if not self.table.is_committed(run_id):
            self.table.stage_data(corrections, run_id)
        lineage = corrections.groupBy().agg(F.count("*").alias("input_count")).select(
            F.lit(-1).alias("partition_id"),
            "input_count",
            F.lit(0).cast("long").alias("input_bytes"),
            F.lit("corrections-v1").alias("extractor_version"),
            F.lit(0).cast("long").alias("elapsed_ms"),
            F.lit(run_id).alias("run_id"),
        )
        return self.table.commit(lineage, run_id)

    def overlay(self, spark: SparkSession) -> DataFrame | None:
        return self.table.read_data(spark)

    def corrected(self, eav: DataFrame) -> DataFrame:
        """``eav`` with every committed correction applied."""
        overlay = self.overlay(eav.sparkSession)
        if overlay is None:
            return eav
        return apply_corrections(eav, overlay)

"""The flagship extraction job (SURVEY.md §3.1 rebuilt set-oriented).

Reference lifecycle (one document per blocking HTTP request,
``ocr_backend/app/api/ocr_routes.py:485-738``):
  load → status=PROCESSING → extract (remote LLM) → convert → map SELECTs →
  persist EAV rows → status=PROCESSED.

Rebuild (one Spark job, any number of documents):
  read documents → LEFT ANTI committed urls (resume) → AQE-rebalanced
  url-hash repartition (skew) → mapInArrow extraction kernel **fused with
  the parquet write** (single pass over payloads, no caching) → lineage
  derived from the written columnar data (reads only the three small
  carrier columns) → atomic snapshot commit.

Why fused: caching the extracted rows (text + span structs) deserialized
in the JVM costs more than the kernel itself (measured ~3× at 120k docs)
and would be impossible at 10^12 docs. The committed parquet IS the cache;
lineage and the row count come from one column-pruned scan of it (<2% of
the write), collected to the driver as one row per partition.

Plan shape at 100 TB: the only wide payload movement is the single
repartition before the kernel (balanced task budgets under skew);
the anti-join ships only urls; the lineage aggregate reads three int64
columns from the just-written snapshot; the write is partition-parallel
with one driver-side commit point.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ocr_platform_spark.operators.extract import (
    extract_documents,
    lineage_from_extracted,
)
from ocr_platform_spark.operators.partitioning import repartition_for_extraction
from ocr_platform_spark.operators.resume import SnapshotTable, pending_documents


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    table_path: str,
    run_id: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Extract all not-yet-committed documents into the snapshot table.

    Returns run metrics. Idempotent: re-running after success is a no-op;
    re-running after a crash picks up exactly the uncommitted remainder.

    The pending rows are url-hash rebalanced (AQE picks the task count
    from shuffled bytes) unless ``num_partitions`` fixes the count; the
    metrics name the partitioner that ran (``"rebalance"`` or ``"hash"``).

    The metrics come from the lineage rows, collected once: ``rows`` (their
    ``input_count`` sum), ``partitions`` (kernel tasks that saw input) and
    ``kernel_s`` (summed per-partition kernel time)."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    table = SnapshotTable(table_path)
    t0 = time.monotonic()

    if table.is_committed(run_id):
        return {
            "run_id": run_id,
            "rows": -1,
            "elapsed_sec": 0.0,
            "committed": True,
            "partitioner": "none",
        }

    pending = pending_documents(docs, table, "url")
    partitioner = "rebalance" if num_partitions is None else "hash"
    extracted = extract_documents(repartition_for_extraction(pending, num_partitions))

    # Single pass: kernel output streams straight into the snapshot's data
    # files (no persist of payload-sized rows).
    table.stage_data(extracted, run_id)

    # Lineage from the written snapshot: column-pruned scan of
    # (partition_id, input_bytes, cum_elapsed_ms) only, one row per
    # partition. Cached in one partition, so one scan feeds both the
    # collected metrics (the row count among them) and the one lineage file.
    lineage = lineage_from_extracted(table.read_staged(spark, run_id), run_id).coalesce(1).cache()
    lineage_rows = lineage.collect()
    metrics = {
        "run_id": run_id,
        "rows": sum(r["input_count"] for r in lineage_rows),
        "partitions": len(lineage_rows),
        "kernel_s": sum(r["elapsed_ms"] for r in lineage_rows) / 1000,
        "partitioner": partitioner,
    }
    try:
        if lineage_rows:
            table.commit(lineage, run_id)
        else:
            table.discard_staged(run_id)
    finally:
        lineage.unpersist()
    return {**metrics, "elapsed_sec": time.monotonic() - t0, "committed": bool(lineage_rows)}

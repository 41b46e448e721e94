"""Materialized-oracle staging: write an intermediate DataFrame to parquet
so an independent SQL engine can verify the downstream computation over the
exact same bytes.

Several catalog queries run kernels no SQL engine can reproduce (the
mapInArrow extraction kernel, xxhash64 MinHash/SimHash). Their *downstream*
relational logic — aggregation, joins, verification math, top-k selection —
is absolutely SQL-expressible. Staging splits the query at that boundary:

    kernel (Spark-only)  →  parquet stage  →  relational tail
                                              ├─ Spark (the catalog query)
                                              └─ DuckDB (the oracle SQL)

so the driver's rows+schema+hash gate covers everything after the kernel,
and the kernel itself stays pinned by the pytest golden fixtures
(tests/test_extraction.py, test_dedup.py).

The stage directory is fixed per query name and overwritten on every
invocation; the Spark side always runs (and therefore stages) before the
oracle SQL is executed — both the in-repo harness (oracle.check_query
evaluates the Spark frame first) and the driver compare that way. Writes go
through ``repartition(1)``: these stages are small verification tables
(candidate pairs, signatures, per-doc stats — never the corpus), and a
single part file is written even for an empty result, which keeps
``read_parquet`` well-defined on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

STAGE_ROOT = os.environ.get("OCR_SPARK_STAGE_DIR", "/tmp/ocr_platform_spark_stage")


def stage(df: DataFrame, name: str, partitions: int = 1) -> DataFrame:
    """Materialize ``df`` under the stage root and return a fresh reader of
    the written files (so every downstream branch scans parquet instead of
    recomputing the kernel — the persist-via-storage pattern of
    plans/corpus_build.py, shared with the oracle)."""
    path = os.path.join(STAGE_ROOT, name)
    df.repartition(partitions).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def staged_glob(name: str) -> str:
    """The ``read_parquet`` glob the oracle SQL uses for a staged table."""
    return os.path.join(STAGE_ROOT, name, "*.parquet")

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``ocr_platform_spark/queries.py`` — one named
(Spark, DuckDB-oracle) pair per operator family of SURVEY.md §2. Kernel-
backed queries (Arrow extraction, MinHash/SimHash LSH, fuzzy mapper,
PDF/XLSX rendering) split at a staged-parquet
boundary (ocr_platform_spark/staging.py) so DuckDB verifies the relational
tail over the exact same bytes; the only rows-only entry left is
``host_cardinality`` (HLL sketch values are engine-specific by nature).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule extraction pipeline (synthetic Common-Crawl
    corpus → mapInArrow kernels → per-kind stats) side by side with a
    curation rollup of the driver's sf0.001 documents table."""
    from ocr_platform_spark.operators.corpus_spark import documents_df
    from ocr_platform_spark.operators.extract import extract_documents, extraction_stats
    from ocr_platform_spark.session import ensure_shipped

    ensure_shipped(spark)

    stats = extraction_stats(extract_documents(documents_df(spark, 500))).select(
        F.lit("extraction").alias("side"),
        F.col("payload_kind").alias("key"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_text_chars").cast("long").alias("total_chars"),
    )
    docs = spark.read.parquet(f"{_SF0001}/documents.parquet")
    rollup = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(F.length("text")).alias("total_chars")
    ).select(
        F.lit("corpus").alias("side"),
        F.col("lang").alias("key"),
        F.col("n_docs").cast("long"),
        F.col("total_chars").cast("long"),
    )
    return stats.unionByName(rollup).orderBy("side", "key")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_platform_spark.queries import queries as _q

    return _q()


def oracle_sql() -> dict[str, str]:
    from ocr_platform_spark.queries import oracle_sql as _o

    return _o()

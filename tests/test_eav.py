"""EAV ⇄ nested reshaping round-trip (V1/V2) on extracted output."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_platform_spark.operators import eav
from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.extract import extract_documents


def test_unpivot_pivot_roundtrip(spark):
    ext = extract_documents(documents_df(spark, 120)).cache()
    rows = eav.unpivot_extracted(ext).cache()

    # every span became exactly one EAV row
    n_spans = ext.select(F.sum(F.size(F.coalesce("spans", F.array())))).first()[0]
    assert rows.count() == n_spans

    # row_index enumerates per (url, field) from 0 contiguously
    chk = (
        rows.groupBy("url", "field_name")
        .agg(F.min("row_index").alias("lo"), F.max("row_index").alias("hi"), F.count("*").alias("n"))
        .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
        .count()
    )
    assert chk == 0

    # nested rows view preserves order
    nested = eav.rows_nested(rows.where(F.col("field_name") == "p"))
    one = nested.where(F.size("rows") >= 2).first()
    if one is not None:
        url, vals = one["url"], one["rows"]
        src = rows.where((F.col("url") == url) & (F.col("field_name") == "p")).orderBy("row_index").collect()
        assert [s["predicted_value"] for s in src] == vals
    ext.unpersist()
    rows.unpersist()


def test_canonical_value_coalesce(spark):
    df = spark.createDataFrame(
        [("u", "f", 0, None, "pred", "actual", 0.8), ("u", "g", 0, None, "pred", None, 0.8)],
        "url string, field_name string, row_index int, column_name string, "
        "predicted_value string, actual_value string, confidence double",
    )
    got = {r["field_name"]: r["v"] for r in df.select("field_name", eav.canonical_value().alias("v")).collect()}
    assert got == {"f": "actual", "g": "pred"}  # human correction wins

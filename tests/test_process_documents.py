"""End-to-end template-driven processing: the reference's flagship flow
(extract → convert → map → EAV + wide response with *_original /
*_conversion_error / *_mapped metadata) on the synthetic corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.extract import extract_documents
from ocr_platform_spark.plans.process_documents import (
    TEMPLATE_FIELDS_DDL,
    process_extracted,
    wide_response,
)

_TEMPLATE = [
    # (field_name, source_tag, occurrence, field_type, field_order)
    ("PAGE_TITLE", "h1", 0, "text", 1),
    ("FIRST_PARAGRAPH", "p", 0, "text", 2),
    ("TITLE_AS_NUMBER", "h1", 0, "number", 3),   # never parses → error path
    ("VENDOR_NAME", "h1", 0, "select", 4),       # fuzzy-mapped to vocab
    ("BULLET_POINTS", "li", 0, "table", 5),      # all li rows, ordered
]


def _template(spark):
    return spark.createDataFrame(_TEMPLATE, TEMPLATE_FIELDS_DDL)


def test_process_extracted_contract(spark):
    docs = documents_df(spark, 150, golden=True).cache()
    ext = extract_documents(docs).cache()

    # vocabulary: the true page titles of the first 30 docs → exact matches
    titles = [
        r["t"]
        for r in ext.select(
            F.expr("try_element_at(spans, 1).value").alias("t"),
            F.expr("try_element_at(spans, 1).field").alias("f"),
        ).where(F.col("f") == "h1").limit(30).collect()
    ]
    field_options = spark.createDataFrame(
        [("VENDOR_NAME", f"V{i:03d}", t) for i, t in enumerate(titles)],
        "field_name string, option_value string, option_label string",
    )

    rows = process_extracted(ext, _template(spark), field_options).cache()

    # every html doc with an h1 yields a PAGE_TITLE row whose original is the heading
    titles_rows = rows.where(F.col("field_name") == "PAGE_TITLE")
    assert titles_rows.count() > 0
    assert titles_rows.where(F.col("value") != F.col("original_value")).count() == 0
    assert titles_rows.where(F.col("conversion_error").isNotNull()).count() == 0

    # number conversion of a title: error carried, original kept (safe-convert)
    numf = rows.where(F.col("field_name") == "TITLE_AS_NUMBER")
    assert numf.where(F.col("conversion_error").isNull()).count() == 0
    assert numf.where(F.col("value") != F.col("original_value")).count() == 0

    # select mapping: docs whose title is in the vocab map to its option_value
    sel = rows.where(F.col("field_name") == "VENDOR_NAME")
    mapped = sel.where(F.col("mapped_value").isNotNull())
    assert mapped.count() >= 30  # at least the 30 vocab members match themselves
    assert mapped.where(~F.col("mapped_value").rlike("^V[0-9]{3}$")).count() == 0
    # non-select fields never carry a mapping
    assert rows.where(
        (F.col("field_type") != "select") & F.col("mapped_value").isNotNull()
    ).count() == 0

    # table rows are contiguous from 0 per url
    tbl = rows.where(F.col("field_name") == "BULLET_POINTS")
    bad = (
        tbl.groupBy("url")
        .agg(F.min("row_index").alias("lo"), F.max("row_index").alias("hi"), F.count("*").alias("n"))
        .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
        .count()
    )
    assert bad == 0

    # confidence default (config.py:30 parity)
    assert rows.where(F.col("confidence") != 0.8).count() == 0

    # wide response carries the metadata struct + ordered table rows
    wide = wide_response(rows)
    one = wide.where(F.col("fields").isNotNull()).first()
    fields = one["fields"]
    assert "PAGE_TITLE" in fields
    assert fields["TITLE_AS_NUMBER"]["conversion_error"] is not None
    assert fields["TITLE_AS_NUMBER"]["original"] == fields["PAGE_TITLE"]["value"]
    docs.unpersist()
    ext.unpersist()
    rows.unpersist()


def test_wide_response_table_order(spark):
    ext = extract_documents(documents_df(spark, 80)).cache()
    rows = process_extracted(ext, _template(spark))
    wide = wide_response(rows)
    sample = wide.where(F.col("tables").isNotNull()).limit(5).collect()
    eav = rows.where(F.col("field_name") == "BULLET_POINTS").cache()
    for r in sample:
        got = list(r["tables"].get("BULLET_POINTS", []))
        src = [
            x["value"]
            for x in eav.where(F.col("url") == r["url"]).orderBy("row_index").collect()
        ]
        assert got == src
    ext.unpersist()
    eav.unpersist()

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

    rows = process_extracted(ext, _template(spark), field_options)  # persisted

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
    rows.unpersist()


# --- the route process_extracted / wide_response replaced, kept as a
# reference: unpivot (posexplode + row_number window) joined to the
# template (a scalar join and a table join, unioned), the SELECT mask
# applied after the UDF, and three aggregations with a full outer join


def _process_extracted_reference(extracted, template_fields, field_options=None):
    from ocr_platform_spark.functions.conversions import convert_by_type
    from ocr_platform_spark.operators.eav import unpivot_extracted
    from ocr_platform_spark.operators.select_mapping import map_select_column

    eav = unpivot_extracted(extracted)
    scalar = template_fields.where(F.col("field_type") != "table")
    table = template_fields.where(F.col("field_type") == "table")
    s = eav.join(
        F.broadcast(scalar),
        (eav.field_name == scalar.source_tag) & (eav.row_index == scalar.occurrence),
    ).select(
        "url",
        template_fields.field_name.alias("out_field"),
        F.lit(None).cast("int").alias("row_index"),
        "field_order",
        "field_type",
        F.col("predicted_value").alias("original_value"),
    )
    t = eav.join(F.broadcast(table), eav.field_name == table.source_tag).select(
        "url",
        template_fields.field_name.alias("out_field"),
        eav.row_index.alias("row_index"),
        "field_order",
        F.lit("string").alias("field_type"),
        F.col("predicted_value").alias("original_value"),
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
        ).withColumn(
            "mapped_value",
            F.when(F.col("field_type") == "select", F.col("mapped_value")),
        )
    else:
        converted = converted.withColumn("mapped_value", F.lit(None).cast("string"))
    return converted.withColumn("confidence", F.lit(0.8))


def _wide_response_reference(result_rows):
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


_EDGE_TEMPLATE = [
    ("PAGE_TITLE", "h1", 0, "text", 1),
    ("SECOND_TITLE", "h1", 1, "text", 2),   # a tag that repeats in a doc
    ("PAST_END", "h1", 5, "text", 3),       # occurrence past the last span
    ("NEGATIVE", "h1", -1, "text", 4),      # negative occurrence
    ("NO_OCCURRENCE", "h1", None, "text", 5),
    ("THIRD_AS_NUMBER", "h1", 2, "number", 6),
    ("VENDOR_NAME", "h1", 0, "select", 7),
    ("FREEFORM", "p", 0, "select", 8),      # SELECT with no vocabulary: passthrough
    ("BULLET_POINTS", "li", 0, "table", 9),
    ("MISSING_TABLE", "dt", 0, "table", 10),  # table tag no doc carries
]
_SPANS_DDL = "url string, spans array<struct<field:string,start:int,end:int,value:string>>"


def _edge_extracted(spark):
    def sp(field, value):
        return (field, 0, len(value), value)

    rows = [
        ("u_null_spans", None),
        ("u_empty_spans", []),
        ("u_null_element", [None, sp("h1", "Alpha Beta"), None, sp("p", "para one")]),
        (
            "u_repeats",
            [
                sp("h1", "Title One"),
                sp("li", "first"),
                sp("h1", "Title Two"),
                sp("li", "second"),
                sp("p", "body"),
                sp("li", "third"),
                sp("h1", "3.5"),
                sp("p", "tail"),
            ],
        ),
        ("u_no_table", [sp("h1", "Titel One"), sp("p", "only")]),
        ("u_no_h1", [sp("p", "orphan"), sp("li", "lonely")]),
    ]
    return spark.createDataFrame(rows, _SPANS_DDL)


def _rows_of(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _wide_json(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "url", F.to_json("fields").alias("f"), F.to_json("tables").alias("t")
        ).collect()
    )


def test_process_extracted_equals_reference_route(spark):
    """The map-side binding, the select-only UDF input and the one-groupBy
    wide form reproduce the window/join route row for row, on edge cases
    (null/empty spans, null span elements, out-of-range and negative
    occurrences, repeated tags, a missing table tag, a SELECT with no
    vocabulary) and on extracted synthetic pages."""
    template = spark.createDataFrame(_EDGE_TEMPLATE, TEMPLATE_FIELDS_DDL)
    options = spark.createDataFrame(
        [("VENDOR_NAME", "V1", "Title One"), ("VENDOR_NAME", "V2", "Alpha Beta")],
        "field_name string, option_value string, option_label string",
    )
    pages = extract_documents(documents_df(spark, 60)).select("url", "spans").cache()
    for extracted, tmpl in (
        (_edge_extracted(spark), template),
        (pages, template),
        (pages, _template(spark)),
    ):
        for opts in (options, None):
            rows = process_extracted(extracted, tmpl, opts)
            ref = _process_extracted_reference(extracted, tmpl, opts)
            assert rows.schema.simpleString() == ref.schema.simpleString()
            got = _rows_of(rows)
            assert got and got == _rows_of(ref)
            assert _wide_json(wide_response(rows)) == _wide_json(
                _wide_response_reference(ref)
            )
            rows.unpersist()
    pages.unpersist()
    # the edge corpus exercises what it claims to
    rows = process_extracted(_edge_extracted(spark), template, options)
    by = {(r["url"], r["field_name"], r["row_index"]): r for r in rows.collect()}
    rows.unpersist()
    assert by[("u_repeats", "SECOND_TITLE", None)]["original_value"] == "Title Two"
    assert by[("u_repeats", "THIRD_AS_NUMBER", None)]["value"] == "3.5"
    assert by[("u_repeats", "VENDOR_NAME", None)]["mapped_value"] == "V1"
    assert by[("u_no_table", "VENDOR_NAME", None)]["mapped_value"] == "V1"
    assert by[("u_repeats", "FREEFORM", None)]["mapped_value"] == "body"
    assert by[("u_null_element", "PAGE_TITLE", None)]["original_value"] == "Alpha Beta"
    assert [by[("u_repeats", "BULLET_POINTS", i)]["value"] for i in range(3)] == [
        "first", "second", "third"
    ]
    assert not any(k[1] in ("PAST_END", "NEGATIVE", "NO_OCCURRENCE", "MISSING_TABLE") for k in by)
    assert not any(k[0] in ("u_null_spans", "u_empty_spans") for k in by)


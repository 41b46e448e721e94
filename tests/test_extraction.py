"""Spark-side extraction: golden byte-identity (the north-rule invariant),
parallelism invariance, lineage accounting, skew machinery."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_platform_spark.corpus import gen_doc
from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.extract import (
    extract_documents,
    extraction_stats,
    lineage_from_extracted,
)
from ocr_platform_spark.operators.partitioning import (
    detect_hot_hosts,
    per_host_stats,
    repartition_for_extraction,
)

N = 800


def test_generator_is_pure():
    a, b = gen_doc(7), gen_doc(7)
    assert a == b
    assert gen_doc(8)["url"] != a["url"]


def test_corpus_generation_parallelism_independent(spark):
    a = documents_df(spark, 200, num_partitions=2).orderBy("url").collect()
    b = documents_df(spark, 200, num_partitions=7).orderBy("url").collect()
    assert a == b


def test_golden_byte_identity(spark):
    docs = documents_df(spark, N, golden=True).cache()
    ext = extract_documents(repartition_for_extraction(docs, 8))
    j = ext.join(docs.select("url", "expected_text", "expected_error"), "url")
    bad = j.where(
        (F.col("text") != F.col("expected_text"))
        | ~F.col("error").eqNullSafe(F.col("expected_error"))
    ).count()
    assert bad == 0
    assert j.count() == N
    docs.unpersist()


def _output_fingerprint(spark, nparts):
    ext = extract_documents(
        repartition_for_extraction(documents_df(spark, 300), nparts)
    )
    return (
        ext.select(
            F.md5(
                F.concat_ws(
                    "\x01", "url", "payload_kind",
                    F.coalesce("text", F.lit("")), F.coalesce("error", F.lit("")),
                )
            ).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)")))
        .first()[0]
    )


def test_extraction_parallelism_invariant(spark):
    assert _output_fingerprint(spark, 3) == _output_fingerprint(spark, 17)


def test_lineage_accounts_every_row(spark):
    docs = documents_df(spark, N)
    ext = extract_documents(repartition_for_extraction(docs, 8)).cache()
    lin = lineage_from_extracted(ext, "t-run")
    agg = lin.agg(
        F.sum("input_count").alias("n"), F.sum("input_bytes").alias("b")
    ).first()
    assert agg["n"] == N
    expected_bytes = docs.select(F.sum(F.length("html"))).first()[0]
    assert agg["b"] == expected_bytes
    assert lin.where(F.col("run_id") != "t-run").count() == 0
    ext.unpersist()


def test_extraction_stats_shape(spark):
    stats = extraction_stats(
        extract_documents(documents_df(spark, 300))
    ).collect()
    kinds = {r["payload_kind"] for r in stats}
    assert "html" in kinds and "pdf" in kinds
    assert sum(r["n_docs"] for r in stats) == 300


def test_hot_hosts_and_salted_agg(spark):
    docs = documents_df(spark, N).cache()
    hot = detect_hot_hosts(docs, 0.05)
    assert "site-00.example.org" in hot  # Zipf head must be detected
    stats = per_host_stats(docs, hot).collect()
    assert sum(r["n_docs"] for r in stats) == N
    assert stats[0]["host"] == "site-00.example.org"  # ordered by freq
    docs.unpersist()


def test_extraction_plan_is_arrow_not_rowudf(spark):
    plan = extract_documents(documents_df(spark, 10))._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_span_audit_all_ok(spark):
    """The span contract holds for every field of every payload kind:
    pointer spans are byte-exact ordered substrings, typed sitemap
    metadata spans alias their owning loc offsets (extract_span_audit's
    cross-engine twin checks the same rollup values match DuckDB)."""
    from ocr_platform_spark.queries import CATALOG

    rows = CATALOG["extract_span_audit"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 8  # html blocks + pdf lines + feed + sitemap fields
    fields = {r["field"] for r in rows}
    assert {"p", "h1", "line", "loc", "lastmod", "changefreq"} <= fields
    for r in rows:
        assert r["n_ok"] == r["n_spans"], (r["field"], r["n_ok"], r["n_spans"])


def test_lineage_audit_totals(spark):
    """The lineage rollup's grand-total row equals the per-partition sum
    and the corpus size (the north rule's resumability bookkeeping)."""
    from ocr_platform_spark.queries import CATALOG

    rows = CATALOG["extract_lineage_audit"].fn(spark, "/root/testdata/sf0.001").collect()
    total = [r for r in rows if r["partition_id"] == -1]
    parts = [r for r in rows if r["partition_id"] >= 0]
    assert len(total) == 1 and len(parts) >= 2
    assert total[0]["input_count"] == sum(r["input_count"] for r in parts) == 400
    assert total[0]["input_bytes"] == sum(r["input_bytes"] for r in parts) > 0

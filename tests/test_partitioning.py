"""Partitioning/skew operators: balance quality on the Zipf corpus,
hot-host detection, salted-aggregation correctness, big-payload stress
through byte-bounded Arrow batches, and the host rule's Spark/DuckDB
parity (host_of ≡ HOST_SQL)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.partitioning import (
    detect_hot_hosts,
    per_host_stats,
    repartition_for_extraction,
    with_salted_host,
)


def test_url_hash_repartition_balances_bytes(spark):
    docs = documents_df(spark, 2000)
    parts = (
        repartition_for_extraction(docs, 16)
        .select(F.spark_partition_id().alias("pid"), F.length("html").alias("b"))
        .groupBy("pid")
        .agg(F.sum("b").alias("bytes"), F.count("*").alias("n"))
        .collect()
    )
    # an explicit count is a fixed hash repartition (AQE does not coalesce
    # it); with ~125 docs per partition none should be empty
    assert len(parts) >= 14
    sizes = [r["bytes"] for r in parts]
    mean = sum(sizes) / len(sizes)
    # hash placement concentrates partition byte totals near the mean
    assert max(sizes) < 2.2 * mean and min(sizes) > 0.3 * mean


def test_hot_host_detection_on_zipf_corpus(spark):
    docs = documents_df(spark, 2000)
    hot = detect_hot_hosts(docs, threshold_fraction=0.05)
    # Zipf(1.2) over 40 hosts: the head hosts exceed 5% each
    assert "site-00.example.org" in hot
    assert 1 <= len(hot) <= 8


def test_salted_stats_match_unsalted(spark):
    """Two-phase salted aggregation is a pure execution-strategy change:
    results equal the direct group-by exactly."""
    docs = documents_df(spark, 1500)
    hot = detect_hot_hosts(docs, threshold_fraction=0.05)
    salted = per_host_stats(docs, hot, salt=8)
    direct = (
        docs.select(F.parse_url("url", F.lit("HOST")).alias("host"), F.length("html").alias("b"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"), F.sum("b").alias("total_bytes"))
    )
    assert salted.exceptAll(direct).count() == 0
    assert direct.exceptAll(salted).count() == 0
    # hot hosts fan out into >1 salted subkey
    sub = with_salted_host(docs, hot, salt=8)
    fanout = (
        sub.where(F.col("host") == hot[0])
        .select("host_salted")
        .distinct()
        .count()
    )
    assert fanout > 1


def test_big_payloads_flow_through_byte_bounded_batches(spark):
    """A handful of multi-MB payloads mixed with small pages extract fine:
    the Arrow maxBytesPerBatch bound keeps worker batches sane through the
    extraction partitioner's default (AQE-rebalanced) shuffle."""
    from ocr_platform_spark.operators.extract import extract_documents

    small = documents_df(spark, 200)
    big_rows = [
        (
            f"https://big.example.org/giant/{i}",
            None,
            (b"<html><body><article><p>"
             + (b"huge payload word " * 400_000)  # ~7 MB
             + b"</p></article></body></html>"),
            None,
            "en",
        )
        for i in range(3)
    ]
    big = spark.createDataFrame(
        big_rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    docs = small.unionByName(big)
    out = extract_documents(repartition_for_extraction(docs))
    got = out.where(F.col("url").startswith("https://big.")).select(
        "url", F.length("text").alias("n")
    ).collect()
    assert len(got) == 3
    assert all(r["n"] > 5_000_000 for r in got)
    assert out.count() == 203


def test_aqe_skew_join_engages(spark):
    """The session's AQE skew-join handling must actually split a skewed
    partition at runtime — the complement of planned-in salting: salting
    covers the aggregations we know are skewed (hosts), AQE covers the
    joins we don't. Pinned on the final adaptive plan's skew marker."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-string-that-is-somewhat-long-"),
                     F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(0, 5000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k").select(F.count("*").alias("n"))
        assert j.collect()[0]["n"] == 360500  # correctness under the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_host_of_dialect_parity(spark):
    """host_of (Spark) ≡ partitioning.HOST_SQL (DuckDB) on adversarial urls —
    ports (kept), userinfo (kept: raw authority), parse failures (''),
    non-http schemes (''), and an upper-case scheme (matched)."""
    import duckdb

    from ocr_platform_spark.operators.partitioning import HOST_SQL, host_of

    urls = [
        "https://example.org/a",
        "http://example.org:8080/a",
        "https://user:pw@example.org:443/a",
        "ftp://example.org/a",
        "not a url",
        "https://",
        "http://host.only",
        "HTTP://Example.com/x",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(host_of("url")).collect()]
    vals = ", ".join("('" + u.replace("'", "''") + "')" for u in urls)
    exp = [
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT {HOST_SQL.format(url='url')} FROM (VALUES {vals}) t(url)"
        )
        .fetchall()
    ]
    assert got == exp
    assert got[1] == "example.org:8080"  # port kept, never silently stripped
    assert got[4] == "" and got[3] == ""  # '' (row kept), never NULL
    assert got[7] == "Example.com"  # scheme is case-insensitive

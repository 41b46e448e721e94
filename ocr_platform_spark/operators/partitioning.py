"""Explicit partitioning / skew control for the extraction stage.

Catalyst cannot see that kernel cost scales with ``length(html)`` — payload
size is data, not plan shape — so balancing the heavy map stage is designed
in (SURVEY.md §4.2, north rule):

1. **Size-tiered bucketed url-hash partitioning** (``repartition_for_extraction``):
   documents are bucketed by ``xxhash64(url)`` — uniform, host-independent —
   and *tiered by payload size*: oversized payloads (default >256 KiB) go to
   their own, smaller buckets so a partition never mixes thousands of small
   pages with a handful of multi-MB ones. With many docs per bucket, hash
   placement concentrates per-partition byte totals around the mean
   (σ/√n), and the big-doc tier bounds the tail — uniform task durations →
   scaling efficiency.

2. **Hot-host salting** (``detect_hot_hosts`` / ``with_salted_host``): web
   corpora are Zipf-skewed by host. Any host-keyed shuffle (per-host aggs,
   host-level joins) gets a salt ``pmod(xxhash64(url), salt)`` appended for
   hosts above a frequency threshold, then a two-phase re-aggregate. AQE
   skew-join handles *join* skew at runtime; map-stage and agg skew need
   this explicit treatment.

All keys derive from ``url`` alone → partitioning never affects output
content, only placement (determinism across cluster sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_BIG_PAYLOAD_BYTES = 256 * 1024


#: The ONE host rule, shared verbatim by both engines (``HOST_SQL`` is the
#: DuckDB twin). Deliberately regex-based rather than ``parse_url(HOST)``:
#: parse_url strips ports/userinfo and yields NULL on parse failure while
#: the oracle regex keeps the raw authority and yields '' — a mixed pair
#: silently drops rows on one side for URLs with ports, userinfo, or junk
#: schemes. The scheme matches case-insensitively (RFC 3986 §3.1); ``(?i)``
#: means the same in Java regex and RE2. Parity pinned in
#: tests/test_urlfns.py.
HOST_RE = r"(?i)^https?://([^/?#]+)"
HOST_SQL = f"regexp_extract({{url}}, '{HOST_RE}', 1)"


def host_of(url_col: str | F.Column = "url") -> F.Column:
    """Host (raw authority) of the url (pure column expr, no UDF); ''
    when the url is not http(s). Same rule as ``HOST_SQL``."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, HOST_RE, 1)


def repartition_for_extraction(
    docs: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bucketed url-hash repartition before the Arrow kernel (north rule).

    One shuffle; bucket id = ``pmod(xxhash64(url), n)``;
    ``repartitionByRange`` on the integer bucket maps buckets ≈ 1:1 onto
    partitions (its sampler sees one distinct value per range). The range
    sampler's pre-pass reads ONLY the ``url`` column (Catalyst prunes the
    sampling plan to the partition expression), so its cost is ~zero even
    on payload-heavy tables — use ``repartition_size_tiered`` instead when
    the payload-size distribution is long-tailed (its sampler must read
    payload lengths)."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 4
    bucket = F.pmod(F.abs(F.xxhash64("url")), F.lit(num_partitions))
    return (
        docs.withColumn("_bucket", bucket)
        .repartitionByRange(num_partitions, "_bucket")
        .drop("_bucket")
    )


def repartition_size_tiered(
    docs: DataFrame,
    num_partitions: int | None = None,
    big_payload_bytes: int = DEFAULT_BIG_PAYLOAD_BYTES,
    big_tier_fraction: float = 0.25,
) -> DataFrame:
    """Size-tiered variant: oversized payloads (>``big_payload_bytes``) go
    to their own smaller buckets so a partition never mixes thousands of
    small pages with a handful of multi-MB ones (uniform task byte budgets
    under long-tailed size distributions — e.g. 16 MB PDF uploads next to
    3 KB pages, cf. reference MAX_CONTENT_LENGTH ocr_backend/app/config.py:23).
    Costs one extra pass over payload lengths in the range sampler."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 4
    n_big = max(1, int(num_partitions * big_tier_fraction))
    n_small = max(1, num_partitions - n_big)
    h = F.abs(F.xxhash64("url"))
    bucket = F.when(
        F.coalesce(F.length("html"), F.lit(0)) <= F.lit(big_payload_bytes),
        F.pmod(h, F.lit(n_small)),
    ).otherwise(F.lit(n_small) + F.pmod(h, F.lit(n_big)))
    return (
        docs.withColumn("_bucket", bucket)
        .repartitionByRange(num_partitions, "_bucket")
        .drop("_bucket")
    )


def detect_hot_hosts(docs: DataFrame, threshold_fraction: float = 0.01) -> list[str]:
    """Hosts owning more than ``threshold_fraction`` of rows.

    ONE scan of the url column (payloads pruned): the per-host counts are
    persisted, then the grand total and the threshold filter are two tiny
    jobs over that cached host-dimension table — the 10^12-row fact table is
    never read twice. At extreme scale the same shape runs on
    ``docs.sample(1e-4)`` — host frequencies are stable under uniform
    sampling."""
    from pyspark import StorageLevel

    agg = (
        docs.select(host_of("url").alias("host"))
        .groupBy("host")
        .count()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        total = agg.agg(F.sum("count").alias("t")).first()["t"] or 0
        if total == 0:
            return []
        rows = agg.where(F.col("count") > total * threshold_fraction).collect()
        return sorted(r["host"] for r in rows)
    finally:
        agg.unpersist()


def with_salted_host(
    docs: DataFrame, hot_hosts: list[str], salt: int = 16
) -> DataFrame:
    """Append ``host`` and ``host_salted`` columns: hot hosts fan out into
    ``salt`` subkeys; cold hosts keep salt 0. Aggregations on ``host_salted``
    then re-aggregate by ``host`` (two-phase; see per_host_stats)."""
    host = host_of("url")
    salted = F.when(
        host.isin(hot_hosts) & (F.lit(salt) > 1),
        F.concat(host, F.lit("#"), F.pmod(F.abs(F.xxhash64("url")), F.lit(salt)).cast("string")),
    ).otherwise(host)
    return docs.withColumn("host", host).withColumn("host_salted", salted)


def per_host_stats(
    docs: DataFrame, hot_hosts: list[str], salt: int = 16, size: F.Column | None = None
) -> DataFrame:
    """Skew-safe per-host rollup: partial agg on the salted key, then final
    agg on the true host — the hot key's work spreads over ``salt`` tasks.

    ``size`` overrides the per-row byte measure (default: html payload
    length) — callers working from a pre-projected (url, n_bytes) table pass
    ``F.col("n_bytes")`` so the payload column never has to travel."""
    if size is None:
        size = F.coalesce(F.length("html"), F.lit(0))
    salted = with_salted_host(docs, hot_hosts, salt)
    partial = salted.groupBy("host", "host_salted").agg(
        F.count("*").alias("n"),
        F.sum(size).alias("bytes"),
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("n").alias("n_docs"), F.sum("bytes").alias("total_bytes"))
        .orderBy(F.desc("n_docs"), "host")
    )

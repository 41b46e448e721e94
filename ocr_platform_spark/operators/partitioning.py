"""Explicit partitioning / skew control for the extraction stage.

Catalyst cannot see that kernel cost scales with ``length(html)`` — payload
size is data, not plan shape — so balancing the heavy map stage is designed
in (SURVEY.md §4.2, north rule):

1. **AQE-sized url-hash partitioning** (``repartition_for_extraction``):
   documents are hash-partitioned by ``url`` — uniform, host-independent —
   under the REBALANCE hint, so adaptive execution sizes the kernel tasks
   from the shuffle's byte statistics: small partitions coalesce to about
   one per core, and at scale any partition above
   ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (a handful of
   multi-MB payloads hashed together) is split. No pre-pass reads the
   payloads to pick the layout, so placement costs one shuffle and nothing
   else.

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

#: Payload size above which a document counts as big: the threshold that
#: long-tailed corpora are described with (placement does not read it).
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
    """Url-hash repartition before the Arrow kernel (north rule).

    By default one REBALANCE shuffle on ``url``: AQE picks the partition
    count from the shuffled bytes (coalescing to ~one task per core on
    small inputs, splitting oversized partitions at scale). An explicit
    ``num_partitions`` gives a fixed-count ``repartition(n, "url")``
    instead, which AQE leaves as is."""
    if num_partitions is None:
        return docs.hint("rebalance", "url")
    return docs.repartition(num_partitions, "url")


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

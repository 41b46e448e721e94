"""Crawl-frontier construction and politeness-aware fetch scheduling.

The crawl face downstream of link extraction: outlink edges → candidate
frontier (targets not yet crawled, ranked by referrer count) → a fetch
schedule that never asks one host for more than ``per_wave`` URLs per
politeness wave. This is the batch formulation of a crawler's frontier
queue (Heritrix/Nutch "generate" step): each wave is one politeness
interval, every host contributes at most ``per_wave`` fetches to it, and
priority within a host is deterministic (referrer count, then URL) so the
schedule replays bit-for-bit in any engine.

Scale shape at 10^12 edges
--------------------------
- Frontier build: one hash aggregate over the edge list (map-side
  combinable — referrer counting is a distinct-count per target), then a
  left-anti join against the crawled set.
- Scheduling: one shuffle on host. The per-host ``row_number`` window is
  the politeness ORDER — inherently per-host sequential, so a hot host's
  rank computation lands in one task. ``max_waves`` bounds it: a frontier
  only needs ``per_wave × max_waves`` URLs per host per generate cycle,
  and because the cap is expressed as a filter on the ``row_number``
  itself, Catalyst rewrites it to WindowGroupLimit — a partial per-map-
  task top-k BEFORE the host shuffle — so the worst host's sort is at
  the cap, not at its raw indegree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_platform_spark.operators.partitioning import host_of


def build_frontier(
    edges: DataFrame,
    crawled: DataFrame,
    dst_col: str = "dst_url",
    src_col: str = "src_url",
    crawled_col: str = "url",
) -> DataFrame:
    """(url, host, n_referrers): distinct outlink targets with distinct
    referring-page counts, minus already-crawled URLs (left-anti — the
    same resume shape as operators/resume.pending_documents)."""
    cand = edges.groupBy(F.col(dst_col).alias("url")).agg(
        F.countDistinct(src_col).alias("n_referrers")
    )
    fresh = cand.join(
        crawled.select(F.col(crawled_col).alias("url")).distinct(),
        "url",
        "left_anti",
    )
    return fresh.select("url", host_of("url").alias("host"), "n_referrers")


def fetch_schedule(
    frontier: DataFrame,
    per_wave: int = 2,
    max_waves: int | None = None,
) -> DataFrame:
    """(url, host, n_referrers, wave, slot): politeness-aware schedule —
    per host, URLs rank by (n_referrers DESC, url); rank r fetches in wave
    ``r div per_wave`` at slot ``r mod per_wave``. ``max_waves`` truncates
    each host's queue (the generate-cycle cap that also bounds the hot-host
    sort — see module docstring)."""
    if per_wave < 1:
        raise ValueError(f"per_wave must be >= 1, got {per_wave}")
    w = Window.partitionBy("host").orderBy(F.desc("n_referrers"), "url")
    out = frontier.withColumn("rnk", F.row_number().over(w))
    if max_waves is not None:
        # filter directly on the row_number column: Catalyst rewrites it to
        # WindowGroupLimit (partial per-map-task top-k before the shuffle),
        # which is what bounds the hot-host sort at the cap — pinned by
        # tests/test_frontier.py::test_cap_plan_uses_window_group_limit
        out = out.where(F.col("rnk") <= per_wave * max_waves)
    return (
        out.withColumn("wave", F.expr(f"(rnk - 1) div {per_wave}").cast("int"))
        .withColumn("slot", ((F.col("rnk") - 1) % per_wave).cast("int"))
        .drop("rnk")
    )


def schedule_stats(schedule: DataFrame) -> DataFrame:
    """Per-wave rollup (n_urls, n_hosts) — the generate-cycle report."""
    return (
        schedule.groupBy("wave")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
        .orderBy("wave")
    )

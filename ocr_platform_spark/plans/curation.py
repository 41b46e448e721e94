"""End-to-end training-corpus curation — the composed pipeline a web-scale
dataset build runs over the documents table (prompt-mandated training-data
ops as ONE plan): quality gate → language gate → exact dedup → MinHash
near-dup drop, with a per-stage funnel report.

Every stage is an operator that already exists and is independently
oracle-verified (functions/textfns.py quality/lang, operators/dedup.py
exact + MinHash); this plan is their composition plus the bookkeeping a
curation run needs — which stage dropped how many documents.

Scale shape: the quality/lang/repetition gates are pure column expressions
fused into one scan; exact dedup is one hash-partitioned window on the md5
fingerprint; MinHash near-dup is the banded-LSH pipeline (never all-pairs)
followed by a left-anti join on the drop set; winnowing near-dup is a
frequency-capped fingerprint-postings self-join.

:func:`run_curation_funnel` is the flagship single-pass shape (the catalog
``curation_funnel`` query and the composed corpus-build job run it): ONE
action over the corpus fills every gate count via ``df.observe`` metrics
and stages the survivors; the dedup tail reads staged bytes only.
:func:`curate_corpus` (with its :func:`curation_funnel` report) keeps the
per-stage-DataFrame API for callers that need the intermediate row sets
rather than counts; it is also the sequential reference the single-pass
funnel is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_platform_spark.functions import textfns as TX
from ocr_platform_spark.operators import dedup


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.5,
    max_top_bigram_frac: float | None = None,
) -> dict[str, DataFrame]:
    """Run the curation funnel; returns the per-stage kept DataFrames plus
    the near-dup drop set:

    ``{"input", "quality", "lang", ["repetition",] "exact",
    "dropped_near", "curated"}``

    ``max_top_bigram_frac`` enables the optional repetition gate (Gopher
    family): drop documents whose most frequent word-bigram exceeds that
    share of all bigrams — loops and generated spam that the length/
    stopword quality score misses.

    Near-dup policy: from each verified pair (id_a < id_b, Jaccard ≥
    threshold) the LARGER id is dropped — the greedy min-id-survivor rule,
    matching ``drop_exact_duplicates``'s representative choice."""
    feats = docs.select(
        "*",
        TX.quality_score(text_col).alias("_quality"),
        TX.lang_id(text_col).alias("_lang"),
    )
    s_quality = feats.where(F.col("_quality") >= min_quality)
    s_lang = s_quality.where(F.col("_lang").isin(list(langs)))
    pre_exact = s_lang
    rep_stage: DataFrame | None = None
    if max_top_bigram_frac is not None:
        # per-row pure-expression gate (textfns.top_bigram_frac) — fuses
        # into the same scan as the quality/lang gates, no explode/groupBy
        rep_stage = s_lang.where(
            F.coalesce(TX.top_bigram_frac(text_col), F.lit(1.0))
            <= max_top_bigram_frac
        )
        pre_exact = rep_stage
    s_exact = dedup.drop_exact_duplicates(
        pre_exact.drop("_quality", "_lang"), id_col, text_col
    )
    pairs = dedup.minhash_near_duplicates(
        s_exact, id_col, text_col, threshold=near_dup_threshold
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    curated = s_exact.join(dropped, id_col, "left_anti")
    out = {
        "input": docs,
        "quality": s_quality,
        "lang": s_lang,
        "exact": s_exact,
        "dropped_near": dropped,
        "curated": curated,
    }
    if rep_stage is not None:
        out["repetition"] = rep_stage
    return out


def curation_funnel(stages: dict[str, DataFrame]) -> DataFrame:
    """(stage_no, stage, n_docs) report over :func:`curate_corpus` output."""
    order = [
        (0, "input", "input"),
        (1, "quality", "quality"),
        (2, "lang", "lang"),
        (3, "repetition", "repetition"),
        (4, "exact_dedup", "exact"),
        (5, "near_dup_drop", "curated"),
    ]
    out = None
    for no, label, key in order:
        if key not in stages:
            continue
        row = stages[key].agg(F.count("*").alias("n_docs")).select(
            F.lit(no).alias("stage_no"), F.lit(label).alias("stage"), "n_docs"
        )
        out = row if out is None else out.unionByName(row)
    return out


def run_curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    max_top_bigram_frac: float | None = 0.11,
    near_dup_threshold: float = 0.5,
    winnow_min_shared: int | None = 2,
    winnow_max_df: int = 64,
    winnow_min_overlap: float = 0.35,
    stage_prefix: str = "curation",
) -> tuple[DataFrame, dict]:
    """The flagship composed curation job — single-pass gates, staged
    dedup tail, zero per-stage corpus rescans.

    Execution shape (the 10^12-row shape):

    1. **One pass over the corpus**: quality, language and repetition gates
       are pure column expressions fused into a single scan; each gate
       carries a ``df.observe`` counter, and the exact-dedup window's
       survivors stream straight into a parquet stage write. That ONE
       action yields stage counts 0-4 as observation side channels — the
       corpus is never re-read for a count.
    2. **MinHash near-dup** runs over the (much smaller) staged survivor
       table — banded LSH, exact-Jaccard verified, drop-set staged.
    3. **Winnowing near-dup** runs over the stage-5 survivors: fingerprint
       postings staged, frequency-capped (``winnow_max_df``) self-join,
       pairs sharing ≥ ``winnow_min_shared`` fingerprints drop the larger
       id. Both dedup drop sets are exactly reproducible by an independent
       SQL engine from the staged bytes (the funnel oracle does).

    Returns ``(funnel_report, details)``: the report is a tiny
    (stage_no, stage, n_docs) DataFrame; ``details`` carries the staged
    survivor/drop DataFrames for callers that need the rows, plus the raw
    observation values."""
    from pyspark.sql import Observation

    from ocr_platform_spark.operators.dedup import (
        winnow_fp_postings,
        winnow_near_duplicate_pairs,
    )
    from ocr_platform_spark.staging import stage

    spark = docs.sparkSession

    # ONE projection computes every gate expression, ONE observe carries
    # all gate counters as conditional aggregates, ONE filter applies the
    # conjunction — same counts as filter-chain-with-a-counter-each (each
    # stage's count conditions on all gates before it), with a far smaller
    # plan (one CollectMetrics + one Filter instead of four + three, which
    # matters for whole-stage-codegen compile time on these wide gate
    # expressions).
    gate_cols = [
        TX.quality_score(text_col).alias("_quality"),
        TX.lang_id(text_col).alias("_lang"),
    ]
    q_ok = F.col("_quality") >= min_quality
    l_ok = F.col("_lang").isin(list(langs))
    keep = q_ok & l_ok
    gate_counts = [
        F.count(F.lit(1)).alias("input"),
        F.count_if(q_ok).alias("quality"),
        F.count_if(q_ok & l_ok).alias("lang"),
    ]
    drop_cols = ["_quality", "_lang"]
    if max_top_bigram_frac is not None:
        gate_cols.append(
            F.coalesce(TX.top_bigram_frac(text_col), F.lit(1.0)).alias("_rep")
        )
        r_ok = F.col("_rep") <= max_top_bigram_frac
        keep = keep & r_ok
        gate_counts.append(F.count_if(q_ok & l_ok & r_ok).alias("repetition"))
        drop_cols.append("_rep")
    o_gates = Observation("gates")
    o_exact = Observation("exact")
    s = (
        docs.select("*", *gate_cols)
        .observe(o_gates, *gate_counts)
        .where(keep)
        .drop(*drop_cols)
    )
    s_exact = dedup.drop_exact_duplicates(s, id_col, text_col).observe(
        o_exact, F.count(F.lit(1)).alias("n")
    )
    # the single corpus-pass action: gates + window + write, observes
    # filled. Written at full parallelism so downstream stages (minhash
    # signatures, winnow postings) read an already-wide table — the
    # _spread guard in dedup then never adds a repartition.
    par = spark.sparkContext.defaultParallelism
    staged_exact = stage(
        s_exact.select(id_col, text_col), f"{stage_prefix}_exact", partitions=par
    )
    counts = {k: int(v) for k, v in o_gates.get.items()}
    counts["exact"] = int(o_exact.get["n"])

    # minhash near-dup over the staged survivors (reads staged bytes, not
    # the corpus); drop set staged for the oracle. The funnel owns the
    # persisted shingle sets and releases them once the drop set is on
    # disk, so repeated runs leave no cached relation behind.
    hs = dedup._staged(dedup.hashed_shingle_sets(staged_exact, id_col, text_col))
    pairs = dedup.minhash_pairs(hs, threshold=near_dup_threshold)
    o_drop = Observation("dropped_near")
    try:
        dropped_near = stage(
            pairs.select(F.col("id_b").alias(id_col))
            .distinct()
            .observe(o_drop, F.count(F.lit(1)).alias("n")),
            f"{stage_prefix}_dropped",
        )
    finally:
        hs.unpersist()
    counts["near_dup_drop"] = counts["exact"] - int(o_drop.get["n"])

    details: dict = {
        "exact": staged_exact,
        "dropped_near": dropped_near,
        "observations": counts,
    }
    if winnow_min_shared is not None:
        survivors = staged_exact.join(dropped_near, id_col, "left_anti")
        postings = stage(
            winnow_fp_postings(survivors, id_col, text_col),
            f"{stage_prefix}_winnow_fps",
            partitions=par,
        )
        wpairs = winnow_near_duplicate_pairs(
            postings,
            min_shared=winnow_min_shared,
            max_df=winnow_max_df,
            min_overlap=winnow_min_overlap,
        )
        wdrop = wpairs.select(F.col("id_b").alias(id_col)).distinct()
        counts["winnow_drop"] = counts["near_dup_drop"] - wdrop.count()
        details["dropped_winnow"] = wdrop
        details["curated"] = survivors.join(wdrop, id_col, "left_anti")
    else:
        details["curated"] = staged_exact.join(dropped_near, id_col, "left_anti")

    order = [
        "input",
        "quality",
        "lang",
        "repetition",
        "exact",
        "near_dup_drop",
        "winnow_drop",
    ]
    label = {"exact": "exact_dedup"}
    rows = [
        (i, label.get(name, name), counts[name])
        for i, name in enumerate(n for n in order if n in counts)
    ]
    report = spark.createDataFrame(rows, "stage_no int, stage string, n_docs long")
    return report, details

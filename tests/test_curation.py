"""Composed curation plan: each gate drops exactly the engineered rows."""

from __future__ import annotations

from ocr_platform_spark.plans.curation import curate_corpus, curation_funnel

_GOOD_EN = (
    "the quick brown fox jumps over the lazy dog and runs to the forest "
    "with great speed that nobody in the town had seen before and the "
    "crowd watched in wonder as the animal disappeared into the trees"
)
_GOOD_DE = (
    "der schnelle braune fuchs springt und der hund schaut mit den augen "
    "auf das feld wo die kinder mit einem ball spielen und der wind weht"
)


def _docs(spark):
    rows = [
        (1, _GOOD_EN),
        (2, _GOOD_EN + " extra tail words for the reader of the story"),  # near-dup of 1
        (3, _GOOD_EN),  # exact dup of 1
        (4, _GOOD_DE),  # wrong language
        (5, "!!! ??? ... ,,, ;;; ((( ))) ::: !!!"),  # junk: low quality
        (6, "completely different english content about the spark engine "
            "and the way that partitions of data move with the shuffle to "
            "the reducers in the cluster of many machines that work"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_gates(spark):
    stages = curate_corpus(
        _docs(spark), min_quality=0.3, langs=("en",), near_dup_threshold=0.5
    )
    assert stages["quality"].count() == 5  # junk doc 5 out
    kept_lang = {r["doc_id"] for r in stages["lang"].select("doc_id").collect()}
    assert kept_lang == {1, 2, 3, 6}  # german doc 4 out
    kept_exact = {r["doc_id"] for r in stages["exact"].select("doc_id").collect()}
    assert kept_exact == {1, 2, 6}  # exact dup 3 collapsed into 1 (min id)
    dropped = {r["doc_id"] for r in stages["dropped_near"].collect()}
    assert dropped == {2}  # near-dup of 1, larger id dropped
    curated = {r["doc_id"] for r in stages["curated"].select("doc_id").collect()}
    assert curated == {1, 6}

    funnel = {r["stage"]: r["n_docs"] for r in curation_funnel(stages).collect()}
    assert funnel == {
        "input": 6,
        "quality": 5,
        "lang": 4,
        "exact_dedup": 3,
        "near_dup_drop": 2,
    }


def test_observed_funnel_single_pass(spark):
    """df.observe yields the gate counts from ONE action — and they match
    the multi-job funnel exactly."""
    from ocr_platform_spark.plans.curation import curate_observed

    gated, obs = curate_observed(_docs(spark), min_quality=0.3, langs=("en",))
    n_out = gated.count()  # the single action that materializes every metric
    got = {k: o.get["n"] for k, o in obs.items()}
    assert got == {"input": 6, "quality": 5, "lang": 4}
    assert n_out == 4


def test_repetition_gate_optional(spark):
    """max_top_bigram_frac drops loop/spam docs; funnel gains a stage."""
    rows = [
        (1, _GOOD_EN),
        (2, "spam spam " * 60),  # one bigram dominates
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stages = curate_corpus(
        docs, min_quality=0.0, langs=("en", "und"), max_top_bigram_frac=0.5
    )
    kept = {r["doc_id"] for r in stages["repetition"].select("doc_id").collect()}
    assert kept == {1}
    funnel = {r["stage"]: r["n_docs"] for r in curation_funnel(stages).collect()}
    assert funnel["repetition"] == 1 and funnel["input"] == 2
    # without the flag, no repetition stage exists and the spam doc survives
    stages2 = curate_corpus(docs, min_quality=0.0, langs=("en", "und"))
    assert "repetition" not in stages2
    assert stages2["curated"].count() == 2


def test_run_curation_funnel_matches_sequential(spark, tmp_path, monkeypatch):
    """The single-pass observe-based flagship (run_curation_funnel) reports
    exactly the counts the sequential per-stage implementation computes —
    two independent formulations of the same funnel."""
    import ocr_platform_spark.staging as staging
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.dedup import winnow_near_duplicates
    from ocr_platform_spark.plans.curation import (
        curate_corpus,
        curation_funnel,
        run_curation_funnel,
    )

    monkeypatch.setattr(staging, "STAGE_ROOT", str(tmp_path / "stage"))

    docs = _docs(spark)
    report, details = run_curation_funnel(
        docs,
        min_quality=0.3,
        langs=("en",),
        max_top_bigram_frac=0.9,
        near_dup_threshold=0.5,
        winnow_min_shared=2,
        winnow_max_df=64,
        winnow_min_overlap=0.5,
        stage_prefix="t_funnel",
    )
    got = {r["stage"]: r["n_docs"] for r in report.collect()}

    stages = curate_corpus(
        docs,
        min_quality=0.3,
        langs=("en",),
        near_dup_threshold=0.5,
        max_top_bigram_frac=0.9,
    )
    expected = {
        "input": stages["input"].count(),
        "quality": stages["quality"].count(),
        "lang": stages["lang"].count(),
        "repetition": stages["repetition"].count(),
        "exact_dedup": stages["exact"].count(),
        "near_dup_drop": stages["curated"].count(),
    }
    surv = stages["curated"]
    wdrop = (
        winnow_near_duplicates(surv, "doc_id", "text", 2, 64, 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    expected["winnow_drop"] = surv.join(wdrop, "doc_id", "left_anti").count()
    assert got == expected
    # curated detail frame agrees with the reported final count
    assert details["curated"].count() == got["winnow_drop"]

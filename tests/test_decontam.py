"""Decontamination operator semantics (the catalog query `doc_decontam`
carries the cross-engine oracle; these pin the operator's edge cases)."""

from __future__ import annotations

from ocr_platform_spark.operators.decontam import (
    decontam_tokens,
    eval_ngram_set,
    mark_contaminated,
    word_ngrams_strict,
)


def test_word_ngrams_strict_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("  x   y  z ",)], "text string"
    )
    rows = df.select(
        word_ngrams_strict(decontam_tokens("text"), 3).alias("g")
    ).collect()
    assert rows[0]["g"] == ["a b c", "b c d"]
    assert rows[1]["g"] == []  # shorter than n -> NO catch-all shingle
    assert rows[2]["g"] == []
    assert rows[3]["g"] == ["x y z"]  # empty tokens from space runs dropped


def test_mark_contaminated_counts_and_gate(spark):
    ev = spark.createDataFrame([(1, "the quick brown fox jumps",)], "id long, text string")
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps high"),  # 2 hits of 4 grams
            (11, "totally unrelated words go here now"),
            (12, "short doc"),  # 0 grams
            (13, "QUICK BROWN FOX jumps the quick brown"),  # case-folded hit
        ],
        "id long, text string",
    )
    grams = eval_ngram_set(ev, "text", n=4)
    out = {
        r["id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in mark_contaminated(corpus, grams, "id", "text", n=4).collect()
    }
    assert out[10] == (3, 2, True)
    assert out[11] == (3, 0, False)
    assert out[12] == (0, 0, False)
    assert out[13][1] >= 1 and out[13][2] is True
    # raising the gate un-flags the single-hit doc but not the double-hit one
    strict = {
        r["id"]: r["contaminated"]
        for r in mark_contaminated(corpus, grams, "id", "text", n=4, min_hits=2).collect()
    }
    assert strict[10] is True and strict[13] is False


def test_eval_set_broadcasts_and_corpus_not_shuffled_prejoin(spark):
    """The eval-gram join must be a broadcast hash join: the corpus side
    reaches the contamination join without an Exchange."""
    ev = spark.createDataFrame([(1, "a b c d e f g h",)], "id long, text string")
    corpus = spark.createDataFrame([(2, "a b c d e f g h i")], "id long, text string")
    plan = (
        mark_contaminated(corpus, eval_ngram_set(ev, "text", 8), "id", "text", 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_mark_contaminated_fuzzy_flags_paraphrase(spark):
    from ocr_platform_spark.operators.decontam import mark_contaminated_fuzzy

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")  # light edit: high Jaccard, not exact
    ev = spark.createDataFrame([(100, base)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, near),
            (2, "completely different text about spark partitions and shuffles"),
            (3, base),  # verbatim copy: jaccard 1.0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in mark_contaminated_fuzzy(corpus, ev, threshold=0.5).collect()
    }
    assert out[3]["contaminated"] and out[3]["best_jaccard"] == 1.0
    assert out[3]["best_eval_id"] == 100
    assert out[1]["contaminated"] and 0.5 <= out[1]["best_jaccard"] < 1.0
    assert not out[2]["contaminated"] and out[2]["n_candidates"] == 0
    assert out[2]["best_eval_id"] is None and out[2]["best_jaccard"] is None


def test_mark_contaminated_fuzzy_best_is_max_then_min_eval_id(spark):
    from ocr_platform_spark.operators.decontam import mark_contaminated_fuzzy

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # two identical eval docs -> equal jaccard; tie must break to MIN eval id
    ev = spark.createDataFrame([(7, text), (5, text)], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = mark_contaminated_fuzzy(corpus, ev, threshold=0.9).collect()[0]
    assert row["n_candidates"] == 2
    assert row["best_eval_id"] == 5
    assert row["contaminated"]


def test_contamination_by_suite_partitions_hits(spark):
    """Per-suite audit: a doc leaking into both suites reports two rows
    with independent gram tallies; a doc leaking into one reports one;
    clean docs report none."""
    from ocr_platform_spark.operators.decontam import (
        contamination_by_suite,
        eval_ngram_set_by_suite,
    )

    s_a = " ".join(f"qa{i}" for i in range(10))        # suite_a passage
    s_b = " ".join(f"mc{i}" for i in range(10))        # suite_b passage
    ev = spark.createDataFrame(
        [("suite_a", s_a), ("suite_b", s_b)], "suite string, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, s_a + " " + s_b),              # leaks into both
            (2, "filler " + s_b + " trailer"), # suite_b only
            (3, "nothing shared here at all with any benchmark passage x y z w v u t s"),
        ],
        "doc_id long, text string",
    )
    sg = eval_ngram_set_by_suite(ev, "suite", "text", n=8)
    rows = {
        (r["doc_id"], r["suite"]): r["n_hits"]
        for r in contamination_by_suite(corpus, sg, "doc_id", "text", n=8).collect()
    }
    assert set(rows) == {(1, "suite_a"), (1, "suite_b"), (2, "suite_b")}
    assert rows[(1, "suite_a")] == 3  # 8-grams of a 10-token passage
    assert rows[(1, "suite_b")] == 3
    assert rows[(2, "suite_b")] == 3


def test_strip_eval_spans_cuts_only_leaked_passage(spark):
    """Surgical decontamination: the doc quoting an eval passage keeps its
    own prose and loses exactly the quoted span (± gram-edge slack); docs
    with nothing shared emit no row."""
    from ocr_platform_spark.operators.decontam import strip_eval_spans

    passage = " ".join(f"bench{i} answer{i} option{i}" for i in range(10))
    own_a = " ".join(f"intro{i} comment{i}" for i in range(12))
    own_b = " ".join(f"closing{i} remark{i}" for i in range(12))
    quoting = own_a + " " + passage + " " + own_b
    ev = spark.createDataFrame([(100, passage)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, quoting), (2, "entirely original analysis of spark joins and shuffles")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in strip_eval_spans(corpus, ev, "doc_id", "text", k=30).collect()
    }
    assert set(got) == {1}
    r = got[1]
    assert passage not in r["text"]
    assert r["text"].startswith(own_a[: len(own_a) - 30])
    assert r["text"].rstrip().endswith(own_b[30:])
    assert len(quoting) - len(r["text"]) == r["n_chars_cut"]
    assert r["n_chars_cut"] >= len(passage) - 2 * 30

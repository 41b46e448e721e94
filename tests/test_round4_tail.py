"""Semantic pins for the round-4 tail queries (url_param_stats,
doc_readability, doc_code_density and the crawl, extraction and storage
reports after them) and the corpus-refine script and code gates.

Cross-engine value equality is covered by tests/test_oracle_parity.py; these
tests pin the SEMANTICS — that the per-visit detector flags exactly the
synthetic session param, that readability bands move the right way with
sentence length, and that the code gate separates the two synthetic classes.
"""

from __future__ import annotations

from ocr_platform_spark.queries import CATALOG
from tests.conftest import SF_DIR


def test_url_param_stats_flags_only_the_session_param(spark):
    rows = CATALOG["url_param_stats"].fn(spark, SF_DIR).collect()
    assert rows, "no (host, param) rows"
    by_param: dict[str, list] = {}
    for r in rows:
        by_param.setdefault(r["param"], []).append(r)
    # synthesized params: q (10 values), sid (unique per url), page (5
    # values), utm_source (constant) — only sid is per-visit
    assert set(by_param) == {"q", "sid", "page", "utm_source"}
    assert all(r["per_visit"] for r in by_param["sid"])
    for p in ("q", "page", "utm_source"):
        assert not any(r["per_visit"] for r in by_param[p]), p
    # per-visit means distinct values == distinct urls
    for r in by_param["sid"]:
        assert r["n_vals"] == r["n_urls"] >= 4


def test_doc_readability_band_tracks_sentence_and_syllable_load(spark):
    df = CATALOG["doc_readability"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == df.select("doc_id").distinct().count()
    bands = {"easy", "standard", "difficult", "very_difficult"}
    assert {r["band"] for r in rows} <= bands
    for r in rows:
        assert r["sents"] >= 1  # floored — no division by zero
        # band is a pure function of the rounded score
        f = r["flesch"]
        expect = (
            "easy" if f >= 70 else
            "standard" if f >= 50 else
            "difficult" if f >= 30 else "very_difficult"
        )
        assert r["band"] == expect
    # monotonicity spot-check on crafted texts: short words/sentences score
    # higher than long polysyllabic run-ons
    crafted = spark.createDataFrame(
        [(1, "The cat sat. The dog ran. It was fun."),
         (2, "Extraordinarily convoluted administrative considerations "
             "necessitate comprehensive organizational restructuring "
             "without punctuation or pause or any sentence break at all")],
        "doc_id long, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        crafted.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {r["doc_id"]: r for r in CATALOG["doc_readability"].fn(spark, td).collect()}
    assert got[1]["flesch"] > got[2]["flesch"]
    assert got[1]["band"] == "easy"


def test_doc_code_density_separates_synthetic_classes(spark):
    rows = CATALOG["doc_code_density"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r["doc_id"] % 5 == 0) == bool(r["is_code"]), r["doc_id"]
        # flag is the exact integer rule on the emitted counts
        assert r["is_code"] == (r["n_code"] * 10 >= r["n_lines"] * 3)
        assert 0.0 <= r["code_ratio"] <= 1.0


def test_corpus_refine_script_gate_stage(spark):
    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    docs = spark.createDataFrame(
        [
            (1, "english words mixed with 中文字符测试 and more characters"),
            (2, "plain english prose document with only latin letters"),
            (3, "这是一个纯中文文档 没有其他文字"),  # single script — kept
        ],
        "doc_id long, text string",
    )
    out, m = corpus_refine_stages(docs, script_gate=True)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    assert m["script_gate_dropped"] == 1


def test_corpus_refine_code_route_stage(spark):
    import pytest

    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    docs = spark.createDataFrame(
        [
            (1, "import os\ndef f(x):\n    return x;\n"),
            (2, "Plain prose here. More prose follows!"),
            (3, "for i in xs:\n    total += i;\n"),
            (4, "Another prose document with words."),
        ],
        "doc_id long, text string",
    )
    prose, m = corpus_refine_stages(docs, code_route="prose")
    assert sorted(r["doc_id"] for r in prose.collect()) == [2, 4]
    assert m["code_route_dropped"] == 2
    code, m2 = corpus_refine_stages(docs, code_route="code")
    assert sorted(r["doc_id"] for r in code.collect()) == [1, 3]
    assert m2["code_route_dropped"] == 2
    with pytest.raises(ValueError):
        corpus_refine_stages(docs, code_route="both")


def test_url_revisit_policy_load_report_consistency(spark):
    rows = CATALOG["url_revisit_policy"].fn(spark, SF_DIR).collect()
    assert len(rows) == 40  # one row per synthesized host
    stats = CATALOG["url_revisit_diff"].fn(spark, SF_DIR).collect()
    # replay the tiers in python and cross-check the per-host due counts
    due_by_host: dict[str, int] = {}
    for s in stats:
        r = s["change_rate_pm"]
        interval = 1 if r >= 500 else 2 if r >= 250 else 4 if r > 0 else 8
        if s["latest_cycle"] + interval <= 3:
            h = f"site-{s['doc_id'] % 40}"
            due_by_host[h] = due_by_host.get(h, 0) + 1
    for row in rows:
        assert row["n_due"] == due_by_host.get(row["host"], 0), row["host"]
        assert row["n_overflow"] == max(row["n_due"] - 20, 0)


def test_host_token_budget_cut_keeps_quality_prefix(spark):
    rows = CATALOG["host_token_budget_cut"].fn(spark, SF_DIR).collect()
    assert len(rows) == 40
    for r in rows:
        assert 1 <= r["n_kept"] <= r["n_docs"]  # first doc always kept
        assert r["tokens_kept"] <= r["tokens_total"]
        # kept-iff-cum-before-under-budget: all but the last kept doc fit
        # under the budget, so tokens_kept minus the overshooting last doc
        # is < 2000; with no overshoot possible below the budget itself
        if r["n_kept"] < r["n_docs"]:
            assert r["tokens_kept"] >= 2000  # the cut actually bit


def test_doc_script_mix_fixture_verdicts(spark):
    rows = {r["doc_id"]: r for r in CATALOG["doc_script_mix"].fn(spark, SF_DIR).collect()}
    assert rows[910001]["mixed"] and rows[910001]["n_scripts"] == 3  # lat+zh+ru
    assert not rows[910002]["mixed"] and rows[910002]["c_zh"] >= 4   # pure zh
    assert rows[910003]["mixed"] and rows[910003]["c_ar"] >= 4       # lat+ar
    assert not rows[910004]["mixed"] and rows[910004]["n_scripts"] == 1
    assert rows[910005]["mixed"]                                     # ja+lat
    # the Latin-only synth corpus must be uniformly unmixed
    assert not any(r["mixed"] for i, r in rows.items() if i < 900000)


def test_extract_headings_fixture_outline(spark):
    rows = [
        r
        for r in CATALOG["extract_headings"].fn(spark, SF_DIR).collect()
        if r["url"].startswith("fixture://")
    ]
    o1 = [(r["pos"], r["level"], r["heading"]) for r in rows if r["url"].endswith("-1")]
    assert o1 == [
        (1, 1, "Alpha One"),
        (2, 2, "Beta Two"),
        (3, 3, "Gamma Three"),
        (4, 2, "Delta Four"),
    ]
    assert [(r["level"], r["heading"]) for r in rows if r["url"].endswith("-2")] == [
        (1, "Only Top")
    ]
    assert not any(r["url"].endswith("-3") for r in rows)  # headingless → no rows


def test_sitemap_coverage_hits_and_misses(spark):
    rows = CATALOG["sitemap_coverage"].fn(spark, SF_DIR).collect()
    assert rows
    # the deterministic declared-real slice yields a fully-covered host;
    # the kernel's synthetic sitemap targets yield zero-coverage hosts
    assert any(r["coverage_pm"] == 1000 for r in rows)
    assert any(r["coverage_pm"] == 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_crawled"] <= r["n_declared"]
        assert r["coverage_pm"] == (r["n_crawled"] * 1000) // r["n_declared"]


def test_title_body_consistency_flags_clickbait_fixtures(spark):
    rows = {
        r["url"]: r
        for r in CATALOG["doc_title_body_consistency"].fn(spark, SF_DIR).collect()
    }
    assert rows["fixture://clickbait-1"]["title_disjoint"]
    assert rows["fixture://clickbait-1"]["n_overlap"] == 0
    assert rows["fixture://clickbait-2"]["title_disjoint"]
    # organic pages repeat the title as the h1 heading — disjoint titles
    # stay a rare edge-doc artifact (short/garbled titles), not the norm
    organic = [r for u, r in rows.items() if not u.startswith("fixture://")]
    assert organic
    disjoint = sum(1 for r in organic if r["title_disjoint"])
    assert disjoint * 50 <= len(organic)  # ≤2% of organic pages
    for r in rows.values():
        assert r["overlap_pm"] == (r["n_overlap"] * 1000) // max(r["n_title_tokens"], 1)


def test_extract_section_chunks_fixture_segmentation(spark):
    rows = [
        r
        for r in CATALOG["extract_section_chunks"].fn(spark, SF_DIR).collect()
        if r["url"] == "fixture://outline-1"
    ]
    # four headings → four sections, in document order
    assert [(r["sec_idx"], r["heading"]) for r in rows] == [
        (1, "Alpha One"),
        (2, "Beta Two"),
        (3, "Gamma Three"),
        (4, "Delta Four"),
    ]
    assert rows[0]["n_paras"] == 1  # the <p>x</p> after Alpha One
    assert all(r["n_paras"] == 0 for r in rows[1:])


def test_robots_sitemap_directives_field_rules(spark):
    rows = CATALOG["robots_sitemap_directives"].fn(spark, SF_DIR).collect()
    assert rows
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, ds in by_host.items():
        h = int(host.split("-")[1].split(".")[0])
        assert h % 3 != 0  # non-declaring hosts yield no rows
        expect = 2 if h % 2 == 1 else 1
        assert len(ds) == expect, host
        assert [d["sm_idx"] for d in ds] == list(range(1, expect + 1))
        for d in ds:
            # value is trimmed, comment-stripped, case-independent of field
            assert d["sitemap_url"].startswith(f"https://site-{h}.example.org/")
            assert "#" not in d["sitemap_url"]
            assert d["sitemap_url"] == d["sitemap_url"].strip()
    declared = {int(h.split("-")[1].split(".")[0]) for h in by_host}
    assert declared == {h for h in range(40) if h % 3 != 0}


def test_storage_compaction_plan_next_fit_invariants(spark):
    rows = CATALOG["storage_compaction_plan"].fn(spark, SF_DIR).collect()
    assert rows
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) == 8
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total = docs.agg({"n_chars": "sum"}).first()[0]
    assert sum(r["total_bytes"] for r in rows) == total  # nothing dropped
    for bucket, tasks in by_bucket.items():
        assert len(tasks) >= 2  # the target actually splits each bucket
        ids = sorted(t["task_id"] for t in tasks)
        assert ids == list(range(len(ids)))  # dense task ids per bucket
        for t in tasks:
            assert t["overshoot"] == (t["total_bytes"] > 6000)
            # next-fit: a task only overshoots by its last file's tail, so a
            # multi-file task was under target before its last file joined
            if t["n_files"] > 1 and t["overshoot"]:
                assert t["total_bytes"] < 2 * 6000  # files are << target


def test_crawl_budget_allocation_is_exact_apportionment(spark):
    rows = CATALOG["crawl_budget_allocation"].fn(spark, SF_DIR).collect()
    assert rows
    total_mass = sum(r["mass"] for r in rows)
    assert sum(r["slots"] for r in rows) == 1000  # budget spent exactly
    for r in rows:
        # largest-remainder: every host within one slot of its exact share
        exact = 1000 * r["mass"] / total_mass
        assert exact - 1 < r["slots"] < exact + 1
        assert r["capped_slots"] == min(r["slots"], 120)

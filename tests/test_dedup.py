"""Dedup operator family: exact, MinHash-LSH, SimHash."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_platform_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a long tune about rivers and mountains under a quiet evening sky"
)
NEAR = BASE.replace("quiet", "silent")  # one-word change → high jaccard
FAR = (
    "completely different content about databases indexes partitions "
    "shuffles joins aggregations and the optimizer that plans them all"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  " + BASE.upper() + "  "),  # normalized dup of 1
        (4, NEAR),                      # near dup of 1
        (5, FAR),
        (6, FAR + " with a tail"),      # near dup of 5
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_duplicates(spark):
    d = dedup.exact_duplicates(_docs(spark), "id", "text").collect()
    assert len(d) == 1
    assert d[0]["keep_id"] == 1 and d[0]["n_dups"] == 3  # 1,2,3 normalize equal
    kept = dedup.drop_exact_duplicates(_docs(spark), "id", "text")
    assert sorted(r["id"] for r in kept.collect()) == [1, 4, 5, 6]


def test_minhash_near_duplicates(spark):
    pairs = dedup.minhash_near_duplicates(_docs(spark), "id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got       # exact dups surface too
    assert (1, 4) in got or (2, 4) in got or (3, 4) in got  # near dup found
    assert (5, 6) in got
    assert not any({a, b} == {1, 5} for a, b in got)  # unrelated not paired


def test_jaccard_exact_values(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 5)], "id_a long, id_b long")
    j = dedup.jaccard_pairs(_docs(spark), pairs, "id", "text")
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j.collect()}
    assert by_pair[(1, 2)] == 1.0
    assert by_pair[(1, 5)] < 0.05


def test_simhash_near_duplicates(spark):
    pairs = dedup.simhash_near_duplicates(_docs(spark), "id", "text", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got
    assert not any({a, b} == {1, 5} for a, b in got)


def test_simhash_is_64bit_stable(spark):
    df = _docs(spark).select(dedup.simhash64("text").alias("sh"))
    a = [r["sh"] for r in df.collect()]
    b = [r["sh"] for r in df.collect()]
    assert a == b
    assert a[0] == a[1]  # identical text → identical simhash


def test_bucket_cap_bounds_quadratic_corner(spark):
    # 100 identical docs: pairs are capped by max_bucket, not 100*99/2 per band
    rows = [(i, BASE) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = dedup.minhash_candidate_pairs(df, "id", "text", max_bucket=10)
    assert pairs.count() <= 10 * 9 / 2


def test_simhash_udf_matches_expression(spark):
    """The numpy SimHash kernel is bit-identical to the pure-expression
    formulation (determinism discipline: one semantics, two executions)."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.dedup import _simhash_df, simhash64

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumped over the lazy dog",
            "completely different content about spark engines",
            "",
            "single",
        ])],
        "id long, text string",
    )
    expr = {r["id"]: r["sh"] for r in
            df.select("id", simhash64("text").alias("sh")).collect()}
    udf = {r["id"]: r["sh"] for r in _simhash_df(df, "id", "text").collect()}
    assert expr == udf


def test_winnow_near_duplicates(spark):
    """Winnowing near-dup: overlap gate keeps true near-dups, frequency cap
    removes boilerplate fingerprints from consideration entirely."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.dedup import (
        winnow_fp_postings,
        winnow_near_duplicate_pairs,
        winnow_near_duplicates,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the crowd of "
        "many people watches the spectacle from the side of the road"
    )
    rows = [
        (1, base),
        (2, base + " and then walks away into the night"),  # near-dup of 1
        (3, "completely different text about distributed query engines and "
            "the exchange operators that move rows between the stages"),
        (4, "short unrelated words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = winnow_near_duplicates(
        df, "doc_id", "text", min_shared=2, max_df=64, min_overlap=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["overlap"] >= 0.5 for r in pairs)

    # frequency cap: with max_df=1 every shared fingerprint (df>=2) is
    # boilerplate-capped away, so NO pairs survive
    postings = winnow_fp_postings(df, "doc_id", "text")
    capped = winnow_near_duplicate_pairs(postings, min_shared=1, max_df=1, min_overlap=0.0)
    assert capped.count() == 0

    # containment semantics: doc 1's text is a strict prefix of doc 2's, so
    # every fingerprint of 1 appears in 2 → overlap (shared / min size) = 1.0
    ov = winnow_near_duplicate_pairs(postings, 2, 64, 0.0).where(
        (F.col("id_a") == 1) & (F.col("id_b") == 2)
    ).first()["overlap"]
    assert ov == 1.0
    # overlap gate: a partially-overlapping pair (shared head, different
    # tails) sits strictly between 0 and 1 and is removed by a threshold
    # above its measured overlap
    head = "the quick brown fox jumps over the lazy dog near the river"
    part = spark.createDataFrame(
        [
            (10, head + " and the story continues with the first unique tail"),
            (11, head + " but a second entirely different ending follows here"),
        ],
        "doc_id long, text string",
    )
    ppost = winnow_fp_postings(part, "doc_id", "text")
    pov = winnow_near_duplicate_pairs(ppost, 2, 64, 0.0).first()["overlap"]
    assert 0.0 < pov < 1.0
    gated = winnow_near_duplicate_pairs(ppost, 2, 64, min(pov + 0.001, 1.0))
    assert gated.count() == 0


def test_paragraph_postings_positions_and_filter(spark):
    df = spark.createDataFrame(
        [(1, "a\n\nb\n\n\nc"), (2, "a\n\n\n\nd"), (3, "")],
        "id long, text string",
    )
    rows = dedup.paragraph_postings(df, "id", "text").collect()
    got = {(r["id"], r["idx"], r["para"]) for r in rows}
    # \n{2,} splits on ANY run of >=2 newlines; empty text yields no postings
    assert got == {(1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (2, 0, "a"), (2, 1, "d")}


def test_repeated_paragraphs_counts_distinct_docs(spark):
    # "x" appears twice in doc 1 but only in 2 distinct docs
    df = spark.createDataFrame(
        [(1, "x\n\nx\n\ny"), (2, "x\n\nz"), (3, "z")],
        "id long, text string",
    )
    posts = dedup.paragraph_postings(df, "id", "text")
    rep = {r["h"]: r["n_docs"] for r in dedup.repeated_paragraphs(posts, 2).collect()}
    import hashlib

    hx = hashlib.md5(b"x").hexdigest()
    hz = hashlib.md5(b"z").hexdigest()
    assert rep == {hx: 2, hz: 2}


def test_strip_repeated_paragraphs_rebuilds_in_order(spark):
    df = spark.createDataFrame(
        [(1, "keep1\n\nBOILER\n\nkeep2"), (2, "BOILER\n\nother"), (3, "BOILER")],
        "id long, text string",
    )
    out = {
        r["id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in dedup.strip_repeated_paragraphs(df, "id", "text", min_df=3).collect()
    }
    assert out[1] == ("keep1\n\nkeep2", 2, 1)
    assert out[2] == ("other", 1, 1)
    assert out[3] == ("", 0, 1)  # all-boilerplate doc survives with empty text


def test_strip_host_boilerplate_is_host_scoped(spark):
    # FOOTER stamps every page of host a (3 pages -> furniture, stripped
    # there) but appears ONCE on host b (content there, kept). The
    # corpus-global rule at the same min_df would strip all four copies.
    df = spark.createDataFrame(
        [
            ("a", 1, "FOOTER\n\nstory one"),
            ("a", 2, "story two\n\nFOOTER"),
            ("a", 3, "FOOTER"),
            ("b", 4, "FOOTER\n\nunrelated essay"),
        ],
        "host string, id long, text string",
    )
    out = {
        r["id"]: (r["host"], r["text"], r["n_kept"], r["n_dropped"])
        for r in dedup.strip_host_boilerplate(
            df, "id", "text", "host", min_df=3
        ).collect()
    }
    assert out[1] == ("a", "story one", 1, 1)
    assert out[2] == ("a", "story two", 1, 1)
    assert out[3] == ("a", "", 0, 1)
    assert out[4] == ("b", "FOOTER\n\nunrelated essay", 2, 0)
    # the global rule strips the same paragraph everywhere
    g = {
        r["id"]: r["n_dropped"]
        for r in dedup.strip_repeated_paragraphs(df, "id", "text", min_df=3).collect()
    }
    assert g == {1: 1, 2: 1, 3: 1, 4: 1}


def test_strip_host_boilerplate_counts_repeats_once_per_page(spark):
    # the same line twice WITHIN one page counts once toward min_df
    df = spark.createDataFrame(
        [("a", 1, "X\n\nX"), ("a", 2, "body")],
        "host string, id long, text string",
    )
    out = {
        r["id"]: r["n_dropped"]
        for r in dedup.strip_host_boilerplate(df, "id", "text", "host", min_df=2).collect()
    }
    assert out == {1: 0, 2: 0}


# --- ExactSubstr-style repeated spans -------------------------------------


def _brute_repeated_spans(texts, k=10, min_df=2):
    """Reference: mark positions whose k-gram substring occurs in >= min_df
    distinct docs, merge overlapping/adjacent intervals."""
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for did, t in texts:
        grams = [t[i : i + k] for i in range(max(len(t) - k + 1, 1))]
        for g in grams:
            gram_docs[g].add(did)
    out = {}
    for did, t in texts:
        grams = [t[i : i + k] for i in range(max(len(t) - k + 1, 1))]
        marked = [i for i, g in enumerate(grams) if len(gram_docs[g]) >= min_df]
        spans = []
        for p in marked:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        out[did] = [tuple(s) for s in spans]
    return out


def test_repeated_spans_match_bruteforce(spark):
    from ocr_platform_spark.operators.dedup import char_gram_postings, repeated_spans

    blurb = "All rights reserved worldwide by the site operator."
    texts = [
        (1, f"Unique opening sentence one. {blurb} And a unique tail here."),
        (2, f"{blurb} Totally different body text follows in document two."),
        (3, "No shared content in this document at all, nothing repeated."),
        (4, f"Another page carrying {blurb} twice, yes: {blurb} End."),
        (5, "short"),  # < k chars: single gram, unique
    ]
    expected = _brute_repeated_spans(texts, k=10, min_df=2)
    df = spark.createDataFrame(texts, "doc_id long, text string")
    posts = char_gram_postings(df, "doc_id", "text", k=10)
    got = {}
    for r in repeated_spans(posts, k=10, min_df=2).collect():
        got.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    for did in got:
        got[did].sort()
    expected_nonempty = {d: s for d, s in expected.items() if s}
    assert got == expected_nonempty
    assert 5 not in got  # sub-k doc: single unique gram, unmarked
    # the planted blurb region is covered in every carrier doc
    by_id = dict(texts)
    for did in (1, 2, 4):
        covered = [by_id[did][a:b] for a, b in got[did]]
        assert any(blurb in c for c in covered)


def test_strip_repeated_spans_surgery(spark):
    from ocr_platform_spark.operators.dedup import strip_repeated_spans

    blurb = "All rights reserved worldwide by the site operator."
    texts = [
        (1, f"Unique opening sentence one. {blurb} And a unique tail here."),
        (2, f"{blurb} Totally different body text follows in document two."),
        (3, "No shared fragments here, guaranteed: zq xv jk wp mn bt."),
        (4, blurb),  # doc that IS the blurb: cut to empty
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in strip_repeated_spans(df, "doc_id", "text", k=20, min_df=2).collect()
    }
    assert len(got) == 4
    for did, original in texts:
        r = got[did]
        assert blurb not in r["text"]
        # stats are consistent with the actual cut (span_end can overrun
        # the text by < k chars only for sub-k docs; none here)
        assert len(original) - len(r["text"]) == r["n_chars_cut"]
        assert (r["n_spans_cut"] > 0) == (r["n_chars_cut"] > 0)
    assert got[3]["n_spans_cut"] == 0 and got[3]["text"] == texts[2][1]
    assert got[4]["text"] == ""
    # kept text is the literal complement of the cut for a carrier doc
    assert got[1]["text"].startswith("Unique opening sentence one.")
    assert got[1]["text"].endswith("And a unique tail here.")


def test_winnowed_postings_subset_and_selection(spark):
    """winnowed_gram_postings emits a subset of char_gram_postings rows,
    at reduced density, and the selection matches a pure-Python winnow
    (window-min by (h, pos)) over the full posting list."""
    from ocr_platform_spark.operators.dedup import (
        char_gram_postings,
        winnowed_gram_postings,
    )

    K, W = 10, 4
    texts = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank."),
        (2, "Pack my box with five dozen liquor jugs before the storm arrives."),
        (3, "short"),  # sub-k doc: one gram, must survive sampling
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    full = [(r["id"], r["pos"], r["h"]) for r in char_gram_postings(df, "doc_id", "text", K).collect()]
    samp = [(r["id"], r["pos"], r["h"]) for r in winnowed_gram_postings(df, "doc_id", "text", K, W).collect()]
    assert set(samp) <= set(full)
    assert len(samp) < len(full)
    # Python reference replay of the window-min selection
    by_doc = {}
    for did, pos, h in sorted(full):
        by_doc.setdefault(did, []).append((h, pos))
    expected = set()
    for did, grams in by_doc.items():
        grams.sort(key=lambda t: t[1])  # position order
        n = len(grams)
        for j in range(max(n - W + 1, 1)):
            h, pos = min(grams[j : j + W])
            expected.add((did, pos, h))
    assert set(samp) == expected
    assert (3, 0) in {(d, p) for d, p, _ in samp}  # sub-k doc sampled


def test_winnowed_spans_cover_misaligned_repeats(spark):
    """The scale contract of the strided marker: sampled spans are always
    CONTAINED in the exact operator's spans, and every planted shared
    substring of length >= w+k-1 is covered even when its offsets are
    misaligned across documents — the case that breaks position-stride
    sampling (phases pos % s differ between carriers, so stride-sampled
    same-content grams never co-occur)."""
    from ocr_platform_spark.operators.dedup import (
        char_gram_postings,
        repeated_spans,
        winnowed_gram_postings,
    )

    K, W = 10, 4
    blurb = "All rights reserved worldwide by the operator of this site."
    assert len(blurb) >= W + K - 1
    # misaligned prefixes: 0, 103, 47 chars — no common residue mod any
    # stride s in 2..8, so a pos % s sampler would co-sample nothing
    texts = [
        (1, blurb + " unique tail one follows here."),
        (2, "x" * 103 + blurb + " other tail."),
        (3, "y" * 47 + blurb),
        (4, "No shared fragments here, guaranteed: zq xv jk wp mn bt."),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    exact = {}
    for r in repeated_spans(char_gram_postings(df, "doc_id", "text", K), k=K, min_df=2).collect():
        exact.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    samp = {}
    posts_w = winnowed_gram_postings(df, "doc_id", "text", K, W)
    for r in repeated_spans(posts_w, k=K, min_df=2).collect():
        samp.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    # containment: every sampled span sits inside an exact span
    for did, spans in samp.items():
        for a, b in spans:
            assert any(ea <= a and b <= eb for ea, eb in exact.get(did, [])), (did, a, b)
    # coverage: each planted blurb occurrence overlaps a sampled span
    starts = {1: 0, 2: 103, 3: 47}
    for did, s0 in starts.items():
        s1 = s0 + len(blurb)
        assert any(a < s1 and s0 < b for a, b in samp.get(did, [])), did
    assert 4 not in samp
    # and the edges are advisory-close: within w-1 grams of exact
    for did, spans in samp.items():
        for (a, b), (ea, eb) in zip(sorted(spans), sorted(exact[did])):
            assert a - ea <= W - 1 and eb - b <= W - 1

    # demonstrate the stride counterexample this design avoids: docs 1 and
    # 2 carry the blurb at offsets 0 and 103 — 103 % s != 0 for every
    # stride s in 2..8, so a pos % s == 0 sampler emits DISJOINT phases of
    # the blurb in the two docs and co-samples no blurb gram at any of
    # those strides (the repeat would be invisible to the min_df filter)
    by_id = dict(texts)
    for s in range(2, 9):
        sets = []
        for did in (1, 2):
            t = by_id[did]
            sets.append({t[p : p + K] for p in range(0, max(len(t) - K + 1, 1)) if p % s == 0})
        shared = {g for g in sets[0] & sets[1] if g in blurb}
        assert not shared, (s, shared)


def test_winnowed_postings_kernel_matches_expression_twin(spark):
    """The Arrow argmin kernel and the pure column-expression selection are
    the same function (numpy first-occurrence argmin == (h, pos) struct
    min; adjacent-dedup == full dedup) — pinned row-for-row on a corpus
    slice plus the adversarial shapes: empty text, shorter than k, shorter
    than w grams, long runs of one character (max ties)."""
    from ocr_platform_spark.operators.corpus_spark import documents_df
    from ocr_platform_spark.operators.dedup import winnowed_gram_postings

    docs = documents_df(spark, 120, golden=True).selectExpr(
        "url AS doc_id", "expected_text AS text"
    )
    edge = spark.createDataFrame(
        [("e0", ""), ("e1", "tiny"), ("e2", "x" * 200), ("e3", "ab" * 120)],
        "doc_id string, text string",
    )
    for df in (docs.where("text IS NOT NULL"), edge):
        kern = winnowed_gram_postings(df, "doc_id", "text", 30, 8, kernel=True)
        expr = winnowed_gram_postings(df, "doc_id", "text", 30, 8, kernel=False)
        a = sorted((r["id"], r["pos"], r["h"]) for r in kern.collect())
        b = sorted((r["id"], r["pos"], r["h"]) for r in expr.collect())
        assert a == b


def test_winnow_containment_directed(spark):
    """Planted containment: B = A's text wrapped in extra chrome. A is
    contained in B (high containment A->B), B is NOT contained in A, and
    symmetric near-dup overlap can miss the pair entirely when the chrome
    dominates. An unrelated doc pairs with nothing."""
    from ocr_platform_spark.operators.dedup import (
        winnow_containment_pairs,
        winnow_fp_postings,
    )

    article = " ".join(f"body{i} content{i} sentence{i}" for i in range(12))
    chrome = " ".join(f"nav{i} footer{i} sidebar{i} banner{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, article),                       # the inner article
            (2, chrome + " " + article),        # outer page wrapping it
            (3, "totally unrelated text about warehouse inventory"),
        ],
        "doc_id long, text string",
    )
    posts = winnow_fp_postings(df, "doc_id", "text")
    rows = {
        (r["id_in"], r["id_out"]): r
        for r in winnow_containment_pairs(posts, min_containment=0.8).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)]["containment"] >= 0.8
    assert (2, 1) not in rows            # outer doc is not contained in inner
    assert not any(3 in k for k in rows)  # unrelated doc pairs with nothing
    # directed rows come from one aggregate: shared counts agree
    assert rows[(1, 2)]["n_fp_in"] < rows[(1, 2)]["n_fp_out"]


def test_strip_contained_spans_cuts_only_shared_material(spark):
    """Containment-driven cut: the outer page keeps its own chrome, loses
    the wrapped article body; the inner article and unrelated docs are not
    output rows (only id_out participants are operated on)."""
    from ocr_platform_spark.operators.dedup import (
        strip_contained_spans,
        winnow_containment_pairs,
        winnow_fp_postings,
    )

    article = " ".join(f"body{i} content{i} sentence{i}" for i in range(12))
    chrome_a = " ".join(f"nav{i} footer{i} sidebar{i} banner{i}" for i in range(15))
    chrome_b = " ".join(f"menu{i} widget{i} promo{i} legal{i}" for i in range(15))
    outer_text = chrome_a + " " + article + " " + chrome_b
    df = spark.createDataFrame(
        [
            (1, article),
            (2, outer_text),
            (3, "totally unrelated text about warehouse inventory"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_containment_pairs(
        winnow_fp_postings(df, "doc_id", "text"), min_containment=0.8
    )
    got = {
        r["doc_id"]: r
        for r in strip_contained_spans(df, pairs, "doc_id", "text", k=30).collect()
    }
    assert set(got) == {2}  # only the outer doc is rewritten
    r = got[2]
    assert article not in r["text"]
    # both chrome flanks survive (edges may lose < k advisory chars where
    # a gram straddles the chrome/article boundary)
    assert r["text"].startswith(chrome_a[: len(chrome_a) - 30])
    assert r["text"].rstrip().endswith(chrome_b[30:])
    assert r["n_spans_cut"] >= 1
    assert len(outer_text) - len(r["text"]) == r["n_chars_cut"]
    # the cut is at least the article body minus gram-edge slack
    assert r["n_chars_cut"] >= len(article) - 2 * 30


def test_dedup_banding_recall_monotone(spark):
    """Recall is non-increasing in rows_per_band (stricter bands catch
    fewer true pairs); an exact-duplicate pair is caught by EVERY config
    (identical signatures collide in every band)."""
    from ocr_platform_spark.operators.dedup import (
        banding_candidates_multi_self,
        dedup_banding_recall_report,
        hashed_shingle_sets,
    )

    base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    near = base.replace("alpha3", "ALPHA3").replace("beta7", "BETA7")
    rows = [(1, base), (2, base), (3, near)] + [
        (10 + i, " ".join(f"tok{i}x{j} y{i}z{j} q{i}w{j}" for j in range(18)))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hs = hashed_shingle_sets(df, "doc_id", "text").cache()
    cands = banding_candidates_multi_self(hs).cache()
    rep = {
        r["rows_per_band"]: r
        for r in dedup_banding_recall_report(hs, cands, threshold=0.5).collect()
    }
    assert set(rep) == {1, 2, 4, 8}
    assert all(r["n_bands"] == 16 // k for k, r in rep.items())
    n_true = rep[1]["n_true"]
    assert n_true >= 2  # (1,2) identical and (1,3)/(2,3) near pairs
    assert all(r["n_true"] == n_true for r in rep.values())
    # monotone non-increasing recall as bands get stricter
    assert (
        rep[1]["n_caught"] >= rep[2]["n_caught"]
        >= rep[4]["n_caught"] >= rep[8]["n_caught"]
    )
    # the identical pair survives even the strictest config
    assert rep[8]["n_caught"] >= 1
    assert rep[1]["recall"] <= 1.0 and rep[1]["recall"] > 0
    hs.unpersist(); cands.unpersist()


def test_span_surgery_randomized_against_reference(spark):
    """merge_position_islands + cut_spans vs a pure-Python reference over
    hundreds of random (text, marked-positions) docs in one job each —
    the shared surgery tail now serves three operators (ExactSubstr cut,
    containment strip, surgical decontamination), so its island-merge and
    complement-segment semantics are pinned here once, including the
    sub-k overshoot edge (span_end past end-of-text cuts what exists and
    still reports the declared span length)."""
    import random

    from ocr_platform_spark.operators.dedup import cut_spans, merge_position_islands

    rng = random.Random(20260819)
    k = 7
    docs, marks = [], []
    ref_spans: dict[int, list[tuple[int, int]]] = {}
    for doc_id in range(120):
        n = rng.randrange(0, 120)
        text = "".join(rng.choice("abcdef ") for _ in range(n))
        docs.append((doc_id, text))
        hi = max(0, n - k)
        poss = (
            sorted(rng.sample(range(hi + 1), rng.randrange(0, min(12, hi + 1) + 1)))
            if n
            else []
        )
        spans: list[tuple[int, int]] = []
        for p in poss:
            marks.append((doc_id, p))
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], p + k)
            else:
                spans.append((p, p + k))
        if spans:
            ref_spans[doc_id] = spans
    # sub-k overshoot edge: a 3-char doc marked at 0 → span (0, 7) past EOT
    docs.append((9000, "abc"))
    marks.append((9000, 0))
    ref_spans[9000] = [(0, 7)]

    marked = spark.createDataFrame(marks, "id long, pos int")
    got_spans: dict[int, list[tuple[int, int]]] = {}
    for r in merge_position_islands(marked, k).collect():
        got_spans.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    assert {i: sorted(v) for i, v in got_spans.items()} == ref_spans

    spans_df = spark.createDataFrame(
        [(i, s, e) for i, v in ref_spans.items() for (s, e) in v],
        "id long, span_start int, span_end int",
    )
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in cut_spans(docs_df, spans_df, "doc_id", "text").collect()}
    assert set(got) == {d for d, _ in docs}
    for doc_id, text in docs:
        spans = ref_spans.get(doc_id, [])
        kept, prev = [], 0
        for s, e in spans:
            kept.append(text[prev:s])
            prev = max(prev, e)
        kept.append(text[prev:])
        r = got[doc_id]
        assert r["text"] == "".join(kept), (doc_id, spans, text)
        assert r["n_spans_cut"] == len(spans)
        assert r["n_chars_cut"] == sum(e - s for s, e in spans)


def test_host_union_signature_is_minhash_of_union(spark):
    """Elementwise min of per-doc signatures == MinHash computed directly
    over the union of the host's shingle sets (the composition law the
    host-mirror operator relies on)."""
    rows = [
        (1, "h1", "alpha beta gamma delta epsilon zeta"),
        (2, "h1", "eta theta iota kappa lambda mu"),
        (3, "h2", "nu xi omicron pi rho sigma tau"),
    ]
    df = spark.createDataFrame(rows, "id long, host string, text string")
    hs = dedup.hashed_shingle_sets(df, "id", "text")
    doc_sigs = (
        hs.select("id", dedup.minhash_signature_from_hashes("hs", 8).alias("sig"))
        .join(df.select("id", "host"), "id")
        .select("id", "host", "sig")
    )
    composed = {
        r["host"]: r["sig"]
        for r in dedup.host_union_signatures(doc_sigs, "host", "sig", 8).collect()
    }
    union = (
        hs.join(df.select("id", "host"), "id")
        .select("host", F.explode("hs").alias("h"))
        .groupBy("host")
        .agg(F.array_distinct(F.collect_list("h")).alias("hs"))
        .select("host", dedup.minhash_signature_from_hashes("hs", 8).alias("sig"))
    )
    direct = {r["host"]: r["sig"] for r in union.collect()}
    assert composed == direct


def test_host_mirror_near_pairs_sees_through_banner_drift(spark):
    """A mirror host whose every page carries a page-unique banner has ZERO
    page-hash overlap with the origin, yet the union-MinHash estimate flags
    the pair; an unrelated host pair does not."""
    base = [f"shared corpus words number {i} " + "filler common text " * 5 for i in range(6)]
    rows = (
        [(i, "origin", t) for i, t in enumerate(base)]
        + [(100 + i, "mirror", t + f" banner unique {i}") for i, t in enumerate(base)]
        + [(200 + i, "other", f"completely different material item {i} " * 6) for i in range(6)]
    )
    df = spark.createDataFrame(rows, "id long, host string, text string")
    # page-hash grain: no shared hashes between origin and mirror
    hashes = df.select("host", F.md5("text").alias("h")).distinct()
    om = (
        hashes.where(F.col("host") == "origin")
        .join(hashes.where(F.col("host") == "mirror").select("h"), "h")
        .count()
    )
    assert om == 0
    hs = dedup.hashed_shingle_sets(df, "id", "text")
    doc_sigs = (
        hs.select("id", dedup.minhash_signature_from_hashes("hs", 16).alias("sig"))
        .join(df.select("id", "host"), "id")
        .select("id", "host", "sig")
    )
    out = {
        (r["host_a"], r["host_b"]): r["is_mirror"]
        for r in dedup.host_mirror_near_pairs(doc_sigs, k=16).collect()
    }
    assert out.get(("mirror", "origin")) or out.get(("origin", "mirror"))
    for pair, flagged in out.items():
        if "other" in pair:
            assert not flagged

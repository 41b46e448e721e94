"""Fuzzy SELECT-mapper corpus — modeled on the reference's
``ocr_backend/tests/test_map_select_field.py:38-52`` TEST_DEFINITIONS
(exact/typo/case/punctuation/whitespace/ampersand/no-match), with a
committed vocabulary replacing the absent external JSON fixture."""

from __future__ import annotations

from ocr_platform_spark.functions.fuzzy import map_select_value, wratio_like
from ocr_platform_spark.operators.select_mapping import map_select_column

# committed vocabulary (option_value, option_label) — FIXTURES.md §4
VOCAB = [
    ("AAMRAPALI", "AAMRAPALI CREATION"),
    ("AMBIKA", "AMBIKA SAREES PVT LTD (KOLKATA)"),
    ("AM_SONS", "A.M & SONS"),
    ("QUEENS", "QUEEN'S EMPORIUM"),
    ("AASHIRVAD", "AASHIRVAD SAREES PVT. LTD."),
    ("ZANVAR", "ZANVAR SAREES HOUSE"),
    ("MAHALAXMI", "MAHA LAXMI TEXTILE"),
]
VALUES = [v for v, _ in VOCAB]

CASES = {
    "exact": ("AAMRAPALI CREATION", "in_options"),
    "typo": ("AAMRAPLI CREATION", "in_options"),
    "no_match": ("qwertyuiopasdfgh", "none"),
    "case_insensitive": ("ambika sarees pvt ltd", "in_options"),
    "punctuation": ("AMBIKA SAREES PVT LTD.", "in_options"),
    "ampersand_and": ("A.M AND SONS", "in_options"),
    "apostrophe": ("QUEENS EMPORIUM", "in_options"),
    "missing_periods": ("AASHIRVAD SAREES PVT LTD", "in_options"),
    "extra_whitespace": ("  AMBIKA   SAREES   PVT   LTD  ", "in_options"),
    "similar": ("ZANVAR SAREES", "in_options"),
    "mixed_case": ("Maha Laxmi Textile", "in_options"),
}


def test_corpus_cases():
    for name, (value, expect) in CASES.items():
        got = map_select_value(value, VOCAB)
        if expect == "in_options":
            assert got in VALUES, f"{name}: {value!r} -> {got!r}"
        else:
            assert got is None, f"{name}: {value!r} -> {got!r}"


def test_reference_thresholds():
    # cutoff 75 / auto-accept 90 / best-fallback (ocr_routes.py:54-76,153-163)
    assert map_select_value(None, VOCAB) is None
    assert map_select_value("", VOCAB) is None
    assert map_select_value("anything", []) == "anything"  # no vocab → passthrough


def test_scorer_is_symmetric_enough():
    assert wratio_like("abc", "abc") == 100
    assert wratio_like("", "") == 0
    assert 0 <= wratio_like("a", "zzzz") <= 100


def test_operator_distributed(spark):
    rows = [(v,) for v, _ in ((c[0], None) for c in CASES.values())]
    df = spark.createDataFrame(rows, "ocr_value string")
    field_options = spark.createDataFrame(
        [("VENDOR_NAME", v, l) for v, l in VOCAB],
        "field_name string, option_value string, option_label string",
    )
    out = map_select_column(
        df.selectExpr("ocr_value", "'VENDOR_NAME' as field_name"),
        "ocr_value", "field_name", field_options,
    ).collect()
    by_value = {r["ocr_value"]: r["mapped_value"] for r in out}
    assert by_value["AAMRAPALI CREATION"] == "AAMRAPALI"
    assert by_value["qwertyuiopasdfgh"] is None
    assert by_value["  AMBIKA   SAREES   PVT   LTD  "] == "AMBIKA"


def test_determinism_across_vocab_order(spark):
    # vocab arrives sorted inside vocab_dict → same result for any input order
    a = map_select_value("ZANVAR SAREES", VOCAB)
    b = map_select_value("ZANVAR SAREES", list(reversed(VOCAB)))
    assert a == b == "ZANVAR"


def test_cached_mapper_matches_reference_path():
    """The hoisted/early-exit CachedMapper is byte-identical to the plain
    map_select_value on every corpus case, including score-100 ties (the
    early exit must keep the EARLIEST vocabulary index, like the stable
    (-score, idx) sort does)."""
    from ocr_platform_spark.functions.fuzzy import CachedMapper, map_select_value

    vocab = [
        ("a-first", "Exact Match Label"),
        ("b-second", "exact  match   label"),  # same after preprocessing
        ("c-other", "Completely Different"),
        ("d-near", "Exact Match Labels"),
    ]
    values = [
        "exact match label",   # 100-tie between idx 0 and 1 -> idx 0 wins
        "EXACT MATCH LABEL",
        "Exact Match Labe",
        "nothing like any option at all zzz",
        "completely different",
        "",
        None,
    ]
    mapper = CachedMapper({"f": vocab})
    for v in values:
        assert mapper.map("f", v) == (map_select_value(v, vocab) if v else None)
    # passthrough when the field has no vocabulary
    assert mapper.map("unknown_field", "anything") == "anything"


def test_score_select_column_matches_mapper(spark):
    """Re-ranking the staged score matrix reproduces the mapped output —
    the exact selection the fuzzy_supplier_mapping oracle re-runs in SQL."""
    from ocr_platform_spark.functions.fuzzy import SCORE_CUTOFF
    from ocr_platform_spark.operators.select_mapping import (
        map_select_single_vocab,
        score_select_column,
    )

    vocab = [(f"Opt {i:03d} label", f"Opt {i:03d} label") for i in range(8)]
    rows = [(i, f"opt {i % 8:03d} labe") for i in range(24)] + [(99, "zzz qqq")]
    df = spark.createDataFrame(rows, "rid long, raw string")
    mapped = {
        r["rid"]: r["m"]
        for r in map_select_single_vocab(df, "raw", vocab, "m").collect()
    }
    opts = sorted(vocab)
    for r in score_select_column(df, "raw", vocab).collect():
        best, best_s = None, SCORE_CUTOFF - 1
        for idx, s in enumerate(r["scores"]):
            if s > best_s:
                best, best_s = opts[idx][0], s
        assert mapped[r["rid"]] == best, r["rid"]


def test_fast_scorer_byte_identical_property():
    """_score_pair / VocabScorer / CachedMapper are byte-identical to the
    plain wratio_like_pre / score_all / map_select_value reference path —
    hypothesis over adversarial string pairs (shared tokens, near-anagrams,
    prefixes, empties, repeats) plus TPC-H-style supplier names."""
    from hypothesis import given, settings, strategies as st

    from ocr_platform_spark.functions.fuzzy import (
        CachedMapper,
        VocabScorer,
        _LabelState,
        _preprocess,
        _score_pair,
        _ValueState,
        map_select_value,
        score_all,
        wratio_like_pre,
    )

    token = st.sampled_from(
        ["supplier", "000000123", "000000456", "inc", "ltd", "co", "x",
         "aa", "ab", "ba", "textile", "sarees", "pvt", "0001", ""]
    )
    string = st.lists(token, min_size=0, max_size=5).map(" ".join)

    @given(string, string)
    @settings(max_examples=300, deadline=None)
    def check_pair(a, b):
        pa, pb = _preprocess(a), _preprocess(b)
        assert _score_pair(_ValueState(pa), _LabelState(pb)) == wratio_like_pre(pa, pb)

    check_pair()

    vocab = sorted(
        {f"Supplier#{i:09d}" for i in range(40)}
        | {"A.M & SONS", "QUEEN'S EMPORIUM", "MAHA LAXMI TEXTILE", "x", ""}
    )
    options = [(v, v) for v in vocab]
    scorer = VocabScorer(options)
    mapper = CachedMapper({"f": options})
    probes = [
        "Supplier#000000012", "SUPPLIER#000000012", "  Supplier#000000012 inc. ",
        "Supplier#0000", "supplier", "zzz qqq", "", "x", "MAHA LAXMI",
        "queens emporium", "a m and sons", "Supplier#000000039",
    ]
    for v in probes:
        assert scorer.score_all_fast(v) == score_all(v, options), v
        assert mapper.map("f", v) == (map_select_value(v, options) if v else None), v


def test_exact_shortcut_guard_long_labels():
    """The O(1) exact-label shortcut must disengage when la+lb can reach
    200 (where an unequal full ratio could round to 100) — long-label vocab
    still maps byte-identically to the reference scan."""
    from ocr_platform_spark.functions.fuzzy import CachedMapper, map_select_value

    long_a = "tok " * 60 + "alpha"     # ~245 chars preprocessed
    long_b = "tok " * 60 + "alphb"     # unequal, near-1.0 full ratio
    vocab = [("B", long_b), ("A", long_a)]
    mapper = CachedMapper({"f": vocab})
    for v in (long_a, long_b, "tok tok alpha"):
        assert mapper.map("f", v) == map_select_value(v, vocab), v


def test_ub_score_dominates_exact_score_property():
    """_ub_score is a true upper bound of _score_pair on adversarial pairs
    (the mapper's skip logic is sound only if this holds everywhere)."""
    from hypothesis import given, settings, strategies as st

    from ocr_platform_spark.functions.fuzzy import (
        _LabelState, _preprocess, _score_pair, _ub_score, _ValueState,
    )

    token = st.sampled_from(
        ["supplier", "000000123", "000000456", "inc", "ltd", "co", "x",
         "aa", "ab", "ba", "textile", "sarees", "pvt", "0001", "zzzz", ""]
    )
    string = st.lists(token, min_size=0, max_size=6).map(" ".join)

    @given(string, string)
    @settings(max_examples=500, deadline=None)
    def check(a, b):
        va, lb = _ValueState(_preprocess(a)), _LabelState(_preprocess(b))
        assert _score_pair(va, lb) <= _ub_score(va, lb)

    check()


def _lcs_dp(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for ch in a:
        cur = [0]
        for j, c in enumerate(b):
            cur.append(prev[j] + 1 if ch == c else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


def test_lcs_len_equals_dp_lcs():
    """The bit-parallel LCS equals the textbook DP on small alphabets
    (many matches), absent characters and strings past 64 characters
    (multi-word big-int rows)."""
    from hypothesis import given, settings, strategies as st

    from ocr_platform_spark.functions.fuzzy import _char_masks, _lcs_len

    text = st.text(alphabet="abc x", max_size=90)

    @given(text, text)
    @settings(max_examples=400, deadline=None)
    def check(a, b):
        assert _lcs_len(a, _char_masks(b)) == _lcs_dp(a, b)

    check()
    assert _lcs_len("", _char_masks("abc")) == 0
    assert _lcs_len("abc", _char_masks("")) == 0
    assert _lcs_len("zzz", _char_masks("abc")) == 0


def test_lcs_bound_dominates_exact_score_property():
    """_lcs_ub_score is a true upper bound of _score_pair, and never looser
    than _ub_score — on token soups and on long strings (200+ characters,
    where difflib's autojunk heuristic engages), so the mapper's second
    skip is sound."""
    from hypothesis import given, settings, strategies as st

    from ocr_platform_spark.functions.fuzzy import (
        _LabelState, _lcs_ub_score, _preprocess, _score_pair, _ub_score, _ValueState,
    )

    token = st.sampled_from(
        ["supplier", "000000123", "000000456", "inc", "ltd", "co", "x",
         "aa", "ab", "ba", "textile", "sarees", "pvt", "0001", "zzzz", ""]
    )
    short = st.lists(token, min_size=0, max_size=6).map(" ".join)
    long = st.lists(token, min_size=20, max_size=60).map(" ".join)
    chars = st.text(alphabet="abcde fgh", min_size=0, max_size=320)

    def check(a, b):
        va, lb = _ValueState(_preprocess(a)), _LabelState(_preprocess(b))
        bound = _lcs_ub_score(va, lb)
        assert _score_pair(va, lb) <= bound <= _ub_score(va, lb)

    pairs = st.one_of(
        st.tuples(short, short), st.tuples(long, long), st.tuples(short, long),
        st.tuples(chars, chars),
    )
    settings(max_examples=500, deadline=None)(given(pairs)(lambda p: check(*p)))()
    check("tok " * 60 + "alpha", "tok " * 60 + "alphb")  # ~245 chars each

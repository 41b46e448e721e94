"""Pure-Python fuzzy string scoring + SELECT-value mapping.

Deterministic reimplementation of the reference's fuzzy SELECT mapper
(``ocr_backend/app/api/ocr_routes.py:31-166``): top-5 candidates at
score_cutoff=75, auto-accept at ≥90, best-fuzzy fallback otherwise. The
reference escalates the 75–89 band to an LLM (``:114-156``); a remote model
is non-deterministic, so this rebuild always takes the reference's *own*
no-API-key / error fallback path (``:125-131, :153-163``): best fuzzy match.
Documented semantic delta; fixture-pinned in tests/test_select_mapping.py.

Scorer: fuzzywuzzy/rapidfuzz are not installed here, so ``wratio_like`` is a
from-scratch weighted scorer on ``difflib.SequenceMatcher`` (stdlib,
platform-stable): max of full ratio, token-sort ratio, and token-set ratio —
the same family of signals WRatio combines. Scores are 0-100 ints.
"""

from __future__ import annotations

from difflib import SequenceMatcher
from functools import lru_cache


def _preprocess(s: str) -> str:
    """Lowercase, non-alphanumeric → space, collapse runs, strip (the
    standard full_process step fuzzy scorers apply)."""
    out = []
    for ch in s.lower():
        out.append(ch if ch.isalnum() else " ")
    return " ".join("".join(out).split())


def _ratio(a: str, b: str) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return SequenceMatcher(None, a, b).ratio()


def _partial_ratio(a: str, b: str) -> float:
    """Best alignment of the shorter string against same-length windows of
    the longer (fuzzywuzzy's partial_ratio idea, anchored on matching
    blocks)."""
    if len(a) > len(b):
        a, b = b, a
    if not a:
        return 0.0
    m = SequenceMatcher(None, a, b)
    best = 0.0
    for block in m.get_matching_blocks():
        start = max(block.b - block.a, 0)
        window = b[start : start + len(a)]
        r = _ratio(a, window)
        if r > best:
            best = r
            if best == 1.0:
                break
    return best


def wratio_like(a: str, b: str) -> int:
    """Weighted similarity in [0, 100]:
    max(full, .95·token-sort, .95·token-set, .9·partial) — the signal family
    and weights of WRatio, on stdlib SequenceMatcher."""
    return wratio_like_pre(_preprocess(a), _preprocess(b))


def wratio_like_pre(pa: str, pb: str) -> int:
    """:func:`wratio_like` over ALREADY-preprocessed strings. The hot-path
    entry: the mapper preprocesses each distinct value once and every
    vocabulary label once (at build time) instead of re-running the
    full_process step per (value, option) pair."""
    if pa == pb:
        return 100 if pa else 0
    full = _ratio(pa, pb)
    ta, tb = pa.split(), pb.split()
    sort_r = _ratio(" ".join(sorted(ta)), " ".join(sorted(tb)))
    sa, sb = set(ta), set(tb)
    inter = " ".join(sorted(sa & sb))
    t1 = (inter + " " + " ".join(sorted(sa - sb))).strip()
    t2 = (inter + " " + " ".join(sorted(sb - sa))).strip()
    set_r = max(_ratio(inter, t1), _ratio(inter, t2), _ratio(t1, t2)) if inter else 0.0
    partial = _partial_ratio(pa, pb)
    score = max(full, 0.95 * sort_r, 0.95 * set_r, 0.9 * partial)
    return int(round(100 * score))


SCORE_CUTOFF = 75   # ocr_routes.py:59


# -------------------------------------------------------------------------
# Fast path: one value scored against a FIXED vocabulary. difflib's cost is
# dominated by seq2-side preprocessing (__chain_b) and the partial-ratio
# block search; both hot callers (CachedMapper.map, VocabScorer.score_all)
# hold the vocabulary fixed, so every label's seq2-side matcher is built
# ONCE and reused across values via set_seq1 (which preserves the prepared
# seq2 state — argument order, and therefore difflib's asymmetric
# heuristics, are exactly those of wratio_like_pre). Outputs are
# byte-identical to wratio_like_pre, property-pinned in
# tests/test_select_mapping.py.
# -------------------------------------------------------------------------


def _char_masks(s: str) -> dict[str, int]:
    """Bit j of ``masks[c]`` is set where ``s[j] == c`` (the match vectors
    of the bit-parallel LCS)."""
    masks: dict[str, int] = {}
    for j, ch in enumerate(s):
        masks[ch] = masks.get(ch, 0) | (1 << j)
    return masks


def _lcs_len(a: str, masks: dict[str, int]) -> int:
    """Length of the longest common subsequence of ``a`` and the string
    ``masks`` was built from (:func:`_char_masks`): the Allison–Dix
    bit-parallel row update, one big-int step per character of ``a``.
    Bit j of ``row`` marks where the LCS against ``s[:j+1]`` grows; a
    character absent from ``s`` leaves the row unchanged. Python's
    unbounded two's complement keeps the subtraction's low bits exact, and
    ``& x`` keeps only bits below ``len(s)``, so no width mask is needed."""
    row = 0
    for ch in a:
        m = masks.get(ch)
        if m is None:
            continue
        x = row | m
        row = x & ((x - ((row << 1) | 1)) ^ x)
    return row.bit_count()


class _LabelState:
    """Per-label precomputation: preprocessed text, sorted-token string,
    token set, and two seq2-fixed matchers (full/partial share one; the
    token-sort ratio needs its own seq2)."""

    __slots__ = ("pb", "sorted_b", "sb", "lb", "m2", "m_sort", "cnt", "masks", "masks_sorted")

    def __init__(self, pb: str):
        self.pb = pb
        tb = pb.split()
        self.sorted_b = " ".join(sorted(tb))
        self.sb = frozenset(tb)
        self.lb = len(pb)
        self.m2 = SequenceMatcher(None, "", pb)            # seq2 = label
        self.m_sort = SequenceMatcher(None, "", self.sorted_b)
        cnt: dict[str, int] = {}
        for ch in pb:
            cnt[ch] = cnt.get(ch, 0) + 1
        self.cnt = cnt
        self.masks = _char_masks(pb)
        self.masks_sorted = _char_masks(self.sorted_b)


class _ValueState:
    """Per-value precomputation (one per distinct value per batch)."""

    __slots__ = ("pa", "sorted_a", "sa", "la", "m2", "cnt")

    def __init__(self, pa: str):
        self.pa = pa
        ta = pa.split()
        self.sorted_a = " ".join(sorted(ta))
        self.sa = frozenset(ta)
        self.la = len(pa)
        self.m2 = None  # lazily built (seq2 = value) for label-shorter partials
        cnt: dict[str, int] = {}
        for ch in pa:
            cnt[ch] = cnt.get(ch, 0) + 1
        self.cnt = cnt


def _fixed_ratio(m: SequenceMatcher, s1: str, l2: int) -> float:
    """_ratio(s1, seq2) with seq2 prebuilt inside ``m`` (same empty-input
    shortcuts as _ratio; set_seq1 keeps seq2's prepared state)."""
    if not s1 and not l2:
        return 1.0
    if not s1 or not l2:
        return 0.0
    m.set_seq1(s1)
    return m.ratio()


def _partial_fast(va: _ValueState, st: _LabelState) -> float:
    """_partial_ratio(va.pa, st.pb) with the block-search matcher reused.
    The original's swap puts the LONGER string on the seq2 side, so the
    matcher comes from whichever side is longer; duplicate window starts
    are skipped (identical window → identical ratio → max unchanged)."""
    if va.la <= st.lb:
        a, b = va.pa, st.pb
        if not a:
            return 0.0
        m = st.m2
        m.set_seq1(a)
    else:
        a, b = st.pb, va.pa
        if not a:
            return 0.0
        if va.m2 is None:
            va.m2 = SequenceMatcher(None, "", va.pa)
        m = va.m2
        m.set_seq1(a)
    best = 0.0
    seen: set[int] = set()
    la = len(a)
    for block in m.get_matching_blocks():
        start = block.b - block.a
        if start < 0:
            start = 0
        if start in seen:
            continue
        seen.add(start)
        r = _ratio(a, b[start : start + la])
        if r > best:
            best = r
            if best == 1.0:
                break
    return best


def _score_pair(va: _ValueState, st: _LabelState) -> int:
    """wratio_like_pre(va.pa, st.pb), byte-identical, on prebuilt state.

    One exact shortcut beyond reuse: partial ratio is weighted 0.9, so once
    ``max(full, .95·sort, .95·set) ≥ 0.9`` the partial term cannot change
    the max (0.9·p ≤ 0.9 ≤ current) and its block search is skipped."""
    pa, pb = va.pa, st.pb
    if pa == pb:
        return 100 if pa else 0
    full = _fixed_ratio(st.m2, pa, st.lb)
    sort_r = _fixed_ratio(st.m_sort, va.sorted_a, len(st.sorted_b))
    sa, sb = va.sa, st.sb
    inter_set = sa & sb
    if inter_set:
        inter = " ".join(sorted(inter_set))
        t1 = (inter + " " + " ".join(sorted(sa - sb))).strip()
        t2 = (inter + " " + " ".join(sorted(sb - sa))).strip()
        set_r = max(_ratio(inter, t1), _ratio(inter, t2), _ratio(t1, t2))
    else:
        set_r = 0.0
    cur = max(full, 0.95 * sort_r, 0.95 * set_r)
    if cur >= 0.9:
        return int(round(100 * cur))
    return int(round(100 * max(cur, 0.9 * _partial_fast(va, st))))


def _set_ub(va: _ValueState, st: _LabelState) -> float:
    """Upper bound on the token-set ratio: each of its three ratios is
    2M/(lx+ly) with M ≤ min(lx, ly), and the three string lengths (inter,
    inter+extra_a, inter+extra_b) follow from the token sets alone."""
    inter_set = va.sa & st.sb
    if not inter_set:
        return 0.0
    k = len(inter_set)
    li = sum(len(t) for t in inter_set) + (k - 1)
    da, db = va.sa - st.sb, st.sb - va.sa
    l1 = li if not da else li + 1 + sum(len(t) for t in da) + len(da) - 1
    l2 = li if not db else li + 1 + sum(len(t) for t in db) + len(db) - 1
    lmin12 = l1 if l1 < l2 else l2
    return max(
        (2.0 * li) / (li + l1),
        (2.0 * li) / (li + l2),
        (2.0 * lmin12) / (l1 + l2),
    )


def _ub_score(va: _ValueState, st: _LabelState) -> int:
    """Cheap PROVEN upper bound on ``_score_pair(va, st)`` (≈5 µs vs
    ≈200 µs for the exact score). Every component of the WRatio max is
    bounded from above, so ``_score_pair ≤ _ub_score`` always:

    - full ratio = 2M/(la+lb) with matched chars M ≤ I, the char-multiset
      intersection size → full ≤ 2I/(la+lb) = qr;
    - token-sort ratio: sorting tokens preserves the char multiset (single
      spaces between tokens on both sides), so the same qr bounds it;
    - token-set ratios: :func:`_set_ub`;
    - partial ratio = 2M'/(lmin + lwindow) with M' ≤ min(lwindow, I),
      maximized at lwindow = I → partial ≤ 2I/(lmin+I) (1.0 when I ≥ lmin).

    round() is monotone, so the rounded bound dominates the rounded score.
    """
    la, lb = va.la, st.lb
    if la == 0 or lb == 0:
        return 100 if la == lb else 0
    cb = st.cnt
    inter_chars = 0
    for ch, n in va.cnt.items():
        m = cb.get(ch)
        if m is not None:
            inter_chars += n if n < m else m
    qr = (2.0 * inter_chars) / (la + lb)
    lmin = la if la < lb else lb
    p_ub = 1.0 if inter_chars >= lmin else (2.0 * inter_chars) / (lmin + inter_chars)
    ub = qr
    s_ub = _set_ub(va, st)
    if 0.95 * s_ub > ub:
        ub = 0.95 * s_ub
    if 0.9 * p_ub > ub:
        ub = 0.9 * p_ub
    return int(round(100 * ub))


def _lcs_ub_score(va: _ValueState, st: _LabelState) -> int:
    """Tighter PROVEN upper bound on ``_score_pair(va, st)``, at the cost
    of two bit-parallel LCS runs. SequenceMatcher's matching blocks appear
    in order in both strings, so their M matched characters form a common
    subsequence: M ≤ L, the LCS length. Hence

    - full ratio = 2M/(la+lb) ≤ 2L/(la+lb);
    - token-sort ratio ≤ 2L_sorted/(la+lb), L_sorted the LCS of the two
      sorted-token strings;
    - token-set ratios: :func:`_set_ub`, as in :func:`_ub_score`;
    - partial ratio = 2M'/(lmin + lwindow) with M' ≤ min(lwindow, L)
      (the window is a substring of the longer string), maximized at
      lwindow = L → partial ≤ 2L/(lmin+L).

    Each term is the exact score's own float expression with a larger
    numerator (or the same maximizing denominator), and max/round are
    monotone, so ``_score_pair ≤ _lcs_ub_score`` always. L ≤ I (the
    char-multiset intersection), so this bound is never looser than
    :func:`_ub_score`'s full/sort/partial terms."""
    la, lb = va.la, st.lb
    if la == 0 or lb == 0:
        return 100 if la == lb else 0
    lcs = _lcs_len(va.pa, st.masks)
    lcs_sorted = _lcs_len(va.sorted_a, st.masks_sorted)
    lmin = la if la < lb else lb
    ub = (2.0 * lcs) / (la + lb)
    sort_ub = 0.95 * ((2.0 * lcs_sorted) / (len(va.sorted_a) + len(st.sorted_b)))
    if sort_ub > ub:
        ub = sort_ub
    set_ub = 0.95 * _set_ub(va, st)
    if set_ub > ub:
        ub = set_ub
    p_ub = 0.9 * ((2.0 * lcs) / (lmin + lcs))
    if p_ub > ub:
        ub = p_ub
    return int(round(100 * ub))


class VocabScorer:
    """Prebuilt scoring state for the full-matrix path: per-label seq2-side
    work happens once per worker instead of once per (value, option) pair.
    ``score_all_fast(v) == score_all(v, options)`` element-for-element."""

    def __init__(self, options: list[tuple[str, str]]):
        self._states = [_LabelState(_preprocess(label)) for _v, label in options]

    def score_all_fast(self, value: str | None) -> list[int]:
        va = _ValueState(_preprocess(value or ""))
        return [_score_pair(va, st) for st in self._states]


def map_select_value(
    ocr_value: str | None, options: list[tuple[str, str]]
) -> str | None:
    """Map one raw value onto a constrained vocabulary.

    ``options`` is ``[(option_value, option_label), ...]``. Returns the
    mapped option_value, the original when no vocabulary is configured
    (ocr_routes.py:46-47), or None when nothing clears the cutoff (:64-67).
    """
    if not ocr_value:
        return None
    if not options:
        return ocr_value
    pa = _preprocess(ocr_value)
    best_s, best_idx = 0, -1
    for idx, (_value, label) in enumerate(options):
        s = wratio_like_pre(pa, _preprocess(label))
        if s > best_s and s >= SCORE_CUTOFF:
            best_s, best_idx = s, idx
            if s == 100:
                # nothing later can beat (-100, idx): the sort key is
                # (score desc, vocabulary order asc)
                break
    if best_idx < 0:
        return None
    # auto-accept ≥90 (:71-76) and the deterministic best-fuzzy fallback for
    # the 75-89 band (:153-163) coincide: best match wins; ties keep the
    # earliest vocabulary index (strict > above), matching the stable
    # (-score, idx) sort of the reference's top-5 selection.
    return options[best_idx][0]


def score_all(ocr_value: str, options: list[tuple[str, str]]) -> list[int]:
    """Per-option scores of one value against a vocabulary, vocabulary
    order (no cutoff, no early exit) — the staged-oracle surface: an
    independent SQL engine re-applies cutoff/top-k/tie-break over these to
    re-derive the mapping (queries.fuzzy_supplier_mapping)."""
    pa = _preprocess(ocr_value or "")
    return [wratio_like_pre(pa, _preprocess(label)) for _v, label in options]


class CachedMapper:
    """Per-field vocabulary mapper with value-level memoization — web-scale
    columns repeat values heavily; the cache collapses per-batch cost to
    per-distinct-value cost.

    Labels are preprocessed ONCE at build time (the full_process step used
    to run per (value, option) pair); per distinct value the scoring loop
    early-exits on a 100 score, which nothing later in vocabulary order can
    beat. Outputs are byte-identical to :func:`map_select_value`."""

    def __init__(self, vocab_by_field: dict[str, list[tuple[str, str]]]):
        self._vocab = vocab_by_field
        self._states = {
            f: [_LabelState(_preprocess(label)) for _v, label in opts]
            for f, opts in vocab_by_field.items()
        }
        # Exact-label index: pa == some label's preprocessed form is a
        # score-100 hit nothing can beat, and when la + lb ≤ 199 for every
        # label, NO unequal pair can round to 100 (full ratio of unequal
        # strings is ≤ 1 - 1/(la+lb) for equal lengths and ≤ (la+lb-1)/
        # (la+lb) otherwise, both < 0.995; the 0.95/0.9-weighted terms cap
        # at 95/90) — so the first exact label IS what the scan would pick,
        # O(1) instead of O(vocab).
        self._exact = {
            f: (
                {st.pb: i for i, st in reversed(list(enumerate(states)))},
                max((st.lb for st in states), default=0),
            )
            for f, states in self._states.items()
        }

        @lru_cache(maxsize=65536)
        def _cached(field: str, value: str) -> str | None:
            opts = self._vocab.get(field, [])
            if not opts:
                return value  # passthrough: no vocabulary configured
            pa = _preprocess(value)
            exact, max_lb = self._exact[field]
            j = exact.get(pa)
            if j is not None and pa and len(pa) + max_lb <= 199:
                return opts[j][0]
            va = _ValueState(pa)
            best_s, best_idx = 0, -1
            floor = SCORE_CUTOFF - 1  # a label is useful only if s > floor
            for idx, st in enumerate(self._states[field]):
                # sound skip: _score_pair ≤ _ub_score and ≤ _lcs_ub_score,
                # so a label whose bound can't clear both the cutoff and
                # the running best can't change the outcome; the cheap
                # multiset bound runs first, the LCS bound only on its
                # survivors
                bar = best_s if best_s > floor else floor
                if _ub_score(va, st) <= bar or _lcs_ub_score(va, st) <= bar:
                    continue
                s = _score_pair(va, st)
                if s > best_s and s >= SCORE_CUTOFF:
                    best_s, best_idx = s, idx
                    if s == 100:
                        break
            return None if best_idx < 0 else opts[best_idx][0]

        self._cached = _cached

    def map(self, field: str, value: str | None) -> str | None:
        if not value:
            return None
        return self._cached(field, value)

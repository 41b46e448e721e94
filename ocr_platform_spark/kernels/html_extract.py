"""Deterministic HTML main-content extraction (boilerplate stripping).

Readability/trafilatura-style heuristics — block segmentation + per-block
link-density and length scoring — implemented on the stdlib
``html.parser.HTMLParser`` (lxml/selectolax are not available in this
environment, and a pure-Python tokenizer keeps the output bit-stable across
platforms).

This kernel replaces the reference's per-document remote extraction call
(``ocr_backend/app/utils/gemini_ocr.py:156-207``) with a *pure function of
the payload bytes*: same bytes in → same text out, on any executor, at any
parallelism (the north rule's byte-identical requirement).

Semantics kept from the reference:
- missing/empty content → empty result, never an exception
  (``gemini_ocr.py:235-248``: missing fields → null, never dropped);
- parse errors are carried as data, not raised
  (``gemini_ocr.py:252-258``; ``data_conversion.py:261-302``).

Output per document: ``(text, spans, error)`` where ``spans`` is a list of
``(field, start, end, value)`` tuples — character offsets into ``text`` for
each retained block, ``field`` being the source tag (h1, p, li, ...).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# Elements whose text is never content.
_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "svg", "head", "title", "iframe"}
)

# Structural boilerplate containers: everything inside is dropped.
# (Maps the reference's payload-category branching idea — gemini_ocr.py:93-154 —
# onto DOM structure: navigation/chrome vs. content.)
_BOILER_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "form", "button", "select", "option", "label"}
)

# Elements that open a text block of their own.
_BLOCK_TAGS = frozenset(
    {
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
        "td", "th", "dt", "dd", "figcaption", "caption", "summary",
        "div", "article", "section", "main", "body",
    }
)

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Precomputed per-tag flag mask: one dict lookup replaces five frozenset
# membership tests in the per-tag hot path (pure derivation of the sets
# above — the sets remain the source of truth).
_F_SKIP, _F_BOILER, _F_LINK, _F_BLOCK, _F_VOID = 1, 2, 4, 8, 16

# Void elements never pushed on the open-tag stack.
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)

# Tuning constants (fixture-pinned; changing them changes golden output).
MIN_BLOCK_CHARS = 25          # non-heading blocks shorter than this are boilerplate
MAX_LINK_DENSITY = 0.35       # blocks with more linked chars than this are nav/chrome
MIN_HEADING_CHARS = 2


class _Block:
    __slots__ = ("tag", "parts", "link_chars", "total_chars", "boiler", "order")

    def __init__(self, tag: str, boiler: bool, order: int) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0
        self.total_chars = 0
        self.boiler = boiler
        self.order = order


class _NullParts:
    """No-op ``parts`` sink for the shared discard block."""

    __slots__ = ()

    def append(self, _x) -> None:
        pass


#: Shared discard block for content opened inside boiler containers (the
#: nav/footer link flood is the majority of blocks on a real page): its
#: text is skipped up front (``boiler=True``) and its parts sink is a
#: no-op, so ONE instance serves every page with zero allocation and the
#: block never enters the output list — byte-identical to allocating a
#: boiler block and filtering it later (pinned by the stdlib differential).
_DISCARD = _Block("", True, -1)
_DISCARD.parts = _NullParts()  # type: ignore[assignment]


class _ContentParser(HTMLParser):
    """Single-pass block segmenter.

    Text attaches to the *nearest* open block element only (no double
    counting up the ancestor chain); blocks are finalized in document order.
    Tolerant of unclosed tags: ``close()`` flushes everything still open.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._boiler = 0
        self._link = 0
        self._tag_stack: list[str] = []
        self._block_stack: list[_Block] = []
        self._seq = 0
        self.blocks: list[_Block] = []

    def _new_block(self, tag: str) -> _Block:
        blk = _Block(tag, self._boiler > 0, self._seq)
        self._seq += 1
        return blk

    # -- tag events ------------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        flags = _TAG_FLAGS.get(tag, 0)
        if flags & _F_VOID:
            if tag == "br" and self._block_stack:
                self._block_stack[-1].parts.append(" ")
            return
        self._tag_stack.append(tag)
        if flags:
            if flags & _F_SKIP:
                self._skip += 1
            if flags & _F_BOILER:
                self._boiler += 1
            if flags & _F_LINK:
                self._link += 1
            if flags & _F_BLOCK:
                self._block_stack.append(self._new_block(tag))

    def handle_endtag(self, tag: str) -> None:
        stack = self._tag_stack
        if stack and stack[-1] == tag:  # fast path: well-nested close
            stack.pop()
            self._leave(tag)
            return
        if tag in _VOID_TAGS:
            return
        # Unwind to the matching open tag (tolerates interleaved/unclosed tags).
        if tag not in stack:
            return
        while stack:
            open_tag = stack.pop()
            self._leave(open_tag)
            if open_tag == tag:
                break

    def _leave(self, tag: str) -> None:
        flags = _TAG_FLAGS.get(tag, 0)
        if not flags:
            return
        if flags & _F_SKIP:
            self._skip -= 1
        if flags & _F_BOILER:
            self._boiler -= 1
        if flags & _F_LINK:
            self._link = max(0, self._link - 1)
        if flags & _F_BLOCK and self._block_stack:
            self.blocks.append(self._block_stack.pop())

    # -- text ------------------------------------------------------------
    def handle_data(self, data: str) -> None:
        if self._skip or not data:
            return
        stripped_len = len(data.strip())
        if not self._block_stack:
            if stripped_len == 0:
                return
            # Text outside any block element (e.g. no <body>): implicit root.
            self._block_stack.append(self._new_block("body"))
        blk = self._block_stack[-1]
        blk.parts.append(data)
        blk.total_chars += stripped_len
        if self._link:
            blk.link_chars += stripped_len

    def close(self) -> None:  # flush unclosed blocks, innermost first
        super().close()
        while self._block_stack:
            self.blocks.append(self._block_stack.pop())


_TAG_FLAGS: dict[str, int] = {}
for _t in _VOID_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_VOID
for _t in _SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in _BOILER_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BOILER
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | _F_LINK
for _t in _BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK


def _normalize(parts: list[str]) -> str:
    """Collapse all whitespace runs to single spaces and strip ends.

    Mirrors the reference's whitespace collapse (``app/tally/utils.py:128``,
    ``tally_routes.py:157``: ``re.sub(r'\\s+', ' ', s).strip()``)."""
    return " ".join("".join(parts).split())


_TOKEN = re.compile(
    # Raw-text elements swallowed WHOLE (open tag + opaque content + first
    # matching close tag, or EOF) — pre-tokenizing them as single
    # no-group tokens lets _parse_fast run off one re.split() pass with no
    # mid-stream rescans. The attrs run excludes '/' only when it would
    # self-close the tag ('/(?!>)'), so <script/> falls through to the
    # plain tag branch exactly like before (self-close, no swallow).
    #
    # The attribute runs are POSSESSIVE (*+, Python 3.11): an unterminated
    # tag followed by plain text (`<a href` at a truncation point — common
    # in real crawl payloads) makes the backtracking form (x+|..)* explore
    # exponentially many segmentations of the char run before failing
    # (~10 s at 26 chars, unbounded beyond). Possessive is output-identical
    # here: every backtrack give-back position lands on a char the run
    # excludes ('"', '\'', or a non-'>' run char), never on the required
    # '>', so backtracking can never rescue a match — it only burns time.
    # Pinned by test_kernels.py::test_tokenizer_pathological_inputs_linear
    # and a randomized old-vs-new split equivalence fuzz.
    r"(?i:<script\b(?:[^>\"'/]+|\"[^\"]*\"|'[^']*'|/(?!>))*+>.*?(?:</script\s*>|$))"
    r"|(?i:<style\b(?:[^>\"'/]+|\"[^\"]*\"|'[^']*'|/(?!>))*+>.*?(?:</style\s*>|$))"
    # start/end tag; attribute values may carry quoted '>' characters.
    # run-wise body ([^>"']+ | quoted string) keeps the scan in C loops.
    # The common tag branch sits before the comment/doctype branches —
    # they are mutually exclusive on the second character, and ~99% of
    # tokens are tags.
    r"|<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:[^>\"']+|\"[^\"]*\"|'[^']*')*+)>"
    r"|<!--.*?(?:-->|$)"          # comments (tolerate unterminated)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<[!?][^>]*>?",             # doctype / processing instructions
    re.S,
)


def _parse_fast(raw: str) -> list[_Block]:
    """Split-driven tokenizer + block state machine: ONE ``re.split`` pass
    pre-tokenizes the whole document in C (text segments interleaved with
    the tag branch's three capture groups; comments/doctype/raw-text
    swallows contribute an all-None triple), and the Python loop walks the
    flat list in strides of four — no per-token ``search``/``span``/
    ``group`` calls, no position arithmetic, no mid-stream raw-text
    rescans (the round-3 fused-search loop spent ~35% of kernel time on
    exactly those; measured ~1.5× single-core docs/s on the corpus).
    Semantically identical to driving ``_ContentParser`` (the stdlib-
    tokenized twin): byte-equality over the whole synthetic corpus incl.
    malformed/edge pages is pinned by
    tests/test_kernels.py::test_fast_tokenizer_matches_stdlib.

    Documented divergences from stdlib (pathological markup only; fuzz-
    explored in test_tokenizer_fuzz_no_crash_and_deterministic):
    - unterminated ``<!--`` comments swallow to EOF (HTML5 eof-in-comment)
      where stdlib flushes the raw markup as text at close();
    - an unterminated tag whose '>' only appears much later in garbage text
      consumes up to that '>' (stdlib may re-interpret the '<' as text);
    - stray ``</script>`` with no opener is ignored here, while stdlib's
      CDATA bookkeeping can swallow following text.
    Quoted '>' inside attribute values is handled correctly by BOTH paths
    (run-wise quote-aware pattern)."""
    blocks: list[_Block] = []
    tag_stack: list[str] = []
    block_stack: list[_Block] = []
    skip = boiler = link = 0
    seq = 0
    flags_get = _TAG_FLAGS.get
    # bound-method/local aliases: the loop below runs a few hundred times
    # per page; each saved LOAD_ATTR is measurable at corpus scale
    voids = _VOID_TAGS
    ts_append, ts_pop = tag_stack.append, tag_stack.pop
    bs_append, bs_pop = block_stack.append, block_stack.pop
    out_append = blocks.append
    parts = _TOKEN.split(raw)
    n = len(parts)
    idx = 0
    while True:
        data = parts[idx]
        # ---- text segment before the next token -------------------------
        if data and not skip:
            if block_stack:
                blk = block_stack[-1]
                # text feeding a boiler block is discarded wholesale at the
                # filter step (parts/counts never read) — skip the unescape
                # and list append entirely; output is byte-identical
                # (pinned by the stdlib differential test).
                if blk.boiler:
                    blk = None
            else:
                blk = False  # no open block — maybe create implicit root
            if blk is not None:
                if "&" in data:
                    data = unescape(data)
                stripped_len = len(data.strip())
                if blk is False:
                    if stripped_len:
                        # text outside any block element: implicit root
                        if boiler:
                            block_stack.append(_DISCARD)
                            blk = None
                        else:
                            blk = _Block("body", False, seq)
                            seq += 1
                            block_stack.append(blk)
                    else:
                        blk = None
                if blk is not None:
                    blk.parts.append(data)
                    blk.total_chars += stripped_len
                    if link:
                        blk.link_chars += stripped_len
        idx += 1
        if idx >= n:
            break
        is_end = parts[idx]
        tag = parts[idx + 1]
        attrs = parts[idx + 2]
        idx += 3
        if tag is None:  # comment / doctype / PI / swallowed raw-text
            continue
        if not tag.islower():
            tag = tag.lower()
        if is_end:
            if tag_stack and tag_stack[-1] == tag:  # fast path: well-nested
                ts_pop()
            elif tag in voids or tag not in tag_stack:
                continue
            else:
                # unwind to the matching open tag (interleaved/unclosed tags)
                while tag_stack:
                    open_tag = ts_pop()
                    fl = flags_get(open_tag, 0)
                    if fl:
                        if fl & _F_SKIP:
                            skip -= 1
                        if fl & _F_BOILER:
                            boiler -= 1
                        if fl & _F_LINK and link:
                            link -= 1
                        if fl & _F_BLOCK and block_stack:
                            b = bs_pop()
                            if b is not _DISCARD:
                                out_append(b)
                    if open_tag == tag:
                        break
                continue
            fl = flags_get(tag, 0)
            if fl:
                if fl & _F_SKIP:
                    skip -= 1
                if fl & _F_BOILER:
                    boiler -= 1
                if fl & _F_LINK and link:
                    link -= 1
                if fl & _F_BLOCK and block_stack:
                    b = bs_pop()
                    if b is not _DISCARD:
                        out_append(b)
            continue
        # start tag
        fl = flags_get(tag, 0)
        if fl & _F_VOID:
            if tag == "br" and block_stack:
                block_stack[-1].parts.append(" ")
            continue
        ts_append(tag)
        if fl:
            if fl & _F_SKIP:
                skip += 1
            if fl & _F_BOILER:
                boiler += 1
            if fl & _F_LINK:
                link += 1
            if fl & _F_BLOCK:
                if boiler:
                    bs_append(_DISCARD)
                else:
                    blk = _Block(tag, False, seq)
                    seq += 1
                    bs_append(blk)
        if attrs and attrs[-1] == "/":  # self-closing <x/> — well-nested
            ts_pop()
            if fl:
                if fl & _F_SKIP:
                    skip -= 1
                if fl & _F_BOILER:
                    boiler -= 1
                if fl & _F_LINK and link:
                    link -= 1
                if fl & _F_BLOCK and block_stack:
                    b = bs_pop()
                    if b is not _DISCARD:
                        out_append(b)
    while block_stack:
        b = block_stack.pop()
        if b is not _DISCARD:
            blocks.append(b)
    return blocks


def _run_parser(raw: str, fast: bool) -> list[_Block]:
    if fast:
        return _parse_fast(raw)
    parser = _ContentParser()
    parser.feed(raw)
    parser.close()
    return parser.blocks


# Declared-charset sniff: real crawls carry large latin-1/windows-1252
# populations; decoding them as utf-8 produces U+FFFD mojibake. The sniff
# reads only the document head and accepts an ALLOWLIST of stdlib codecs
# (deterministic, platform-stable); unknown/absent declarations fall back
# to utf-8 with replacement — never an exception.
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I)
_SAFE_CODECS = {
    "utf-8": "utf-8", "utf8": "utf-8", "ascii": "utf-8", "us-ascii": "utf-8",
    "latin-1": "latin-1", "latin1": "latin-1", "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1", "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-15": "iso-8859-15", "windows-1251": "cp1251", "cp1251": "cp1251",
    "koi8-r": "koi8-r", "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "euc-jp": "euc-jp", "gb2312": "gb18030", "gbk": "gb18030", "gb18030": "gb18030",
    "big5": "big5", "euc-kr": "euc-kr",
}


def decode_html(data: bytes) -> str:
    """Bytes → text honoring an in-document charset declaration (meta
    charset / http-equiv), restricted to the allowlist; utf-8 otherwise."""
    m = _CHARSET_RE.search(data[:2048])
    if m is not None:
        codec = _SAFE_CODECS.get(m.group(1).decode("ascii", "replace").lower())
        if codec is not None and codec != "utf-8":
            return data.decode(codec, errors="replace")
    return data.decode("utf-8", errors="replace")


def extract_html(
    data: bytes, fast: bool = True
) -> tuple[str, list[tuple[str, int, int, str]], str | None]:
    """Extract main content text + block spans from HTML bytes.

    Returns ``(text, spans, error)``; never raises (error-as-data semantics,
    cf. ``data_conversion.py:261-302``). ``fast=False`` selects the stdlib
    ``HTMLParser`` tokenizer (differential-test reference)."""
    try:
        raw = decode_html(data)
    except Exception as exc:  # pragma: no cover - decode with replace can't fail
        return "", [], f"decode-error: {exc}"
    try:
        blocks = _run_parser(raw, fast)
    except Exception as exc:
        return "", [], f"html-parse-error: {type(exc).__name__}: {exc}"

    kept: list[tuple[int, str, str]] = []  # (doc_order, tag, normalized_text)
    for blk in blocks:
        if blk.boiler:
            continue
        if blk.tag == "pre":
            # preformatted blocks keep their internal whitespace (code /
            # ASCII layout is content); only outer blank space is trimmed
            text = "".join(blk.parts).strip()
        else:
            text = _normalize(blk.parts)
        if not text:
            continue
        if blk.total_chars > 0 and blk.link_chars / blk.total_chars > MAX_LINK_DENSITY:
            continue
        if blk.tag in _HEADING_TAGS:
            if len(text) < MIN_HEADING_CHARS or blk.link_chars > 0:
                continue
        elif blk.total_chars < MIN_BLOCK_CHARS:
            continue
        kept.append((blk.order, blk.tag, text))

    # Blocks finalize at end-tag time (nested blocks close before parents), so
    # re-sort by the sequence number assigned at *open* time → document order.
    kept.sort(key=lambda t: t[0])
    out_parts: list[str] = []
    spans: list[tuple[str, int, int, str]] = []
    pos = 0
    for _, tag, text in kept:
        if out_parts:
            pos += 2  # "\n\n" separator
        start = pos
        out_parts.append(text)
        pos += len(text)
        spans.append((tag, start, pos, text))
    return "\n\n".join(out_parts), spans, None

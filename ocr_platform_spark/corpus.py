"""Deterministic synthetic web corpus (seed=42) in the BASELINE.json shape.

Generates the Common-Crawl-style input table
``documents(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang
STRING)`` plus, optionally, golden columns (``expected_kind``,
``expected_text``, ``expected_error``) known *by construction* — the page
builder records exactly the main content it embeds, so the extraction
kernels can be verified byte-for-byte (the north-rule invariant).

Mirrors the role of the reference's ``seed.py:16-191`` (deterministic
miniature world) at web scale:

- every row is a pure function of ``(seed, doc_id)`` — ``random.Random`` is
  seeded with a string, which Python hashes with sha512 (stable across
  processes and platforms), so generation is parallelism-independent and can
  run *inside executors* via ``mapInArrow`` (no driver-side materialization);
- host distribution is Zipf-skewed (a few hosts own ~half the rows) to
  exercise hot-host salting (FIXTURES.md §1);
- payload mix per FIXTURES.md: ~85% HTML with known main content wrapped in
  high-link-density boilerplate, ~10% simple PDF payloads, ~5% edge cases
  (empty body, malformed/unclosed tags, non-UTF8 bytes, huge element,
  compressed-PDF error case).
"""

from __future__ import annotations

import datetime as dt
import json
import random
import zlib

DEFAULT_SEED = 42
_EPOCH = dt.datetime(2025, 6, 1)

# Fixed vocabulary — plain ASCII, no PDF-escape chars, no HTML-special chars.
_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat "
    "duis aute irure reprehenderit voluptate velit esse cillum fugiat nulla "
    "pariatur excepteur sint occaecat cupidatat non proident sunt culpa qui "
    "officia deserunt mollit anim laborum signal harbor lattice meadow "
    "quartz ember drift cascade willow summit ledger copper orbit prairie "
    "anchor beacon canyon delta ember fjord glacier hollow inlet juniper "
    "keystone lagoon mesa nexus outpost pinnacle quarry ridge strata tundra "
    "upland vertex wharf yonder zenith basin cobble dune estuary foothill"
).split()

# Per-language stopword injections so language-ID heuristics have signal.
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "that", "with"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "une"],
    "es": ["el", "los", "que", "por", "con", "una", "para"],
    "hi": ["hai", "aur", "ke", "ki", "se", "mein", "par"],
}
_LANGS = sorted(_LANG_STOPWORDS)
_LANG_WEIGHTS = [0.50, 0.15, 0.15, 0.12, 0.08]  # aligned with sorted langs

_N_HOSTS = 40
_HOSTS = [f"site-{i:02d}.example.org" for i in range(_N_HOSTS)]
# Zipf(s=1.2) weights: top-3 hosts own ~43% of documents.
_HOST_W = [1.0 / (r + 1) ** 1.2 for r in range(_N_HOSTS)]
_HOST_CUM: list[float] = []
_acc = 0.0
for _w in _HOST_W:
    _acc += _w
    _HOST_CUM.append(_acc)
_HOST_TOTAL = _acc


def _pick_host(rng: random.Random) -> str:
    x = rng.random() * _HOST_TOTAL
    lo, hi = 0, _N_HOSTS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _HOST_CUM[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return _HOSTS[lo]


def _words(rng: random.Random, n: int, lang: str) -> str:
    stop = _LANG_STOPWORDS[lang]
    out = []
    for i in range(n):
        if i % 4 == 1:  # every 4th word a language stopword → lang-id signal
            out.append(stop[rng.randrange(len(stop))])
        else:
            out.append(_WORDS[rng.randrange(len(_WORDS))])
    return " ".join(out)


def _sentence_words(rng: random.Random, lo: int, hi: int, lang: str) -> str:
    return _words(rng, rng.randint(lo, hi), lang)


def _nav_links(rng: random.Random, n: int) -> str:
    items = []
    for _ in range(n):
        w = _WORDS[rng.randrange(len(_WORDS))]
        items.append(f'<li><a href="/{w}">{w}</a></li>')
    return "".join(items)


def _host_blurb(host: str) -> str:
    """Site-wide license blurb, identical on every page of a host that
    carries one: plain text, zero links — in-content boilerplate the DOM
    link-density heuristics can NOT drop, which is exactly the case
    paragraph-level repeated-span removal exists for."""
    hrng = random.Random(f"blurb-{host}")
    return (
        f"content on {host} is published under the site license "
        + " ".join(_WORDS[hrng.randrange(len(_WORDS))] for _ in range(12))
    )


# og:locale forms per corpus language (deterministic, no rng draw)
_OG_LOCALE = {"en": "en_US", "de": "de_DE", "fr": "fr_FR", "es": "es_ES", "hi": "hi_IN"}


def _head_metadata(
    meta_rng: random.Random, lang: str, url: str | None, title: str
) -> str:
    """<head> metadata block (description / canonical / og:* / robots /
    hreflang alternates) drawn from a FORKED rng so the main content
    stream — and with it every historical expected_text — is untouched.
    The content kernel drops <head> wholesale, so expected main text is
    independent of anything emitted here; the page-metadata kernel
    (kernels/page_meta.py) is the consumer."""
    parts: list[str] = [f'<meta charset="utf-8">']
    if meta_rng.random() < 0.7:
        desc = _sentence_words(meta_rng, 8, 16, lang)
        parts.append(f'<meta name="description" content="{desc}">')
    if url is not None and meta_rng.random() < 0.75:
        # ~1 in 5 canonicals point at a normalized variant of the url
        # (trailing tracking params stripped pattern), the rest self-refer
        canon = url if meta_rng.random() < 0.8 else url.rsplit("/", 1)[0] + "/"
        # attribute order varies: both orders must parse identically
        if meta_rng.random() < 0.5:
            parts.append(f'<link rel="canonical" href="{canon}">')
        else:
            parts.append(f'<link href="{canon}" rel="canonical">')
    if meta_rng.random() < 0.6:
        parts.append(f'<meta property="og:title" content="{title}">')
        parts.append(f'<meta property="og:locale" content="{_OG_LOCALE[lang]}">')
    if meta_rng.random() < 0.1:
        robots = meta_rng.choice(("noindex", "noindex,nofollow", "nofollow"))
        parts.append(f'<meta name="robots" content="{robots}">')
    for alt in sorted(meta_rng.sample(_LANGS, k=meta_rng.randrange(0, 4))):
        if alt != lang and url is not None:
            parts.append(f'<link rel="alternate" hreflang="{alt}" href="{url}?hl={alt}">')
    return "".join(parts)


def _jsonld_blocks(ld_rng: random.Random, lang: str, title: str) -> str:
    """0-2 ``<script type="application/ld+json">`` structured-data blocks
    (schema.org Article / Product / BreadcrumbList / Organization), drawn
    from a FORKED rng keyed on the page url so the main-content and
    metadata streams — and every historical golden — are untouched. ~6% of
    blocks are truncated mid-object: invalid JSON under any RFC 8259
    parser, as real crawls carry. Serialization is
    ``json.dumps(ensure_ascii=True)`` — no NaN/Infinity extensions, no raw
    non-ASCII. No kernel parses these blocks; they stay so the
    generated html, which the golden digests are recorded from, does not
    change."""
    r = ld_rng.random()
    n = 0 if r < 0.45 else (1 if r < 0.85 else 2)
    blocks: list[str] = []
    for _ in range(n):
        kind = ld_rng.randrange(4)
        if kind == 0:
            obj: dict = {
                "@context": "https://schema.org",
                "@type": "Article",
                "headline": title,
                "inLanguage": lang,
                "wordCount": ld_rng.randint(50, 900),
            }
        elif kind == 1:
            obj = {
                "@context": "https://schema.org",
                "@type": "Product",
                "name": title,
                "offers": {
                    "@type": "Offer",
                    "price": f"{ld_rng.randint(1, 999)}.{ld_rng.randint(0, 99):02d}",
                    "priceCurrency": ld_rng.choice(("USD", "EUR", "INR")),
                },
            }
        elif kind == 2:
            obj = {
                "@context": "https://schema.org",
                "@type": "BreadcrumbList",
                "itemListElement": [
                    {
                        "@type": "ListItem",
                        "position": i + 1,
                        "name": _WORDS[ld_rng.randrange(len(_WORDS))],
                    }
                    for i in range(ld_rng.randint(1, 3))
                ],
            }
        else:
            # array-valued @type exercises the first-element rule
            obj = {
                "@context": "https://schema.org",
                "@type": ["Organization", "Brand"],
                "name": _WORDS[ld_rng.randrange(len(_WORDS))],
            }
        s = json.dumps(obj, separators=(",", ":"))
        if ld_rng.random() < 0.06:
            s = s[: max(2, len(s) // 2)]  # truncated → invalid in any engine
        blocks.append(f'<script type="application/ld+json">{s}</script>')
    return "".join(blocks)


def _build_html(
    rng: random.Random,
    lang: str,
    host: str | None = None,
    url: str | None = None,
    meta_rng: random.Random | None = None,
) -> tuple[bytes, str]:
    """Boilerplate-wrapped page; returns (bytes, expected_main_text)."""
    title = _sentence_words(rng, 3, 6, lang)
    heading = title.capitalize()
    n_paras = rng.randint(2, 8)
    paras = [_sentence_words(rng, 20, 60, lang) for _ in range(n_paras)]
    expected_parts = [heading]

    body_parts: list[str] = []
    body_parts.append(f"<nav><ul>{_nav_links(rng, rng.randint(5, 10))}</ul></nav>")
    body_parts.append(
        f'<aside class="sidebar"><ul>{_nav_links(rng, rng.randint(10, 20))}</ul></aside>'
    )
    article = [f"<h1>{heading}</h1>"]
    for i, p in enumerate(paras):
        if i == 1 and n_paras > 2:
            # one paragraph carries an inline link (low link-density: kept)
            words = p.split()
            k = len(words) // 2
            linked = words[k]
            html_p = " ".join(words[:k]) + f' <a href="/x">{linked}</a> ' + " ".join(
                words[k + 1 :]
            )
            article.append(f"<p>{html_p}</p>")
        else:
            article.append(f"<p>{p}</p>")
        expected_parts.append(p)
    # a content list: long items are retained by the kernel (>=25 chars, no links)
    if rng.random() < 0.5:
        items = [_sentence_words(rng, 7, 12, lang) for _ in range(rng.randint(2, 4))]
        article.append("<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>")
        expected_parts.extend(items)
    # ~60% of pages end with the host's site-wide license blurb (decision
    # from the page rng, CONTENT purely host-deterministic) — repeated
    # verbatim across the host's pages, kept by extraction, removed only
    # by corpus-level paragraph dedup.
    if host is not None and rng.random() < 0.6:
        blurb = _host_blurb(host)
        article.append(f"<p>{blurb}</p>")
        expected_parts.append(blurb)
    body_parts.append("<article>" + "".join(article) + "</article>")
    # link-farm div (dropped by link density despite not being <nav>)
    farm = " ".join(
        f'<a href="/{_WORDS[rng.randrange(len(_WORDS))]}">'
        f"{_WORDS[rng.randrange(len(_WORDS))]}</a>"
        for _ in range(rng.randint(8, 15))
    )
    body_parts.append(f'<div class="related">{farm}</div>')
    body_parts.append(
        "<footer><p>copyright 2025 example org</p>"
        f"<ul>{_nav_links(rng, 4)}</ul></footer>"
    )
    meta = (
        _head_metadata(meta_rng, lang, url, title) if meta_rng is not None else ""
    )
    # structured data only on pages that carry head metadata (the organic
    # corpus); the rng fork is keyed on the url so nothing else re-rolls
    ld = (
        _jsonld_blocks(random.Random(f"ld-{url}"), lang, title)
        if meta_rng is not None and url is not None
        else ""
    )
    html = (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>'
        + title
        + "</title>"
        + meta
        + ld
        + "<style>body{margin:0}</style>"
        + '<script>var x = "tracking";</script></head><body>'
        + "".join(body_parts)
        + "</body></html>"
    )
    return html.encode("utf-8"), "\n\n".join(expected_parts)


def _build_pdf(rng: random.Random, lang: str) -> tuple[bytes, str]:
    """Minimal uncompressed single-page PDF; returns (bytes, expected_text)."""
    lines = [_sentence_words(rng, 4, 10, lang) for _ in range(rng.randint(3, 10))]
    ops = ["BT /F1 12 Tf 72 720 Td"]
    for i, ln in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        ops.append(f"({ln}) Tj")
    ops.append("ET")
    stream = " ".join(ops).encode("ascii")
    # ~half the PDFs use FlateDecode (zlib) streams — the dominant real-world
    # filter, honestly decoded by the kernel; the rest stay uncompressed.
    if rng.random() < 0.5:
        body = zlib.compress(stream)
        filt = b" /Filter /FlateDecode"
    else:
        body = stream
        filt = b""
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(body)).encode("ascii") + filt + b" >> stream\n"
        + body
        + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    return pdf, "\n".join(lines)


def _build_edge(
    rng: random.Random, lang: str
) -> tuple[bytes, str, str, str | None]:
    """Edge-case payloads; returns (bytes, expected_kind, expected_text, expected_error)."""
    which = rng.randrange(12)
    if which == 0:  # empty body
        return (
            b"<html><head><title>t</title></head><body></body></html>",
            "html", "", None,
        )
    if which == 1:  # malformed: unclosed tags
        p1 = _sentence_words(rng, 20, 40, lang)
        p2 = _sentence_words(rng, 20, 40, lang)
        html = f"<html><body><p>{p1}</p><div><p>{p2}".encode("utf-8")
        return html, "html", f"{p1}\n\n{p2}", None
    if which == 2:  # non-UTF8 bytes inside a paragraph → U+FFFD, deterministic
        head = _sentence_words(rng, 10, 20, lang)
        tail = _sentence_words(rng, 10, 20, lang)
        html = (
            b"<html><body><p>"
            + head.encode("utf-8")
            + b" \xff\xfe "
            + tail.encode("utf-8")
            + b"</p></body></html>"
        )
        return html, "html", f"{head} �� {tail}", None
    if which == 3:  # huge single element
        big = _words(rng, 4000, lang)
        html = f"<html><body><article><p>{big}</p></article></body></html>"
        return html.encode("utf-8"), "html", big, None
    if which == 6:  # declared legacy charset: latin-1 bytes decode correctly
        head = _sentence_words(rng, 8, 16, lang)
        text = f"{head} café résumé naïve à côté"
        html = (
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1"></head>'
            f"<body><p>{text}</p></body></html>"
        ).encode("latin-1")
        return html, "html", text, None
    if which == 7:  # <pre> code block: internal whitespace is content
        intro = _sentence_words(rng, 12, 20, lang)
        a, b = _WORDS[rng.randrange(len(_WORDS))], _WORDS[rng.randrange(len(_WORDS))]
        code = f"def {a}(x):\n    return x + {rng.randint(1, 9)}\n\n{b} = {a}(2)"
        html = (
            f"<html><body><p>{intro}</p><pre>\n{code}\n</pre></body></html>"
        ).encode("utf-8")
        return html, "html", f"{intro}\n\n{code}", None
    if which == 4:  # PDF with corrupt FlateDecode data → error-as-data
        pdf = (
            b"%PDF-1.4\n1 0 obj << /Length 8 /Filter /FlateDecode >> stream\n"
            b"xxxxxxxx\nendstream endobj\ntrailer << >>\n%%EOF\n"
        )
        return pdf, "pdf", "", "pdf-flate-error"
    if which == 8:  # RSS feed → the feed extraction branch
        # expected text mirrors the fixture-pinned cleaning rule (CDATA
        # unwrap → tag strip → entity unescape → ws collapse) BY HAND —
        # goldens stay independent of the kernel under test
        ft = _sentence_words(rng, 3, 6, lang)
        items, exp_blocks = [], [ft]
        for _ in range(rng.randint(2, 4)):
            t = _sentence_words(rng, 4, 8, lang)
            d1 = _sentence_words(rng, 10, 20, lang)
            d2 = _sentence_words(rng, 3, 6, lang)
            style = rng.randrange(3)
            if style == 0:  # plain description
                desc, exp = d1, d1
            elif style == 1:  # CDATA-wrapped markup: tags strip to text
                desc = f"<![CDATA[<b>{d1}</b> {d2}]]>"
                exp = f"{d1} {d2}"
            else:  # escaped entity survives unescape
                desc = f"{d1} &amp; {d2}"
                exp = f"{d1} & {d2}"
            items.append(
                f"<item><title>{t}</title><description>{desc}</description></item>"
            )
            exp_blocks += [t, exp]
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<rss version="2.0"><channel>'
            f"<title>{ft}</title><link>https://example.com/</link>"
            + "".join(items)
            + "</channel></rss>"
        )
        return xml.encode("utf-8"), "feed", "\n\n".join(exp_blocks), None
    if which == 9:  # Atom feed
        ft = _sentence_words(rng, 3, 6, lang)
        entries, exp_blocks = [], [ft]
        for _ in range(rng.randint(2, 3)):
            t = _sentence_words(rng, 4, 8, lang)
            s = _sentence_words(rng, 10, 18, lang)
            if rng.random() < 0.5:
                # escaped markup in <content>: tags are stripped BEFORE
                # entities are unescaped, so it survives as literal text
                body = f'<content type="html">&lt;p&gt;{s}&lt;/p&gt;</content>'
                exp = f"<p>{s}</p>"
            else:
                body = f"<summary>{s}</summary>"
                exp = s
            entries.append(f"<entry><title>{t}</title>{body}</entry>")
            exp_blocks += [t, exp]
        xml = (
            '<?xml version="1.0"?>\n'
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            f"<title>{ft}</title>" + "".join(entries) + "</feed>"
        )
        return xml.encode("utf-8"), "feed", "\n\n".join(exp_blocks), None
    if which == 10:  # sitemap <urlset>: locs (+freshness metadata) are the text
        host = f"site-{rng.randrange(40):02d}.example.org"
        locs = []
        entries = []
        for _ in range(rng.randint(3, 8)):
            loc = f"https://{host}/page/{rng.randrange(10**12):012d}"
            locs.append(loc)
            lastmod = (
                f"<lastmod>2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}</lastmod>"
                if rng.random() < 0.7
                else ""
            )
            cf = (
                f"<changefreq>{rng.choice(('daily', 'weekly', 'monthly'))}</changefreq>"
                if rng.random() < 0.4
                else ""
            )
            entries.append(f"<url><loc>{loc}</loc>{lastmod}{cf}</url>")
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(entries)
            + "</urlset>"
        )
        return xml.encode("utf-8"), "sitemap", "\n".join(locs), None
    if which == 11:  # <sitemapindex>: child sitemaps, CDATA-wrapped locs
        host = f"site-{rng.randrange(40):02d}.example.org"
        locs = [
            f"https://{host}/sitemap-{i}.xml" for i in range(rng.randint(2, 5))
        ]
        entries = "".join(
            f"<sitemap><loc><![CDATA[{loc}]]></loc></sitemap>" for loc in locs
        )
        xml = (
            '<?xml version="1.0"?>\n<sitemapindex '
            'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + entries
            + "</sitemapindex>"
        )
        return xml.encode("utf-8"), "sitemap", "\n".join(locs), None
    # which == 5: PDF with a filter the kernel honestly can't decode
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Length 8 /Filter /LZWDecode >> stream\n"
        b"xxxxxxxx\nendstream endobj\ntrailer << >>\n%%EOF\n"
    )
    return pdf, "pdf", "", "pdf-unsupported-filter"


def _inflate_html(
    html: bytes, doc_id: int, seed: int, target_bytes: int
) -> tuple[bytes, list[str]]:
    """Pad an HTML payload to ~``target_bytes``; returns
    ``(padded_bytes, extra_expected_paragraphs)``.

    Pages with a main-content container get CONTENT padding: long linkless
    ``<p>`` blocks appended inside ``</article>``, which the kernel keeps —
    so tokenizer work scales with payload size (the realistic long-tail
    shape: a multi-MB page is mostly *more markup+text to parse*, not pure
    skip bytes) and the expected main text grows by exactly the padding
    paragraphs (goldens stay by-construction). This is what makes the
    skew-corpus scaling leg a CPU-parallelism measurement: the earlier
    ``<script>``-skip padding made big docs pure memory-bandwidth work,
    which saturates this box's single bus by ~8 cores (measured 4→8 cores:
    31.4s → 29.6s) and capped the 2→8 window at ~0.67 regardless of
    partitioning quality — a hardware artifact a real 4N-executor cluster
    (4N memory buses) does not have.

    Pages without ``</article>`` (edge cases) keep the old script padding
    with expected text unchanged."""
    pad = target_bytes - len(html)
    if pad <= 0:
        return html, []
    rng = random.Random(f"pad-{seed}-{doc_id}")
    at = html.rfind(b"</article>")
    if at < 0:
        line = (f"var pad_{rng.randrange(1 << 30):08x} = " + "'x" + "y" * 40 + "'; ").encode()
        block = b"<script>" + line * (pad // len(line) + 1) + b"</script>"
        tail = b"</body></html>"
        if html.endswith(tail):
            return html[: -len(tail)] + block + tail, []
        return html + block, []
    base = " ".join(_WORDS[rng.randrange(len(_WORDS))] for _ in range(120))
    paras: list[str] = []
    total = 0
    while total < pad:
        p = f"pad{len(paras):05d} {base}"
        paras.append(p)
        total += len(p) + 7  # the <p></p> wrapper
    block = "".join(f"<p>{p}</p>" for p in paras).encode()
    return html[:at] + block + html[at:], paras


def is_big_doc(doc_id: int, seed: int, big_frac: float) -> bool:
    """Deterministic long-tail membership, independent of the content rng
    stream (so ``big_frac=0`` corpora are byte-identical to historical
    ones)."""
    if big_frac <= 0:
        return False
    import zlib

    return (zlib.crc32(f"big-{seed}-{doc_id}".encode()) % 10**6) < big_frac * 10**6


def gen_doc(
    doc_id: int,
    seed: int = DEFAULT_SEED,
    big_frac: float = 0.0,
    big_bytes: int = 2 * 1024 * 1024,
) -> dict:
    """Generate one document row (pure function of (seed, doc_id)).

    ``big_frac`` > 0 inflates that fraction of HTML documents to
    ``big_bytes`` with kept-content padding (see ``_inflate_html``) — a
    long-tailed payload-size distribution whose expected text grows by
    exactly the padding paragraphs."""
    rng = random.Random(f"corpus-{seed}-{doc_id}")
    host = _pick_host(rng)
    lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=1)[0]
    url = f"https://{host}/page/{doc_id:012d}"
    warc_ts = _EPOCH + dt.timedelta(seconds=(doc_id * 9973) % (30 * 86400))
    r = rng.random()
    if r < 0.85:
        meta_rng = random.Random(f"meta-{seed}-{doc_id}")
        html, expected = _build_html(rng, lang, host, url=url, meta_rng=meta_rng)
        kind, err = "html", None
    elif r < 0.95:
        html, expected = _build_pdf(rng, lang)
        kind, err = "pdf", None
    else:
        html, kind, expected, err = _build_edge(rng, lang)
        if kind == "html" and not html:
            kind = "empty"
    if kind == "html" and html and is_big_doc(doc_id, seed, big_frac):
        html, pad_paras = _inflate_html(html, doc_id, seed, big_bytes)
        if pad_paras:
            joined = "\n\n".join(pad_paras)
            expected = f"{expected}\n\n{joined}" if expected else joined
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": None,  # raw pre-extracted channel intentionally null
        "lang": lang,
        "expected_kind": kind,
        "expected_text": expected,
        "expected_error": err,
    }


# --- multilingual (non-Latin script) fixture pages ------------------------
# Additive generator for script-level language-ID testing: deterministic
# pages in CJK/Cyrillic/Arabic scripts with the planted language recorded.
# Deliberately separate from gen_doc so the historical goldens and every
# staged synth-corpus oracle are byte-unchanged; tests and benchmarks that
# need non-Latin input opt in explicitly.

_ML_PHRASES: dict[str, list[str]] = {
    "zh": ["网络 数据 处理 系统", "中文 文档 内容 分析", "搜索 引擎 索引 构建", "语言 模型 训练 语料"],
    "ja": ["これは てすと の ぶんしょ です", "にほんご の ページ を かくにん", "カタカナ と ひらがな の こんざい", "データ しょり の じっけん"],
    "ko": ["한국어 웹 페이지 내용 분석", "데이터 처리 시스템 구축", "언어 모델 학습 자료 준비", "검색 엔진 색인 생성"],
    "ru": ["обработка данных веб страниц", "русский текст для проверки", "построение поискового индекса", "обучение языковой модели"],
    "ar": ["معالجة بيانات صفحات الويب", "نص عربي لاختبار النظام", "بناء فهرس محرك البحث", "تدريب نموذج اللغة"],
}

ML_LANGS: tuple[str, ...] = tuple(sorted(_ML_PHRASES))


def gen_multilingual_doc(i: int, seed: int = DEFAULT_SEED) -> dict:
    """Deterministic non-Latin page ``i``: (doc_id, lang, text) with the
    planted script's language cycling zh/ja/ko/ru/ar (sorted order) and a
    seeded phrase composition. The text is paragraph-structured (blank-line
    separated) so the paragraph-level dedup operators work on it unchanged."""
    lang = ML_LANGS[i % len(ML_LANGS)]
    rng = random.Random(f"ml-{seed}-{i}")
    paras = []
    for _ in range(rng.randint(2, 4)):
        pool = _ML_PHRASES[lang]
        paras.append(" ".join(rng.choice(pool) for _ in range(rng.randint(3, 6))))
    return {"doc_id": i, "lang": lang, "text": "\n\n".join(paras)}


def gen_multilingual_batch(n: int, seed: int = DEFAULT_SEED) -> list[dict]:
    return [gen_multilingual_doc(i, seed) for i in range(n)]

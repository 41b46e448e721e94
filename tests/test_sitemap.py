"""Sitemap kernel (kernels/sitemap_extract.py): detection, entry parsing,
span offsets and corpus goldens-by-construction."""

from __future__ import annotations

from ocr_platform_spark.kernels.dispatch import extract_payload, sniff_payload_kind
from ocr_platform_spark.kernels.sitemap_extract import (
    extract_sitemap,
    looks_like_sitemap,
    sitemap_entries,
)

URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<url><loc>https://a.org/p/1</loc><lastmod>2025-03-01</lastmod><changefreq>daily</changefreq><priority>0.8</priority></url>
<url><loc>https://a.org/p/2</loc></url>
<url><lastmod>2025-01-01</lastmod></url>
<url><loc> https://a.org/p/3 </loc><lastmod>2025-02-15</lastmod></url>
</urlset>"""

INDEX = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc><![CDATA[https://a.org/sitemap-0.xml]]></loc></sitemap>
<sitemap><loc>https://a.org/sitemap-1.xml?x=1&amp;y=2</loc></sitemap>
</sitemapindex>"""


def test_detection():
    assert looks_like_sitemap(URLSET)
    assert looks_like_sitemap(INDEX)
    assert not looks_like_sitemap(b"<html><body>urlset</body></html>")
    assert not looks_like_sitemap(b'<rss version="2.0"><channel></channel></rss>')
    assert sniff_payload_kind(URLSET) == "sitemap"
    assert sniff_payload_kind(INDEX) == "sitemap"


def test_entries_urlset():
    es = sitemap_entries(URLSET)
    # loc-less entry dropped; whitespace trimmed
    assert [e["loc"] for e in es] == [
        "https://a.org/p/1",
        "https://a.org/p/2",
        "https://a.org/p/3",
    ]
    assert es[0]["lastmod"] == "2025-03-01"
    assert es[0]["changefreq"] == "daily"
    assert es[0]["priority"] == "0.8"
    assert es[1]["lastmod"] is None
    assert all(not e["is_index"] for e in es)


def test_entries_index_cdata_and_entities():
    es = sitemap_entries(INDEX)
    assert [e["loc"] for e in es] == [
        "https://a.org/sitemap-0.xml",
        "https://a.org/sitemap-1.xml?x=1&y=2",
    ]
    assert all(e["is_index"] for e in es)


def test_text_and_span_offsets():
    text, spans, err = extract_sitemap(URLSET)
    assert err is None
    assert text == "https://a.org/p/1\nhttps://a.org/p/2\nhttps://a.org/p/3"
    locs = [s for s in spans if s[0] == "loc"]
    for f, start, end, val in locs:
        assert text[start:end] == val
    # metadata spans share their loc line's offsets
    lm = [s for s in spans if s[0] == "lastmod"]
    assert len(lm) == 2 and lm[0][1:3] == locs[0][1:3] and lm[0][3] == "2025-03-01"
    assert [s[0] for s in spans if s[1] == locs[0][1]] == [
        "loc", "lastmod", "changefreq", "priority",
    ]


def test_empty_sitemap_is_data_not_error():
    text, spans, err = extract_sitemap(b"<urlset></urlset>")
    assert (text, spans, err) == ("", [], None)


def test_dispatch_roundtrip():
    kind, text, spans, err = extract_payload(URLSET)
    assert kind == "sitemap" and err is None
    assert text.count("\n") == 2


def test_corpus_sitemap_goldens_match_kernel():
    """By-construction goldens: every corpus sitemap payload extracts to
    exactly its recorded expected_text at the kernel level."""
    from ocr_platform_spark.corpus import gen_doc

    seen = 0
    for i in range(3000):
        d = gen_doc(i)
        if d["expected_kind"] != "sitemap":
            continue
        seen += 1
        kind, text, spans, err = extract_payload(d["html"])
        assert kind == "sitemap" and err is None
        assert text == d["expected_text"]
        assert len([s for s in spans if s[0] == "loc"]) == text.count("\n") + 1
    assert seen > 5  # the corpus actually exercises the branch

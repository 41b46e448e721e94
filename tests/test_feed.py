"""Feed (RSS/Atom) extraction kernel: dispatch detection, the
fixture-pinned cleaning rule, and malformed-tail tolerance."""

from __future__ import annotations

from ocr_platform_spark.kernels.dispatch import extract_payload, sniff_payload_kind
from ocr_platform_spark.kernels.feed_extract import clean_block, extract_feed


def test_sniff_feed_vs_xhtml_vs_html():
    rss = b'<?xml version="1.0"?>\n<rss version="2.0"><channel></channel></rss>'
    atom = b'<feed xmlns="http://www.w3.org/2005/Atom"><title>t</title></feed>'
    xhtml = (
        b'<?xml version="1.0"?>\n<!DOCTYPE html><html xmlns="http://www.w3.org/1999/xhtml">'
        b"<body><p>page</p></body></html>"
    )
    assert sniff_payload_kind(rss) == "feed"
    assert sniff_payload_kind(atom) == "feed"
    assert sniff_payload_kind(xhtml) == "html"  # <?xml alone is not a feed
    assert sniff_payload_kind(b"<html><body>x</body></html>") == "html"
    assert sniff_payload_kind(b"%PDF-1.4 junk") == "pdf"
    # a late '<feed' beyond the sniff window does not reroute
    late = b"<html>" + b" " * 600 + b"<feed>"
    assert sniff_payload_kind(late) == "html"


def test_rss_extraction_order_and_cleaning():
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rss version="2.0"><channel>'
        "<title>Feed &amp; Title</title><link>https://x.test/</link>"
        "<item><title>First post</title>"
        "<description><![CDATA[<b>bold</b> tail]]></description></item>"
        "<item><title>Second</title><description>plain one</description></item>"
        "</channel></rss>"
    ).encode()
    text, spans, err = extract_feed(xml)
    assert err is None
    assert text == "Feed & Title\n\nFirst post\n\nbold tail\n\nSecond\n\nplain one"
    assert [s[0] for s in spans] == ["feed-title", "title", "body", "title", "body"]
    for field, start, end, val in spans:
        assert text[start:end] == val


def test_atom_summary_content_and_escaped_markup():
    xml = (
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>'
        "<entry><title>e1</title><summary>sum text</summary></entry>"
        '<entry><title>e2</title><content type="html">&lt;p&gt;para&lt;/p&gt;</content></entry>'
        "</feed>"
    ).encode()
    text, spans, err = extract_feed(xml)
    # tags stripped BEFORE unescape: escaped markup survives as text
    assert text == "A\n\ne1\n\nsum text\n\ne2\n\n<p>para</p>"
    assert err is None


def test_feed_edge_shapes():
    # item title only before channel title absent; malformed tail tolerated
    xml = b'<rss><channel><item><title>only</title></item></channel'
    text, spans, err = extract_feed(xml)
    assert text == "only" and err is None
    # empty feed: data, not error
    text, spans, err = extract_feed(b"<rss><channel></channel></rss>")
    assert text == "" and spans == [] and err is None
    # whitespace-only blocks are skipped
    xml = b"<feed><title>  </title><entry><title>t</title></entry></feed>"
    text, _, _ = extract_feed(xml)
    assert text == "t"


def test_dispatch_routes_feed():
    xml = (
        b'<?xml version="1.0"?>\n<rss version="2.0"><channel><title>T</title>'
        b"<item><title>i</title><description>d</description></item></channel></rss>"
    )
    kind, text, spans, err = extract_payload(xml)
    assert kind == "feed" and text == "T\n\ni\n\nd" and err is None


def test_clean_block_entity_after_tags():
    # the order contract itself
    assert clean_block("<![CDATA[<i>x</i> &amp; y]]>") == "x & y"
    assert clean_block("&lt;script&gt;") == "<script>"
    assert clean_block("  a\n\t b ") == "a b"


def test_corpus_feed_goldens_match_kernel():
    """Every feed edge case the corpus generates must extract to its
    by-construction expected text (the same property the Spark golden
    drive checks corpus-wide, pinned here without a session)."""
    from ocr_platform_spark.corpus import gen_doc

    n_feed = 0
    for doc_id in range(4000):
        d = gen_doc(doc_id)
        if d["expected_kind"] != "feed":
            continue
        n_feed += 1
        kind, text, spans, err = extract_payload(d["html"])
        assert kind == "feed"
        assert text == d["expected_text"], d["url"]
        assert err is None
    assert n_feed > 20  # ~1% of docs are feeds (2 of 10 edge cases)


# --- adversarial fuzz ---------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    # text fragments loaded with the characters the cleaning chain cares
    # about: entity starts, tag brackets, CDATA terminators, whitespace runs
    _frag = st.text(
        alphabet="ab &<>;[]/!-\n\té",
        max_size=24,
    )

    def _mk_item(title, body, wrap_cdata, as_entry):
        tag = "entry" if as_entry else "item"
        btag = "summary" if as_entry else "description"
        b = f"<![CDATA[{body}]]>" if wrap_cdata else body
        return f"<{tag}><title>{title}</title><{btag}>{b}</{btag}></{tag}>"

    @settings(max_examples=150, deadline=None)
    @given(
        ft=_frag,
        items=st.lists(
            st.tuples(_frag, _frag, st.booleans()), min_size=0, max_size=4
        ),
        as_entry=st.booleans(),
        truncate=st.integers(min_value=0, max_value=40),
    )
    def test_feed_kernel_invariants(ft, items, as_entry, truncate):
        """Never raises; spans index text exactly; text is the join of
        span values; byte-determinism."""
        from ocr_platform_spark.kernels.feed_extract import extract_feed

        root = "feed" if as_entry else "rss"
        body = "".join(_mk_item(t, b, c, as_entry) for t, b, c in items)
        doc = f"<{root}><title>{ft}</title>{body}</{root}>"
        data = doc.encode("utf-8")
        if truncate:
            data = data[:-truncate] if truncate < len(data) else b"<rss>"
        text, spans, err = extract_feed(data)
        assert err is None
        assert text == "\n\n".join(v for _, _, _, v in spans)
        for field, s, e, v in spans:
            assert field in ("feed-title", "title", "body")
            assert text[s:e] == v
            assert v == v.strip() and v != ""
        text2, spans2, err2 = extract_feed(data)
        assert (text2, spans2, err2) == (text, spans, err)

"""HTML structured-data extraction: microdata, RDFa Lite, embedded
JSON-LD — pure-Python core + the fused Spark path's raw-html fallback."""

from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from parser_rdf_spark import htmldata
from parser_rdf_spark.formats import detect_format, parse_rdf_document, supported_formats
from parser_rdf_spark.parse import parse_page, parse_pages, triples_of
from parser_rdf_spark.schemas import PAGES

SCHEMA = "https://schema.org/"

MICRODATA_DOC = """<!DOCTYPE html>
<html><body>
<div itemscope itemtype="https://schema.org/Person" itemid="https://example.org/alice">
  <span itemprop="name">Alice Liddell</span>
  <meta itemprop="birthDate" content="1852-05-04">
  <a itemprop="url" href="https://alice.example.org/">home</a>
  <img itemprop="image" src="https://example.org/alice.jpg">
  <div itemprop="address" itemscope itemtype="https://schema.org/PostalAddress">
    <span itemprop="addressLocality">Oxford</span>
  </div>
</div>
</body></html>"""

RDFA_DOC = """<!DOCTYPE html>
<html><body prefix="foaf: http://xmlns.com/foaf/0.1/" vocab="https://schema.org/">
<div about="https://example.org/bob" typeof="Person">
  <span property="name">Bob Smith</span>
  <span property="foaf:nick" content="bobby"></span>
  <a property="url" href="https://bob.example.org/">site</a>
</div>
</body></html>"""

LDJSON_DOC = """<!DOCTYPE html>
<html><head>
<script type="application/ld+json">
{"@context": "https://schema.org", "@id": "https://example.org/carol",
 "@type": "Person", "name": "Carol Danvers",
 "knows": {"@id": "https://example.org/bob"}}
</script>
<script type="application/ld+json">
{"@context": {"ex": "http://example.org/"}, "@id": "ex:dave",
 "@type": "ex:Robot", "ex:label": "Dave"}
</script>
</head><body><p>hello</p></body></html>"""


def _spo(triples):
    return {(t.subj, t.pred, t.obj_value) for t in triples}


def test_detection_priority_html_last():
    assert supported_formats()[-1] == "html"
    assert detect_format(MICRODATA_DOC) == "html"
    # RDF serializations still win
    assert detect_format('<?xml version="1.0"?><rdf:RDF/>') == "rdf/xml"
    assert detect_format("<http://a> <http://b> <http://c> .") == "n-triples"


def test_microdata_extraction():
    triples, _ = htmldata.parse_document(MICRODATA_DOC)
    got = _spo(triples)
    alice = "https://example.org/alice"
    assert (alice, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", SCHEMA + "Person") in got
    assert (alice, SCHEMA + "name", "Alice Liddell") in got
    assert (alice, SCHEMA + "birthDate", "1852-05-04") in got
    assert (alice, SCHEMA + "url", "https://alice.example.org/") in got
    assert (alice, SCHEMA + "image", "https://example.org/alice.jpg") in got
    nested = [t for t in triples if t.pred == SCHEMA + "address"]
    assert len(nested) == 1 and nested[0].obj_kind == "bnode"
    addr = nested[0].obj_value
    assert (addr, SCHEMA + "addressLocality", "Oxford") in got


def test_rdfa_extraction():
    triples, prefixes = htmldata.parse_document(RDFA_DOC)
    got = _spo(triples)
    bob = "https://example.org/bob"
    assert (bob, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", SCHEMA + "Person") in got
    assert (bob, SCHEMA + "name", "Bob Smith") in got
    assert (bob, "http://xmlns.com/foaf/0.1/nick", "bobby") in got
    assert (bob, SCHEMA + "url", "https://bob.example.org/") in got
    assert prefixes["foaf"] == "http://xmlns.com/foaf/0.1/"


def test_rdfa_about_property_same_element():
    doc = ('<html><body vocab="https://schema.org/">'
           '<meta about="https://e.org/y" property="name" content="Zoe"/></body></html>')
    triples, _ = htmldata.parse_document(doc)
    assert _spo(triples) == {("https://e.org/y", SCHEMA + "name", "Zoe")}


def test_rdfa_resource_is_object():
    doc = ('<html><body vocab="https://schema.org/"><div about="https://e.org/book">'
           '<span property="author" resource="https://e.org/jane"></span></div></body></html>')
    triples, _ = htmldata.parse_document(doc)
    assert _spo(triples) == {("https://e.org/book", SCHEMA + "author", "https://e.org/jane")}


def test_rdfa_property_typeof_chaining():
    doc = ('<html><body vocab="https://schema.org/"><div about="https://e.org/doc">'
           '<div property="author" typeof="Person"><span property="name">Kim</span>'
           "</div></div></body></html>")
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    bnodes = {s for s, p, _ in got if s.startswith("_:")}
    assert len(bnodes) == 1
    bn = bnodes.pop()
    assert ("https://e.org/doc", SCHEMA + "author", bn) in got
    assert (bn, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", SCHEMA + "Person") in got
    assert (bn, SCHEMA + "name", "Kim") in got


def test_unquoted_url_attrs_and_comment_script_cdata_ignored():
    doc = """<!DOCTYPE html><html>
<!-- <div itemscope> inside a comment -->
<body vocab=https://schema.org/>
<div about=https://e.org/x typeof=Person><span property=name>Ann &amp; Bob</span></div>
<script type="text/javascript">var s = "<div itemscope>"; if (1<2) {}</script>
<![CDATA[ <div itemprop="bogus"> ]]>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    assert ("https://e.org/x", SCHEMA + "name", "Ann & Bob") in got
    assert len(got) == 2  # type + name; nothing from comment/script/CDATA


def test_embedded_jsonld_blocks():
    triples, _ = htmldata.parse_document(LDJSON_DOC)
    got = _spo(triples)
    assert ("https://example.org/carol", SCHEMA + "name", "Carol Danvers") in got
    assert ("https://example.org/carol", SCHEMA + "knows", "https://example.org/bob") in got
    assert ("http://example.org/dave", "http://example.org/label", "Dave") in got


def test_broken_ldjson_block_is_isolated():
    doc = LDJSON_DOC.replace('"Carol Danvers"', '"Carol Danvers')  # broken JSON
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    assert ("http://example.org/dave", "http://example.org/label", "Dave") in got
    assert not any("carol" in s for s, _, _ in got)


def test_malformed_html_never_raises():
    junk = "<html><body><div itemscope itemprop='x'><span>unclosed"
    triples, _ = htmldata.parse_document(junk)
    assert isinstance(triples, list)
    res = parse_rdf_document("<html><p>no structured data</p></html>")
    assert res.format == "html" and res.triples == []


def test_plain_text_not_detected_as_html():
    assert not htmldata.can_handle("just a plain sentence with no tags")
    assert detect_format("just a plain sentence") is None


@pytest.mark.parametrize("text", [None, "hello", "", "   "])
def test_raw_html_fallback_for_empty_text(text):
    """An empty ``text`` column is no reason to drop the page's HTML
    structured data: it falls back to the raw bytes like non-RDF text."""
    html = (
        b'<html><head><script type="application/ld+json">'
        b'{"@id": "https://example.org/a", "https://example.org/p": "v"}'
        b"</script></head><body>hello</body></html>"
    )
    res = parse_page(text, html)
    assert res.ok and res.format == "html"
    assert _spo(res.triples) == {("https://example.org/a", "https://example.org/p", "v")}


@pytest.mark.parametrize("text", ["", "   "])
def test_empty_text_falls_back_like_non_rdf_text(text):
    """Without HTML the reference-pinned 'empty' error stays; with HTML
    an empty text gets the same result as a non-RDF one."""
    res = parse_page(text, None)
    assert (res.format, res.error_stage, res.triples) == (None, "empty", [])
    html = b"<html><body><p>no structured data</p></body></html>"
    assert parse_page(text, html) == parse_page("hello", html)


def _html_pages(spark, docs):
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    return spark.createDataFrame(
        [(url, ts, payload.encode(), None, "en") for url, payload in docs.items()],
        schema=PAGES,
    )


def test_spark_raw_html_fallback(spark):
    """html column pages whose stripped text is not RDF fall back to
    structured-data extraction on the raw bytes."""
    pages = _html_pages(spark, {"https://p/md": MICRODATA_DOC, "https://p/ld": LDJSON_DOC})
    parsed = parse_pages(pages)
    t = triples_of(parsed)
    rows = {(r["doc_url"], r["pred"], r["obj_value"]) for r in t.collect()}
    assert ("https://p/md", SCHEMA + "name", "Alice Liddell") in rows
    assert ("https://p/ld", SCHEMA + "name", "Carol Danvers") in rows
    fmts = {r["doc_url"]: r["format"] for r in parsed.select("doc_url", "format").collect()}
    assert fmts == {"https://p/md": "html", "https://p/ld": "html"}


def test_spark_bnode_scoping_across_pages(spark):
    """The same microdata doc on two urls must not share bnode labels."""
    pages = _html_pages(spark, {"https://p/1": MICRODATA_DOC, "https://p/2": MICRODATA_DOC})
    t = triples_of(parse_pages(pages))
    bnodes = (
        t.filter(F.col("obj_kind") == "bnode")
        .select("doc_url", "obj_value").distinct().collect()
    )
    labels = {r["obj_value"] for r in bnodes}
    assert len(labels) == 2  # one address bnode per page, doc-scoped


def test_case_expanding_chars_dont_desync_script_slicing():
    """'İ' (U+0130) doubles in length under str.lower(); offset math from a
    lowered copy would corrupt the JSON-LD slice after it."""
    doc = ('<html><body><p>İstanbul Ünïversity</p>'
           '<script type="application/ld+json">'
           '{"@context": {"ex": "http://e.org/"}, "@id": "ex:i", "ex:name": "ok"}'
           "</script></body></html>")
    triples, _ = htmldata.parse_document(doc)
    assert {(t.subj, t.obj_value) for t in triples} == {("http://e.org/i", "ok")}


def test_itemref_detached_properties_forward_and_backward():
    """itemref pulls properties from id-scoped subtrees anywhere in the
    document — before or after the referring item (WHATWG microdata
    crawl); short terms resolve against the REFERRING item's vocab."""
    doc = """<html><body>
<div id="early"><span itemprop="jobTitle">Pirate</span></div>
<div itemscope itemtype="https://schema.org/Person"
     itemid="https://e.org/amy" itemref="early late">
  <span itemprop="name">Amy</span>
</div>
<div id="late">
  <meta itemprop="birthDate" content="1701-01-01">
  <a itemprop="url" href="https://amy.example.org/">home</a>
</div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    amy = "https://e.org/amy"
    assert (amy, SCHEMA + "name", "Amy") in got
    assert (amy, SCHEMA + "jobTitle", "Pirate") in got
    assert (amy, SCHEMA + "birthDate", "1701-01-01") in got
    assert (amy, SCHEMA + "url", "https://amy.example.org/") in got
    url_kind = {t.obj_kind for t in triples if t.pred == SCHEMA + "url"}
    assert url_kind == {"iri"}


def test_itemref_shared_id_two_items_resolve_own_vocab():
    """One id-subtree referenced by two items: each claims the properties
    under its OWN vocabulary."""
    doc = """<html><body>
<div itemscope itemtype="https://schema.org/Person" itemid="https://e.org/p" itemref="shared"></div>
<div itemscope itemtype="http://xmlns.com/foaf/0.1/Agent" itemid="https://e.org/q" itemref="shared"></div>
<div id="shared"><span itemprop="name">Twin</span></div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    assert ("https://e.org/p", SCHEMA + "name", "Twin") in got
    assert ("https://e.org/q", "http://xmlns.com/foaf/0.1/name", "Twin") in got


def test_itemref_crawl_stops_at_nested_itemscope():
    """A nested item inside the referenced subtree becomes an item-valued
    property; its INTERNAL properties belong to it, not the referrer."""
    doc = """<html><body>
<div itemscope itemtype="https://schema.org/Person" itemid="https://e.org/ann" itemref="addr"></div>
<div id="addr">
  <div itemprop="address" itemscope itemtype="https://schema.org/PostalAddress">
    <span itemprop="addressLocality">Leeds</span>
  </div>
</div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    ann = "https://e.org/ann"
    addr_vals = [t for t in triples if t.subj == ann and t.pred == SCHEMA + "address"]
    assert len(addr_vals) == 1 and addr_vals[0].obj_kind == "bnode"
    bn = addr_vals[0].obj_value
    got = _spo(triples)
    assert (bn, SCHEMA + "addressLocality", "Leeds") in got
    # the locality must NOT leak onto ann
    assert (ann, SCHEMA + "addressLocality", "Leeds") not in got


def test_itemref_void_id_element_and_unknown_id():
    """A void element can itself carry the id (one-element subtree);
    itemref ids with no matching element contribute nothing and never
    raise."""
    doc = """<html><body>
<meta id="bd" itemprop="birthDate" content="1900-12-01">
<div itemscope itemtype="https://schema.org/Person" itemid="https://e.org/v"
     itemref="bd ghost"></div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    assert ("https://e.org/v", SCHEMA + "birthDate", "1900-12-01") in got
    assert len([t for t in triples if t.subj == "https://e.org/v"]) == 2  # type + birthDate


def test_itemref_subtree_inside_another_item_dual_claim():
    """An id-subtree nested inside item A and referenced by item B: the
    property belongs to BOTH (tree crawl from A, itemref crawl from B)."""
    doc = """<html><body>
<div itemscope itemtype="https://schema.org/Person" itemid="https://e.org/a">
  <div id="nick"><span itemprop="alternateName">Dizzy</span></div>
</div>
<div itemscope itemtype="https://schema.org/Person" itemid="https://e.org/b" itemref="nick"></div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    got = _spo(triples)
    assert ("https://e.org/a", SCHEMA + "alternateName", "Dizzy") in got
    assert ("https://e.org/b", SCHEMA + "alternateName", "Dizzy") in got


def test_itemref_absolute_property_term_kept_verbatim():
    doc = """<html><body>
<div id="x"><span itemprop="http://purl.org/dc/terms/title">T</span></div>
<div itemscope itemtype="https://schema.org/Book" itemid="https://e.org/bk" itemref="x"></div>
</body></html>"""
    triples, _ = htmldata.parse_document(doc)
    assert ("https://e.org/bk", "http://purl.org/dc/terms/title", "T") in _spo(triples)


def test_line_no_unique_per_document():
    """Embedded JSON-LD blocks carry block-local line_no; parse_document
    must renumber so line_no is a unique per-doc triple index (lineage +
    deterministic salt keys downstream)."""
    doc = MICRODATA_DOC.replace(
        "</body>",
        '<script type="application/ld+json">'
        '{"@context": "https://schema.org", "@id": "https://example.org/c",'
        ' "name": "C"}</script></body>',
    )
    triples, _ = htmldata.parse_document(doc)
    nos = [t.line_no for t in triples]
    assert sorted(nos) == list(range(len(triples)))


def test_jsonld_null_values_dropped():
    doc = ('<html><script type="application/ld+json">'
           '{"@context": {"ex": "http://e.org/"}, "@id": "ex:n", '
           '"ex:a": null, "ex:b": {"@value": null}, "ex:c": "keep"}'
           "</script></html>")
    triples, _ = htmldata.parse_document(doc)
    assert [(t.pred, t.obj_value) for t in triples] == [("http://e.org/c", "keep")]

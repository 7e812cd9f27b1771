"""Differential pin: the document-level fast lexer in parse_document must
be observationally identical to the per-line strict path (_parse_lines) —
same triples, same accept/reject decision, same first-error line number.

The fast lexer is a pure optimization (one regex pass over the whole
document, reference decisions per docs/spec-completeness.md); any line it
cannot lex falls through to the strict path, so the only way it can be
wrong is by ACCEPTING something strict rejects or emitting a different
triple/line number. These tests hunt exactly that.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from parser_rdf_spark import ntriples as nt


def strict_parse(content: str, allow_graph: bool = False):
    """The per-line strict path only — no document-level fast lexing."""
    triples: list[nt.Triple] = []
    nt._parse_lines(content.split("\n"), 0, allow_graph, triples)
    return triples


def outcome(fn, content: str):
    try:
        return ("ok", fn(content))
    except nt.NTriplesError as e:
        return ("err", str(e))


def assert_equiv(content: str):
    fast = outcome(nt.parse_document, content)
    strict = outcome(strict_parse, content)
    assert fast == strict, f"divergence on {content!r}:\nfast   {fast}\nstrict {strict}"


# ---------------------------------------------------------------------------
# Curated edge cases (each a past or plausible divergence)

EDGE_DOCS = [
    # multi-line literal: strict rejects as unterminated string — the fast
    # lexer must NOT stitch it across the newline (regression, round 3)
    '<a:s> <a:p> "foo\nbar" .\n',
    '<a:s> <a:p> "foo\nbar" . <a:s> <a:p> <a:o> .\n',
    # trailing comment containing a dot → strict rejects (last
    # out-of-string dot is inside the comment); fast must defer
    "<a:s> <a:p> <a:o> . # v1.2\n",
    # dot-free trailing comment → stripped, accepted
    "<a:s> <a:p> <a:o> . # plain comment\n",
    '<a:s> <a:p> "x" . # say "hi"\n',
    # comment with quotes and a dot inside the quotes
    '<a:s> <a:p> "x" . # "a.\n',
    # blank/comment/CR padding interleavings (line numbers must track)
    "\n\n# c\n<a:s> <a:p> <a:o> .\r\n\n<bad\n",
    "\x00 <a:s> <a:p> <a:o> . \x0b\r\n",
    # escaped literal (lexed and unescaped) after fast lines, then a
    # malformed line: line numbers
    ' <a:s> <a:p> <a:o> .\n<a:s> <a:p> "a\\tb" .\n<a:s> <a:p> <a:o\n',
    # bnode subject/object, language tag, datatype
    "_:b1 <a:p> _:b2 .\n",
    '<a:s> <a:p> "x"@en-US .\n',
    '<a:s> <a:p> "x"^^<a:dt> .\n',
    # relative IRI (V7) and IRI whitespace (V5) must still reject with
    # the right line number after fast-consumed lines
    "<a:s> <a:p> <a:o> .\n</rel> <a:p> <a:o> .\n",
    "<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a b> .\n",
    # Turtle-ish syntax (V12) rejected
    "<a:s> <a:p> <a:o> ;\n",
    # no terminal dot
    "<a:s> <a:p> <a:o>\n",
    # no trailing newline
    "<a:s> <a:p> <a:o> .",
    "# only a comment",
    "",
    "\n",
    # triple-quote ban (V4)
    '<a:s> <a:p> """x""" .\n',
    # literal escapes the lexer takes: ECHAR, \\u, \\U (V10 whitelist)
    '<a:s> <a:p> "\\u0041" .\n',
    '<a:s> <a:p> "a\\tb" .\n<a:s> <a:p> "say \\"hi\\"" .\n<a:s> <a:p> "x\\\\y" .\n',
    '<a:s> <a:p> "caf\\u00e9"@fr .\n<a:s> <a:p> "\\U0001F600"^^<a:dt> .\n',
    '<a:s> <a:p> "\\b\\n\\r\\f" . # c\n',
    # \\" or \\\\ right before the closing quote
    '<a:s> <a:p> "end\\"" .\n<a:s> <a:p> "end\\\\" .\n',
    '<a:s> <a:p> "\\\\" .\n<a:s> <a:p> "\\\\\\"" .\n',
    # invalid escapes: strict rejects, with the line number
    '<a:s> <a:p> "\\q" .\n',
    '<a:s> <a:p> <a:o> .\n<a:s> <a:p> "\\u12" .\n',
    '<a:s> <a:p> "ok" .\n\n<a:s> <a:p> "\\U00110000" .\n',
    '<a:s> <a:p> "x\\U0011000" .\n',
    # a lone surrogate escape decodes the same on both paths
    '<a:s> <a:p> "\\uD800" .\n',
    # a malformed or overlong line BETWEEN fast lines: the strict path
    # takes that one line and the lexer resumes on the next
    '<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a:\\u0041> .\n<a:s> <a:p> "x\\ty" .\n',
    '<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a:o> . # v1.2\n<a:s> <a:p> <a:o> .\n',
    '<a:s> <a:p> <a:o> .\n\x0c\n<a:s> <a:p> <a:o> .\n',
    '<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a:o>\n<a:s> <a:p> <a:o> .\n',
    '<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a:o> .\n# c\n<rel> <a:p> <a:o> .\n',
    # terms the lexer defers: '"' or '_:' in an IRI, '"' in a bnode
    # label (they feed the strict path's literal and V9 scans)
    '<a:s> <a:p> <a:_:-x> .\n',
    '<a:s> <a:p> <a:x_:y> .\n<a:s> <a:p> <a:x_y> .\n',
    '<a:"> <a:p> "y" . # c\n',
    '_:b"x"@1 <a:p> <a:o> .\n',
    # '<' inside an IRI restarts the strict path's IRI extraction
    # (relative or empty IRI): the lexer must defer, not take one IRI
    '<a:s> <a:p> <a:x<y> .\n',
    '<a:s> <a:p> <a:x<b:y> .\n',
    '<a:s> <a:p> <a:x<> .\n<a:s> <a:p> <a:o> .\n',
]


@pytest.mark.parametrize("doc", EDGE_DOCS, ids=range(len(EDGE_DOCS)))
def test_curated_edges(doc):
    assert_equiv(doc)


def test_long_line_guard_consistent():
    # a line the fast lexer COULD match but whose char length exceeds the
    # conservative cap must fall through and get strict's byte-measured V1
    long_iri = "a:" + "x" * (nt.MAX_LINE_LENGTH // 4)
    assert_equiv(f"<a:s> <a:p> <{long_iri}> .\n")
    # between fast lines: accepted by strict's byte count, lexing resumes
    doc = f"<a:s> <a:p> <a:o> .\n<a:s> <a:p> <{long_iri}> .\n<a:s> <a:p> \"\\t\" .\n"
    assert_equiv(doc)
    assert [t.line_no for t in nt.parse_document(doc)] == [1, 2, 3]
    # a multi-byte line over the 1 MiB byte cap is rejected on its line
    assert_equiv("<a:s> <a:p> <a:o> .\n<a:s> <a:p> <a:" + "é" * nt.MAX_LINE_LENGTH + "> .\n")


def test_allow_graph_uses_strict_path_only():
    # N-Quads: 4-term lines never fast-lex; decisions must match strict
    doc = "<a:s> <a:p> <a:o> <a:g> .\n<a:s> <a:p> <a:o> .\n"
    fast = outcome(lambda c: nt.parse_document(c, allow_graph=True), doc)
    strict = outcome(lambda c: strict_parse(c, allow_graph=True), doc)
    assert fast == strict


# ---------------------------------------------------------------------------
# Hypothesis differential fuzz: random documents assembled from fragments
# biased toward the fast/strict boundary.

_iri = st.sampled_from(
    ["a:x", "http://ex.org/o#frag", "http://ex.org/v1.2", "a:" + "y" * 40,
     "a:x<y", "a:x<b:y"]
)
_lit = st.sampled_from([
    "", "plain", "two  words", "dot.", 'say "hi"', "tab\tin",
    # escapes: valid, right before the closing quote, invalid, out of range
    "a\\tb", 'q\\"', "bs\\\\", "\\u00e9", "\\U0001F600", "\\uD800",
    "\\q", "\\u12", "\\U00110000", "a;b,c",
])
_comment = st.sampled_from(["# c", "# v1.2", '# "a.', "#", "  # x y"])

_line = st.one_of(
    st.builds(lambda s, p, o: f"<{s}> <{p}> <{o}> .", _iri, _iri, _iri),
    st.builds(lambda s, p, v: f'<{s}> <{p}> "{v}" .', _iri, _iri, _lit),
    st.builds(lambda s, p, v: f'<{s}> <{p}> "{v}"@en .', _iri, _iri, _lit),
    st.builds(lambda s, p, v, d: f'<{s}> <{p}> "{v}"^^<{d}> .', _iri, _iri, _lit, _iri),
    st.builds(lambda s, p, o: f"_:{s} <{p}> _:{o} .", st.sampled_from(["b1", "b2"]), _iri, st.sampled_from(["b1", "b2"])),
    st.builds(lambda s, p, o, c: f"<{s}> <{p}> <{o}> . {c}", _iri, _iri, _iri, _comment),
    st.builds(lambda s, p, v: f'<{s}> <{p}> "{v}\\tesc" .', _iri, _iri, _lit),
    _comment,
    st.just(""),
    st.just("   "),
    st.just("\r"),
    # malformed fragments — force strict-path takeover mid-document
    st.just("<a:s> <a:p> <a:o>"),
    st.just("</rel> <a:p> <a:o> ."),
    st.just("<a:s> <a:p> <a b> ."),
    st.just("<a:s> <a:p> <a:o> ;"),
    st.just('<a:s> <a:p> "unterminated .'),
    st.just('<a:s> <a:p> "multi'),
    st.just('line" .'),
    st.just("<a:s> <a:p> <a:_:-x> ."),
    st.just('<a:s> <a:p> "x" . # v1.2'),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_line, min_size=0, max_size=12), st.booleans())
def test_fuzz_differential(lines, trailing_newline):
    content = "\n".join(lines) + ("\n" if trailing_newline else "")
    assert_equiv(content)

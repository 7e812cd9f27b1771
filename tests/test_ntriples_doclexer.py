"""Differential pin: the document-level fast lexer (ntriples.lex_document)
must be observationally identical to each line format's per-line strict
path — same triples, same accept/reject decision, same first-error line
number: N-Triples and N-Quads against ``_parse_lines``, N-Triples-star
and N-Quads-star against ``rdfstar._parse_lines_star``
(``tokenize_line_star`` per line).

The fast lexer is a pure optimization (one regex pass over the whole
document, reference decisions per docs/spec-completeness.md); any line it
cannot lex falls through to the strict path, so the only way it can be
wrong is by ACCEPTING something strict rejects or emitting a different
triple/line number. These tests hunt exactly that.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from parser_rdf_spark import formats, ntriples as nt, rdfstar
from parser_rdf_spark.parse import _parse_batch, doc_hash, parse_page


def strict_parse(content: str, allow_graph: bool = False, star: bool = False):
    """The per-line strict path only — no document-level fast lexing."""
    triples: list[nt.Triple] = []
    lines = rdfstar._parse_lines_star if star else nt._parse_lines
    lines(content.split("\n"), 0, allow_graph, triples)
    return triples


def outcome(fn, content: str):
    try:
        return ("ok", fn(content))
    except nt.NTriplesError as e:
        return ("err", str(e))


def assert_equiv(content: str, allow_graph: bool = False, star: bool = False):
    parse = rdfstar.parse_document if star else nt.parse_document
    fast = outcome(lambda c: parse(c, allow_graph=allow_graph), content)
    strict = outcome(lambda c: strict_parse(c, allow_graph, star), content)
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


def test_quads_differential():
    # N-Quads: 4-term lines lex too; decisions must match strict
    doc = "<a:s> <a:p> <a:o> <a:g> .\n<a:s> <a:p> <a:o> .\n"
    fast = outcome(lambda c: nt.parse_document(c, allow_graph=True), doc)
    strict = outcome(lambda c: strict_parse(c, allow_graph=True), doc)
    assert fast == strict


QUAD_DOCS = [
    # graph IRIs and graph bnodes, mixed with 3-term lines
    "<a:s> <a:p> <a:o> <a:g> .\n_:b <a:p> _:c _:g .\n<a:s> <a:p> <a:o> .\n",
    # a literal followed by a graph term, with and without a space
    '<a:s> <a:p> "x" <a:g> .\n<a:s> <a:p> "x"<a:g> .\n<a:s> <a:p> "x"_:g .\n',
    '<a:s> <a:p> "x"@en <a:g> .\n<a:s> <a:p> "x"^^<a:dt><a:g> .\n',
    '<a:s> <a:p> "a\\tb"@en-US _:g . # c\n',
    # a langtag runs into a graph term with no space: strict reads one tag
    '<a:s> <a:p> "x"@en<a:g> .\n',
    '<a:s> <a:p> "x"@en_:g .\n',
    # no space between object and graph term
    "<a:s> <a:p> <a:o><a:g> .\n<a:s> <a:p> <a:o>_:g .\n_:b<a:p>_:o<a:g>.\n",
    # a bnode label runs into '_:': strict reads one (':'-bearing) label
    "_:b <a:p> _:o_:g .\n",
    "<a:s> <a:p> _:o_ .\n",
    # 5-term lines and a quoted or literal graph term are errors
    "<a:s> <a:p> <a:o> <a:g> <a:h> .\n",
    "<a:s> <a:p> <a:o> <a:g> .\n<a:s> <a:p> <a:o> _:g _:h .\n",
    '<a:s> <a:p> <a:o> "g" .\n',
    # graph terms the lexer defers: escapes, '_:' in the IRI, V9 labels
    "<a:s> <a:p> <a:o> <a:\\u0041> .\n<a:s> <a:p> <a:o> <a:g> .\n",
    "<a:s> <a:p> <a:o> <a:_:g> .\n",
    "<a:s> <a:p> <a:o> _:-g .\n",
    "<a:s> <a:p> <a:o> <rel> .\n",
    "<a:s> <a:p> <a:o> <a:g> . # v1.2\n",
    "<a:s> <a:p> <a:o> <a:g>\n",
]


@pytest.mark.parametrize("doc", QUAD_DOCS, ids=range(len(QUAD_DOCS)))
def test_quad_edges(doc):
    assert_equiv(doc, allow_graph=True)


STAR_DOCS = [
    # flat quoted subject and object, quoted object, graph terms
    "<< <a:s> <a:p> <a:o> >> <a:q> <a:z> .\n",
    "<a:z> <a:q> << _:b <a:p> _:c >> .\n",
    "<< <a:s> <a:p> <a:o> >> <a:q> << <a:s> <a:p> \"v\" >> .\n",
    "<<<a:s><a:p><a:o>>><a:q><<_:b<a:p>\"v\"@en>>.\n",
    '<<  <a:s>\t<a:p> "v"^^<a:dt>  >> <a:q> "w" .\n',
    "<< <a:s> <a:p> <a:o> >> <a:q> <a:z> <a:g> .\n",
    "<< <a:s> <a:p> <a:o> >> <a:q> <a:z> _:g .\n",
    # escaped literals inside quoted terms (re-rendered canonically)
    '<< <a:s> <a:p> "a\\tb\\"c\\u00e9" >> <a:q> "x\\\\y" .\n',
    '<< <a:s> <a:p> "tab\there" >> <a:q> <a:z> .\n',
    '<< <a:s> <a:p> "\\U00110000" >> <a:q> <a:z> .\n',
    '<< <a:s> <a:p> "\\q" >> <a:q> <a:z> .\n',
    # a '_:' inside a quoted literal is content, not a bnode
    '<< <a:s> <a:p> "_:b1" >> <a:q> "_:b2" .\n',
    # nested quoted terms go to tokenize_line_star, lexing resumes after
    "<< << <a:s> <a:p> <a:o> >> <a:p> <a:o> >> <a:q> <a:z> .\n<< <a:s> <a:p> <a:o> >> <a:q> <a:z> .\n",
    "<a:z> <a:q> << <a:s> <a:p> << _:b <a:p> _:c >> >> .\n",
    # the star grammar's own decisions: banned IRI chars, no V9, quoted
    # predicate / graph, literal subject, unclosed term, comment dots
    "<< <a:s> <a:p> <a:{o}> >> <a:q> <a:z> .\n",
    "<< <a:s> <a:p> <a:x<y> >> <a:q> <a:z> .\n<a:s> <a:p> <a:x<> .\n",
    "<a:s> <a:p> <a:x_:y> .\n<< _:-b <a:p> _:c:d >> <a:q> <a:z> .\n",
    "<a:s> << <a:s> <a:p> <a:o> >> <a:o> .\n",
    "<a:s> <a:p> <a:o> << <a:s> <a:p> <a:o> >> .\n",
    '<< "x" <a:p> <a:o> >> <a:q> <a:z> .\n',
    "<< <a:s> <a:p> <a:o> <a:q> <a:z> .\n",
    "<< <a:s> <a:p> <a:o> >> <a:q> <a:z> . # v1.2\n",
    '<< <a:s> <a:p> "x"@en>> <a:q> <a:z> .\n<< <a:s> <a:p> "x"@en-> <a:q> <a:z> .\n',
    "<a:s> <a:p> <rel> .\n",
    "\n# c\n<< <a:s> <a:p> <a:o> >> <a:q> <a:z> .\r\n\n<<bad\n",
]


@pytest.mark.parametrize("doc", STAR_DOCS, ids=range(len(STAR_DOCS)))
@pytest.mark.parametrize("allow_graph", [False, True], ids=["ntriples_star", "nquads_star"])
def test_star_edges(doc, allow_graph):
    assert_equiv(doc, allow_graph=allow_graph, star=True)


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


# Quads and star fragments: graph terms, flat and nested quoted terms.

_node = st.one_of(
    st.builds(lambda i: f"<{i}>", _iri),
    st.sampled_from(["_:b1", "_:g", "_:x_y", "_:-b", "_:b:c"]),
)
_literal = st.one_of(
    st.builds(lambda v: f'"{v}"', _lit),
    st.builds(lambda v, t: f'"{v}"@{t}', _lit, st.sampled_from(["en", "en-US", "e1"])),
    st.builds(lambda v, d: f'"{v}"^^<{d}>', _lit, _iri),
)
_graph = st.one_of(st.just(""), _node, st.sampled_from(['"g"', "<< <a:s> <a:p> <a:o> >>"]))
_sp = st.sampled_from([" ", "", "\t", "  "])


def _statement(subj, obj):
    return st.builds(
        lambda s, p, o, g, a, b, c: f"{s}{a}<{p}>{b}{o}{c}{g} .",
        subj, _iri, obj, _graph, _sp, _sp, _sp,
    )


_quad_line = st.one_of(_statement(_node, st.one_of(_node, _literal)), _line)


@settings(max_examples=300, deadline=None)
@given(st.lists(_quad_line, min_size=0, max_size=10), st.booleans())
def test_fuzz_quads_differential(lines, trailing_newline):
    content = "\n".join(lines) + ("\n" if trailing_newline else "")
    assert_equiv(content, allow_graph=True)


def _quoted(inner):
    return st.builds(
        lambda s, p, o, a, b: f"<<{a}{s} <{p}> {o}{b}>>",
        st.one_of(_node, inner), _iri, st.one_of(_node, _literal, inner), _sp, _sp,
    )


_star_term = st.recursive(_node, _quoted, max_leaves=4)
_star_line = st.one_of(
    _statement(_star_term, st.one_of(_star_term, _literal)),
    _line,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_star_line, min_size=0, max_size=8), st.booleans(), st.booleans())
def test_fuzz_star_differential(lines, trailing_newline, allow_graph):
    content = "\n".join(lines) + ("\n" if trailing_newline else "")
    assert_equiv(content, allow_graph=allow_graph, star=True)


# ---------------------------------------------------------------------------
# Blank-node scoping: the column path against the per-triple re-parse path.

def rescope_reparse(lexical: str, h: str) -> str:
    """rescope_quoted without its no-'_:' shortcut: parse, rewrite every
    bnode (recursing into nested terms), re-render."""
    s_kind, s, p, o_kind, o, o_lang, o_dt = rdfstar.parse_quoted(lexical)
    if s_kind == "bnode":
        s = f"_:d{h}-{s[2:]}"
    elif s_kind == "quoted":
        s = rescope_reparse(s, h)
    if o_kind == "bnode":
        o = f"_:d{h}-{o[2:]}"
    elif o_kind == "quoted":
        o = rescope_reparse(o, h)
    return rdfstar.quoted_lexical(s, p, o_kind, o, o_lang, o_dt)


def scope_per_triple(triples: list, h: str) -> list:
    """The per-triple P5 pass the column path replaced."""
    out = []
    for t in triples:
        subj = t.subj
        if subj.startswith("_:"):
            subj = f"_:d{h}-{subj[2:]}"
        elif subj.startswith("<<"):
            subj = rescope_reparse(subj, h)
        obj = t.obj_value
        if t.obj_kind == "bnode" and obj.startswith("_:"):
            obj = f"_:d{h}-{obj[2:]}"
        elif t.obj_kind == "quoted":
            obj = rescope_reparse(obj, h)
        graph = t.graph
        if graph is not None and graph.startswith("_:"):
            graph = f"_:d{h}-{graph[2:]}"
        out.append(t._replace(subj=subj, obj_value=obj, graph=graph))
    return out


_term_iri = st.sampled_from(["a:x", "http://ex.org/_:not-a-bnode", "http://ex.org/o#f"])
_term_bnode = st.sampled_from(["_:b1", "_:b_2", "_:x"])
_term_value = st.text(alphabet='ab _:"\\\t\n<>é', max_size=8)


@st.composite
def _quoted_lexical(draw, depth=2):
    def node(d):
        if d > 0 and draw(st.booleans()):
            return "quoted", draw(_quoted_lexical(depth=d - 1))
        return draw(st.sampled_from(["iri", "bnode"])), draw(
            st.one_of(_term_iri, _term_bnode))

    s_kind, s = node(depth)
    if s_kind == "iri" and s.startswith("_:"):
        s_kind = "bnode"
    if s_kind == "bnode" and not s.startswith("_:"):
        s = "_:b9"
    kind = draw(st.sampled_from(["iri", "bnode", "literal", "quoted"]))
    lang = dt = None
    if kind == "literal":
        o = draw(_term_value)
        lang = draw(st.sampled_from([None, "en"]))
        dt = None if lang else draw(st.sampled_from([None, "a:dt"]))
    elif kind == "quoted" and depth > 0:
        o = draw(_quoted_lexical(depth=depth - 1))
    else:
        kind = draw(st.sampled_from(["iri", "bnode"]))
        o = draw(_term_bnode if kind == "bnode" else _term_iri)
    return rdfstar.quoted_lexical(s, "a:p", kind, o, lang, dt)


@settings(max_examples=300, deadline=None)
@given(_quoted_lexical(), st.sampled_from(["0123abcd", "ffffffffffffffff"]))
def test_rescope_quoted_matches_reparse(lexical, h):
    assert rdfstar.rescope_quoted(lexical, h) == rescope_reparse(lexical, h)


_triple = st.builds(
    lambda s, kv, g, line: nt.Triple(s, "a:p", kv[0], kv[1], None, None, line, g),
    st.one_of(_term_iri, _term_bnode, _quoted_lexical(depth=1)),
    st.one_of(
        st.tuples(st.just("iri"), _term_iri),
        st.tuples(st.just("bnode"), _term_bnode),
        st.tuples(st.just("literal"), _term_value),
        st.tuples(st.just("quoted"), _quoted_lexical(depth=1)),
    ),
    st.one_of(st.none(), _term_iri, _term_bnode),
    st.integers(1, 9),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_triple, max_size=8))
def test_scope_bnodes_column_path_matches_per_triple(triples):
    h = "0123abcd"
    want = scope_per_triple(triples, h)
    assert formats.scope_bnodes(triples, h) == want
    if triples:
        s, _, k, v, _, _, _, g = zip(*triples)
        s2, v2, g2 = formats.scope_columns(s, k, v, g, h)
        assert (list(s2), list(v2), list(g2)) == (
            [t.subj for t in want], [t.obj_value for t in want], [t.graph for t in want])


def test_parse_batch_scopes_like_scope_bnodes():
    docs = [
        "_:b <a:p> _:c .\n<a:s> <a:p> \"_:lit\" .\n",
        "<< _:b <a:p> <a:o> >> <a:q> << <a:s> <a:p> _:c >> .\n",
        "<a:s> <a:p> <a:o> _:g .\n_:b <a:p> \"x\" <a:g> .\n",
        "<a:s> <a:p> <a:o> .\n",
    ]
    urls = [f"http://h/{i}" for i in range(len(docs))]
    batch = _parse_batch(urls, docs, [None] * len(docs), None, True, True)
    got = batch.column("triples").to_pylist()
    for url, doc, rows in zip(urls, docs, got):
        want = formats.scope_bnodes(parse_page(doc, None).triples, doc_hash(url))
        assert rows == [t._asdict() for t in want]

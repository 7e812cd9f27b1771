"""Pure-Python N-Triples core: the W3C suite is the P/R oracle.

Mirrors the reference's conformance suite
(tests/Conformance/W3cNTriplesConformanceTest.php:59-173): 41 positive /
29 negative. The reference skips ``minimal_whitespace`` (EasyRdf
limitation); our tokenizer parses it, which is spec-correct.
"""

import pytest
from hypothesis import given, settings, strategies as st

from parser_rdf_spark import w3c_fixtures as w3c
from parser_rdf_spark.ntriples import (
    NTriplesError,
    can_handle,
    parse_document,
    resource_count,
    strip_trailing_comment,
    tokenize_line,
    unescape,
)


@pytest.mark.parametrize("name", w3c.POSITIVE)
def test_positive_syntax(name):
    triples = parse_document(w3c.FIXTURES[name])
    assert isinstance(triples, list)


@pytest.mark.parametrize("name", w3c.NEGATIVE)
def test_negative_syntax(name):
    with pytest.raises(NTriplesError):
        parse_document(w3c.FIXTURES[name])


def test_negative_error_carries_line_number():
    # reference: tests/Unit/NTriplesStrictValidationTest.php:114-125
    doc = '<http://example/s> <http://example/p> <http://example/o> .\n<http://example/s> <http://example/p> """bad""" .'
    with pytest.raises(NTriplesError) as e:
        parse_document(doc)
    assert e.value.line_num == 2
    assert "line 2" in str(e.value)


@pytest.mark.parametrize("ws", ["\u2028", "\u2029", "\u00a0", "\u2003", "\u200a"])
def test_unicode_whitespace_in_iri_is_accepted(ws):
    """V5 parity pin (Hypothesis-found counterexample, round 1).

    The reference's preg_match('/\\s/', $iri) runs WITHOUT the /u flag
    (reference src/Handlers/NTriplesHandler.php:202), so only ASCII
    whitespace bytes reject an IRI: U+2028/U+2029/U+00A0/U+2000-200A are
    accepted by the reference and must be accepted here (re.ASCII).
    """
    doc = f'<a:b{ws}c> <http://example/p> "x" .'
    triples = parse_document(doc)
    assert len(triples) == 1
    assert triples[0].subj == f"a:b{ws}c"
    assert can_handle(doc)


@pytest.mark.parametrize("ws", [" ", "\t", "\x0b", "\x0c"])
def test_ascii_whitespace_in_iri_still_rejected(ws):
    # escape-free whitespace inside <...> stays a validation error (V5)
    with pytest.raises(NTriplesError):
        parse_document(f'<a:b{ws}c> <http://example/p> "x" .')


def test_minimal_whitespace_parses_fully():
    triples = parse_document(w3c.FIXTURES["minimal_whitespace"])
    assert len(triples) == 6
    assert triples[0].subj == "http://example/s"
    assert triples[5].obj_value == "_:bnode1"


def test_literal_escapes_decoded():
    ts = parse_document(w3c.FIXTURES["literal_with_numeric_escape4"])
    assert ts[0].obj_value == "o"  # o
    ts = parse_document(w3c.FIXTURES["nt-syntax-str-esc-01"])
    assert ts[0].obj_value == "a\n"


def test_langtag_and_datatype():
    ts = parse_document(w3c.FIXTURES["langtagged_string"])
    assert ts[0].obj_lang == "en"
    ts = parse_document(w3c.FIXTURES["nt-syntax-datatypes-01"])
    assert ts[0].obj_datatype == "http://www.w3.org/2001/XMLSchema#byte"


def test_comment_following_triple():
    ts = parse_document(w3c.FIXTURES["comment_following_triple"])
    assert len(ts) == 5


def test_detection_caps_at_ten_lines():
    # reference: tests/Unit/Handlers/NTriplesHandlerTest.php:80-93 — a
    # triple on line 11 is never checked
    doc = "\n".join(["# filler"] * 10 + ['<http://e/s> <http://e/p> <http://e/o> .'])
    assert can_handle(doc) is False
    doc10 = "\n".join(["# filler"] * 9 + ['<http://e/s> <http://e/p> <http://e/o> .'])
    assert can_handle(doc10) is True


def test_line_length_guard():
    big = '<http://e/s> <http://e/p> "' + "x" * 1_100_000 + '" .'
    with pytest.raises(NTriplesError) as e:
        parse_document(big)
    assert "maximum length" in str(e.value)


def test_strip_trailing_comment_dot_inside_literal():
    line = '<http://e/s> <http://e/p> "v1.5" . # note'
    assert strip_trailing_comment(line) == '<http://e/s> <http://e/p> "v1.5" .'


def test_trailing_comment_with_dot_is_not_stripped():
    # dot inside the comment after the terminal dot ⇒ line unchanged ⇒
    # the tokenizer rejects trailing garbage (reference decision parity)
    line = '<http://e/s> <http://e/p> <http://e/o> . # foo.bar'
    assert strip_trailing_comment(line) == line
    with pytest.raises(NTriplesError):
        tokenize_line(line, 1)


def test_unescape_u8():
    assert unescape("\\U0001F600") == "\U0001f600"
    assert unescape("a\\\\b") == "a\\b"


def test_resource_count_matches_reference_semantics():
    # distinct subjects ∪ non-literal objects
    ts = parse_document(
        '<http://e/s> <http://e/p> <http://e/o> .\n'
        '<http://e/s> <http://e/p> "literal" .\n'
        '_:b <http://e/p> <http://e/s> .\n'
    )
    assert resource_count(ts) == 3  # s, o, _:b


@pytest.mark.parametrize("bad", [
    "\\u12", "\\u12G4", "\\u 12a", "\\u+12a", "\\u1_2a",
    "\\U0001F60", "\\U0001F60Z", "\\U 001F600",
])
def test_unescape_short_or_nonhex_escape_raises_on_its_line(bad):
    with pytest.raises(NTriplesError) as e:
        unescape("x" + bad + '"', 7)
    assert e.value.line_num == 7


def test_bad_escape_behind_a_quoted_iri_is_a_validate_error():
    # _scan_iri ends the IRI at the first '>' while V6 restarts it at
    # every '<', so V8 never sees this IRI's '\u12""' escape: unescape
    # itself must reject it with the line number
    from parser_rdf_spark.formats import parse_rdf_document

    doc = '<a:s> <a:p> <" . "\\u12""a.b"<a:\\u0041> .'
    with pytest.raises(NTriplesError) as e:
        parse_document(doc)
    assert e.value.line_num == 1
    res = parse_rdf_document(doc, "n-triples")
    assert (res.error_stage, res.error_line) == ("validate", 1)


@pytest.mark.parametrize("line", [
    '<a:s> <a:p> "\\u12" .',
    '<a:s> <a:p> <a:\\u12x> .',
    '<< <a:s> <a:p> "\\U0001F60" >> <a:p> <a:o> .',
])
def test_star_path_bad_escape_is_a_validate_error(line):
    # the star tokenizer calls the same unescape (it has no V8/V10 pass)
    from parser_rdf_spark import rdfstar
    from parser_rdf_spark.formats import parse_rdf_document

    with pytest.raises(NTriplesError) as e:
        rdfstar.parse_document("<a:s> <a:p> <a:o> .\n" + line)
    assert e.value.line_num == 2
    res = parse_rdf_document(line, "ntriples-star")
    assert (res.error_stage, res.error_line) == ("validate", 1)


def unescape_loop(text: str, line_num: int = 0) -> str:
    """Reference: the character loop unescape was before it became one
    regex substitution (plus the short / non-hex \\u, \\U check)."""
    hexdigits = set("0123456789abcdefABCDEF")
    echar = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "\\": "\\"}
    out, i, n = [], 0, len(text)
    while i < n:
        if text[i] != "\\":
            out.append(text[i])
            i += 1
            continue
        nxt = text[i + 1] if i + 1 < n else ""
        if nxt in echar:
            out.append(echar[nxt])
            i += 2
        elif nxt in ("u", "U"):
            width = 4 if nxt == "u" else 8
            digits = text[i + 2 : i + 2 + width]
            if len(digits) < width or not all(c in hexdigits for c in digits):
                raise NTriplesError(line_num, f"invalid \\{nxt} escape")
            cp = int(digits, 16)
            if cp > 0x10FFFF:
                raise NTriplesError(line_num, "code point out of range in \\U escape")
            out.append(chr(cp))
            i += 2 + width
        else:
            raise NTriplesError(line_num, f"invalid escape sequence '\\{nxt}'")
    return "".join(out)


def _unescape_outcome(fn, text):
    try:
        return fn(text, 3)
    except NTriplesError as e:
        return ("err", str(e), e.line_num)


@settings(max_examples=500, deadline=None)
@given(st.lists(st.sampled_from(
    list('\\tbnrf"uU0123456789abcdefABCDEF xz\n\x00é+_-')
    + ["\\u", "\\U", "\\U0010", "\\U0011", "\\uD800", "\\\\"]), max_size=16))
def test_unescape_matches_character_loop(parts):
    text = "".join(parts)
    assert _unescape_outcome(unescape, text) == _unescape_outcome(unescape_loop, text)

"""Strict W3C N-Triples detection, validation, and tokenization.

Pure-Python, per-document functions designed to run *vectorized across
documents* inside the Arrow-batched ``mapInArrow`` stage (see
``parser_rdf_spark.parse``). No Spark imports here so the semantics are
unit-testable in isolation.

Behavioral parity target: the reference's strict pre-parse validation and
parse pipeline (reference: src/Handlers/NTriplesHandler.php:22-428) —
13 validation rules (SURVEY.md §2.3 V1-V13), the 10-line detection sniff
(D5), inline-comment stripping (V3/V13), and a strict tokenizer replacing
the reference's EasyRdf backend (P1). The tokenizer is deliberately strict:
bare numbers, unquoted tokens, single-quoted strings, ``@prefix``/``@base``
directives, and unterminated literals are all rejected, matching what the
reference's EasyRdf backend throws on (the W3C negative-syntax cases the
validators alone do not catch).

Scoring note: the combination passes the full W3C RDF 1.1 N-Triples suite
41 positive (including ``minimal_whitespace``, which the reference skips
for an EasyRdf limitation) / 29 negative.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator, NamedTuple, Optional

MAX_LINE_LENGTH = 1_048_576  # 1 MiB, byte-measured (reference :20)

# PHP trim() default charlist — note: does NOT include \f (\x0c),
# unlike Python str.strip(); keep byte-for-byte decision parity.
_PHP_TRIM = " \t\n\r\x00\x0b"

# D5 sniff regex (reference :37); applied to the first 10 raw lines only.
# re.ASCII: the reference compiles its PCRE patterns WITHOUT the /u flag, so
# \s / \S there match only ASCII whitespace bytes — U+2028/U+2029/U+00A0 etc.
# are "non-space" to the reference. Mirror that byte-level decision exactly.
_DETECT_RE = re.compile(r"^(?:<[^>]+>|_:\S+)\s*<[^>]+>\s*.+\s*\.\s*(?:#.*)?$", re.ASCII)

# V7: absolute-IRI scheme requirement (reference :208).
_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")

# V9: blank-node label sniffing (reference :305) — the label charset the
# reference uses stops at whitespace and < > . ; , delimiters.
_BNODE_RE = re.compile(r"_:([^\s<>.;,]+)", re.ASCII)  # non-/u PCRE: ASCII \s only
_BNODE_START_RE = re.compile(r"^[a-zA-Z0-9_]")

# V10/V11 helper regexes (reference :326, :364, :366).
_STRING_LITERAL_RE = re.compile(r'"((?:[^"\\]|\\.)*)"', re.DOTALL)
_LANGTAG_OCCURRENCE_RE = re.compile(r'"(?:[^"\\]|\\.)*"@([^\s.^]+)', re.ASCII)
_LANGTAG_RE = re.compile(r"^[a-zA-Z]+(-[a-zA-Z0-9]+)*$")

_HEX = set("0123456789abcdefABCDEF")

_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "\\": "\\"}

_BNODE_LABEL_STOP = set(" \t\r\n\x0b\x0c<>.;,")

# V5 (reference src/Handlers/NTriplesHandler.php:202): preg_match('/\s/', $iri)
# without /u — only ASCII whitespace bytes reject an IRI. A reference doc can
# therefore legally carry U+2028/U+00A0/U+2000-200A inside an IRI and the
# reference ACCEPTS it; we must too (pinned by a Hypothesis-found regression
# test in tests/test_ntriples_pure.py).
_ASCII_WS_RE = re.compile(r"\s", re.ASCII)


class NTriplesError(ValueError):
    """Document-level N-Triples rejection carrying the 1-based line number."""

    def __init__(self, line_num: int, message: str):
        super().__init__(f"N-Triples validation failed on line {line_num}: {message}")
        self.line_num = line_num
        self.reason = message


class Triple(NamedTuple):
    subj: str
    pred: str
    obj_kind: str  # 'iri' | 'bnode' | 'literal'
    obj_value: str
    obj_lang: Optional[str]
    obj_datatype: Optional[str]
    line_no: int
    # N-Quads graph term (IRI or bnode label); None = the doc's default
    # graph (E21 sentinel applied downstream)
    graph: Optional[str] = None


def php_trim(s: str) -> str:
    return s.strip(_PHP_TRIM)


def can_handle(content: str) -> bool:
    """D5: sniff the first 10 raw lines; ≥1 triple-shaped line ⇒ N-Triples.

    The 10-line cap counts blank/comment lines too (slice first, then
    skip), so a document whose first triple is on line 11 is NOT detected
    — observable reference behavior.
    """
    lines = php_trim(content).split("\n")
    for line in lines[:10]:
        line = php_trim(line)
        if not line or line.startswith("#"):
            continue
        if _DETECT_RE.match(line):
            return True
    return False


def strip_trailing_comment(line: str) -> str:
    """V3: drop a ``# …`` comment after the terminal dot.

    Single forward scan tracking string-literal state (dots inside quoted
    literals never terminate a triple). If anything other than a comment
    follows the last out-of-string dot, the line is returned unchanged and
    the tokenizer will reject the trailing garbage — same observable
    decision as the reference.

    Fast paths (callers always pass php_trim'ed lines, so the reference's
    re-trim is the identity):
    - no '#' anywhere ⇒ nothing to strip;
    - line already ends with '.' and either has no string literal at all,
      or has balanced unescaped quotes ⇒ the terminal dot is the last
      out-of-string dot and nothing follows it ⇒ identity. ('#' inside
      IRIs — ubiquitous in RDF namespaces — lands here.)
    """
    if "#" not in line:
        return line
    if line[-1] == ".":
        if '"' not in line:
            return line
        if "\\" not in line and line.count('"') % 2 == 0:
            return line
    in_string = False
    escaped = False
    last_dot = -1
    for i, ch in enumerate(line):
        if escaped:
            escaped = False
            continue
        if ch == "\\" and in_string:
            escaped = True
            continue
        if ch == '"':
            in_string = not in_string
            continue
        if ch == "." and not in_string:
            last_dot = i
    if last_dot >= 0:
        after = php_trim(line[last_dot + 1 :])
        if after == "" or after.startswith("#"):
            return php_trim(line[: last_dot + 1])
    return line


_IRI_FAST_RE = re.compile(r"<([^<>]*)>")


def _extract_iris(line: str) -> list[str]:
    """V6: collect ``<…>`` IRI bodies outside string literals (escape-aware).

    Fast path: with no '"' on the line there are no string literals to
    exclude, so a plain regex over ``<…>`` spans is equivalent.
    """
    if '"' not in line:
        return _IRI_FAST_RE.findall(line)
    iris: list[str] = []
    in_string = False
    escaped = False
    in_iri = False
    start = 0
    for i, ch in enumerate(line):
        if escaped:
            escaped = False
            continue
        if ch == "\\" and in_string:
            escaped = True
            continue
        if ch == '"' and not in_iri:
            in_string = not in_string
            continue
        if not in_string:
            if ch == "<":
                in_iri = True
                start = i + 1
                continue
            if ch == ">" and in_iri:
                iris.append(line[start:i])
                in_iri = False
    return iris


def _validate_unicode_escapes(text: str, line_num: int, context: str) -> None:
    """Shared \\uXXXX / \\UXXXXXXXX hex checking (V8, and the u/U arm of V10)."""
    pos = text.find("\\")
    while pos != -1:
        nxt = text[pos + 1] if pos + 1 < len(text) else ""
        if nxt == "u":
            hex4 = text[pos + 2 : pos + 6]
            if len(hex4) < 4 or not all(c in _HEX for c in hex4):
                raise NTriplesError(line_num, f"invalid \\u escape in {context}")
            pos = text.find("\\", pos + 6)
        elif nxt == "U":
            hex8 = text[pos + 2 : pos + 10]
            if len(hex8) < 8 or not all(c in _HEX for c in hex8):
                raise NTriplesError(line_num, f"invalid \\U escape in {context}")
            pos = text.find("\\", pos + 10)
        else:
            if context == "IRI":
                raise NTriplesError(line_num, "only \\u and \\U escapes are allowed in IRIs")
            raise NTriplesError(
                line_num, f"invalid escape sequence '\\{nxt}' in string literal"
            )
    return None


def validate_line(line: str, line_num: int) -> None:
    """Run V3-V12 on one trimmed, non-blank, non-comment line."""
    _validate_stripped(strip_trailing_comment(line), line_num)


def _validate_stripped(line: str, line_num: int) -> None:
    """V4-V12 on a comment-stripped line (single-allocation hot path)."""
    # V4: no triple-quoted strings.
    if '"""' in line:
        raise NTriplesError(line_num, "triple-quoted strings are not allowed in N-Triples")

    # V5/V7/V8 over extracted IRIs.
    for iri in _extract_iris(line):
        if _ASCII_WS_RE.search(iri):
            raise NTriplesError(line_num, "IRI contains whitespace")
        if not _SCHEME_RE.match(iri):
            raise NTriplesError(line_num, "relative IRIs are not allowed in N-Triples")
        _validate_unicode_escapes(iri, line_num, "IRI")

    # V9: blank-node label rules (only when a '_:' occurs at all).
    # Scan a literal-masked copy: a '_:' INSIDE a string literal is
    # content, not a label (deliberate divergence from the reference's
    # raw-line regex, NTriplesHandler.php:305, which false-rejects valid
    # literals like "\"_:"@en — our serialize→parse round-trip law wins).
    if "_:" in line:
        scan = _STRING_LITERAL_RE.sub('""', line) if '"' in line else line
        for label in _BNODE_RE.findall(scan):
            if not _BNODE_START_RE.match(label):
                raise NTriplesError(line_num, "invalid blank node label")
            if ":" in label:
                raise NTriplesError(line_num, "blank node label must not contain ':'")

    # V10: string-literal escape whitelist (only escape-bearing literals).
    for literal in _STRING_LITERAL_RE.findall(line) if '"' in line else ():
        pos = literal.find("\\")
        while pos != -1:
            nxt = literal[pos + 1] if pos + 1 < len(literal) else ""
            if nxt in _ECHAR:
                pos = literal.find("\\", pos + 2)
            elif nxt == "u":
                hex4 = literal[pos + 2 : pos + 6]
                if len(hex4) < 4 or not all(c in _HEX for c in hex4):
                    raise NTriplesError(line_num, "invalid \\u escape in string literal")
                pos = literal.find("\\", pos + 6)
            elif nxt == "U":
                hex8 = literal[pos + 2 : pos + 10]
                if len(hex8) < 8 or not all(c in _HEX for c in hex8):
                    raise NTriplesError(line_num, "invalid \\U escape in string literal")
                pos = literal.find("\\", pos + 10)
            else:
                raise NTriplesError(
                    line_num, f"invalid escape sequence '\\{nxt}' in string literal"
                )

    # V11: language-tag syntax (only when an '@' occurs at all).
    if "@" in line:
        for tag in _LANGTAG_OCCURRENCE_RE.findall(line):
            if not _LANGTAG_RE.match(tag):
                raise NTriplesError(line_num, f"invalid language tag '{tag}'")

    # V12: Turtle-only ';' / ',' outside strings and IRIs.
    # Fast path: no ';' or ',' anywhere ⇒ nothing to scan for.
    if ";" not in line and "," not in line:
        return
    in_string = False
    in_iri = False
    escaped = False
    for ch in line:
        if escaped:
            escaped = False
            continue
        if ch == "\\" and in_string:
            escaped = True
            continue
        if ch == '"' and not in_iri:
            in_string = not in_string
            continue
        if not in_string:
            if ch == "<":
                in_iri = True
                continue
            if ch == ">" and in_iri:
                in_iri = False
                continue
        if not in_string and not in_iri:
            if ch == ";":
                raise NTriplesError(
                    line_num, "predicate-object lists (';') are not allowed in N-Triples"
                )
            if ch == ",":
                raise NTriplesError(line_num, "object lists (',') are not allowed in N-Triples")


def validate_document(content: str) -> None:
    """V1-V12 across the whole document; first offending line wins."""
    for idx, raw in enumerate(content.split("\n")):
        line_num = idx + 1
        trimmed = php_trim(raw)
        if not trimmed or trimmed.startswith("#"):
            continue
        # V1: byte-measured 1 MiB guard. chars ≤ 4 bytes in UTF-8, so only
        # pay for an encode when the char count alone could exceed the cap.
        if len(raw) > MAX_LINE_LENGTH // 4 and len(raw.encode("utf-8", "surrogatepass")) > MAX_LINE_LENGTH:
            raise NTriplesError(line_num, "line exceeds maximum length")
        validate_line(trimmed, line_num)


# one escape per match, left to right, consuming exactly what the W3C
# grammar does: ECHAR, \uXXXX, \UXXXXXXXX; group 4 is anything else
_ESCAPE_RE = re.compile(r'\\(?:([tbnrf"\\])|u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.?))', re.DOTALL)


def unescape(text: str, line_num: int = 0) -> str:
    """Decode ECHAR + \\uXXXX/\\UXXXXXXXX escapes (W3C string semantics).

    Every malformed escape — an unknown ECHAR, a short or non-hex
    \\u / \\U, a code point past U+10FFFF — raises
    :class:`NTriplesError` on ``line_num``; the first one in the text
    wins."""
    if "\\" not in text:
        return text

    def decode(m: re.Match) -> str:
        echar, u4, u8, bad = m.groups()
        if echar is not None:
            return _ECHAR[echar]
        if u4 is not None:
            return chr(int(u4, 16))
        if u8 is not None:
            cp = int(u8, 16)
            if cp > 0x10FFFF:
                raise NTriplesError(line_num, "code point out of range in \\U escape")
            return chr(cp)
        if bad in ("u", "U"):
            raise NTriplesError(line_num, f"invalid \\{bad} escape")
        raise NTriplesError(line_num, f"invalid escape sequence '\\{bad}'")

    return _ESCAPE_RE.sub(decode, text)


def _skip_ws(line: str, i: int) -> int:
    n = len(line)
    while i < n and line[i] in " \t":
        i += 1
    return i


def _scan_iri(line: str, i: int, line_num: int) -> tuple[str, int]:
    """line[i] == '<'; return (unescaped IRI, index past '>')."""
    end = line.find(">", i + 1)
    if end == -1:
        raise NTriplesError(line_num, "unterminated IRI")
    return unescape(line[i + 1 : end], line_num), end + 1


def _scan_bnode(line: str, i: int, line_num: int) -> tuple[str, int]:
    """line[i:i+2] == '_:'; return (label, index past label)."""
    j = i + 2
    n = len(line)
    while j < n and line[j] not in _BNODE_LABEL_STOP:
        j += 1
    label = line[i + 2 : j]
    if not label:
        raise NTriplesError(line_num, "empty blank node label")
    return label, j


def _scan_literal(line: str, i: int, line_num: int) -> tuple[str, Optional[str], Optional[str], int]:
    """line[i] == '"'; return (unescaped value, lang, datatype, next index)."""
    n = len(line)
    j = i + 1
    while j < n:
        ch = line[j]
        if ch == "\\":
            j += 2
            continue
        if ch == '"':
            break
        j += 1
    if j >= n:
        raise NTriplesError(line_num, "unterminated string literal")
    value = unescape(line[i + 1 : j], line_num)
    j += 1
    lang: Optional[str] = None
    datatype: Optional[str] = None
    if j < n and line[j] == "@":
        k = j + 1
        while k < n and line[k] not in " \t" and line[k] != "." and line[k] != "^":
            k += 1
        lang = line[j + 1 : k]
        if not _LANGTAG_RE.match(lang):
            raise NTriplesError(line_num, f"invalid language tag '{lang}'")
        j = k
    elif j + 1 < n and line[j] == "^" and line[j + 1] == "^":
        j += 2
        if j >= n or line[j] != "<":
            raise NTriplesError(line_num, "expected IRI after '^^'")
        datatype, j = _scan_iri(line, j, line_num)
    return value, lang, datatype, j


def tokenize_line(line: str, line_num: int, allow_graph: bool = False) -> Optional[Triple]:
    """Strict single-triple tokenizer (replaces the reference's EasyRdf).

    ``line`` must already be comment-stripped and trimmed. Returns None for
    blank/comment lines. Raises :class:`NTriplesError` on anything that is
    not exactly ``subject predicate object .`` — matching the EasyRdf-level
    rejections of the reference's parse path.

    ``allow_graph=True`` is the N-Quads grammar: an optional fourth term
    (IRI or blank node graph label) before the terminal dot. Strict
    N-Triples (the default) rejects four-term lines, as the reference does.
    """
    if not line or line.startswith("#"):
        return None
    n = len(line)
    i = _skip_ws(line, 0)

    # subject: IRI or blank node
    if i < n and line[i] == "<":
        subj, i = _scan_iri(line, i, line_num)
    elif line.startswith("_:", i):
        label, i = _scan_bnode(line, i, line_num)
        subj = "_:" + label
    else:
        raise NTriplesError(line_num, "subject must be an IRI or blank node")

    # predicate: IRI only
    i = _skip_ws(line, i)
    if i < n and line[i] == "<":
        pred, i = _scan_iri(line, i, line_num)
    else:
        raise NTriplesError(line_num, "predicate must be an IRI")

    # object: IRI, blank node, or literal
    i = _skip_ws(line, i)
    if i < n and line[i] == "<":
        obj, i = _scan_iri(line, i, line_num)
        kind, lang, dt = "iri", None, None
    elif line.startswith("_:", i):
        label, i = _scan_bnode(line, i, line_num)
        obj, kind, lang, dt = "_:" + label, "bnode", None, None
    elif i < n and line[i] == '"':
        obj, lang, dt, i = _scan_literal(line, i, line_num)
        kind = "literal"
    else:
        raise NTriplesError(line_num, "object must be an IRI, blank node, or literal")

    graph: Optional[str] = None
    if allow_graph:
        i = _skip_ws(line, i)
        if i < n and line[i] == "<":
            graph, i = _scan_iri(line, i, line_num)
        elif line.startswith("_:", i):
            glabel, i = _scan_bnode(line, i, line_num)
            graph = "_:" + glabel

    # terminal dot, then nothing. Dot-free trailing comments were stripped
    # by V3; a comment CONTAINING a dot survives the (reference-identical)
    # last-dot strip and is rejected here — matching the reference's parse
    # path, where the unstripped residue fails EasyRdf's line grammar
    # (tests/Unit/NTriplesStrictValidationTest.php:174 only pins the
    # dot-free accept case).
    i = _skip_ws(line, i)
    if i >= n or line[i] != ".":
        raise NTriplesError(line_num, "expected '.' after object")
    i = _skip_ws(line, i + 1)
    if i < n:
        raise NTriplesError(line_num, "unexpected content after terminal '.'")

    return Triple(subj, pred, kind, obj, lang, dt, line_num, graph)


# Document lexer: one regex pass over the WHOLE document, matching one
# physical line per step — a statement line, a comment line or a blank
# line. This avoids split("\n")'s per-line string allocations and the
# per-line trim / comment-scan / validate passes; the parse stage's memory
# traffic is the 8→32 scaling bottleneck (BENCH/BASELINE.md).
#
# One template serves every line format: N-Triples, N-Quads (an optional
# graph term before the dot), N-Triples-star and N-Quads-star (flat
# ``<< s p o >>`` terms in subject and object position). Each variant's
# statement grammar is a subset of what that format's strict path accepts,
# and it tokenizes identically:
# - IRIs are scheme-led and free of whitespace, '<', '>', '\\' and '"'.
#   The N-Triples / N-Quads class also excludes '_:' (a '<' would restart
#   the strict path's IRI extraction, a '"' or '_:' would feed its literal
#   and V9 scans); the star class instead excludes the rest of the star
#   tokenizer's banned IRI characters ``{}|^```;
# - bnode labels have a V9-valid first char and no ':' or '"';
# - literal bodies hold ECHAR, \uXXXX and \UXXXXXXXX escapes only (the
#   V10 whitelist) and no '\n' (strict splits lines first, so a literal
#   spanning a break is unterminated there);
# - the langtag subpattern IS the V11 grammar, and it must end where the
#   strict scanners end a tag (before ' ', '\t', '.' or '>');
# - leading / trailing php-trim padding and a dot-free trailing comment
#   are exactly what php_trim and strip_trailing_comment remove.
# Every repetition is possessive (``*+``, Python ≥ 3.11): each one is
# followed by a character outside its class, so giving characters back
# could only find a shorter term than the strict scanners take (a bnode
# ``_:b_`` must never end early as ``_:b`` before a ``_:g`` graph term).
# A line it cannot lex (a nested quoted triple, one long enough to need
# the byte-measured V1 guard, anything odd) goes alone through the
# format's strict path, and the scan resumes on the next line: decisions
# and first-error line numbers are the strict path's.
_IRI_F = r'[A-Za-z][A-Za-z0-9+.\-]*+:[^<>\s\\"_]*+(?:_(?!:)[^<>\s\\"_]*+)*+'
_IRI_STAR_F = r'[A-Za-z][A-Za-z0-9+.\-]*+:[^<>\s\\"{}|^`]*+'
_BN_F = r'[A-Za-z0-9_][^\s<>.;,:\\"]*+'
_LIT_F = r'[^"\\\n]*+(?:\\(?:[tbnrf"\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})[^"\\\n]*+)*+'
_LANG_F = r"[a-zA-Z]++(?:-[a-zA-Z0-9]++)*+(?=[ \t.>])"


class _DocLexer(NamedTuple):
    """A compiled lexer variant plus the ``m.groups()`` index of each
    optional part (-1 when the variant lacks it). A node (IRI | bnode)
    is 2 groups, a literal 3 (body, lang, datatype), a flat quoted term
    8 (node, predicate, node, literal)."""

    pattern: re.Pattern
    subj_quoted: int
    pred: int
    obj_quoted: int
    graph: int


def _doc_lexer(allow_graph: bool, quoted: bool) -> _DocLexer:
    iri = _IRI_STAR_F if quoted else _IRI_F
    node = rf"<({iri})>|_:({_BN_F})"
    lit = rf'"({_LIT_F})"(?:@({_LANG_F})|\^\^<({iri})>)?'
    subj, obj = node, f"{node}|{lit}"
    if quoted:
        term = rf"<<[ \t]*+(?:{node})[ \t]*+<({iri})>[ \t]*+(?:{node}|{lit})[ \t]*+>>"
        subj, obj = f"{subj}|{term}", f"{obj}|{term}"
    graph = rf"(?:[ \t]*+(?:{node}))?" if allow_graph else ""
    pattern = re.compile(
        r"[ \t\r\x00\x0b]*+"
        rf"(?:(?:{subj})[ \t]*+<({iri})>[ \t]*+(?:{obj}){graph}"
        r"[ \t]*+\.[ \t\r\x00\x0b]*+(?:#[^\n.]*+)?"
        r"|#[^\n]*+"
        r")?(?:\n|\Z)",
        re.ASCII,  # match the strict path's non-/u byte semantics for \s
    )
    pred = 10 if quoted else 2  # after the subject's node (+ quoted term)
    return _DocLexer(
        pattern,
        2 if quoted else -1,
        pred,
        pred + 6 if quoted else -1,  # after the object's node and literal
        pattern.groups - 2 if allow_graph else -1,  # the graph node is last
    )


_LEXERS = {(g, q): _doc_lexer(g, q) for g in (False, True) for q in (False, True)}


def _quoted_term(g: tuple, i: int, line_num: int, render: Callable[..., str]) -> str:
    """Render the flat quoted term lexed into groups ``g[i:i+8]``."""
    s = g[i]
    if s is None:
        s = "_:" + g[i + 1]
    o = g[i + 3]
    if o is not None:
        return render(s, g[i + 2], "iri", o)
    o = g[i + 4]
    if o is not None:
        return render(s, g[i + 2], "bnode", "_:" + o)
    o = g[i + 5]
    if "\\" in o:
        o = unescape(o, line_num)
    return render(s, g[i + 2], "literal", o, g[i + 6], g[i + 7])


def lex_document(
    content: str,
    allow_graph: bool,
    strict_lines: Callable[[list[str], int, bool, list[Triple]], None],
    render_quoted: Optional[Callable[..., str]] = None,
) -> list[Triple]:
    """The document lexer loop shared by every line format.

    ``strict_lines(lines, start_idx, allow_graph, triples)`` is the
    format's per-line strict path; each line the lexer cannot lex goes
    to it alone. ``render_quoted`` (the star formats) turns on flat
    ``<< s p o >>`` terms and renders each one from its parts, with
    :func:`rdfstar.quoted_lexical`'s signature."""
    pattern, sq, p_ix, oq, g_ix = _LEXERS[allow_graph, render_quoted is not None]
    o_ix, ob_ix, l_ix = p_ix + 1, p_ix + 2, p_ix + 3
    triples: list[Triple] = []
    n = len(content)
    max_chars = MAX_LINE_LENGTH // 4
    pos = 0
    line_idx = 0  # physical lines consumed (1-based line numbers)
    match = pattern.match
    append = triples.append
    new = tuple.__new__  # Triple(...) without its Python-level __new__
    while pos < n:
        m = match(content, pos)
        if m is not None:
            end = m.end()
            g = m.groups()
            pred = g[p_ix]
            if pred is None:  # blank or comment line
                line_idx += 1
                pos = end
                continue
            if end - pos <= max_chars:  # else: strict's byte-measured V1
                line_idx += 1
                subj = g[0]
                if subj is None:
                    subj = g[1]
                    subj = "_:" + subj if subj is not None else _quoted_term(
                        g, sq, line_idx, render_quoted)
                graph = None
                if g_ix >= 0:
                    graph = g[g_ix]
                    if graph is None and g[g_ix + 1] is not None:
                        graph = "_:" + g[g_ix + 1]
                obj = g[o_ix]
                if obj is not None:
                    t = (subj, pred, "iri", obj, None, None, line_idx, graph)
                elif g[ob_ix] is not None:
                    t = (subj, pred, "bnode", "_:" + g[ob_ix], None, None, line_idx, graph)
                elif (obj := g[l_ix]) is not None:
                    if "\\" in obj:
                        obj = unescape(obj, line_idx)
                    t = (subj, pred, "literal", obj, g[l_ix + 1], g[l_ix + 2], line_idx, graph)
                else:
                    obj = _quoted_term(g, oq, line_idx, render_quoted)
                    t = (subj, pred, "quoted", obj, None, None, line_idx, graph)
                append(new(Triple, t))
                pos = end
                continue
        eol = content.find("\n", pos)
        if eol == -1:
            eol = n
        strict_lines([content[pos:eol]], line_idx, allow_graph, triples)
        line_idx += 1
        pos = eol + 1
    return triples


def _parse_lines(
    lines: list[str], start_idx: int, allow_graph: bool, triples: list[Triple]
) -> None:
    """Per-line strict path: validate (V1-V12), strip comments (V13),
    tokenize (P1). ``start_idx`` = physical lines already consumed, so
    reported line numbers stay document-absolute."""
    max_chars = MAX_LINE_LENGTH // 4
    for idx, raw in enumerate(lines):
        trimmed = php_trim(raw)
        if not trimmed or trimmed[0] == "#":
            continue
        line_num = start_idx + idx + 1
        # V1: byte-measured 1 MiB guard (chars ≤ 4 bytes in UTF-8)
        if len(raw) > max_chars and len(raw.encode("utf-8", "surrogatepass")) > MAX_LINE_LENGTH:
            raise NTriplesError(line_num, "line exceeds maximum length")
        stripped = strip_trailing_comment(trimmed)
        _validate_stripped(stripped, line_num)
        t = tokenize_line(stripped, line_num, allow_graph=allow_graph)
        if t is not None:
            triples.append(t)


def parse_document(content: str, allow_graph: bool = False) -> list[Triple]:
    """Full strict parse: validate (V1-V12), strip comments (V13), tokenize (P1).

    Raises :class:`NTriplesError` with the first offending line number;
    the caller decides whether that becomes an exception (library API) or
    an ``errors`` row (batch pipeline).

    Two tokenizers, one decision: the document lexer (:func:`lex_document`)
    takes every line it can lex — an N-Triples statement, or with
    ``allow_graph`` (N-Quads) one with an optional IRI / bnode graph term
    — and each line it cannot (an escape in an IRI, a '_:' or '"' in an
    IRI, a V9-invalid bnode label, a comment holding a '.', a line over
    256 Ki characters, any malformed line) goes alone through the strict
    per-line path before the lexer resumes on the next line. The
    reference validates the whole document before tokenizing any line,
    but since any error rejects the whole document, per-line
    validate-then-tokenize produces identical documents-accepted /
    triples-emitted decisions; only the *reported line number* can
    differ on documents with both a tokenizer-only and a later validator
    error.
    """
    return lex_document(content, allow_graph, _parse_lines)


def iter_resources(triples: list[Triple]) -> Iterator[str]:
    """All resource terms of a parsed doc: subjects plus non-literal objects.

    Mirrors the reference's resource_count = count(graph->resources())
    (distinct subjects ∪ IRI/bnode objects).
    """
    for t in triples:
        yield t.subj
        if t.obj_kind != "literal":
            yield t.obj_value


def resource_count(triples: list[Triple]) -> int:
    return len(set(iter_resources(triples)))

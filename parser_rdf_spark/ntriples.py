"""Strict W3C N-Triples detection, validation, and tokenization.

Pure-Python, per-document functions designed to run *vectorized across
documents* inside an Arrow-batched ``mapInPandas`` stage (see
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
from typing import Iterator, NamedTuple, Optional

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


def unescape(text: str, line_num: int = 0) -> str:
    """Decode ECHAR + \\uXXXX/\\UXXXXXXXX escapes (W3C string semantics)."""
    if "\\" not in text:
        return text
    out: list[str] = []
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        nxt = text[i + 1] if i + 1 < n else ""
        if nxt in _ECHAR:
            out.append(_ECHAR[nxt])
            i += 2
        elif nxt == "u":
            out.append(chr(int(text[i + 2 : i + 6], 16)))
            i += 6
        elif nxt == "U":
            cp = int(text[i + 2 : i + 10], 16)
            if cp > 0x10FFFF:
                raise NTriplesError(line_num, "code point out of range in \\U escape")
            out.append(chr(cp))
            i += 10
        else:
            raise NTriplesError(line_num, f"invalid escape sequence '\\{nxt}'")
    return "".join(out)


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
# physical line per step — a triple line, a comment line or a blank line.
# This avoids split("\n")'s per-line string allocations and the per-line
# trim / comment-scan / validate passes; the parse stage's memory traffic
# is the 8→32 scaling bottleneck (BENCH/BASELINE.md).
#
# The triple grammar is a subset of what the strict path accepts, and it
# tokenizes identically:
# - IRIs are scheme-led and free of whitespace, '<', '\\', '"' and '_:'
#   (the V5/V7/V8 checks pass; a '<' would restart the strict path's IRI
#   extraction, a '"' or '_:' would feed its literal and V9 scans);
# - bnode labels have a V9-valid first char and no ':' or '"';
# - literal bodies hold ECHAR, \uXXXX and \UXXXXXXXX escapes only (the
#   V10 whitelist) and no '\n' (strict splits lines first, so a literal
#   spanning a break is unterminated there);
# - the langtag subpattern IS the V11 grammar;
# - leading / trailing php-trim padding and a dot-free trailing comment
#   are exactly what php_trim and strip_trailing_comment remove.
# A line it cannot lex (or one long enough to need the byte-measured V1
# guard) goes alone through the strict path, and the scan resumes on the
# next line: decisions and first-error line numbers are the strict path's.
_IRI_F = r'[A-Za-z][A-Za-z0-9+.\-]*:[^<>\s\\"_]*(?:_(?!:)[^<>\s\\"_]*)*'
_BN_F = r'[A-Za-z0-9_][^\s<>.;,:\\"]*'
_LIT_F = r'[^"\\\n]*(?:\\(?:[tbnrf"\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})[^"\\\n]*)*'
_FAST_DOC = re.compile(
    r"[ \t\r\x00\x0b]*"
    rf'(?:(?:<({_IRI_F})>|_:({_BN_F}))'
    rf'[ \t]*<({_IRI_F})>[ \t]*'
    rf'(?:<({_IRI_F})>|_:({_BN_F})|"({_LIT_F})"'
    rf'(?:@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)|\^\^<({_IRI_F})>)?)'
    rf'[ \t]*\.[ \t\r\x00\x0b]*(?:#[^\n.]*)?'
    r"|#[^\n]*"
    r")?(?:\n|\Z)",
    re.ASCII,  # match the strict path's non-/u byte semantics for \s
)


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

    Two tokenizers, one decision: the document lexer (``_FAST_DOC``)
    takes every line it can lex, and each line it cannot goes alone
    through the strict per-line path before the lexer resumes on the
    next line. The reference validates the whole document before
    tokenizing any line, but since any error rejects the whole document,
    per-line validate-then-tokenize produces identical documents-accepted
    / triples-emitted decisions; only the *reported line number* can
    differ on documents with both a tokenizer-only and a later validator
    error. N-Quads (``allow_graph``) lines never lex and take the strict
    path throughout.
    """
    triples: list[Triple] = []
    if allow_graph:
        _parse_lines(content.split("\n"), 0, allow_graph, triples)
        return triples

    n = len(content)
    max_chars = MAX_LINE_LENGTH // 4
    pos = 0
    line_idx = 0  # physical lines consumed (1-based line numbers)
    match = _FAST_DOC.match
    append = triples.append
    while pos < n:
        m = match(content, pos)
        if m is not None:
            end = m.end()
            g = m.groups()
            if g[2] is None:  # blank or comment line
                line_idx += 1
                pos = end
                continue
            if end - pos <= max_chars:  # else: strict's byte-measured V1
                line_idx += 1
                subj = g[0] if g[0] is not None else "_:" + g[1]
                if g[3] is not None:
                    append(Triple(subj, g[2], "iri", g[3], None, None, line_idx))
                elif g[4] is not None:
                    append(Triple(subj, g[2], "bnode", "_:" + g[4], None, None, line_idx))
                else:
                    v = g[5]
                    if "\\" in v:
                        v = unescape(v, line_idx)
                    append(Triple(subj, g[2], "literal", v, g[6], g[7], line_idx))
                pos = end
                continue
        eol = content.find("\n", pos)
        if eol == -1:
            eol = n
        _parse_lines([content[pos:eol]], line_idx, False, triples)
        line_idx += 1
        pos = eol + 1
    return triples


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

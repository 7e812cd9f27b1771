"""RDF-star (RDF 1.2 quoted triples): parse, serialize, reify, query.

New engine surface with no reference counterpart (the reference's format
matrix ends at RDF 1.1 — docs/spec-completeness.md:131 scopes even the
1.1 quads syntaxes out). A KG-construction pipeline meets quoted triples
as the modern statement-annotation model: provenance ("who asserted
this edge"), confidence scores on extracted triples, Wikidata-style
qualifiers. This module adds:

* **N-Triples-star parsing** — the strict line grammar of
  :mod:`.ntriples` extended with ``<< s p o >>`` terms in subject and
  object position (nesting allowed, predicate position banned, exactly
  the W3C RDF 1.2 N-Triples grammar). Reached via explicit
  ``fmt="ntriples-star"`` or the parse-stage retry (a star doc sniffs
  as N-Triples/Turtle per the reference-pinned D5/D6 rules, fails their
  strict parse, and retries here when ``<<`` is present — parse.py).
* **Canonical lexical encoding** — a quoted triple travels through the
  engine's string-typed triples relation as its canonical
  N-Triples-star rendering (``<< <s> <p> "o" >>``: single spaces, IRIs
  verbatim, literals escaped exactly like serialize.py). Subjects keep
  it in ``subj``; objects carry ``obj_kind='quoted'`` with the lexical
  form in ``obj_value``. No schema change, and ``<<`` is unambiguous:
  parsed IRIs can never contain ``<`` and bnode labels start ``_:``.
* **The reification bridge, both directions** —
  :func:`star_to_reification` / :func:`reification_to_star` implement
  the W3C mapping (rdf:Statement + rdf:subject/predicate/object) as
  distributed DataFrame jobs: the per-term parsing cost is paid ONCE on
  the *distinct* quoted terms (Arrow-vectorized pandas_udf — quoted
  terms are a tiny dictionary next to a 100 TB corpus), then joined
  back; everything else is pure Column work. Statement skolem IDs are
  ``urn:stmt:md5(lexical)`` so both engines (Spark's ``md5`` and
  DuckDB's ``md5`` in the oracle) can derive them independently.
  Round-trip law: ``reification_to_star(star_to_reification(t))`` is
  triple-identical to ``t`` (pinned in tests and the contract gate).
* **star_unnest** — the relational accessor (term → inner s/p/o), the
  scalable substitute for SPARQL-star's SUBJECT()/PREDICATE()/OBJECT().
  bgp.py compiles quoted-triple patterns ``(('quoted', s, p, o), p, o)``
  against it.
"""

from __future__ import annotations

import hashlib
from typing import Optional

from .ntriples import (
    MAX_LINE_LENGTH,
    NTriplesError,
    Triple,
    _ASCII_WS_RE,
    _BNODE_LABEL_STOP,
    _LANGTAG_RE,
    _SCHEME_RE,
    _skip_ws,
    lex_document,
    php_trim,
    strip_trailing_comment,
    unescape,
)

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_STATEMENT = RDF_NS + "Statement"
RDF_SUBJECT = RDF_NS + "subject"
RDF_PREDICATE = RDF_NS + "predicate"
RDF_OBJECT = RDF_NS + "object"
STMT_PREFIX = "urn:stmt:"

# characters that would make verbatim <IRI> re-embedding ambiguous; the
# strict N-Triples validator bans these in RAW form (V5/V8) — the star
# grammar additionally rejects them in UNESCAPED form so every parsed
# IRI round-trips through the canonical lexical encoding byte-identically
_IRI_BAD = set('<>"{}|^`\\') | set(" \t\n\r\x0b\x0c")


def is_quoted(term: str) -> bool:
    """True when a term string is a quoted-triple lexical form."""
    return term.startswith("<<")


def _escape_literal_py(v: str) -> str:
    """The serializer's canonical literal escaping (serialize.py:26),
    Python-side: backslash first, then quote/LF/CR/TAB."""
    return (
        v.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def render_subject(subj: str) -> str:
    """Canonical term rendering for a subject-position string (IRI,
    ``_:`` bnode, or an already-canonical quoted lexical form)."""
    if subj.startswith("_:") or subj.startswith("<<"):
        return subj
    return f"<{subj}>"


def render_object(kind: str, value: str, lang: Optional[str], dt: Optional[str]) -> str:
    if kind == "iri":
        return f"<{value}>"
    if kind in ("bnode", "quoted"):
        return value
    out = f'"{_escape_literal_py(value)}"'
    if lang:
        out += f"@{lang}"
    elif dt:
        out += f"^^<{dt}>"
    return out


def quoted_lexical(
    subj: str, pred: str, obj_kind: str, obj_value: str,
    obj_lang: Optional[str] = None, obj_datatype: Optional[str] = None,
) -> str:
    """The canonical N-Triples-star lexical form of one quoted triple."""
    return (
        f"<< {render_subject(subj)} <{pred}> "
        f"{render_object(obj_kind, obj_value, obj_lang, obj_datatype)} >>"
    )


# ---------------------------------------------------------------------------
# scanning (recursive-descent extension of ntriples.tokenize_line)
# ---------------------------------------------------------------------------

def _check_iri(iri: str, line_num: int) -> str:
    if not _SCHEME_RE.match(iri):
        raise NTriplesError(line_num, f"relative IRI not allowed: '{iri}'")
    bad = next((c for c in iri if c in _IRI_BAD), None)
    if bad is not None:
        raise NTriplesError(line_num, f"invalid character {bad!r} in IRI '{iri}'")
    return iri


def _scan_iri_star(line: str, i: int, line_num: int) -> tuple[str, int]:
    end = line.find(">", i + 1)
    if end == -1:
        raise NTriplesError(line_num, "unterminated IRI")
    return _check_iri(unescape(line[i + 1 : end], line_num), line_num), end + 1


def _scan_bnode_star(line: str, i: int, line_num: int) -> tuple[str, int]:
    j = i + 2
    n = len(line)
    while j < n and line[j] not in _BNODE_LABEL_STOP:
        j += 1
    label = line[i + 2 : j]
    if not label:
        raise NTriplesError(line_num, "empty blank node label")
    return "_:" + label, j


def _scan_literal_star(
    line: str, i: int, line_num: int
) -> tuple[str, Optional[str], Optional[str], int]:
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
    dt: Optional[str] = None
    if j < n and line[j] == "@":
        k = j + 1
        while k < n and line[k] not in " \t.^>":
            k += 1
        lang = line[j + 1 : k]
        if not _LANGTAG_RE.match(lang):
            raise NTriplesError(line_num, f"invalid language tag '{lang}'")
        j = k
    elif j + 1 < n and line[j] == "^" and line[j + 1] == "^":
        j += 2
        if j >= n or line[j] != "<":
            raise NTriplesError(line_num, "expected IRI after '^^'")
        dt, j = _scan_iri_star(line, j, line_num)
    return value, lang, dt, j


def _scan_term(
    line: str, i: int, line_num: int, position: str
) -> tuple[str, str, Optional[str], Optional[str], int]:
    """Scan one term at ``line[i]``; returns (kind, value, lang, dt, next).

    kind ∈ {'iri', 'bnode', 'literal', 'quoted'}; for 'quoted' the value
    is the canonical lexical re-rendering of the scanned quoted triple
    (input spacing/escaping is normalized away)."""
    n = len(line)
    if i >= n:
        raise NTriplesError(line_num, f"expected {position} term")
    if line.startswith("<<", i):
        if position == "predicate":
            raise NTriplesError(line_num, "quoted triple cannot be a predicate")
        lex, i = _scan_quoted(line, i, line_num)
        return "quoted", lex, None, None, i
    ch = line[i]
    if ch == "<":
        iri, i = _scan_iri_star(line, i, line_num)
        return "iri", iri, None, None, i
    if position == "predicate":
        raise NTriplesError(line_num, "predicate must be an IRI")
    if line.startswith("_:", i):
        b, i = _scan_bnode_star(line, i, line_num)
        return "bnode", b, None, None, i
    if ch == '"' and position != "subject":
        v, lang, dt, i = _scan_literal_star(line, i, line_num)
        return "literal", v, lang, dt, i
    raise NTriplesError(line_num, f"invalid {position} term at column {i + 1}")


def _scan_quoted(line: str, i: int, line_num: int) -> tuple[str, int]:
    """``line[i:i+2] == '<<'``; returns (canonical lexical form, next)."""
    i = _skip_ws(line, i + 2)
    s_kind, s_val, _, _, i = _scan_term(line, i, line_num, "subject")
    i = _skip_ws(line, i)
    _, p_val, _, _, i = _scan_term(line, i, line_num, "predicate")
    i = _skip_ws(line, i)
    o_kind, o_val, o_lang, o_dt, i = _scan_term(line, i, line_num, "object")
    i = _skip_ws(line, i)
    if not line.startswith(">>", i):
        raise NTriplesError(line_num, "expected '>>' closing a quoted triple")
    return quoted_lexical(s_val, p_val, o_kind, o_val, o_lang, o_dt), i + 2


def tokenize_line_star(
    line: str, line_num: int, allow_graph: bool = False
) -> Optional[Triple]:
    """Strict N-Triples-star tokenizer: ``subject predicate object .``
    where subject/object admit quoted-triple terms. ``line`` must be
    comment-stripped and trimmed; None for blank/comment lines.
    ``allow_graph=True`` is the N-Quads-star grammar: an optional fourth
    graph term (IRI or blank node — never a quoted triple)."""
    if not line or line.startswith("#"):
        return None
    n = len(line)
    i = _skip_ws(line, 0)
    s_kind, subj, _, _, i = _scan_term(line, i, line_num, "subject")
    if s_kind == "literal":
        raise NTriplesError(line_num, "subject must be an IRI, blank node, or quoted triple")
    i = _skip_ws(line, i)
    _, pred, _, _, i = _scan_term(line, i, line_num, "predicate")
    i = _skip_ws(line, i)
    o_kind, obj, lang, dt, i = _scan_term(line, i, line_num, "object")
    i = _skip_ws(line, i)
    graph: Optional[str] = None
    if allow_graph and i < n and line[i] != ".":
        g_kind, graph, _, _, i = _scan_term(line, i, line_num, "graph label")
        if g_kind not in ("iri", "bnode"):
            raise NTriplesError(
                line_num, "graph label must be an IRI or blank node")
        i = _skip_ws(line, i)
    if i >= n or line[i] != ".":
        raise NTriplesError(line_num, "expected '.' after object")
    i = _skip_ws(line, i + 1)
    if i < n:
        raise NTriplesError(line_num, "unexpected content after terminal '.'")
    return Triple(subj, pred, o_kind, obj, lang, dt, line_num, graph)


def _parse_lines_star(
    lines: list[str], start_idx: int, allow_graph: bool, triples: list[Triple]
) -> None:
    """Per-line strict star path: V1 line guard, V13 comment strip, then
    :func:`tokenize_line_star`. ``start_idx`` = physical lines already
    consumed, so reported line numbers stay document-absolute."""
    max_chars = MAX_LINE_LENGTH // 4
    for idx, raw in enumerate(lines):
        trimmed = php_trim(raw)
        if not trimmed or trimmed[0] == "#":
            continue
        line_num = start_idx + idx + 1
        if len(raw) > max_chars and len(raw.encode("utf-8", "surrogatepass")) > MAX_LINE_LENGTH:
            raise NTriplesError(line_num, "line exceeds maximum length")
        t = tokenize_line_star(
            strip_trailing_comment(trimmed), line_num, allow_graph=allow_graph
        )
        if t is not None:
            triples.append(t)


def parse_document(content: str, allow_graph: bool = False) -> list[Triple]:
    """Full strict N-Triples-star parse (V1 line guard + V13 comment
    strip + the star grammar); ``allow_graph=True`` = N-Quads-star.
    First offending line raises.

    The N-Triples document lexer (:func:`ntriples.lex_document`, star
    variant) takes every statement whose quoted terms are flat
    (``<< s p o >>`` with no quoted triple inside) and renders each with
    :func:`quoted_lexical`. A line it cannot lex — a nested quoted
    triple, an IRI escape or an IRI character the star grammar bans, a
    bnode label or langtag outside the lexer's classes, a line over
    256 Ki characters, any malformed line — goes alone to
    :func:`tokenize_line_star`, and lexing resumes on the next line."""
    return lex_document(content, allow_graph, _parse_lines_star, quoted_lexical)


def can_handle(content: str) -> bool:
    """Sniff: among the first 10 non-blank lines, at least one opens a
    quoted triple and every non-comment line is statement-shaped (ends
    with '.'). Registered LAST in the handler chain so the
    reference-pinned D5-D8 decisions are untouched; star docs normally
    arrive via the parse-stage retry instead (parse.py)."""
    seen_star = False
    checked = 0
    for raw in content.split("\n"):
        line = php_trim(raw)
        if not line:
            continue
        checked += 1
        if checked > 10:
            break
        if line.startswith("#"):
            continue
        if not strip_trailing_comment(line).endswith("."):
            return False
        if "<<" in line:
            seen_star = True
    return seen_star


def can_handle_quads(content: str) -> bool:
    """N-Quads-star sniff: among the first 10 non-blank lines, every
    non-comment line tokenizes under the star quads grammar, at least
    one carries a quoted triple and at least one a graph term.
    Registered after the triples-star handler; quads-star docs normally
    arrive via the parse-stage retry chain instead (parse.py)."""
    seen_star = seen_graph = False
    checked = 0
    for raw in content.split("\n"):
        line = php_trim(raw)
        if not line:
            continue
        checked += 1
        if checked > 10:
            break
        if line.startswith("#"):
            continue
        stripped = strip_trailing_comment(line)
        if not stripped.endswith("."):
            return False
        try:
            t = tokenize_line_star(stripped, 0, allow_graph=True)
        except NTriplesError:
            return False
        if t is None:
            continue
        if "<<" in stripped:
            seen_star = True
        if t.graph is not None:
            seen_graph = True
    return seen_star and seen_graph


def rescope_quoted(lexical: str, doc_hash: str) -> str:
    """P5 for quoted terms: rewrite every ``_:label`` INSIDE a quoted
    lexical form to ``_:d{doc_hash}-label`` (literal bodies untouched —
    the rewrite re-parses the term, it does not regex the string). A
    term holding no ``_:`` has no bnode to rewrite and is returned as is."""
    if "_:" not in lexical:
        return lexical
    s_kind, s, p, o_kind, o, o_lang, o_dt = parse_quoted(lexical)
    if s_kind == "bnode":
        s = f"_:d{doc_hash}-{s[2:]}"
    elif s_kind == "quoted":
        s = rescope_quoted(s, doc_hash)
    if o_kind == "bnode":
        o = f"_:d{doc_hash}-{o[2:]}"
    elif o_kind == "quoted":
        o = rescope_quoted(o, doc_hash)
    return quoted_lexical(s, p, o_kind, o, o_lang, o_dt)


def parse_quoted(lexical: str) -> tuple[str, str, str, str, str, Optional[str], Optional[str]]:
    """Parse ONE canonical quoted lexical form → (s_kind, s, p, o_kind,
    o, o_lang, o_dt). Raises NTriplesError when not a well-formed term."""
    i = _skip_ws(lexical, 0)
    if not lexical.startswith("<<", i):
        raise NTriplesError(0, "not a quoted triple term")
    i = _skip_ws(lexical, i + 2)
    s_kind, s, _, _, i = _scan_term(lexical, i, 0, "subject")
    i = _skip_ws(lexical, i)
    _, p, _, _, i = _scan_term(lexical, i, 0, "predicate")
    i = _skip_ws(lexical, i)
    o_kind, o, o_lang, o_dt, i = _scan_term(lexical, i, 0, "object")
    i = _skip_ws(lexical, i)
    if not lexical.startswith(">>", i) or _skip_ws(lexical, i + 2) != len(lexical):
        raise NTriplesError(0, "trailing content after quoted triple term")
    return s_kind, s, p, o_kind, o, o_lang, o_dt


def stmt_id(lexical: str) -> str:
    """Deterministic skolem IRI for a quoted term: ``urn:stmt:md5(lex)``
    (lowercase hex — derivable independently by Spark's md5() and the
    DuckDB oracle's md5() over the same lexical string)."""
    return STMT_PREFIX + hashlib.md5(lexical.encode("utf-8")).hexdigest()


def expand_quoted(lexical: str) -> list[tuple[str, str, str, str, str, str, Optional[str], Optional[str]]]:
    """Recursively expand one quoted term into reification part rows
    ``(root, id, s_kind, s, p, o_kind, o, o_lang, o_dt)`` — nested
    quoted subterms become their own rows with parent references
    rewritten to the child's statement id (kind 'iri')."""
    rows: list = []

    def walk(lex: str) -> str:
        s_kind, s, p, o_kind, o, o_lang, o_dt = parse_quoted(lex)
        if s_kind == "quoted":
            s = walk(s)
            s_kind = "iri"
        if o_kind == "quoted":
            o = walk(o)
            o_kind = "iri"
        sid = stmt_id(lex)
        rows.append((lexical, sid, s_kind, s, p, o_kind, o, o_lang, o_dt))
        return sid

    walk(lexical)
    return rows

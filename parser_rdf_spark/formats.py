"""Format detection chain and per-document parse dispatch.

Mirrors the reference's handler-priority architecture (reference:
src/RdfParser.php:219-258, SURVEY.md §2.2 D1-D10): first ``can_handle``
wins, priority order JSON-LD → Turtle → N-Triples → RDF/XML; an explicit
``format=`` override bypasses detection and raises on unknown names;
``register_format`` prepends (highest priority), like the reference's
``registerHandler`` ``array_unshift``.

Everything here is pure Python: the Spark pipeline wraps these functions
in ONE fused Arrow-batched ``mapInArrow`` stage (parser_rdf_spark.parse),
so detection, validation, parsing, and per-doc prefix extraction make a
single pass over the page text — at 100 TB you never want to ship the
text column through the JVM↔Python boundary twice.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import repeat
from typing import Callable, Optional, Sequence

from . import htmldata, jsonld, nquads, ntriples, rdfstar, rdfxml, trig, turtle
from .ntriples import Triple

COMMON_PREFIXES: dict[str, str] = {
    # reference: src/Extractors/PrefixExtractor.php:196-211 (E15)
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "dc": "http://purl.org/dc/elements/1.1/",
    "dcterms": "http://purl.org/dc/terms/",
    "dct": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "sh": "http://www.w3.org/ns/shacl#",
    "schema": "https://schema.org/",
}
_COMMON_NS = tuple(COMMON_PREFIXES.values())


@dataclass
class FormatHandler:
    name: str
    can_handle: Callable[[str], bool]
    # parse(content) -> (triples, declared_prefixes)
    parse: Callable[[str], tuple[list[Triple], dict[str, str]]]


def _parse_ntriples(content: str) -> tuple[list[Triple], dict[str, str]]:
    return ntriples.parse_document(content), {}


def _parse_ntriples_star(content: str) -> tuple[list[Triple], dict[str, str]]:
    return rdfstar.parse_document(content), {}


def _parse_nquads_star(content: str) -> tuple[list[Triple], dict[str, str]]:
    return rdfstar.parse_document(content, allow_graph=True), {}


# Priority order is observable behavior (reference: src/RdfParser.php:219-227;
# priority tests tests/Unit/RdfParserTest.php:219-231). The html handler
# (structured-data extraction: embedded JSON-LD / microdata / RDFa Lite)
# is new engine surface with no reference counterpart — appended LAST so
# every RDF serialization keeps its reference-fixed priority.
_DEFAULT_HANDLERS: list[FormatHandler] = [
    FormatHandler("json-ld", jsonld.can_handle, jsonld.parse_document),
    FormatHandler("turtle", turtle.can_handle, turtle.parse_document),
    FormatHandler("n-triples", ntriples.can_handle, _parse_ntriples),
    FormatHandler("rdf/xml", rdfxml.can_handle, rdfxml.parse_document),
    # new engine surface (no reference counterpart), appended after the
    # reference-pinned four: n-quads is shadowed by the n-triples sniffer
    # for detection and reached via explicit fmt= or the parse-stage
    # retry fallback; html never collides with the RDF sniffers
    FormatHandler("n-quads", nquads.can_handle, nquads.parse_document),
    FormatHandler("trig", trig.can_handle, trig.parse_document),
    # RDF-star: star docs normally sniff as n-triples/turtle (their D5/D6
    # decisions are reference-pinned) and reach this handler through the
    # parse-stage retry (parse.py) or explicit fmt=; the sniffer only
    # claims documents whose first lines open a quoted triple, so it
    # never collides with the html last-resort sniffer below
    FormatHandler("ntriples-star", rdfstar.can_handle, _parse_ntriples_star),
    FormatHandler("nquads-star", rdfstar.can_handle_quads, _parse_nquads_star),
    # html stays LAST (pinned by tests): structured-data extraction is
    # the fallback surface no RDF serialization should ever lose to
    FormatHandler("html", htmldata.can_handle, htmldata.parse_document),
]

_handlers: list[FormatHandler] = list(_DEFAULT_HANDLERS)


class FormatDetectionError(ValueError):
    pass


def supported_formats() -> list[str]:
    return [h.name for h in _handlers]


def register_format(handler: FormatHandler) -> None:
    """D3: prepend a custom handler (highest detection priority)."""
    _handlers.insert(0, handler)


def reset_formats() -> None:
    global _handlers
    _handlers = list(_DEFAULT_HANDLERS)


def detect_format(content: str) -> Optional[str]:
    """D1/D4: first matching handler's name; None if nothing matches.

    Never raises (``canParse`` contract, reference src/RdfParser.php:79-92).
    """
    for h in _handlers:
        try:
            if h.can_handle(content):
                return h.name
        except Exception:
            continue
    return None


def can_parse(content: str) -> bool:
    return detect_format(content) is not None


@dataclass
class DocResult:
    """Per-document parse outcome — the unit the batch pipeline vectorizes."""

    format: Optional[str] = None
    triples: list[Triple] = field(default_factory=list)
    prefixes: dict[str, str] = field(default_factory=dict)
    resource_count: int = 0
    error_stage: Optional[str] = None  # 'empty' | 'format_detection' | 'validate' | 'parse'
    error_line: Optional[int] = None
    error_message: Optional[str] = None

    @property
    def ok(self) -> bool:
        return self.error_stage is None


def _extract_prefixes(
    content: str, fmt: str, declared: dict[str, str], resources: set[str]
) -> dict[str, str]:
    """E14: 4-layer prefix merge, last-write-wins (reference:
    src/Extractors/PrefixExtractor.php:28-53).

    Layer 1 = parser-declared map (stands in for the EasyRdf graph
    namespace map); layer 2 = format-specific content regex; layer 3 =
    XML namespaces (same regex source for us); layer 4 = the 11 common
    prefixes, added iff some resource in the doc uses the namespace and
    the prefix isn't already bound.
    """
    prefixes = dict(declared)

    # layer 2: content regexes (reference :78-173); TriG shares Turtle's
    # @prefix/PREFIX directive surface
    if fmt in ("turtle", "trig"):
        import re

        for m in re.finditer(r"@prefix\s+([^:]+):\s*<([^>]+)>", content, re.IGNORECASE):
            p, ns = m.group(1).strip(), m.group(2).strip()
            if p and ns:
                prefixes[p] = ns
        for m in re.finditer(r"PREFIX\s+([^:]+):\s*<([^>]+)>", content, re.IGNORECASE):
            p, ns = m.group(1).strip(), m.group(2).strip()
            if p and ns:
                prefixes[p] = ns
    elif fmt == "rdf/xml":
        prefixes.update(rdfxml.extract_xmlns_prefixes(content))
    # json-ld layer 2 == the parser's context map (already in `declared`)

    # layer 4: common prefixes used by some resource term (reference :179-223);
    # one tuple-startswith pass keeps the per-prefix scans to the few
    # resources under any common namespace
    used = [r for r in resources if r.startswith(_COMMON_NS)]
    for p, ns in COMMON_PREFIXES.items():
        if p not in prefixes and any(r.startswith(ns) for r in used):
            prefixes[p] = ns
    return prefixes


def parse_rdf_document(
    content: str, fmt: Optional[str] = None, empty_guard: bool = True
) -> DocResult:
    """Full single-document lifecycle: guard → select handler → parse →
    prefix extraction → metadata (reference: src/RdfParser.php:56-77).

    Never raises: failures become the error channel of :class:`DocResult`
    (web-scale rule — a bad page must never kill the job).

    ``empty_guard=False`` mirrors *handler-direct* invocation (the
    reference's conformance suite calls NTriplesHandler.parse directly,
    where empty content parses to 0 triples); the default mirrors
    RdfParser.parse's 'Cannot parse empty content' guard (reference :58-61).
    """
    trimmed = ntriples.php_trim(content) if content is not None else ""
    if trimmed == "":
        if empty_guard or fmt is None:
            return DocResult(error_stage="empty", error_message="Cannot parse empty content")
        handler = next(h for h in _handlers if h.name == fmt)
        return DocResult(format=handler.name, triples=[], prefixes={}, resource_count=0)

    if fmt is not None:
        names = supported_formats()
        if fmt not in names:
            # D2: unknown explicit format — this one *does* raise, before any
            # job is submitted (caller error, not data error).
            raise FormatDetectionError(
                f"No handler registered for format: {fmt}. Available: {', '.join(names)}"
            )
        handler = next(h for h in _handlers if h.name == fmt)
    else:
        detected = detect_format(content)
        if detected is None:
            return DocResult(
                error_stage="format_detection",
                error_message=(
                    "No handler could detect the format of the provided content. "
                    f"Tried: {', '.join(supported_formats())}"
                ),
            )
        handler = next(h for h in _handlers if h.name == detected)

    try:
        triples, declared = handler.parse(content)
    except ntriples.NTriplesError as e:
        return DocResult(
            format=handler.name,
            error_stage="validate",
            error_line=e.line_num,
            error_message=str(e),
        )
    except Exception as e:  # noqa: BLE001 — any parser throw becomes an error row
        return DocResult(
            format=handler.name,
            error_stage="parse",
            error_message=f"{handler.name} parsing failed: {e}",
        )

    # one resources set serves both prefix auto-detection and resource_count
    resources = set(ntriples.iter_resources(triples))
    prefixes = _extract_prefixes(content, handler.name, declared, resources)
    return DocResult(
        format=handler.name,
        triples=triples,
        prefixes=prefixes,
        resource_count=len(resources),
    )


def scope_columns(
    subj: Sequence[str], obj_kind: Sequence[str], obj_value: Sequence[str],
    graph: Sequence[Optional[str]], doc_hash: str,
) -> tuple[Sequence[str], Sequence[str], Sequence[Optional[str]]]:
    """P5 on one document's triple columns: rewrite ``_:label`` →
    ``_:d{doc_hash}-label`` in subjects, bnode objects and graph terms,
    and inside quoted-triple subjects and objects (so asserted and
    quoted occurrences keep one label per document), so the global
    triples table never collides across documents.

    Returns the (subj, obj_value, graph) columns; a column with nothing
    to rewrite comes back as the same object. Only a term holding
    ``_:`` can change, so one substring test over the joined column
    skips the per-term pass for most documents."""
    pre = f"_:d{doc_hash}-"
    if "_:" in "".join(subj):
        subj = [
            pre + s[2:] if s[:2] == "_:"
            else rdfstar.rescope_quoted(s, doc_hash) if s[:2] == "<<"
            else s
            for s in subj
        ]
    if "_:" in "".join(obj_value):
        obj_value = [
            pre + v[2:] if k == "bnode" and v[:2] == "_:"
            else rdfstar.rescope_quoted(v, doc_hash) if k == "quoted"
            else v
            for k, v in zip(obj_kind, obj_value)
        ]
    if graph.count(None) != len(graph):
        graph = [pre + g[2:] if g is not None and g[:2] == "_:" else g for g in graph]
    return subj, obj_value, graph


def scope_bnodes(triples: list[Triple], doc_hash: str) -> list[Triple]:
    """:func:`scope_columns` over a list of triples (list in, list out)."""
    if not triples:
        return []
    s, p, k, v, lang, dt, line, g = zip(*triples)
    s2, v2, g2 = scope_columns(s, k, v, g, doc_hash)
    if s2 is s and v2 is v and g2 is g:
        return list(triples)
    # tuple.__new__ builds each Triple without its Python-level __new__
    rows = zip(s2, p, k, v2, lang, dt, line, g2)
    return list(map(tuple.__new__, repeat(Triple), rows))

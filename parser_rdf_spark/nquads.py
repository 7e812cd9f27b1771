"""N-Quads subset parser: the N-Triples grammar plus an optional fourth
graph term (IRI or blank node) per statement — RDF datasets / named
graphs (E21) as line-oriented data.

No reference counterpart ("TriG/N-Quads not required",
reference docs/spec-completeness.md:131) — this is new engine surface,
like the HTML handler. The reference-pinned detection chain is
preserved: plain-triple documents keep detecting as ``n-triples`` (its
sniffer runs first and four-term lines happen to satisfy its loose
regex too), so N-Quads documents reach this handler either via the
explicit ``fmt="n-quads"`` override or via the fused parse stage's
retry fallback when the n-triples strict parse rejects a detected
document (parse.py) — the same slot-in pattern the raw-html fallback
uses.

Validation V1-V13 and the escape semantics are shared with
:mod:`parser_rdf_spark.ntriples` (``allow_graph=True``): the N-Triples
document lexer, with an optional IRI / bnode graph term, takes every
line it can lex, and each line it cannot (a 5-term line, a literal or
quoted graph term, an IRI escape, a langtag run into the graph term …)
goes alone to the strict per-line path, ``_parse_lines``. Graph bnode
labels are doc-scoped by the shared ``scope_columns`` pass.
"""

from __future__ import annotations

import re

from . import ntriples
from .ntriples import Triple

# a quad-shaped line: subject, predicate, some object, a graph term, dot.
# re.ASCII: same non-/u byte semantics for \s/\S as the N-Triples sniffer.
_QUAD_SNIFF_RE = re.compile(
    r"^(?:<[^>]+>|_:\S+)\s+<[^>]+>\s+.+\s+(?:<[^>]+>|_:\S+)\s*\.\s*(?:#.*)?$",
    re.ASCII,
)


def can_handle(content: str) -> bool:
    """≥1 four-term line among the first 10 RAW lines — identical cap
    discipline to the N-Triples sniffer (D5): slice the first 10 raw
    lines of the trimmed document first, then skip blanks/comments, so
    the two detection windows never diverge on comment-heavy documents.
    """
    lines = ntriples.php_trim(content).split("\n")
    for raw in lines[:10]:
        line = ntriples.php_trim(raw)
        if not line or line.startswith("#"):
            continue
        if _QUAD_SNIFF_RE.match(line):
            return True
    return False


def parse_document(content: str) -> tuple[list[Triple], dict[str, str]]:
    """Strict N-Quads parse; returns (triples-with-graph, {} prefixes)."""
    return ntriples.parse_document(content, allow_graph=True), {}

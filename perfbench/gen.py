"""Seeded input generators for the benchmark workloads.

Owned by the benchmark: nothing here imports the program, so a change to
the program can never change the inputs. Every generator is a pure
function of its seed (``random.Random(seed).random()`` draws only) and
returns the pages as a pyarrow table in the program's page schema plus
the generator's own record of what it wrote, which the output checks
compare against.

Two corpora:

* :func:`crawl_corpus` — a Common-Crawl-style page mix (N-Triples,
  Turtle, JSON-LD, RDF/XML, retry-path documents, HTML-only pages with
  structured data, malformed documents, non-RDF filler) for
  ``parse_crawl``.
* :func:`kg_corpus` — clean N-Triples and Turtle pages describing typed,
  labelled entities, a class hierarchy and owl:sameAs / rdfs:seeAlso
  equivalence components that include long chains, for ``kg_query``.
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from dataclasses import dataclass, field

import pyarrow as pa

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"
V = "http://vocab.example.org/kg#"

TYPE, LABEL, COMMENT, SUBCLASS = RDF + "type", RDFS + "label", RDFS + "comment", RDFS + "subClassOf"
SAMEAS, SEEALSO = OWL + "sameAs", RDFS + "seeAlso"
KNOWS, WORKS_FOR, LOCATED_IN, SCORE = V + "knows", V + "worksFor", V + "locatedIn", V + "score"
N_CLASSES = 24

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

# parse_crawl page mix: (kind, share). Shares sum to 1.
CRAWL_MIX = (
    ("ntriples", 0.45),
    ("turtle", 0.10),
    ("jsonld", 0.05),
    ("rdfxml", 0.05),
    ("retry", 0.10),   # N-Quads lines, TriG, N-Triples-star
    ("html", 0.15),    # HTML-only, null text
    ("malformed", 0.05),
    ("filler", 0.05),
)

# the format the program should report for each page kind (retry pages
# carry their own); None for pages that must become error rows
EXPECTED_FORMAT = {
    "ntriples": "n-triples", "turtle": "turtle", "jsonld": "json-ld",
    "rdfxml": "rdf/xml", "nquads": "n-quads", "trig": "trig",
    "ntriples-star": "ntriples-star", "html": "html", "filler": "html",
    "malformed": None,
}

FILLER = (
    "Welcome to our site. Read the latest news, product reviews and "
    "opinion pieces, browse the archive or contact the editors. "
    "All rights reserved. Terms of use apply to every article here."
)


@dataclass
class Corpus:
    """Pages plus the generator's record of them."""

    pages: pa.Table
    kinds: list[str]                 # page kind per row (see EXPECTED_FORMAT)
    n_triples: list[int]             # expected triples per row (0 for errors)
    is_error: list[bool]             # row must become an error row
    triples: list[tuple] = field(default_factory=list)  # kg_corpus only
    components: dict[str, int] = field(default_factory=dict)  # min vertex -> size

    @property
    def total_triples(self) -> int:
        return sum(self.n_triples)


class _Rng:
    """``random.Random`` restricted to ``random()`` draws, whose sequence is
    stable across Python versions."""

    def __init__(self, seed: int) -> None:
        self._r = random.Random(seed)

    def random(self) -> float:
        return self._r.random()

    def below(self, n: int) -> int:
        return int(self._r.random() * n)

    def between(self, lo: int, hi: int) -> int:
        return lo + self.below(hi - lo + 1)

    def zipf(self, n: int, s: float = 1.1) -> int:
        """Rank in [0, n) with P(rank) proportional to 1 / (rank + 1)^s,
        by inverting the continuous approximation of the CDF."""
        u = self._r.random()
        a = 1.0 - s
        hi = (n + 1) ** a
        return min(n - 1, int((1 + u * (hi - 1)) ** (1.0 / a)) - 1)


def _host(rng: _Rng, mega_share: float) -> str:
    if rng.random() < mega_share:
        return "mega.example.org"
    return f"h{rng.zipf(400)}.example.org"


def _doc_lines(u: float) -> int:
    """Document length in statements at quantile ``u``: tens typical,
    hundreds in the tail."""
    return int(10 * 30 ** (u ** 2))


def _wrap(payload: str) -> bytes:
    return f"<html><body><pre>{payload}</pre></body></html>".encode()


def _table(urls, htmls, texts, seed: int) -> pa.Table:
    t0 = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
    n = len(urls)
    return pa.table({
        "url": urls,
        "warc_ts": [t0 + _dt.timedelta(seconds=seed % 86400 + i) for i in range(n)],
        "html": htmls,
        "text": texts,
        "lang": [("en", "de", "nl", "es")[i % 4] for i in range(n)],
    }, schema=PAGES_SCHEMA)


# -- parse_crawl documents: each builder returns (payload, n_triples) ------

def _nt_term_line(rng: _Rng, subj: str, k: int) -> str:
    r = rng.below(6)
    if r == 0:
        return f"{subj} <{TYPE}> <{V}Class{rng.below(N_CLASSES)}> ."
    if r == 1:
        return f'{subj} <{LABEL}> "Entity {k} \\"{rng.below(99)}\\""@en .'
    if r == 2:
        return f'{subj} <{SCORE}> "{rng.below(1000)}"^^<{XSD}integer> .'
    if r == 3:
        return f"{subj} <{KNOWS}> <http://e{rng.zipf(400)}.example.org/id/{rng.below(10**6)}> ."
    if r == 4:
        return f'{subj} <{COMMENT}> "Café note {k} – line {rng.below(500)}" .'
    return f"{subj} <{SEEALSO}> <http://e{rng.zipf(400)}.example.org/id/{rng.below(10**6)}> ."


def _ntriples_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n = lines
    bnode_heavy = rng.random() < 0.3
    lines = [f"# page {i}"]
    for j in range(n):
        k = i * 1000 + j // 4
        if bnode_heavy and j % 2:
            subj = f"_:b{j // 4}"
            line = (f"{subj} <{KNOWS}> _:b{(j // 4 + 1)} ." if j % 3 == 0
                    else _nt_term_line(rng, subj, k))
        else:
            line = _nt_term_line(rng, f"<http://e{i % 400}.example.org/id/{k}>", k)
        lines.append(line)
    return "\n".join(lines) + "\n", n


def _turtle_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n_ent = max(1, lines // 7)
    out = [
        f"@prefix ex: <http://e{i % 400}.example.org/id/> .",
        f"@prefix v: <{V}> .",
        f"@prefix rdfs: <{RDFS}> .",
        "",
    ]
    for j in range(n_ent):
        k = i * 1000 + j
        out.append(
            f"ex:t{k} a v:Class{rng.below(N_CLASSES)} ;\n"
            f'    rdfs:label "Thing {k}"@en , "Ding {k}"@de ;\n'
            f"    v:knows ex:t{k + 1} ;\n"
            f'    v:addr [ v:city "City {rng.below(300)}" ; v:zip "{rng.below(99999):05d}" ] .'
        )
    return "\n".join(out) + "\n", 7 * n_ent


def _jsonld_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n_nodes = max(1, lines // 5)
    graph = []
    for j in range(n_nodes):
        k = i * 1000 + j
        graph.append({
            "@id": f"http://e{i % 400}.example.org/id/j{k}",
            "@type": f"v:Class{rng.below(N_CLASSES)}",
            "rdfs:label": {"@value": f"Node {k}", "@language": "en"},
            "v:knows": {"@id": f"http://e{i % 400}.example.org/id/j{k + 1}"},
            "v:tag": [f"tag{rng.below(50)}", f"tag{50 + rng.below(50)}"],
        })
    doc = {"@context": {"v": V, "rdfs": RDFS}, "@graph": graph}
    return json.dumps(doc, indent=1), 5 * n_nodes


def _rdfxml_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n_nodes = max(1, lines // 5)
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:rdfs="{RDFS}" xmlns:v="{V}">',
    ]
    count = 0
    for j in range(n_nodes):
        iri = f"http://e{i % 400}.example.org/id/x{i * 1000 + j}"
        if j % 2 == 0:
            out.append(
                f'  <rdf:Description rdf:about="{iri}">\n'
                f'    <rdf:type rdf:resource="{V}Class{rng.below(N_CLASSES)}"/>\n'
                f'    <rdfs:label xml:lang="en">Resource {j}</rdfs:label>\n'
                f'    <v:knows rdf:resource="{iri}-peer"/>\n'
                "  </rdf:Description>"
            )
            count += 3
        else:
            tag = f"v:Class{rng.below(N_CLASSES)}"
            out.append(
                f'  <{tag} rdf:about="{iri}">\n'
                f"    <rdfs:comment>Typed node {j}</rdfs:comment>\n"
                f"  </{tag}>"
            )
            count += 2
    out.append("</rdf:RDF>")
    return "\n".join(out) + "\n", count


def _nquads_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n = lines
    g = f"<http://graphs.example.org/g{i % 50}>"
    lines = []
    for j in range(n):
        s = f"<http://e{i % 400}.example.org/id/q{i * 1000 + j // 3}>"
        if j % 2:
            lines.append(f'{s} <{LABEL}> "Quad {j}" {g} .')
        else:
            lines.append(f"{s} <{KNOWS}> <http://e{rng.zipf(400)}.example.org/id/{rng.below(10**6)}> {g} .")
    return "\n".join(lines) + "\n", n


def _trig_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n_graphs = max(1, lines // 8)
    out = [
        f"@prefix ex: <http://e{i % 400}.example.org/id/> .",
        f"@prefix v: <{V}> .",
        f"@prefix rdfs: <{RDFS}> .",
    ]
    for gi in range(n_graphs):
        k = i * 1000 + gi
        out.append(
            f"ex:g{k} {{\n"
            f"  ex:r{k} a v:Class{rng.below(N_CLASSES)} ;\n"
            f'    rdfs:label "Graph member {k}"@en .\n'
            f"  ex:r{k} v:knows ex:r{k + 1} .\n"
            "}"
        )
    return "\n".join(out) + "\n", 3 * n_graphs


def _star_doc(rng: _Rng, i: int, lines: int) -> tuple[str, int]:
    n = lines
    base = f"http://e{i % 400}.example.org/id/s{i}"
    lines = [f"<{base}> <{TYPE}> <{V}Class{rng.below(N_CLASSES)}> ."]
    for j in range(1, n):
        lines.append(
            f"<< <{base}> <{KNOWS}> <{base}-{j}> >> <{V}certainty> "
            f'"0.{rng.below(100):02d}"^^<{XSD}decimal> .'
        )
    return "\n".join(lines) + "\n", n


def _html_page(rng: _Rng, i: int) -> tuple[str, int]:
    carriers = 1 + rng.below(7)  # non-empty subset of {json-ld, microdata, rdfa}
    host = f"shop{i % 400}.example.org"
    head = [f"<!DOCTYPE html><html><head><title>Page {i}</title>"]
    body = ["<body>", '<nav><a href="/">home</a> <a href="/about">about</a></nav>']
    count = 0
    if carriers & 1:
        doc = {"@context": "https://schema.org", "@id": f"https://{host}/p/{i}",
               "@type": "Product", "name": f"Product {i}", "sku": f"SKU-{rng.below(10**6)}"}
        head.append(f'<script type="application/ld+json">{json.dumps(doc)}</script>')
        count += 3
    if carriers & 2:
        body.append(
            f'<div itemscope itemtype="https://schema.org/Person" itemid="https://{host}/u/{i}">'
            f'<span itemprop="name">Person {i}</span>'
            f'<meta itemprop="birthDate" content="19{50 + rng.below(50)}-01-01"></div>'
        )
        count += 3
    if carriers & 4:
        body.append(
            f'<div vocab="https://schema.org/" about="https://{host}/o/{i}" typeof="Organization">'
            f'<span property="name">Org {i}</span></div>'
        )
        count += 2
    body.append(f"<p>{FILLER}</p></body></html>")
    return "".join(head) + "</head>" + "\n".join(body), count


def _malformed_doc(rng: _Rng, i: int, lines: int) -> str:
    good, _ = _ntriples_doc(rng, i, lines)
    lines = good.rstrip("\n").split("\n")
    bad = (
        f'<http://bad.example.org/{i}> <{LABEL}> "unterminated literal .',
        f"<http://bad.example.org/{i}> <{KNOWS}> <http://bad.example.org/{i}-peer>",
        f"<http://bad.example.org/has space/{i}> <{KNOWS}> <http://x.example.org/> .",
    )[rng.below(3)]
    lines.insert(1 + rng.below(len(lines)), bad)
    return "\n".join(lines) + "\n"


def _shuffle(rng: _Rng, items: list) -> list:
    for j in range(len(items) - 1, 0, -1):
        x = rng.below(j + 1)
        items[j], items[x] = items[x], items[j]
    return items


def crawl_corpus(seed: int, n_pages: int) -> Corpus:
    """The ``parse_crawl`` page mix (shares in :data:`CRAWL_MIX`).

    The seed shuffles a fixed plan: every seed gets the same number of
    pages of each kind and, per kind, the same document lengths (evenly
    spaced quantiles of :func:`_doc_lines`), so the parse work per pass
    barely depends on the seed; content, order, URLs and hosts do.
    HTML-only pages have a null ``text``; every other page carries its
    payload in ``text`` and ``<pre>``-wrapped in ``html``. Page URLs are
    drawn from Zipf-distributed hosts."""
    rng = _Rng(seed)
    plan: list[str] = []
    for kind, share in CRAWL_MIX:
        count = round(share * n_pages)
        if kind == "retry":
            plan += [("nquads", "trig", "ntriples-star")[j % 3] for j in range(count)]
        else:
            plan += [kind] * count
    plan = (plan + ["ntriples"] * n_pages)[:n_pages]
    _shuffle(rng, plan)
    quantiles: dict[str, list[float]] = {}
    for kind in set(plan):
        c = plan.count(kind)
        quantiles[kind] = _shuffle(rng, [(j + 0.5) / c for j in range(c)])

    urls, htmls, texts, counts = [], [], [], []
    for i, kind in enumerate(plan):
        lines = _doc_lines(quantiles[kind].pop())
        text: str | None
        if kind == "html":
            payload, n = _html_page(rng, i)
            html, text = payload.encode(), None
        elif kind == "malformed":
            text, n = _malformed_doc(rng, i, lines), 0
            html = _wrap(text)
        elif kind == "filler":
            text, n = f"{FILLER} Article {i}.", 0
            html = _wrap(text)
        else:
            build = {
                "ntriples": _ntriples_doc, "turtle": _turtle_doc, "jsonld": _jsonld_doc,
                "rdfxml": _rdfxml_doc, "nquads": _nquads_doc, "trig": _trig_doc,
                "ntriples-star": _star_doc,
            }[kind]
            text, n = build(rng, i, lines)
            html = _wrap(text)
        urls.append(f"https://{_host(rng, 0.2)}/{kind}/{seed}/{i}")
        htmls.append(html)
        texts.append(text)
        counts.append(n)
    return Corpus(_table(urls, htmls, texts, seed), plan, counts,
                  [k == "malformed" for k in plan])


# -- kg_query knowledge graph --------------------------------------------

def _component_sizes(rng: _Rng, n_vertices: int) -> list[tuple[int, bool]]:
    """(size, is_chain) per equivalence component. Mostly pairs and small
    trees, some mid-size trees, and long chains, whose diameter sets the
    number of connected-components rounds."""
    out = []
    left = n_vertices
    while left >= 2:
        u = rng.random()
        if u < 0.04:
            size, chain = rng.between(48, 160), True
        elif u < 0.12:
            size, chain = rng.between(9, 40), False
        elif u < 0.40:
            size, chain = rng.between(3, 8), False
        else:
            size, chain = 2, False
        size = min(size, left)
        if size < 2:
            break
        out.append((size, chain))
        left -= size
    return out


def kg_corpus(seed: int, n_entities: int, per_doc: int = 12) -> Corpus:
    """Clean N-Triples (70%) and Turtle (30%) pages for the KG.

    Each entity lives in exactly one page, so no triple repeats across
    pages. Entities are typed, labelled (every one in English, half also
    in German), some commented, all scored; ``knows`` / ``worksFor`` /
    ``locatedIn`` links form the joins the query mix walks. One ontology
    page carries the class hierarchy. Equivalence edges (owl:sameAs or
    rdfs:seeAlso) build components of varied size, including long chains.
    Page URLs put a large share on one mega host."""
    rng = _Rng(seed)
    ent = [f"http://{_host(rng, 0.4)}/id/{seed}-{k}" for k in range(n_entities)]
    # entity -> list of (pred, obj, kind, lang); kind is iri, literal or integer
    props: list[list[tuple]] = [[] for _ in range(n_entities)]
    for k in range(n_entities):
        cls = rng.zipf(N_CLASSES, 0.8)
        props[k].append((TYPE, f"{V}Class{cls}", "iri", None))
        props[k].append((LABEL, f"Name {k}", "literal", "en"))
        if rng.random() < 0.5:
            props[k].append((LABEL, f"Name {k} (de)", "literal", "de"))
        if rng.random() < 0.3:
            props[k].append((COMMENT, f"About entity {k}", "literal", None))
        props[k].append((SCORE, str(rng.below(1000)), "integer", None))
        for _ in range(rng.below(4)):
            other = rng.below(n_entities)
            if other != k:
                props[k].append((KNOWS, ent[other], "iri", None))
        r = rng.random()
        if r < 0.4:
            props[k].append((WORKS_FOR, ent[rng.below(n_entities)], "iri", None))
        elif r < 0.6:
            props[k].append((LOCATED_IN, ent[rng.below(n_entities)], "iri", None))
    # equivalence components over a shuffled prefix of the entities
    order = _shuffle(rng, list(range(n_entities)))
    components: dict[str, int] = {}
    pos = 0
    for size, chain in _component_sizes(rng, n_entities // 2):
        members = order[pos:pos + size]
        pos += size
        for j in range(1, size):
            parent = members[j - 1] if chain else members[rng.below(j)]
            pred = SAMEAS if rng.random() < 0.6 else SEEALSO
            props[parent].append((pred, ent[members[j]], "iri", None))
        components[min(ent[m] for m in members)] = size
    # de-duplicate properties per entity (set semantics of an RDF graph)
    for k in range(n_entities):
        props[k] = list(dict.fromkeys(props[k]))

    triples: list[tuple] = []
    urls, htmls, texts, counts = [], [], [], []

    def emit_page(payload: str, n: int, tag: str) -> None:
        urls.append(f"https://{_host(rng, 0.4)}/{tag}/{seed}/{len(urls)}")
        htmls.append(_wrap(payload))
        texts.append(payload)
        counts.append(n)

    # ontology page: class hierarchy (a tree), labels, comments
    onto = []
    for c in range(N_CLASSES):
        cls = f"{V}Class{c}"
        rows = [(TYPE, RDFS + "Class", "iri", None), (LABEL, f"Class {c}", "literal", "en")]
        if c:
            rows.append((SUBCLASS, f"{V}Class{(c - 1) // 2}", "iri", None))
        rows.append((COMMENT, f"Class number {c}", "literal", None))
        for p, o, kind, lang in rows:
            onto.append(_nt_line(cls, p, o, kind, lang))
            triples.append((cls, p, o, kind, lang))
    emit_page("\n".join(onto) + "\n", len(onto), "ontology")

    for start in range(0, n_entities, per_doc):
        block = range(start, min(start + per_doc, n_entities))
        turtle = rng.random() < 0.3
        lines = []
        n = 0
        for k in block:
            for p, o, kind, lang in props[k]:
                triples.append((ent[k], p, o, kind, lang))
                n += 1
            lines.append(_turtle_block(ent[k], props[k]) if turtle
                         else "\n".join(_nt_line(ent[k], *row) for row in props[k]))
        payload = "\n".join(lines) + "\n"
        if turtle:  # an @prefix lead is what detects a page as Turtle
            payload = f"@prefix v: <{V}> .\n@prefix rdfs: <{RDFS}> .\n" + payload
        emit_page(payload, n, "kg")
    table = _table(urls, htmls, texts, seed)
    return Corpus(table, ["kg"] * len(urls), counts, [False] * len(urls),
                  triples=triples, components=components)


def _nt_obj(o: str, kind: str, lang) -> str:
    if kind == "iri":
        return f"<{o}>"
    if kind == "integer":
        return f'"{o}"^^<{XSD}integer>'
    return f'"{o}"@{lang}' if lang else f'"{o}"'


def _nt_line(s: str, p: str, o: str, kind: str, lang) -> str:
    return f"<{s}> <{p}> {_nt_obj(o, kind, lang)} ."


def _turtle_block(s: str, rows: list[tuple]) -> str:
    body = " ;\n    ".join(f"<{p}> {_nt_obj(o, kind, lang)}" for p, o, kind, lang in rows)
    return f"<{s}> {body} ."


"""The ``kg_query`` SPARQL mix and each shape's expected result, computed
from the generator's own triple record (never by the program).

Left out of the mix on purpose:

* transitive closures (``p+`` / ``p*``): one takes about 15 s on this
  KG size and runs its jobs inside the ``sparql_query`` call, so it would
  turn p90 into a closure metric; it belongs in a workload of its own;
* a UNION whose branches leave a shared variable unbound: it returns
  wrong answers today, and a benchmark query must have a known answer.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from gen import COMMENT, KNOWS, LABEL, LOCATED_IN, SCORE, TYPE, V, WORKS_FOR

TERM_CLASS = f"{V}Class1"
SCORE_MIN = 900
ORDER_LIMIT = 100

# name -> (query text, term_mode)
SHAPES: dict[str, tuple[str, bool]] = {
    "term_pruned": (
        f"SELECT ?e ?l WHERE {{ ?e <{TYPE}> <{TERM_CLASS}> . ?e <{LABEL}> ?l . "
        f'FILTER(LANG(?l) = "de") }}',
        True,
    ),
    "bgp_chain": (
        f"SELECT ?a ?b ?o ?c ?n WHERE {{ ?a <{KNOWS}> ?b . ?b <{WORKS_FOR}> ?o . "
        f"?o <{LOCATED_IN}> ?c . ?c <{LABEL}> ?n }}",
        False,
    ),
    "group_count": (
        "SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
        False,
    ),
    "optional_filter": (
        f"SELECT ?e ?s ?c WHERE {{ ?e <{SCORE}> ?s . OPTIONAL {{ ?e <{COMMENT}> ?c }} "
        f"FILTER(?s >= {SCORE_MIN}) }}",
        False,
    ),
    "union": (
        f"SELECT ?e ?x WHERE {{ {{ ?e <{KNOWS}> ?x }} UNION {{ ?e <{WORKS_FOR}> ?x }} }}",
        False,
    ),
    "path_seq": (
        f"SELECT ?a ?o WHERE {{ ?a <{KNOWS}>/<{WORKS_FOR}> ?o }}",
        False,
    ),
    "order_limit": (
        f"SELECT DISTINCT ?e ?l WHERE {{ ?e <{TYPE}> ?t . ?e <{LABEL}> ?l }} "
        f"ORDER BY ?l LIMIT {ORDER_LIMIT}",
        False,
    ),
}


def expected(triples: list[tuple]) -> dict[str, dict]:
    """Per shape: ``rows`` (result row count) and, where cheap, one more
    fact about the content (``n_sum`` for group_count, the ordered ``l``
    column for order_limit). ``triples`` are the generator's
    (subj, pred, obj, kind, lang) tuples; the plain-mode relation keys a
    triple by its lexical object, as the query relation does."""
    plain = {(s, p, o) for s, p, o, _, _ in triples}
    by_pred: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for s, p, o in plain:
        by_pred[p].append((s, o))
    out_of = {p: _index(pairs) for p, pairs in by_pred.items()}

    types = {s for s, p, o, _, _ in triples if p == TYPE and o == TERM_CLASS}
    de_labels = sum(1 for s, p, _, _, lang in triples
                    if p == LABEL and lang == "de" and s in types)

    knows, works = by_pred[KNOWS], out_of[WORKS_FOR]
    located, labels = out_of[LOCATED_IN], out_of[LABEL]
    chain = sum(
        len(labels.get(c, ()))
        for _, b in knows for o in works.get(b, ()) for c in located.get(o, ())
    )
    comments = out_of[COMMENT]
    opt = sum(max(1, len(comments.get(s, ()))) for s, o in by_pred[SCORE] if int(o) >= SCORE_MIN)
    path = sum(len(works.get(b, ())) for _, b in knows)
    typed = {s for s, _ in by_pred[TYPE]}
    ordered = sorted({(s, o) for s, o in by_pred[LABEL] if s in typed}, key=lambda r: r[1])
    per_pred = Counter(p for _, p, _ in plain)
    return {
        "term_pruned": {"rows": de_labels},
        "bgp_chain": {"rows": chain},
        "group_count": {"rows": len(per_pred), "n_sum": len(plain)},
        "optional_filter": {"rows": opt},
        "union": {"rows": len(knows) + len(by_pred[WORKS_FOR])},
        "path_seq": {"rows": path},
        "order_limit": {"rows": min(ORDER_LIMIT, len(ordered)),
                        "l": [o for _, o in ordered[:ORDER_LIMIT]]},
    }


def _index(pairs: list[tuple[str, str]]) -> dict[str, list[str]]:
    idx: dict[str, list[str]] = defaultdict(list)
    for s, o in pairs:
        idx[s].append(o)
    return idx


def check(shape: str, rows: list, want: dict) -> bool:
    """Compare collected result rows with the expected facts."""
    if len(rows) != want["rows"]:
        return False
    if "n_sum" in want and sum(int(r["n"]) for r in rows) != want["n_sum"]:
        return False
    if "l" in want and [r["l"] for r in rows] != want["l"]:
        return False
    return True

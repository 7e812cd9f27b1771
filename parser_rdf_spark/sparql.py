"""SPARQL 1.1 text front-end over the BGP compiler.

:mod:`.bgp` compiles pattern LISTS to Catalyst plans; this module parses
actual SPARQL query text into those calls, so a user of the constructed
KG can run the queries they already have. The reference library emits
triples and has no query language (reference: src/RdfParser.php:111-125);
SPARQL is the standard query surface over its output, and the front-end
is a thin, driver-side recursive-descent parser — all execution stays in
the :mod:`.bgp` DataFrame plans (no Python per row; parsing a query
string costs microseconds regardless of corpus size).

Supported subset (everything the underlying compiler can plan):

* prologue: ``PREFIX pfx: <iri>`` and ``BASE <iri>`` — relative IRIREFs
  anywhere in the query (including subsequent PREFIX declarations)
  resolve against the base per RFC 3986 §5.2 strict (:mod:`.iri`).
  This is an engine extension: the reference scopes out relative-IRI
  resolution entirely (docs/spec-completeness.md:147), but real SPARQL
  corpora carry ``BASE`` prologues. Without a ``BASE``, a relative
  IRIREF stays verbatim (the engine's string-typed relation matches
  lexical forms, so this remains well-defined);
* query forms: ``SELECT [DISTINCT|REDUCED]`` (REDUCED implemented as
  DISTINCT — spec-conformant and deterministic), ``ASK``, ``CONSTRUCT {…} WHERE``
  (with ORDER BY/LIMIT applied to the solution sequence before
  templating) and the ``CONSTRUCT WHERE {…}`` shorthand (plain triple
  patterns doubling as the template), ``DESCRIBE`` (description = all
  triples whose subject is in the resource set — one semi-join);
* group graph pattern: triple blocks with ``;`` / ``,`` continuations,
  ``OPTIONAL { … }`` (an all-or-nothing GROUP that may contain FILTER,
  BIND and nested OPTIONALs — inner FILTERs compile to the left-join
  CONDITION, ``LeftJoin(Ω1, Ω2, expr)`` per §18.2.1, so they may
  reference outer variables), ``FILTER(expr)``, ``FILTER EXISTS { … }``
  / ``FILTER NOT EXISTS { … }`` (semi-/anti-join on the shared
  variables; group FILTERs inside become the correlated join condition
  per §8.1.1), ``MINUS { … }`` (inner FILTERs see only the group's own
  variables, §8.3),
  ``BIND(expr AS ?v)``, ``VALUES``,
  ``{ … } UNION { … }`` (anywhere in a group — nested unions, several
  union expressions per group, and unions mixed with sibling patterns
  all compile; the pieces join by SPARQL compatibility on shared
  variables, §18.3 — a variable some piece may leave unbound matches
  anything there — and group FILTERs run over the joined relation),
  sub-SELECT (``{ SELECT … }`` executed recursively and
  compatible-joined with the enclosing group on its projected
  variables, in every query form and inside UNION branches; outer
  FILTERs may reference sub-projected
  variables), ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses over a
  quads relation (the default graph becomes the set-union of the FROM
  graphs; the named-graph set becomes exactly the FROM NAMED list),
  and ``GRAPH g { … }`` over a quads relation
  (:func:`.bgp.quads_spo` — un-GRAPHed patterns then match the default
  graph, a variable graph term ranges over named graphs, per the SPARQL
  dataset model);
* property paths in predicate position: ``^p``, ``p1|p2``, ``p1/p2``,
  ``p+``, ``p*``, ``p?``, ``!p`` / ``!(p1|p2)``, parenthesized
  closures over composed elements (``(p1|p2)+``, ``(p1/p2)*``,
  ``(…)?`` — the closure runs over the composed edge relation), and
  compositions the compiler supports (``^p+``, sequences over any of
  these);
* solution modifiers: ``GROUP BY`` + aggregates in the SELECT clause
  (COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT with ``SEPARATOR``,
  DISTINCT inside COUNT/GROUP_CONCAT; also over UNION; GROUP_CONCAT
  renders members in lexicographic order — SPARQL leaves the order
  undefined, the engine pins it for determinism), ``HAVING``,
  ``ORDER BY [ASC|DESC](?v)``, ``LIMIT``, ``OFFSET``.

``SERVICE <iri> { … }`` executes against a REGISTERED relation
(``sparql_query(..., services={"iri": df})`` — the Spark-first take on
federation: an endpoint is just another DataFrame); an unregistered
endpoint raises unless ``SERVICE SILENT`` (single empty solution per
§18.8). ``SERVICE ?ep { … }`` ranges over every registered endpoint,
binding ``?ep`` to the endpoint IRI (spec §18 leaves variable
endpoints implementation-defined). The one out-of-scope construct
raises :class:`SparqlError` naming it (never silently mis-answer):
HTTP federation — no network execution; register the relation instead. Nested
GRAPH follows the spec's algebra (the inner term re-selects the active
graph, §13.3); a ``GRAPH ?g`` that wraps no pattern of its own raises.

Term semantics match the engine's verbatim string matching: the triples
relation stores terms as strings (:func:`.bgp.triples_spo` projects the
lexical form), so a ``PREFIX``-declared pname expands to its full IRI
while an undeclared pname is matched verbatim (the micro-KG convention),
``<iri>`` strips its angle brackets, ``"lit"`` matches the lexical form
(language tags / ``^^`` datatypes are parsed but matching stays
lexical-form-only — the documented projection of triples_spo), numbers
match their lexical token, and ``a`` expands to the full rdf:type IRI.
A blank node in a query position acts as a non-selectable variable, per
spec. Numeric comparisons in FILTER/HAVING (``?x > 9000``) cast the
variable side to DOUBLE, mirroring SPARQL's numeric operator mapping
over the string-typed relation.

``term_mode=True`` switches both conventions to TERM IDENTITY over the
:func:`.bgp.terms_spo` encoding (one canonical N-Triples string per
term): constants render encoded, matching distinguishes ``"x"`` /
``"x"@en`` / ``<x>``, numeric comparison try_casts the lexical form
(non-numeric terms → NULL → row dropped, the spec's type-error
semantics), and the term builtins LANG / LANGMATCHES / DATATYPE /
isIRI / isBlank / isLiteral / isNumeric / sameTerm / STRLANG / STRDT
compile to pure string SQL over the encoding.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import (_pattern_vars, apply_negation, bgp_query,
                  construct_from_solutions, predicate_stats_map, seq_path)
from .iri import is_absolute_iri, resolve_iri

RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlError(ValueError):
    """Raised for syntax errors and documented out-of-scope constructs."""


_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<VAR>[?$][A-Za-z_]\w*)
    | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<BNODE>_:[A-Za-z0-9]\w*)
    | (?P<PNAME>(?:[A-Za-z_][\w\-]*)?:[\w\-]+(?:\.[\w\-]+)*|[A-Za-z_][\w\-]*:)
    | (?P<NAME>[A-Za-z_]\w*)
    | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}()\[\].;,|/^+*!=<>?:-])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "prefix", "base", "select", "distinct", "where", "optional", "filter",
    "union", "values", "bind", "not", "exists", "minus", "group", "by",
    "having", "order", "asc", "desc", "limit", "offset", "ask", "reduced",
    "construct", "describe", "as", "undef", "in", "true", "false",
    "graph", "service", "from", "named",
}

# SPARQL builtin → Spark SQL function (argument-preserving)
_FUNC_MAP = {
    "strstarts": "startswith", "strends": "endswith", "contains": "contains",
    "strlen": "length", "lcase": "lower", "ucase": "upper",
    "substr": "substring", "concat": "concat", "abs": "abs", "ceil": "ceil",
    "floor": "floor", "round": "round", "coalesce": "coalesce", "if": "if",
    "replace": "regexp_replace",
    # §17.4.4 hash functions (lexical-form input, lowercase hex out in
    # both Spark and the DuckDB oracles); sha256/384/512 special-cased
    # below (Spark spells them sha2(x, bits))
    "md5": "md5", "sha1": "sha1",
}

_AGG_FUNCS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlError(f"cannot tokenize at offset {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        toks.append((kind, m.group()))
    return toks


def _unescape(body: str) -> str:
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        e = body[i + 1] if i + 1 < len(body) else ""
        simple = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
                  '"': '"', "'": "'", "\\": "\\"}
        if e in simple:
            out.append(simple[e])
            i += 2
        elif e == "u":
            out.append(chr(int(body[i + 2:i + 6], 16)))
            i += 6
        elif e == "U":
            out.append(chr(int(body[i + 2:i + 10], 16)))
            i += 10
        else:
            raise SparqlError(f"bad string escape \\{e}")
    return "".join(out)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
# xsd numeric types isNumeric() recognizes (SPARQL §17.4.2.4 operand types)
_NUMERIC_XSD_LOCAL = (
    "integer|decimal|double|float|long|int|short|byte|"
    "nonNegativeInteger|nonPositiveInteger|negativeInteger|"
    "positiveInteger|unsignedLong|unsignedInt|unsignedShort|unsignedByte"
)


def _nt_escape(val: str) -> str:
    """Python-side twin of serialize._escape_literal (same order)."""
    return (val.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))


def _sql_lex(x: str) -> str:
    """SQL expression for the LEXICAL FORM of a term-encoded value
    (``bgp.terms_spo`` encoding): IRI body for ``<iri>``, unescaped
    literal body for ``"lex"[@lang|^^<dt>]``, the label verbatim for
    bnodes / quoted forms. The unescape chain inverts exactly the five
    serializer escapes (backslash first via a chr(1) sentinel); chr/||/
    replace keep it portable to the DuckDB oracle dialect."""
    body = (f"regexp_extract({x}, "
            "'^\"(.*)\"(@[A-Za-z0-9-]+|\\\\^\\\\^<[^>]*>)?$', 1)")
    unesc = ("replace(replace(replace(replace(replace(replace("
             f"{body}, chr(92)||chr(92), chr(1)), "
             "chr(92)||'\"', '\"'), chr(92)||'n', chr(10)), "
             "chr(92)||'r', chr(13)), chr(92)||'t', chr(9)), "
             "chr(1), chr(92))")
    return (f"(CASE WHEN {x} LIKE '<%' THEN substring({x}, 2, length({x}) - 2) "
            f"WHEN {x} LIKE '\"%' THEN {unesc} "
            f"ELSE {x} END)")


def _sql_nt_escape(x: str) -> str:
    """SQL twin of :func:`_nt_escape` (serialize._escape_literal): apply
    the five N-Triples escapes, backslash first, to a computed lexical
    form. Needed when term mode re-encodes a plain string as a simple
    literal — the relation stores ESCAPED lexical forms, so an unescaped
    re-encoding of a value containing ``"``/``\\``/newline/tab would
    never match any stored term. chr/||/replace keep it portable to the
    DuckDB oracle dialect."""
    return ("replace(replace(replace(replace(replace("
            f"{x}, chr(92), chr(92)||chr(92)), "
            "'\"', chr(92)||'\"'), chr(10), chr(92)||'n'), "
            "chr(13), chr(92)||'r'), chr(9), chr(92)||'t')")


def _sql_simple_literal(x: str) -> str:
    """Encode a plain-string SQL expression as a simple-literal term in
    the ``terms_spo`` canonical encoding (escape, then wrap in quotes)."""
    return f"concat('\"', {_sql_nt_escape(x)}, '\"')"


class _Parser:
    def __init__(self, text: str, term_mode: bool = False):
        self.toks = _tokenize(text)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.term_mode = term_mode
        # term mode: variables bound by BIND / SELECT expressions to a
        # PLAIN value (string/number, not an encoded term) — later
        # expressions must not lex-strip them. Populated in parse order,
        # so a FILTER textually before its BIND sees the var as a term
        # (documented edge; SPARQL allows either order in a group).
        self.plain_vars: set[str] = set()
        self._fresh = 0

    # ----- token helpers -------------------------------------------------
    def _peek(self, k: int = 0):
        i = self.pos + k
        return self.toks[i] if i < len(self.toks) else ("EOF", "")

    def _next(self):
        tok = self._peek()
        self.pos += 1
        return tok

    def _at(self, text: str) -> bool:
        k, t = self._peek()
        return k == "OP" and t == text

    def _eat(self, text: str) -> bool:
        if self._at(text):
            self.pos += 1
            return True
        return False

    def _expect(self, text: str):
        if not self._eat(text):
            raise SparqlError(f"expected {text!r}, got {self._peek()[1]!r}")

    def _at_kw(self, *words: str) -> bool:
        k, t = self._peek()
        return k == "NAME" and t.lower() in words

    def _eat_kw(self, *words: str) -> bool:
        if self._at_kw(*words):
            self.pos += 1
            return True
        return False

    def _expect_kw(self, word: str):
        if not self._eat_kw(word):
            raise SparqlError(f"expected {word.upper()}, got {self._peek()[1]!r}")

    def _fresh_var(self, tag: str) -> str:
        self._fresh += 1
        return f"?__{tag}{self._fresh}"

    # ----- terms ---------------------------------------------------------
    def _resolve_iriref(self, text: str) -> str:
        """Unwrap an IRIREF token; resolve relative references against
        the prologue ``BASE`` (RFC 3986 §5.2 strict). With no base a
        relative IRI stays verbatim — the string-typed relation matches
        lexical forms, so the query is still well-defined."""
        iri = text[1:-1]
        if self.base is None or is_absolute_iri(iri):
            return iri
        return resolve_iri(self.base, iri)

    def _expand_pname(self, text: str) -> str:
        pfx, _, local = text.partition(":")
        if pfx in self.prefixes:
            return self.prefixes[pfx] + local
        return text  # verbatim matching against the string-typed relation

    def _term(self, expect: str = "term", as_pred: bool = False) -> str:
        if self.term_mode and self._at("<") and not as_pred:
            raise SparqlError(
                "quoted-triple patterns are not supported in term mode")
        if self._at("<") and not as_pred:
            # RDF-star (SPARQL-star) quoted-triple pattern << s p o >>:
            # '<<' tokenizes as two OP '<' (a lone '<' is never a term),
            # likewise '>>'. Compiles to a ('quoted', s, p, o) pattern
            # term — bgp._pattern_scan resolves it against star_unnest.
            self._expect("<")
            self._expect("<")
            s = self._term("quoted subject")
            pd = self._term("quoted predicate", as_pred=True)
            o = self._term("quoted object")
            self._expect(">")
            self._expect(">")
            return ("quoted", s, pd, o)
        kind, text = self._next()
        if kind == "VAR":
            return "?" + text[1:]
        if kind == "IRIREF":
            iri = self._resolve_iriref(text)
            return f"<{iri}>" if self.term_mode else iri
        if kind == "PNAME":
            iri = self._expand_pname(text)
            return f"<{iri}>" if self.term_mode else iri
        if kind == "BNODE":
            return "?__bn_" + text[2:]
        if kind == "NUMBER":
            if self.term_mode:
                # SPARQL grammar abbreviations (§4.1.2): bare integer /
                # decimal / double tokens are typed literals with the
                # written lexical form
                if re.fullmatch(r"[+-]?\d+", text):
                    dt = _XSD + "integer"
                elif "e" in text or "E" in text:
                    dt = _XSD + "double"
                else:
                    dt = _XSD + "decimal"
                return f'"{text}"^^<{dt}>'
            return text
        if kind == "STRING":
            val = _unescape(text[1:-1])
            if self.term_mode:
                # full-term rendering: language tag / datatype become
                # part of the constant (term-identity matching)
                enc = '"' + _nt_escape(val) + '"'
                k2, t2 = self._peek()
                if k2 == "LANGTAG":
                    self._next()
                    enc += "@" + t2[1:]
                elif self._peek() == ("OP", "^^"):
                    self._next()
                    k3, t3 = self._next()
                    if k3 == "IRIREF":
                        enc += "^^<" + self._resolve_iriref(t3) + ">"
                    elif k3 == "PNAME":
                        enc += "^^<" + self._expand_pname(t3) + ">"
                    else:
                        raise SparqlError("datatype must be an IRI")
                return enc
            k2, _ = self._peek()
            if k2 == "LANGTAG":
                self._next()  # lexical-form matching only (module docstring)
            elif self._peek() == ("OP", "^^"):
                self._next()
                self._next()  # datatype IRI, ditto
            return val
        if kind == "NAME":
            if text == "a" and as_pred:
                return f"<{RDF_TYPE_IRI}>" if self.term_mode else RDF_TYPE_IRI
            if text in ("true", "false"):
                if self.term_mode:
                    return f'"{text}"^^<{_XSD}boolean>'
                return text
            if text.lower() in _KEYWORDS:
                raise SparqlError(
                    f"keyword {text!r} cannot be a term; quote it as a literal"
                )
            if self.term_mode:
                raise SparqlError(
                    f"bare name {text!r} is not a valid RDF term in term "
                    "mode; write an IRI, prefixed name, or quoted literal"
                )
            # engine extension: the relation matches strings verbatim, so
            # a bare name is accepted as a verbatim constant (keywords
            # excluded) — convenient for non-IRI KGs like the micro-KG
            return text
        raise SparqlError(f"expected {expect}, got {text!r}")

    # ----- property paths ------------------------------------------------
    def _path(self):
        """Predicate-position path → a bgp predicate term (str, list, or
        ('seq', parts))."""
        alts = [self._path_seq()]
        while self._eat("|"):
            alts.append(self._path_seq())
        if len(alts) == 1:
            return alts[0]
        if all(isinstance(a, str) and a[:1] not in ("^", "!", "?")
               and a[-1:] not in ("+", "*", "?") for a in alts):
            return alts  # plain-IRI alternation: one pushed isin scan
        for a in alts:
            if isinstance(a, str) and a[:1] == "?":
                raise SparqlError(
                    "variables cannot be path-alternation members")
        # general alternation (modified / inverse / negated / sequence
        # members): the union of the members' pair relations
        return ("alt", alts)

    def _path_seq(self):
        parts = [self._path_elt()]
        while self._eat("/"):
            parts.append(self._path_elt())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def _path_elt(self):
        inverse = self._eat("^")
        if self._eat("!"):
            elt = "!" + self._negated_set()
            if self._at("+") or self._at("*") or self._at("?"):
                # closure over a negated property set !(p1|p2)+: the
                # compiler closes over the complement edge relation
                op = self._next()[1]
                elt = ("closure", elt, op)
        else:
            elt = self._path_primary()
            if isinstance(elt, str) and not elt.startswith("?"):
                if self._eat("+"):
                    elt += "+"
                elif self._eat("*"):
                    elt += "*"
                elif self._eat("?"):
                    elt += "?"
                # further modifiers (e.g. ((p)+)* — the parens returned
                # the already-modified string) nest as closure tuples
                while elt[-1:] in ("+", "*", "?") and \
                        (self._at("+") or self._at("*") or self._at("?")):
                    op = self._next()[1]
                    elt = ("closure", elt, op)
            elif isinstance(elt, (list, tuple)) and \
                    (self._at("+") or self._at("*") or self._at("?")):
                # parenthesized alternation/sequence under a closure:
                # (p1|p2)+ / (p1/p2)* / (...)? — the compiler closes over
                # the composed edge relation; a closure tuple here is a
                # NESTED closure ((p/q)+)*, closed over the inner
                # closure's pair relation
                op = self._next()[1]
                elt = ("closure", elt, op)
            elif self._at("+") or self._at("*"):
                raise SparqlError(
                    "path modifiers apply to plain IRIs only"
                )
        if inverse:
            if not isinstance(elt, str) or elt.startswith("?"):
                raise SparqlError("inverse applies to plain IRI paths only")
            elt = "^" + elt
        return elt

    def _path_primary(self):
        if self._eat("("):
            inner = self._path()
            self._expect(")")
            return inner
        kind, text = self._peek()
        if kind in ("IRIREF", "PNAME", "VAR") or \
                (kind == "NAME" and (text == "a" or text.lower() not in _KEYWORDS)):
            return self._term("predicate", as_pred=True)
        raise SparqlError(f"expected a predicate path, got {text!r}")

    def _negated_set(self) -> str:
        if self._eat("("):
            members = [self._iri_only()]
            while self._eat("|"):
                members.append(self._iri_only())
            self._expect(")")
            return "(" + "|".join(members) + ")"
        return self._iri_only()

    def _iri_only(self) -> str:
        kind, text = self._peek()
        if kind in ("IRIREF", "PNAME") or \
                (kind == "NAME" and (text == "a" or text.lower() not in _KEYWORDS)):
            return self._term("IRI", as_pred=True)
        raise SparqlError(f"negated property sets take IRIs only, got {text!r}")

    # ----- triples block -------------------------------------------------
    def _triples_block(self, patterns: list):
        subj = self._term("subject")
        while True:
            pred = self._path()
            obj = self._term("object")
            self._emit(patterns, subj, pred, obj)
            self._maybe_annotation(patterns, subj, pred, obj)
            while self._eat(","):
                obj = self._term("object")
                self._emit(patterns, subj, pred, obj)
                self._maybe_annotation(patterns, subj, pred, obj)
            if self._eat(";"):
                k, t = self._peek()
                if k in ("IRIREF", "PNAME", "VAR") \
                        or (k == "NAME" and (t == "a" or t.lower() not in _KEYWORDS)) \
                        or t in ("^", "!", "("):
                    continue
            break
        self._eat(".")

    def _maybe_annotation(self, patterns: list, s, p, o) -> None:
        """SPARQL-star annotation block ``s p o {| q v ; … |}``: sugar
        for the base pattern (already emitted) plus patterns whose
        subject is the quoted form ``('quoted', s, p, o)`` — resolved by
        bgp.py against the star_unnest relation. ``{`` not followed by
        ``|`` is left untouched (a nested group may legally follow a
        triples block)."""
        if not (self._at("{") and self._peek(1) == ("OP", "|")):
            return
        self._next()
        self._next()
        if isinstance(s, tuple) or isinstance(o, tuple) \
                or not isinstance(p, str) \
                or p[:1] in ("^", "!") or p[-1:] in ("+", "*", "?"):
            raise SparqlError(
                "annotation blocks require a plain triple pattern "
                "(no property paths, no nested quoted terms)")
        qs = ("quoted", s, p, o)
        while True:
            pred = self._path()
            obj = self._term("object")
            self._emit(patterns, qs, pred, obj)
            if self._at("{") and self._peek(1) == ("OP", "|"):
                raise SparqlError(
                    "nested annotation blocks are not supported — bind "
                    "the annotation triple's quoted form explicitly")
            while self._eat(","):
                obj = self._term("object")
                self._emit(patterns, qs, pred, obj)
            if self._eat(";"):
                k, t = self._peek()
                if k in ("IRIREF", "PNAME", "VAR") \
                        or (k == "NAME" and (t == "a" or t.lower() not in _KEYWORDS)) \
                        or t in ("^", "!", "("):
                    continue
            break
        if not (self._eat("|") and self._eat("}")):
            raise SparqlError("expected '|}' closing an annotation block")

    def _emit(self, patterns: list, s: str, p, o: str):
        if isinstance(p, tuple) and p[0] == "seq":
            patterns.extend(seq_path(s, list(p[1]), o, tag=self._fresh_var("q")[1:]))
        else:
            patterns.append((s, p, o))

    # ----- group graph pattern ------------------------------------------
    def _group(self) -> dict:
        """Parse the body of ``{ … }`` (opening brace already consumed).
        Returns a bgp_query kwargs dict; UNION expressions land under
        ``spec['unions']`` — a list of branch-lists, one per ``{…} UNION
        {…} [UNION {…}…]`` block in the group, each branch itself a full
        group spec (so unions nest to any depth and branches may carry
        sub-SELECTs)."""
        spec: dict = {"patterns": []}
        while not self._eat("}"):
            if self._peek()[0] == "EOF":
                raise SparqlError("unterminated group: missing '}'")
            if self._eat("."):
                # grammar: GraphPatternNotTriples '.'? — an optional dot
                # may follow any group element (OPTIONAL { … } . etc.)
                continue
            if self._at("{"):
                self._next()
                if self._at_kw("select"):
                    # sub-SELECT: a full SELECT query as a group element;
                    # its solution relation joins the enclosing group on
                    # the shared (projected) variables
                    self._next()
                    # plain_vars is scoped per SELECT: the subquery sees
                    # none of the enclosing scope's markings (SPARQL
                    # subqueries only see their own bindings), and only
                    # its PROJECTED plain vars — the ones its join
                    # exposes — propagate back out
                    outer_plain = self.plain_vars
                    self.plain_vars = set()
                    sub = _parse_select(self, subquery=True)
                    inner_plain, self.plain_vars = self.plain_vars, outer_plain
                    proj = sub.get("select")
                    self.plain_vars |= (inner_plain if proj is None
                                        else {v for v in inner_plain if v in proj})
                    sub.pop("form", None)
                    spec.setdefault("subselects", []).append(sub)
                    continue
                first = self._group()
                branches = [first]
                while self._eat_kw("union"):
                    self._expect("{")
                    branches.append(self._group())
                if len(branches) == 1:
                    raise SparqlError("nested groups are only supported as UNION branches")
                spec.setdefault("unions", []).append(branches)
                continue
            if self._eat_kw("optional"):
                self._expect("{")
                sub = self._group()
                if set(sub) - {"patterns", "filters", "bind", "optional"}:
                    raise SparqlError(
                        "OPTIONAL groups support triple patterns, FILTER, "
                        "BIND and nested OPTIONAL only"
                    )
                if not sub["patterns"]:
                    raise SparqlError(
                        "OPTIONAL groups need at least one triple pattern"
                    )
                # plain pattern-list form when the group is a pure BGP;
                # dict form carries FILTER (→ the left-join condition,
                # LeftJoin(Ω1, Ω2, expr)), BIND, and nested OPTIONALs
                spec.setdefault("optional", []).append(
                    sub["patterns"] if set(sub) == {"patterns"} else sub)
                continue
            if self._eat_kw("filter"):
                if self._at_kw("not"):
                    self._next()
                    self._expect_kw("exists")
                    self._expect("{")
                    sub = self._negation_group("NOT EXISTS")
                    spec.setdefault("not_exists", []).append(sub)
                    continue
                if self._eat_kw("exists"):
                    self._expect("{")
                    sub = self._negation_group("EXISTS")
                    spec.setdefault("exists", []).append(sub)
                    continue
                spec.setdefault("filters", []).append(self._bracketed_expr())
                continue
            if self._eat_kw("minus"):
                self._expect("{")
                sub = self._negation_group("MINUS")
                spec.setdefault("minus", []).append(sub)
                continue
            if self._eat_kw("bind"):
                self._expect("(")
                expr = self._expr_until_as()
                self._expect_kw("as")
                k, t = self._next()
                if k != "VAR":
                    raise SparqlError("BIND needs `AS ?var`")
                self._expect(")")
                if t[1:] in spec.get("bind", {}):
                    raise SparqlError(
                        f"duplicate BIND target ?{t[1:]} in one group"
                    )
                if self.term_mode and \
                        getattr(self, "last_expr_kind", "var") not in ("var", "term"):
                    self.plain_vars.add(t[1:])
                spec.setdefault("bind", {})[t[1:]] = expr
                continue
            if self._eat_kw("values"):
                if "values" in spec:
                    raise SparqlError(
                        "multiple VALUES clauses in one group are not "
                        "supported"
                    )
                spec["values"] = self._values_clause()
                continue
            if self._eat_kw("graph"):
                g_term = self._term("graph name")
                if isinstance(g_term, tuple):
                    raise SparqlError("a quoted triple cannot name a GRAPH")
                self._expect("{")
                sub = self._group()
                if set(sub) - {"patterns", "graph_vars"}:
                    raise SparqlError(
                        "GRAPH groups support triple patterns (and nested "
                        "GRAPH) only")
                tagged = False
                for pat in sub["patterns"]:
                    if len(pat) == 4:
                        # nested GRAPH: the INNER graph term wins — the
                        # spec's algebra re-selects the active graph from
                        # the dataset (§13.3), so the outer term neither
                        # constrains nor is bound by inner patterns
                        spec["patterns"].append(pat)
                    else:
                        spec["patterns"].append((g_term,) + tuple(pat))
                        tagged = True
                if sub.get("graph_vars"):
                    spec.setdefault("graph_vars", set()).update(
                        sub["graph_vars"])
                if g_term.startswith("?"):
                    if not tagged:
                        # the variable would have to range over every
                        # named graph with nothing to bind it from
                        raise SparqlError(
                            f"GRAPH {g_term} needs a triple pattern of its "
                            "own; it binds only from patterns directly "
                            "inside it")
                    spec.setdefault("graph_vars", set()).add(g_term[1:])
                continue
            if self._eat_kw("service"):
                silent = bool(self._eat_kw("silent"))
                if self._peek()[0] == "VAR":
                    # variable endpoint: ranges over the REGISTERED
                    # endpoints (spec §18 leaves this implementation-
                    # defined); the var binds the endpoint IRI
                    endpoint = self._next()[1]
                else:
                    endpoint = self._term("service endpoint")
                self._expect("{")
                sub = self._group()
                spec.setdefault("services", []).append(
                    (endpoint, sub, silent, self.term_mode))
                continue
            self._triples_block(spec["patterns"])
        return spec

    def _negation_group(self, kind: str):
        """Parse an EXISTS / NOT EXISTS / MINUS body ``{ … }`` (opening
        brace consumed): triple patterns plus FILTERs. Returns the plain
        pattern list (pure-BGP form) or a ``{"patterns", "filters"}``
        dict — for EXISTS/NOT EXISTS the filters become the correlated
        semi/anti-join condition (spec §8.1.1: they may reference outer
        variables); for MINUS they pre-filter the independently-evaluated
        group (spec §8.3)."""
        sub = self._group()
        if set(sub) - {"patterns", "filters"}:
            raise SparqlError(
                f"{kind} groups support triple patterns and FILTER only")
        if not sub["patterns"]:
            raise SparqlError(
                f"{kind} groups need at least one triple pattern")
        return sub["patterns"] if set(sub) == {"patterns"} else sub

    def _values_clause(self):
        if self._peek()[0] == "VAR":
            names = ["?" + self._next()[1][1:]]
            self._expect("{")
            rows = []
            while not self._eat("}"):
                rows.append((self._values_term(),))
            return (names, rows)
        self._expect("(")
        names = []
        while self._peek()[0] == "VAR":
            names.append("?" + self._next()[1][1:])
        self._expect(")")
        self._expect("{")
        rows = []
        while not self._eat("}"):
            self._expect("(")
            row = []
            while not self._eat(")"):
                row.append(self._values_term())
            if len(row) != len(names):
                raise SparqlError("VALUES row arity mismatch")
            rows.append(tuple(row))
        return (names, rows)

    def _values_term(self):
        if self._eat_kw("undef"):
            return None
        return self._term("VALUES term")

    # ----- expressions → Spark SQL --------------------------------------
    def _bracketed_expr(self) -> str:
        """``(expr)`` — or SPARQL's bare-builtin FILTER form
        ``FILTER regex(?x, "p")``."""
        if self._eat("("):
            toks = self._collect_until_close()
        else:
            k, t = self._next()
            if k != "NAME" or not self._at("("):
                raise SparqlError("FILTER needs (expr) or builtin(...)")
            self._next()
            toks = [(k, t), ("OP", "(")] + self._collect_until_close() \
                + [("OP", ")")]
        return _ExprTranslator(self, toks).translate()

    def _collect_until_close(self) -> list:
        depth, out = 1, []
        while depth:
            tok = self._next()
            if tok[0] == "EOF":
                raise SparqlError("unterminated expression: missing ')'")
            if tok == ("OP", "("):
                depth += 1
            elif tok == ("OP", ")"):
                depth -= 1
                if not depth:
                    break
            out.append(tok)
        return out

    def _expr_until_as(self) -> str:
        depth, out = 0, []
        while True:
            k, t = self._peek()
            if k == "EOF":
                raise SparqlError("unterminated BIND/SELECT expression")
            if depth == 0 and k == "NAME" and t.lower() == "as":
                break
            tok = self._next()
            if tok == ("OP", "("):
                depth += 1
            elif tok == ("OP", ")"):
                if depth == 0:
                    self.pos -= 1
                    break
                depth -= 1
            out.append(tok)
        tr = _ExprTranslator(self, out)
        sql = tr.translate()
        # stashed for the BIND / SELECT-expression sites: whether the
        # bound variable holds an encoded term or a plain value
        self.last_expr_kind = tr.last_kind
        return sql


class _ExprTranslator:
    """SPARQL expression tokens → one Spark SQL expression string.

    Operands carry a tag ('var' | 'num' | other) so numeric comparisons
    can cast the variable side to DOUBLE (SPARQL numeric semantics over
    the string-typed relation)."""

    def __init__(self, parser: _Parser, toks: list):
        self.p = parser
        self.tm = parser.term_mode
        self.toks = toks
        self.i = 0

    # term-mode value model: kind 'var' (a solution column) and kind
    # 'term' (an IRI constant / a term-returning builtin like DATATYPE)
    # hold ENCODED terms; everything else is a plain SQL value. The two
    # bridges:
    def _lexed(self, sql: str, kind: str) -> str:
        """Plain lexical form of an operand (string-function argument
        position): strips the term encoding in term mode."""
        if self.tm and kind in ("var", "term"):
            return _sql_lex(sql)
        return sql

    def _as_num(self, sql: str, kind: str) -> str:
        """Numeric value of an operand (arithmetic / ordering position):
        lexical form try_cast to DOUBLE in term mode (a non-numeric term
        yields NULL — FILTER then drops the row, SPARQL's type-error
        semantics; a hard CAST would abort the job under ANSI mode), the
        historical bare CAST otherwise."""
        if self.tm and kind in ("var", "term"):
            return f"try_cast({_sql_lex(sql)} AS DOUBLE)"
        return f"CAST({sql} AS DOUBLE)"

    def _peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("EOF", "")

    def _next(self):
        tok = self._peek()
        self.i += 1
        return tok

    def _eat(self, text: str) -> bool:
        if self._peek() == ("OP", text):
            self.i += 1
            return True
        return False

    def translate(self) -> str:
        sql, kind = self._or()
        if self._peek()[0] != "EOF":
            raise SparqlError(f"trailing tokens in expression: {self._peek()[1]!r}")
        self.last_kind = kind
        return sql

    def _or(self):
        sql, kind = self._and()
        while self._eat("||"):
            rhs, _ = self._and()
            sql, kind = f"({sql} OR {rhs})", "bool"
        return sql, kind

    def _and(self):
        sql, kind = self._not()
        while self._eat("&&"):
            rhs, _ = self._not()
            sql, kind = f"({sql} AND {rhs})", "bool"
        return sql, kind

    def _not(self):
        if self._eat("!"):
            sql, _ = self._not()
            return f"(NOT {sql})", "bool"
        return self._comparison()

    _CMP = {"=": "=", "!=": "<>", "<": "<", ">": ">", "<=": "<=", ">=": ">="}

    def _comparison(self):
        sql, kind = self._additive()
        k, t = self._peek()
        if k == "OP" and t in self._CMP:
            self._next()
            rhs, rkind = self._additive()
            if t in ("<", ">", "<=", ">="):
                if kind in ("var", "term") and rkind == "num":
                    sql = self._as_num(sql, kind)
                elif kind == "num" and rkind in ("var", "term"):
                    rhs = self._as_num(rhs, rkind)
            elif self.tm:
                # term-mode =/!=: RDFterm-equal over the encoding. A
                # plain-string side (a "str" constant or a string
                # function result) is a SIMPLE LITERAL term — re-encode
                # it; a numeric side compares by VALUE (lex-cast the
                # term side, SPARQL's numeric operator mapping)
                if kind in ("var", "term") and rkind in ("str", "call"):
                    rhs = _sql_simple_literal(rhs)
                elif rkind in ("var", "term") and kind in ("str", "call"):
                    sql = _sql_simple_literal(sql)
                elif kind in ("var", "term") and rkind == "num":
                    sql = self._as_num(sql, kind)
                elif rkind in ("var", "term") and kind == "num":
                    rhs = self._as_num(rhs, rkind)
            return f"({sql} {self._CMP[t]} {rhs})", "bool"
        if k == "NAME" and t.lower() == "in":
            self._next()
            return self._in_list(sql, kind, negated=False)
        if k == "NAME" and t.lower() == "not" and \
                self._peek(1)[1].lower() == "in":
            self._next()
            self._next()
            return self._in_list(sql, kind, negated=True)
        return sql, kind

    def _in_list(self, lhs: str, lkind: str, negated: bool):
        if not self._eat("("):
            raise SparqlError("IN needs a parenthesized list")
        items = []
        while not self._eat(")"):
            item, ikind = self._additive()
            if self.tm and lkind in ("var", "term") and ikind in ("str", "call"):
                item = _sql_simple_literal(item)  # simple-literal term
            items.append(item)
            self._eat(",")
        op = "NOT IN" if negated else "IN"
        return f"({lhs} {op} ({', '.join(items)}))", "bool"

    def _additive(self):
        sql, kind = self._mult()
        while True:
            k, t = self._peek()
            if k == "OP" and t in ("+", "-"):
                self._next()
                rhs, rkind = self._mult()
                if self.tm:
                    sql, rhs = self._as_num(sql, kind), self._as_num(rhs, rkind)
                sql, kind = f"({sql} {t} {rhs})", "num"
            else:
                return sql, kind

    def _mult(self):
        sql, kind = self._unary()
        while True:
            k, t = self._peek()
            if k == "OP" and t in ("*", "/"):
                self._next()
                rhs, rkind = self._unary()
                if self.tm:
                    sql, rhs = self._as_num(sql, kind), self._as_num(rhs, rkind)
                sql, kind = f"({sql} {t} {rhs})", "num"
            else:
                return sql, kind

    def _unary(self):
        if self._eat("-"):
            sql, _ = self._unary()
            return f"(- {sql})", "num"
        return self._primary()

    def _primary(self):
        kind, text = self._next()
        if kind == "VAR":
            name = text[1:]
            if not re.fullmatch(r"[A-Za-z_]\w*", name):
                raise SparqlError(f"variable ?{name} is not SQL-addressable")
            if self.tm and name in self.p.plain_vars:
                return name, "str"  # BIND/SELECT-expr var holding a plain value
            return name, "var"
        if kind == "NUMBER":
            return text, "num"
        if kind == "STRING":
            return _sql_quote(_unescape(text[1:-1])), "str"
        if kind in ("IRIREF", "PNAME"):
            term = self.p._resolve_iriref(text) if kind == "IRIREF" \
                else self.p._expand_pname(text)
            if self.tm:
                return _sql_quote(f"<{term}>"), "term"
            return _sql_quote(term), "str"
        if kind == "OP" and text == "(":
            sql, k = self._or()
            if not self._eat(")"):
                raise SparqlError("missing ')' in expression")
            return f"({sql})", k
        if kind == "NAME":
            low = text.lower()
            if low in ("true", "false"):
                return low, "bool"
            if self._eat("("):
                return self._function(low)
            raise SparqlError(f"bare name {text!r} in expression")
        raise SparqlError(f"unexpected token {text!r} in expression")

    # term builtins (term mode only): name → arity
    _TERM_FUNCS = {
        "lang": 1, "langmatches": 2, "datatype": 1, "isiri": 1, "isuri": 1,
        "isblank": 1, "isliteral": 1, "isnumeric": 1, "sameterm": 2,
        "strlang": 2, "strdt": 2,
    }

    def _function(self, name: str):
        args, kinds = [], []
        while not self._eat(")"):
            arg, k = self._or()
            args.append(arg)
            kinds.append(k)
            self._eat(",")

        def lex(i: int) -> str:
            return self._lexed(args[i], kinds[i])

        if name == "bound":
            if len(args) != 1:
                raise SparqlError("BOUND takes one variable")
            return f"({args[0]} IS NOT NULL)", "bool"
        if name in self._TERM_FUNCS:
            if not self.tm:
                raise SparqlError(
                    f"{name.upper()} needs the term-encoded relation — "
                    "run sparql_query(..., term_mode=True) over "
                    "bgp.terms_spo(triples)")
            if len(args) != self._TERM_FUNCS[name]:
                raise SparqlError(
                    f"{name.upper()} takes {self._TERM_FUNCS[name]} argument(s)")
            return self._term_function(name, args, kinds, lex)
        if name == "regex":
            if len(args) >= 2:
                args[0] = lex(0)
            if len(args) == 3:
                if args[2] == "'i'":
                    return f"({args[0]} RLIKE concat('(?i)', {args[1]}))", "bool"
                raise SparqlError(f"REGEX flags {args[2]} not supported")
            if len(args) != 2:
                raise SparqlError("REGEX takes (text, pattern[, flags])")
            return f"({args[0]} RLIKE {args[1]})", "bool"
        if name == "str":
            if len(args) != 1:
                raise SparqlError("STR takes one argument")
            if self.tm and kinds[0] in ("var", "term"):
                return lex(0), "str"
            return f"CAST({args[0]} AS STRING)", "str"
        if name in ("strbefore", "strafter"):
            args = [self._lexed(a, k) for a, k in zip(args, kinds)]
            # SPARQL §17.4.3.7-8: '' when the delimiter never occurs;
            # STRBEFORE(x,'') = '', STRAFTER(x,'') = x (instr(x,'') = 1
            # in Spark, so both fall out of the found branch)
            if len(args) != 2:
                raise SparqlError(f"{name.upper()} takes (string, search)")
            x, s = args
            if name == "strbefore":
                return (
                    f"(CASE WHEN instr({x}, {s}) > 0 THEN "
                    f"substring({x}, 1, instr({x}, {s}) - 1) ELSE '' END)",
                    "str",
                )
            return (
                f"(CASE WHEN instr({x}, {s}) > 0 THEN "
                f"substring({x}, instr({x}, {s}) + length({s})) "
                f"ELSE '' END)",
                "str",
            )
        if name in ("sha256", "sha384", "sha512"):
            if len(args) != 1:
                raise SparqlError(f"{name.upper()} takes one argument")
            return f"sha2({lex(0)}, {name[3:]})", "call"
        if name == "encode_for_uri":
            if len(args) != 1:
                raise SparqlError("ENCODE_FOR_URI takes one argument")
            # §17.4.3.12 / XPath fn:encode-for-uri: percent-encode all
            # but unreserved [A-Za-z0-9_.~-]. Spark url_encode is form
            # encoding — fix its three divergences: space → '+',
            # '*' left bare, '~' encoded as %7E
            return (f"replace(replace(replace(url_encode({lex(0)}), "
                    "'+', '%20'), '*', '%2A'), '%7E', '~')", "str")
        if name in ("iri", "uri"):
            if len(args) != 1:
                raise SparqlError(f"{name.upper()} takes one argument")
            if self.tm:
                # IRI(str) constructs an IRI term from the lexical form
                return f"concat('<', {lex(0)}, '>')", "term"
            # bindings are lexical forms engine-wide, so IRI(str) is the
            # string itself (resolution against BASE happens at parse
            # time for constant terms)
            return f"CAST({args[0]} AS STRING)", "str"
        if name in ("coalesce", "if"):
            # §17.4.1.2-3: COALESCE/IF are TERM-returning. When every
            # value branch is a var/term in term mode, pass the branches
            # through UNCHANGED and propagate kind 'term', so downstream
            # DATATYPE/isIRI/term-identity over the result stay correct.
            # With any plain branch the result is a plain value: fall
            # through to the lexical path (documented deviation, like
            # the FILTER-before-BIND edge — mixing plain and term
            # branches yields lexical forms).
            value_kinds = kinds[1:] if name == "if" else kinds
            if self.tm and value_kinds and \
                    all(k in ("var", "term") for k in value_kinds):
                return f"{_FUNC_MAP[name]}({', '.join(args)})", "term"
        if name in _FUNC_MAP:
            # string/numeric builtins operate on lexical forms: strip the
            # term encoding off var/term args in term mode (no-op otherwise)
            args = [self._lexed(a, k) for a, k in zip(args, kinds)]
            return f"{_FUNC_MAP[name]}({', '.join(args)})", "call"
        if name in _AGG_FUNCS:
            raise SparqlError(
                f"aggregate {name.upper()} is only allowed in the SELECT "
                "clause / HAVING"
            )
        raise SparqlError(f"function {name.upper()} is not supported")

    def _term_function(self, name: str, args, kinds, lex):
        """SPARQL term accessors / constructors over the terms_spo
        encoding — pure string SQL, no Python. Documented totalizations
        (the engine never hard-errors a row, matching FILTER's
        error-drops-row effect through NULL/'' instead): LANG of a
        non-literal is '' (spec: LANG is defined on literals only);
        DATATYPE of a non-literal is NULL (comparisons then fail →
        FILTER drops the row, the spec's error semantics)."""
        x = args[0]
        lang_re = "'^\".*\"@[A-Za-z0-9-]+$'"
        dt_re = "'\\\\^\\\\^<[^>]*>$'"
        if name == "lang":
            return (f"(CASE WHEN {x} RLIKE {lang_re} THEN "
                    f"regexp_extract({x}, '@([A-Za-z0-9-]+)$', 1) "
                    f"ELSE '' END)", "str")
        if name == "langmatches":
            tag, rng = lex(0), self._lexed(args[1], kinds[1])
            return (f"(CASE WHEN {rng} = '*' THEN {tag} <> '' "
                    f"ELSE lower({tag}) = lower({rng}) "
                    f"OR startswith(lower({tag}), concat(lower({rng}), '-')) "
                    f"END)", "bool")
        if name == "datatype":
            return (f"(CASE WHEN {x} RLIKE {dt_re} THEN "
                    f"regexp_extract({x}, '\\\\^\\\\^(<[^>]*>)$', 1) "
                    f"WHEN {x} RLIKE {lang_re} THEN '<{_RDF_LANGSTRING}>' "
                    f"WHEN {x} LIKE '\"%' THEN '<{_XSD}string>' "
                    f"ELSE NULL END)", "term")
        if name in ("isiri", "isuri"):
            return f"({x} LIKE '<%' AND NOT {x} LIKE '<<%')", "bool"
        if name == "isblank":
            return f"startswith({x}, '_:')", "bool"
        if name == "isliteral":
            return f"startswith({x}, '\"')", "bool"
        if name == "isnumeric":
            num_re = f"'\\\\^\\\\^<{_XSD}({_NUMERIC_XSD_LOCAL})>$'"
            return (f"({x} RLIKE {num_re} "
                    f"AND try_cast({_sql_lex(x)} AS DOUBLE) IS NOT NULL)", "bool")
        if name == "sameterm":
            return f"({args[0]} = {args[1]})", "bool"
        if name == "strlang":
            # the stored encoding is ESCAPED: re-apply the serializer
            # escapes to the raw lexical form before wrapping
            return (f"concat('\"', {_sql_nt_escape(lex(0))}, '\"@', "
                    f"{self._lexed(args[1], kinds[1])})", "term")
        if name == "strdt":
            return (f"concat('\"', {_sql_nt_escape(lex(0))}, '\"^^<', "
                    f"{self._lexed(args[1], kinds[1])}, '>')", "term")
        raise SparqlError(f"unhandled term function {name}")  # pragma: no cover


# ---------------------------------------------------------------------------
# query forms
# ---------------------------------------------------------------------------

def _prologue(p: _Parser):
    while True:
        if p._eat_kw("prefix"):
            k, t = p._next()
            if k == "PNAME" and t.endswith(":") and ":" not in t[:-1]:
                pfx = t[:-1]  # 'pfx:' tokenizes as a local-less PNAME
            elif (k, t) == ("OP", ":"):
                pfx = ""  # default prefix `PREFIX : <iri>`
            else:
                raise SparqlError(f"PREFIX needs `name:`, got {t!r}")
            k2, iri = p._next()
            if k2 != "IRIREF":
                raise SparqlError("PREFIX needs an <iri>")
            p.prefixes[pfx] = p._resolve_iriref(iri)
            continue
        if p._eat_kw("base"):
            k2, iri = p._next()
            if k2 != "IRIREF":
                raise SparqlError("BASE needs an <iri>")
            # later BASE declarations resolve against earlier ones
            # (RFC 3986 §5.1.1 chaining); the effective base must end
            # up absolute or relative refs would silently mis-resolve
            p.base = p._resolve_iriref(iri)
            if not is_absolute_iri(p.base):
                raise SparqlError(
                    f"BASE must resolve to an absolute IRI, got <{p.base}>")
            continue
        break


def parse_sparql(text: str, term_mode: bool = False) -> dict:
    """Parse a SPARQL query string into an execution spec dict (exposed
    for tests; :func:`sparql_query` is the run-it entry point).
    ``term_mode`` renders every constant in canonical N-Triples term
    syntax and enables the term builtins — the spec then executes over
    the :func:`.bgp.terms_spo` relation."""
    p = _Parser(text, term_mode=term_mode)
    _prologue(p)
    spec = _parse_form(p)
    if term_mode:
        spec["term_mode"] = True
    return spec


def _parse_form(p: _Parser) -> dict:
    if p._eat_kw("select"):
        return _parse_select(p)
    if p._eat_kw("ask"):
        spec = _parse_where(p)
        spec["form"] = "ask"
        _parse_modifiers(p, spec, allow=())
        return spec
    if p._eat_kw("construct"):
        if p._at_kw("where") or p._at_kw("from"):
            # CONSTRUCT WHERE { … } shorthand: the pattern is its own
            # template (spec §10.2.2 — plain triple patterns only)
            spec = _parse_where(p)
            for t in spec["patterns"]:
                if not isinstance(t[1], str) or t[1][:1] in ("^", "!") \
                        or t[1][-1:] in ("+", "*", "?") \
                        or any(isinstance(term, tuple) for term in t):
                    raise SparqlError(
                        "CONSTRUCT WHERE takes plain triple patterns only")
            if any(spec.get(k) for k in ("optional", "filters", "unions",
                                         "values", "bind", "not_exists",
                                         "minus", "subselects", "exists",
                                         "graph_vars", "services")):
                raise SparqlError(
                    "CONSTRUCT WHERE takes plain triple patterns only")
            spec["form"] = "construct"
            spec["template"] = list(spec["patterns"])
            _parse_modifiers(p, spec, allow=("order", "limit"))
            return spec
        p._expect("{")
        template: list = []
        while not p._eat("}"):
            p._triples_block(template)
        for t in template:
            if not isinstance(t[1], str) or t[1][:1] in ("^", "!") \
                    or t[1][-1:] in ("+", "*", "?") \
                    or any(isinstance(term, tuple) for term in t):
                raise SparqlError("CONSTRUCT templates take plain terms only")
        spec = _parse_where(p)
        spec["form"] = "construct"
        spec["template"] = template
        _parse_modifiers(p, spec, allow=("order", "limit"))
        return spec
    if p._eat_kw("describe"):
        targets = []
        while True:
            k, t = p._peek()
            if k in ("VAR", "IRIREF", "PNAME") or \
                    (k == "NAME" and t.lower() not in _KEYWORDS):
                targets.append(p._term("DESCRIBE target"))
            else:
                break
        if not targets:
            raise SparqlError("DESCRIBE needs ≥1 resource or variable")
        spec = {"patterns": []}
        if p._at_kw("where") or p._at("{") or p._at_kw("from"):
            spec = _parse_where(p)
        spec["form"] = "describe"
        spec["describe"] = targets
        _parse_modifiers(p, spec, allow=())
        return spec
    raise SparqlError(f"expected SELECT/ASK/CONSTRUCT/DESCRIBE, got {p._peek()[1]!r}")


def _parse_select(p: _Parser, subquery: bool = False) -> dict:
    # REDUCED permits (but does not require) duplicate elimination —
    # implementing it as DISTINCT is spec-conformant and deterministic
    distinct = bool(p._eat_kw("distinct")) or bool(p._eat_kw("reduced"))
    select: list[str] | None = []
    aggregates: dict[str, str] = {}
    proj_exprs: dict[str, str] = {}
    if p._eat("*"):
        select = None
    else:
        while True:
            k, t = p._peek()
            if k == "VAR":
                p._next()
                select.append(t[1:])
            elif p._at("("):
                p._next()
                k2, t2 = p._peek()
                if k2 == "NAME" and t2.lower() in _AGG_FUNCS:
                    name, expr = _select_agg(p)
                    aggregates[name] = expr
                else:
                    # SPARQL 1.1 projection expression: (expr AS ?v)
                    expr = p._expr_until_as()
                    p._expect_kw("as")
                    k3, t3 = p._next()
                    if k3 != "VAR":
                        raise SparqlError(
                            "SELECT expression needs `AS ?var`")
                    p._expect(")")
                    name = t3[1:]
                    if p.term_mode and \
                            getattr(p, "last_expr_kind", "var") not in ("var", "term"):
                        p.plain_vars.add(name)
                    proj_exprs[name] = expr
                select.append(name)
            else:
                break
        if not select:
            raise SparqlError("empty SELECT clause")
    spec = _parse_where(p)
    if subquery and ("from_graphs" in spec or "from_named" in spec):
        raise SparqlError("sub-SELECT cannot carry FROM/FROM NAMED")
    spec["form"] = "select"
    spec["distinct"] = distinct
    spec["select"] = select
    if aggregates:
        spec["aggregates"] = aggregates
    if proj_exprs:
        spec["proj_exprs"] = proj_exprs
    _parse_modifiers(p, spec, allow=("group", "having", "order", "limit"),
                     stop_at_brace=subquery)
    if subquery:
        p._expect("}")
    if p.term_mode:
        # the flag must reach SUB-select specs too, or an inner ORDER BY
        # would silently sort encoded terms lexically
        spec["term_mode"] = True
    return spec


def _select_agg(p: _Parser) -> tuple[str, str]:
    """Parse ``AGG(expr) AS ?name`` after the opening paren."""
    k, t = p._next()
    if k != "NAME" or t.lower() not in _AGG_FUNCS:
        raise SparqlError(
            "SELECT expressions must be aggregates: (COUNT(...) AS ?v)"
        )
    func = t.lower()
    p._expect("(")
    distinct = bool(p._eat_kw("distinct"))
    if distinct and func not in ("count", "group_concat"):
        raise SparqlError(
            "DISTINCT is supported inside COUNT/GROUP_CONCAT only")
    separator = None
    if func == "count" and p._eat("*"):
        inner = "*"
        p._expect(")")
    else:
        # _collect_until_close consumes through the matching ')'
        toks = p._collect_until_close()
        if func == "group_concat":
            toks, separator = _split_separator(toks)
        tr = _ExprTranslator(p, toks)
        inner = tr.translate()
        inner_kind = tr.last_kind
    p._expect_kw("as")
    k2, t2 = p._next()
    if k2 != "VAR":
        raise SparqlError("aggregate needs `AS ?var`")
    p._expect(")")
    term_arg = p.term_mode and inner != "*" and inner_kind in ("var", "term")
    if func == "sample":
        sql = f"first({inner})"
    elif func in ("sum", "avg"):
        if term_arg:
            # SUM/AVG aggregate VALUES: lex-strip the encoding; a
            # non-numeric term becomes NULL and is ignored by the
            # aggregate (a bare CAST would abort under ANSI mode)
            inner = f"try_cast({_sql_lex(inner)} AS DOUBLE)"
        sql = f"{func}(CAST({inner} AS DOUBLE))"
    elif func in ("min", "max") and term_arg:
        # value-correct MIN/MAX over encoded terms: pick by the §15.1
        # sort key, not the encoded string (lexicographic min of
        # '"17.5"^^…' vs '"42"^^…' would be silently wrong); NULL num
        # (non-numeric literal) maps to +inf — same total order as
        # ORDER BY's asc_nulls_last
        rank, num, lex = _term_sort_sql(inner)
        key = (f"struct({rank}, coalesce({num}, "
               f"cast('Infinity' as double)), {lex}, {inner})")
        sql = f"{'min_by' if func == 'min' else 'max_by'}({inner}, {key})"
    elif func == "group_concat":
        # deterministic rendering: SPARQL leaves group order undefined,
        # the engine pins lexicographic order (portable across runs,
        # partitionings, and the DuckDB oracle's ORDER BY)
        collect = "collect_set" if distinct else "collect_list"
        sep = separator if separator is not None else _sql_quote(" ")
        sql = f"array_join(sort_array({collect}({inner})), {sep})"
    elif distinct:
        sql = f"count(DISTINCT {inner})"
    else:
        sql = f"{func}({inner})"
    return t2[1:], sql


def _split_separator(toks: list) -> tuple[list, str | None]:
    """Split ``GROUP_CONCAT`` argument tokens at a top-level ``;`` and
    parse the trailing ``SEPARATOR = "str"`` clause. Returns
    (expr_tokens, quoted_sql_separator | None)."""
    depth = 0
    for i, (k, t) in enumerate(toks):
        if (k, t) == ("OP", "("):
            depth += 1
        elif (k, t) == ("OP", ")"):
            depth -= 1
        elif depth == 0 and (k, t) == ("OP", ";"):
            tail = toks[i + 1:]
            if len(tail) != 3 or tail[0][0] != "NAME" \
                    or tail[0][1].lower() != "separator" \
                    or tail[1] != ("OP", "=") or tail[2][0] != "STRING":
                raise SparqlError(
                    'GROUP_CONCAT takes `; SEPARATOR = "str"` only')
            return toks[:i], _sql_quote(_unescape(tail[2][1][1:-1]))
    return toks, None


def _parse_where(p: _Parser) -> dict:
    # DatasetClause* precedes WHERE (spec §13.2): FROM builds the merged
    # default graph, FROM NAMED enumerates the named graphs; when either
    # is present the dataset is EXACTLY what the clauses describe
    from_graphs: list[str] = []
    from_named: list[str] = []
    while p._eat_kw("from"):
        (from_named if p._eat_kw("named") else from_graphs).append(
            p._iri_only())
    p._eat_kw("where")
    p._expect("{")
    spec = p._group()
    if from_graphs:
        spec["from_graphs"] = from_graphs
    if from_named:
        spec["from_named"] = from_named
    return spec


def _parse_modifiers(p: _Parser, spec: dict, allow: tuple,
                     stop_at_brace: bool = False):
    while p._peek()[0] != "EOF" and not (stop_at_brace and p._at("}")):
        if p._at_kw("group") and "group" in allow:
            p._next()
            p._expect_kw("by")
            keys = []
            while p._peek()[0] == "VAR":
                keys.append(p._next()[1][1:])
            if not keys:
                raise SparqlError("GROUP BY needs ≥1 variable")
            spec["group_by"] = keys
            continue
        if p._at_kw("having") and "having" in allow:
            p._next()
            spec.setdefault("having", []).append(_having_expr(p, spec))
            continue
        if p._at_kw("order") and "order" in allow:
            p._next()
            p._expect_kw("by")
            order = []
            while True:
                if p._peek()[0] == "VAR":
                    order.append((p._next()[1][1:], False))
                elif p._at_kw("asc", "desc"):
                    desc = p._next()[1].lower() == "desc"
                    p._expect("(")
                    k, t = p._next()
                    if k != "VAR":
                        raise SparqlError("ORDER BY ASC/DESC takes a variable")
                    p._expect(")")
                    order.append((t[1:], desc))
                else:
                    break
            if not order:
                raise SparqlError("ORDER BY needs ≥1 sort key")
            spec["order_by"] = order
            continue
        if p._at_kw("limit") and "limit" in allow:
            p._next()
            k, t = p._next()
            if k != "NUMBER" or not t.isdigit():
                raise SparqlError("LIMIT needs a non-negative integer")
            spec["limit"] = int(t)
            continue
        if p._at_kw("offset") and "limit" in allow:
            p._next()
            k, t = p._next()
            if k != "NUMBER" or not t.isdigit():
                raise SparqlError("OFFSET needs a non-negative integer")
            spec["offset"] = int(t)
            continue
        raise SparqlError(f"unexpected trailing token {p._peek()[1]!r}")


def _having_expr(p: _Parser, spec: dict) -> str:
    """HAVING may reference an aggregate (rewritten to its SELECT alias)
    or an alias/group key directly."""
    p._expect("(")
    toks = p._collect_until_close()
    # allow aggregate calls inside HAVING by translating them the same
    # way as SELECT aggregates, then aliasing
    out = []
    i = 0
    aggs: dict[str, str] = dict(spec.get("aggregates", {}))
    while i < len(toks):
        k, t = toks[i]
        if k == "NAME" and t.lower() in _AGG_FUNCS and \
                i + 1 < len(toks) and toks[i + 1] == ("OP", "("):
            depth, j = 1, i + 2
            inner = []
            while depth:
                if j >= len(toks):
                    raise SparqlError("unterminated aggregate in HAVING")
                if toks[j] == ("OP", "("):
                    depth += 1
                elif toks[j] == ("OP", ")"):
                    depth -= 1
                    if not depth:
                        break
                inner.append(toks[j])
                j += 1
            func = t.lower()
            if inner == [("OP", "*")] and func == "count":
                sql = "count(*)"
            else:
                tr = _ExprTranslator(p, inner)
                arg = tr.translate()
                # mirror _select_agg's term-mode rewrites exactly — the
                # alias lookup below matches by SQL string equality
                term_arg = p.term_mode and tr.last_kind in ("var", "term")
                if func in ("sum", "avg"):
                    if term_arg:
                        arg = f"try_cast({_sql_lex(arg)} AS DOUBLE)"
                    sql = f"{func}(CAST({arg} AS DOUBLE))"
                elif func == "sample":
                    sql = f"first({arg})"
                elif func in ("min", "max") and term_arg:
                    rank, num, lex = _term_sort_sql(arg)
                    key = (f"struct({rank}, coalesce({num}, "
                           f"cast('Infinity' as double)), {lex}, {arg})")
                    sql = (f"{'min_by' if func == 'min' else 'max_by'}"
                           f"({arg}, {key})")
                else:
                    sql = f"{func}({arg})"
            alias = next((n for n, s in aggs.items() if s == sql), None)
            if alias is None:
                raise SparqlError(
                    "HAVING aggregates must also appear in the SELECT clause"
                )
            out.append(("VAR", "?" + alias))
            i = j + 1  # past the aggregate's closing ')'
            continue
        out.append(toks[i])
        i += 1
    return _ExprTranslator(p, out).translate()


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------

def _term_sort_sql(x: str) -> tuple[str, str, str]:
    """The §15.1 value-order key components of a term-encoded value:
    (kind rank, numeric value or NULL, lexical form)."""
    rank = (f"(CASE WHEN {x} IS NULL THEN 0 "
            f"WHEN startswith({x}, '_:') THEN 1 "
            f"WHEN startswith({x}, '<<') THEN 4 "
            f"WHEN {x} LIKE '<%' THEN 2 ELSE 3 END)")
    num = (f"(CASE WHEN {x} RLIKE '\\\\^\\\\^<{_XSD}"
           f"({_NUMERIC_XSD_LOCAL})>$' "
           f"THEN try_cast({_sql_lex(x)} AS DOUBLE) ELSE NULL END)")
    return rank, num, _sql_lex(x)


def _term_order_keys(name: str, desc: bool) -> list:
    """SPARQL §15.1 value ordering over the term encoding: unbound <
    blank nodes < IRIs < literals (quoted triples after everything);
    numeric-typed literals order by VALUE among themselves; lexical form
    next; the full encoded string last as a deterministic tiebreaker."""
    rank, num, lex = _term_sort_sql(name)
    rank_c, num_c = F.expr(rank), F.expr(num)
    lex_c, full_c = F.expr(lex), F.col(name)
    if desc:
        # exact mirror of the ascending total order
        return [rank_c.desc(), num_c.desc_nulls_first(),
                lex_c.desc(), full_c.desc()]
    return [rank_c.asc(), num_c.asc_nulls_last(), lex_c.asc(), full_c.asc()]


def _order_cols(df: DataFrame, order_by: list, term_mode: bool) -> list:
    """ORDER BY sort columns: term-mode string columns get the §15.1
    value-order keys (non-string columns — aggregates, plain numeric
    BINDs — keep native ordering)."""
    dtypes = dict(df.dtypes)
    cols = []
    for n, d in order_by:
        if term_mode and dtypes.get(n) == "string":
            cols += _term_order_keys(n, d)
        else:
            cols.append(F.col(n).desc() if d else F.col(n).asc())
    return cols


def _apply_graph_semantics(spec: dict, has_graph_col: bool) -> dict:
    """SPARQL dataset semantics over the relation shape: 4-term (GRAPH)
    patterns need a quads relation; over a quads relation, un-GRAPHed
    patterns match the DEFAULT graph ('_:default'); a variable graph
    term ranges over NAMED graphs only (a ``<> '_:default'`` filter)."""
    def conv(p):
        if len(p) == 4:
            if not has_graph_col:
                raise SparqlError(
                    "GRAPH patterns need a quads relation (graph column) — "
                    "adapt with bgp.quads_spo"
                )
            return p
        if not has_graph_col:
            return p
        # kleene paths survive the default-graph prefix: a constant
        # graph term makes the closure run over that graph's slice
        # (bgp._closure_relation), per SPARQL's graph-scoped paths
        return ("_:default",) + tuple(p)

    spec = dict(spec)
    if spec.get("unions"):
        spec["unions"] = [[_apply_graph_semantics(b, has_graph_col)
                           for b in branches]
                          for branches in spec["unions"]]
    if "patterns" in spec:
        spec["patterns"] = [conv(p) for p in spec["patterns"]]
    def conv_opt(ent):
        if isinstance(ent, dict):
            out = dict(ent)
            out["patterns"] = [conv(p) for p in out["patterns"]]
            if out.get("optional"):
                out["optional"] = [conv_opt(n) for n in out["optional"]]
            return out
        if ent and isinstance(ent[0], (list, tuple)):
            return [conv(p) for p in ent]
        return conv(ent)

    if spec.get("optional"):
        spec["optional"] = [conv_opt(ent) for ent in spec["optional"]]
    for key in ("exists", "not_exists", "minus"):
        if spec.get(key):
            spec[key] = [
                dict(grp, patterns=[conv(p) for p in grp["patterns"]])
                if isinstance(grp, dict) else [conv(p) for p in grp]
                for grp in spec[key]
            ]
    if spec.get("subselects"):
        spec["subselects"] = [_apply_graph_semantics(s, has_graph_col)
                              for s in spec["subselects"]]
    for v in sorted(spec.pop("graph_vars", ())):
        spec.setdefault("filters", []).append(f"{v} <> '_:default'")
    return spec


def _apply_dataset_clauses(quads: DataFrame, spec: dict) -> DataFrame:
    """FROM / FROM NAMED dataset construction (spec §13.2) over a quads
    relation: the default graph becomes the set-union of the FROM
    graphs (re-labelled '_:default'), the named-graph set becomes
    exactly the FROM NAMED graphs; everything else — including the
    relation's original default graph — is out of the dataset.

    Scale shape: two pushed-down ``graph IN (...)`` literal filters
    (partition-prunable when the sink is graph-partitioned) + one
    union; the only dedup is over the merged default slice, and only
    when >1 source graph can collide. Blank nodes are doc-scoped
    strings engine-wide (formats.py P5), so set-union — not
    bnode-renaming RDF merge — is the engine's documented semantics."""
    from_graphs = spec.pop("from_graphs", None)
    from_named = spec.pop("from_named", None)
    if not from_graphs and not from_named:
        return quads
    if "graph" not in quads.columns:
        raise SparqlError(
            "FROM/FROM NAMED need a quads relation (graph column) — "
            "adapt with bgp.quads_spo")
    parts = []
    if from_graphs:
        merged = quads.where(F.col("graph").isin(from_graphs)) \
            .withColumn("graph", F.lit("_:default"))
        if len(from_graphs) > 1:
            merged = merged.dropDuplicates(quads.columns)
        parts.append(merged)
    if from_named:
        parts.append(quads.where(F.col("graph").isin(from_named)))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def _union_all(pieces: list) -> tuple[DataFrame, set[str]]:
    """UNION of (relation, certainly-bound variables) pieces: plan-level
    concatenation by column name (a variable missing from a branch is
    NULL there). A variable is certain in the union only if every
    branch binds it for certain."""
    df, certain = pieces[0]
    for d, c in pieces[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
        certain = certain & c
    return df, certain


def _compatible_join(left: DataFrame, lcertain: set, right: DataFrame,
                     rcertain: set) -> tuple[DataFrame, set[str]]:
    """Join two solution relations by SPARQL compatibility (§18.3): two
    solutions join when each shared variable is equal on both sides OR
    unbound on either, and the merged solution takes the bound value.
    A shared variable certainly bound on both sides stays a plain
    equi-join key (hash / sort-merge joinable, the plans of a BGP); one
    that either side may leave unbound joins on ``l IS NULL OR r IS
    NULL OR l = r`` and is coalesced. With no shared variable the join
    is a cross product. Returns the relation and the variables it binds
    for certain: those either side binds for certain."""
    lcols, rcols = set(left.columns), set(right.columns)
    shared = sorted(lcols & rcols)
    loose = set(shared) - (lcertain & rcertain)
    certain = lcertain | rcertain
    if not loose:
        return (left.join(right, on=shared, how="inner") if shared
                else left.crossJoin(right)), certain
    rest = [c for c in right.columns if c not in lcols]
    right = right.select(*rest, *[F.col(v).alias(f"__r_{v}") for v in shared])
    cond = None
    for v in shared:
        lc, rc = F.col(v), F.col(f"__r_{v}")
        eq = (lc.isNull() | rc.isNull() | (lc == rc)) if v in loose else lc == rc
        cond = eq if cond is None else cond & eq
    df = left.join(right, cond, "inner").select(
        *[F.coalesce(F.col(v), F.col(f"__r_{v}")).alias(v) if v in loose
          else F.col(v) for v in shared],
        *[c for c in left.columns if c not in rcols], *rest)
    return df, certain


def _group_solutions(triples: DataFrame, spec: dict, dedup: bool,
                     stats: dict | None = None,
                     services: dict | None = None) -> tuple[DataFrame, set[str]]:
    """Solution relation of one group graph pattern — the one evaluator
    behind every query form — and the set of variables it binds in
    every solution. Every other column may be unbound somewhere:
    OPTIONAL variables, BIND targets, VALUES columns with UNDEF,
    variables some UNION branch or sub-SELECT may leave unbound.

    Algebra (spec §18.2): the group's own patterns compile through one
    :func:`.bgp.bgp_query` (OPTIONAL / BIND / VALUES attach there —
    they scope to the sibling patterns), each sub-SELECT and SERVICE
    body runs recursively, each UNION expression becomes the plan-level
    concatenation of its recursively-evaluated branch solutions, and
    the pieces join by compatibility (:func:`_compatible_join`; Join is
    commutative and associative over multisets, so
    sibling-patterns-first is a valid order). A group with no piece is
    the single empty solution. Group FILTERs run after the joins so
    they may reference variables bound by any piece; Catalyst pushes
    each conjunct back to the earliest plan node that binds its
    columns, so this costs nothing at scale. EXISTS / NOT EXISTS /
    MINUS are likewise group-scoped: semi/anti joins against the JOINED
    relation, so they see variables bound by every piece.

    ``stats`` (a :func:`.bgp.predicate_stats_map` dict) orders the
    pattern joins of every group below this one except SERVICE bodies,
    which run against another relation. ``services`` maps bare endpoint
    IRIs to their registered relations."""
    services = services or {}
    pieces = []
    patterns = spec.get("patterns")
    clauses = {k: spec[k] for k in ("optional", "values", "bind") if spec.get(k)}
    if patterns:
        df = bgp_query(triples, patterns, dedup=dedup, stats=stats, **clauses)
        names, rows = spec.get("values") or ([], [])
        pieces.append((df, set().union(*map(_pattern_vars, patterns)) | {
            n[1:] for i, n in enumerate(names)
            if all(r[i] is not None for r in rows)}))
    elif clauses:
        raise SparqlError(
            "a group without triple patterns supports FILTER, EXISTS/NOT "
            "EXISTS/MINUS, UNION, sub-SELECT and SERVICE only")
    pieces += [_run_select(triples, s, dedup, stats, services)
               for s in spec.get("subselects", ())]
    for branches in spec.get("unions", ()):
        pieces.append(_union_all([
            _group_solutions(triples, b, dedup, stats, services)
            for b in branches]))
    for endpoint, sub, silent, svc_term_mode in spec.get("services", ()):
        if endpoint.startswith("?"):
            # variable endpoint: one branch per registered endpoint,
            # the variable bound to its IRI (relation-native rendering)
            keys = sorted(services)
            if not keys and not silent:
                raise SparqlError(
                    "SERVICE with a variable endpoint needs registered "
                    "endpoints — pass services={'iri': DataFrame} to "
                    "sparql_query")
        else:
            keys = [endpoint[1:-1] if endpoint.startswith("<") else endpoint]
            if keys[0] not in services:
                if not silent:
                    raise SparqlError(
                        f"SERVICE endpoint <{keys[0]}> is not registered — "
                        "pass services={'iri': DataFrame} to sparql_query")
                # SERVICE SILENT on an unreachable endpoint yields the
                # single empty solution mapping (spec §18.8) — the join
                # identity, so the piece is simply left out
                keys = []
        branches = []
        for key in keys:
            # the SERVICE body evaluates against the REGISTERED
            # relation: graph semantics follow ITS shape, and the outer
            # relation's stats do not apply
            rel = services[key]
            sols, certain = _group_solutions(
                rel, _apply_graph_semantics(sub, "graph" in rel.columns),
                dedup, None, services)
            if endpoint.startswith("?"):
                sols = sols.withColumn(
                    endpoint[1:], F.lit(f"<{key}>" if svc_term_mode else key))
            branches.append((sols, certain))
        if branches:
            pieces.append(_union_all(branches))
    if pieces:
        df, certain = pieces[0]
        for piece, piece_certain in pieces[1:]:
            df, certain = _compatible_join(df, certain, piece, piece_certain)
    else:
        df, certain = triples.sparkSession.range(1).drop("id"), set()
    for f in spec.get("filters", ()):
        df = df.filter(F.expr(f))
    negation = {k: spec[k] for k in ("exists", "not_exists", "minus")
                if spec.get(k)}
    if negation:
        df = apply_negation(triples, df, dedup=dedup, stats=stats, **negation)
    return df, certain


def sparql_query(triples: DataFrame, text: str, dedup: bool = True,
                 term_mode: bool = False,
                 stats: dict | DataFrame | None = None,
                 services: dict[str, DataFrame] | None = None) -> DataFrame:
    """Run a SPARQL query string over a (subj, pred, obj) relation.

    SELECT returns one column per selected variable (names without the
    ``?``); ASK returns a 1-row boolean ``ask`` column; CONSTRUCT
    returns a (subj, pred, obj) relation. All plan shapes are exactly
    :mod:`.bgp`'s — the text layer adds zero execution cost.

    ``term_mode=True`` executes over the TERM-ENCODED relation of
    :func:`.bgp.terms_spo` (one canonical N-Triples string per term):
    constants in the query render the same way, matching becomes
    term-identity (``"42"`` no longer matches ``<42>``), and the SPARQL
    term builtins — LANG, LANGMATCHES, DATATYPE, isIRI/isURI, isBlank,
    isLiteral, isNumeric, sameTerm, STRLANG, STRDT, and lexical-form
    STR — become available in FILTER/BIND/SELECT expressions as pure
    string SQL (whole-stage codegen; no Python). Quoted-triple patterns
    and GRAPH/quads relations are out of scope in this mode.

    ``stats`` (the :func:`.graphops.predicate_statistics` relation, or
    its :func:`.bgp.predicate_stats_map` dict) switches every pattern
    group in the query — main group, UNION branches, sub-SELECTs — to
    cost-based join ordering (greedy smallest-estimated-cardinality
    first, :func:`.bgp.bgp_query`'s ``stats=``). In ``term_mode`` bare
    IRI keys are re-encoded to the relation's ``<iri>`` form, so the
    stats table computed over the RAW relation works on both surfaces.

    ``services`` registers relations for ``SERVICE <iri> { … }`` groups
    (the engine's Spark-first take on federation: an endpoint is just
    another DataFrame — a second materialized table, another snapshot,
    a remote catalog read). Keys are endpoint IRIs (bare or
    ``<``-wrapped); the SERVICE body evaluates against the registered
    relation (graph semantics follow ITS shape) and joins the enclosing
    group like any other piece. An UNregistered endpoint raises unless
    the query says ``SERVICE SILENT``, which contributes the single
    empty solution mapping per spec §18.8."""
    spec = parse_sparql(text, term_mode=term_mode)
    form = spec.pop("form")
    registry = {(k[1:-1] if k.startswith("<") and k.endswith(">") else k): v
                for k, v in (services or {}).items()}
    if term_mode and "graph" in triples.columns:
        raise SparqlError(
            "term_mode expects the 3-column terms_spo relation "
            "(GRAPH/quads surfaces are not term-encoded)")
    triples = _apply_dataset_clauses(triples, spec)
    spec = _apply_graph_semantics(spec, "graph" in triples.columns)
    smap = None
    if stats is not None:
        smap = predicate_stats_map(stats)
        if term_mode:
            smap = {(k if k[:1] in ("<", "_", '"') else f"<{k}>"): v
                    for k, v in smap.items()}
    if form == "select":
        return _run_select(triples, spec, dedup, smap, registry)[0]
    if form == "describe":
        return _run_describe(triples, spec, dedup, smap, registry)
    sols = _group_solutions(triples, spec, dedup, smap, registry)[0]
    if form == "ask":
        # ≥1 solution in the group relation; limit(1) lets every scan
        # stop at the first solution
        return sols.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
    # CONSTRUCT: solution modifiers apply to the MATCH, then the
    # template instantiates the surviving solutions (spec §16.2); a
    # template row with an unbound variable emits no triple
    return construct_from_solutions(_order_slice(sols, spec), spec["template"])


def _finish_select(df: DataFrame, spec: dict) -> DataFrame:
    """Aggregation + projection tail of SELECT: GROUP BY / aggregates /
    HAVING, then projection expressions, the SELECT list (``SELECT *``
    hides internal variables — seq-path intermediates, query bnodes —
    per SPARQL's bnode non-projection) and DISTINCT."""
    aggregates, group_by = spec.get("aggregates"), spec.get("group_by")
    if aggregates:
        keys = group_by or []
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise SparqlError(f"GROUP BY references unbound: {missing}")
        aggs = [F.expr(e).alias(n) for n, e in aggregates.items()]
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        for h in spec.get("having") or []:
            df = df.filter(F.expr(h))
    elif group_by or spec.get("having"):
        raise SparqlError("GROUP BY/HAVING require aggregates")
    for name, expr in (spec.get("proj_exprs") or {}).items():
        df = df.withColumn(name, F.expr(expr))
    select = spec.get("select")
    if select:
        missing = [v for v in select if v not in df.columns]
        if missing:
            raise SparqlError(f"SELECT references unbound variables: {missing}")
        df = df.select(*select)
    else:
        df = df.drop(*[c for c in df.columns if c.startswith("__")])
    return df.distinct() if spec.get("distinct") else df


def _order_slice(df: DataFrame, spec: dict) -> DataFrame:
    """ORDER BY, OFFSET and LIMIT over a solution sequence."""
    if spec.get("order_by"):
        df = df.orderBy(*_order_cols(df, spec["order_by"],
                                     spec.get("term_mode", False)))
    if spec.get("offset"):
        df = df.offset(spec["offset"])
    if spec.get("limit") is not None:
        df = df.limit(spec["limit"])
    return df


def _run_select(triples: DataFrame, spec: dict, dedup: bool,
                stats: dict | None = None,
                services: dict | None = None) -> tuple[DataFrame, set[str]]:
    """SELECT over one group: solutions, then :func:`_finish_select`,
    then ORDER BY / OFFSET / LIMIT. Returns the relation and the
    projected variables its group binds for certain; every other
    column, aggregates and expressions included, may be unbound."""
    sols, certain = _group_solutions(triples, spec, dedup, stats, services)
    df = _order_slice(_finish_select(sols, spec), spec)
    return df, certain & set(spec.get("select") or certain)


def _run_describe(triples: DataFrame, spec: dict, dedup: bool,
                  stats: dict | None, services: dict) -> DataFrame:
    """DESCRIBE: the (implementation-defined, per spec) description is
    every triple whose SUBJECT is in the resource set — constants plus
    every value the DESCRIBE variables take in the WHERE solutions. One
    semi-join, output-sized."""
    targets = spec["describe"]
    consts = [t for t in targets if not t.startswith("?")]
    var_names = [t[1:] for t in targets if t.startswith("?")]
    spark = triples.sparkSession
    parts = []
    if consts:
        parts.append(spark.createDataFrame([(c,) for c in consts], "r string"))
    if var_names:
        sols = _group_solutions(triples, spec, dedup, stats, services)[0]
        for v in var_names:
            if v not in sols.columns:
                raise SparqlError(
                    f"DESCRIBE variable ?{v} is unbound: it needs a WHERE "
                    "clause that binds it")
            parts.append(sols.select(F.col(v).alias("r")))
    resources = parts[0]
    for q in parts[1:]:
        resources = resources.unionByName(q)
    resources = resources.na.drop().distinct()
    return describe_cbd(triples, resources, dedup=dedup)


def describe_cbd(triples: DataFrame, resources: DataFrame,
                 dedup: bool = True, max_depth: int = 16) -> DataFrame:
    """Concise Bounded Description (the spec's recommended DESCRIBE
    shape): the subject rows of every resource in ``resources`` (column
    ``r``), recursively extended through BLANK-NODE objects — a bnode
    carries no dereferenceable identity, so its description is part of
    its parent's. IRI objects are NOT expanded (that would crawl the
    whole graph).

    Scale shape: frontier loop like BFS — each round one semi-join to
    pull the frontier's rows and one anti-join to keep only unseen
    bnodes, localCheckpoint per round; depth is bounded by the deepest
    bnode tree (max_depth a safety stop for cyclic bnode structures)."""
    frontier = resources.select("r").distinct().localCheckpoint(eager=True)
    seen = frontier
    out = None
    for _ in range(max_depth):
        rows = triples.join(frontier, triples["subj"] == frontier["r"],
                            "left_semi").select("subj", "pred", "obj")
        out = rows if out is None else out.unionByName(rows)
        nxt = (
            rows.filter(F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("r"))
            .distinct()
            .join(seen, "r", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out.dropDuplicates(["subj", "pred", "obj"])


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update
# ---------------------------------------------------------------------------

def _plain_template(template: list, what: str):
    for t in template:
        for term in t:
            if not isinstance(term, str):
                raise SparqlError(f"{what} templates take plain terms only")
            if term.startswith("?__"):
                # a sequence path desugars through fresh ?__ variables
                raise SparqlError(f"property paths are not allowed in {what} templates")
        if t[1][:1] in ("^", "!") or t[1][-1:] in ("+", "*", "?"):
            raise SparqlError(f"{what} templates take plain predicates only")
    return template


def parse_sparql_update(text: str) -> list[dict]:
    """Parse a SPARQL 1.1 Update request (one or more ``;``-separated
    operations) into a list of op dicts."""
    p = _Parser(text)
    ops: list[dict] = []
    while True:
        _prologue(p)
        if p._peek()[0] == "EOF":
            break
        if p._at_kw("clear", "drop", "load", "copy", "move", "add", "create",
                    "with", "using"):
            raise SparqlError(
                f"update operation {p._peek()[1].upper()} is not supported "
                "(the engine updates ONE default-graph relation)"
            )
        if p._eat_kw("insert"):
            if p._eat_kw("data"):
                ops.append({"op": "insert_data",
                            "triples": _const_block(p)})
            else:
                ops.append(_modify(p, delete=None,
                                   insert=_template_block(p)))
        elif p._eat_kw("delete"):
            if p._eat_kw("data"):
                ops.append({"op": "delete_data",
                            "triples": _const_block(p)})
            elif p._eat_kw("where"):
                p._expect("{")
                sub = p._group()
                if set(sub) - {"patterns"}:
                    raise SparqlError("DELETE WHERE takes triple patterns only")
                pats = _plain_template(sub["patterns"], "DELETE WHERE")
                ops.append({"op": "modify", "delete": pats, "insert": None,
                            "where": sub})
            else:
                delete = _template_block(p)
                insert = _template_block(p) if p._eat_kw("insert") else None
                ops.append(_modify(p, delete=delete, insert=insert))
        else:
            raise SparqlError(
                f"expected an update operation, got {p._peek()[1]!r}"
            )
        if not p._eat(";"):
            if p._peek()[0] != "EOF":
                raise SparqlError(
                    f"expected ';' between operations, got {p._peek()[1]!r}"
                )
    if not ops:
        raise SparqlError("empty update request")
    return ops


def _const_block(p: _Parser) -> list:
    triples = _template_block(p)
    for t in triples:
        for term in t:
            if term.startswith("?"):
                raise SparqlError("INSERT/DELETE DATA take constants only")
    return triples


def _template_block(p: _Parser) -> list:
    p._expect("{")
    template: list = []
    while not p._eat("}"):
        p._triples_block(template)
    return _plain_template(template, "update")


def _modify(p: _Parser, delete, insert) -> dict:
    p._expect_kw("where")
    p._expect("{")
    sub = p._group()
    return {"op": "modify", "delete": delete, "insert": insert, "where": sub}


def sparql_query_entailed(
    triples: DataFrame,
    text: str,
    entailment: str = "rdfs",
    dedup: bool = True,
    vocab: dict[str, str] | None = None,
) -> DataFrame:
    """SPARQL under an entailment regime (W3C SPARQL 1.1 Entailment
    Regimes, materialization strategy): the query evaluates over the
    asserted triples UNION their inferred consequences, so BGP matches
    see e.g. supertype ``rdf:type`` rows and inherited properties.

    ``entailment``: ``'rdfs'`` (rdfs2/3/7/9/11 + equivalences via
    :func:`.inference.rdfs_entailment`), ``'owl'`` (inverse/symmetric/
    transitive property axioms via
    :func:`.inference.owl_property_entailment`), or ``'rdfs+owl'``.
    ``vocab`` forwards to the rule engines (compact-vocabulary graphs).

    Scale shape: materialization is the production strategy for
    repeated querying — the closure is computed once per regime (the
    rule engines' broadcast-schema plans) and unioned, and every BGP
    optimization (pushed constant scans, stats-ordered joins) applies
    unchanged to the extended relation. Pin the returned relation via
    ``.persist()`` upstream when running many queries."""
    regimes = set(entailment.split("+")) if entailment else set()
    unknown = regimes - {"rdfs", "owl"}
    if unknown or not regimes:
        raise SparqlError(
            f"unknown entailment regime {entailment!r}; "
            "use 'rdfs', 'owl' or 'rdfs+owl'"
        )
    from .inference import owl_property_entailment, rdfs_entailment

    extended = triples.select("subj", "pred", "obj")
    if "rdfs" in regimes:
        extended = extended.unionByName(rdfs_entailment(triples, vocab=vocab))
    if "owl" in regimes:
        from .inference import owl_restriction_entailment

        owl_vocab = None
        if vocab:
            keys = ("type", "inverse", "symmetric", "transitive")
            owl_vocab = {k: v for k, v in vocab.items() if k in keys} or None
        extended = extended.unionByName(
            owl_property_entailment(triples, vocab=owl_vocab)
        )
        r_vocab = {"type": vocab["type"]} if vocab and "type" in vocab else None
        extended = extended.unionByName(
            owl_restriction_entailment(triples, vocab=r_vocab)
        )
    return sparql_query(extended.distinct(), text, dedup=dedup)


def sparql_update(triples: DataFrame, text: str, dedup: bool = True) -> DataFrame:
    """Apply a SPARQL 1.1 Update request and return the NEW triples
    relation — a pure function over the immutable DataFrame, which is
    exactly how the engine's maintenance layer works: commit the result
    via :class:`.snapshots.SnapshotTable` (atomic reader visibility,
    time travel) or :func:`.incremental.merge_triples`.

    Supported: ``INSERT DATA``, ``DELETE DATA``, ``DELETE WHERE``, and
    the general ``DELETE {…} INSERT {…} WHERE {…}`` form (the WHERE
    group may contain UNION expressions and sub-SELECTs — the group
    evaluator computes the solution relation), ``;``-chained.
    Per spec each operation computes its delete and insert sets against
    the store it starts from (one shared solution relation), removes
    first, then adds; set semantics — deleting a triple removes ALL its
    duplicates if the input relation is a multiset, and inserts never
    duplicate an existing triple.

    Scale shape: each op is one anti-join (delete) + one anti-join +
    union (insert) on (subj, pred, obj) — output-sized exchanges; the
    WHERE match costs what the equivalent :func:`bgp_query` costs. Ops
    chain lazily; for long scripts checkpoint between commits."""
    if "graph" in triples.columns:
        raise SparqlError(
            "updates over a quads relation are not supported — slice one "
            "graph (filter + drop('graph')) and merge the result back"
        )
    spark = triples.sparkSession
    on = ["subj", "pred", "obj"]
    acc = triples
    for op in parse_sparql_update(text):
        if op["op"] in ("insert_data", "delete_data"):
            data = spark.createDataFrame(
                [tuple(t) for t in op["triples"]],
                "subj string, pred string, obj string",
            )
            if op["op"] == "delete_data":
                acc = acc.join(F.broadcast(data), on=on, how="left_anti")
            else:
                fresh = data.dropDuplicates(on).join(acc, on=on, how="left_anti")
                acc = acc.unionByName(fresh)
            continue
        where = op["where"]
        supported = {"patterns", "optional", "filters", "values", "bind",
                     "exists", "not_exists", "minus", "unions", "subselects"}
        extra = {k for k in where if k not in supported and where[k]}
        if extra:
            # never bind a solution relation that silently drops part of
            # the WHERE group — the delete/insert sets would be over-broad
            raise SparqlError(
                f"update WHERE group elements not supported: {sorted(extra)}"
            )
        sols = _group_solutions(acc, where, dedup)[0]
        if op["delete"]:
            deleted = construct_from_solutions(sols, op["delete"],
                                               distinct=False).dropDuplicates(on)
            acc = acc.join(deleted, on=on, how="left_anti")
        if op["insert"]:
            # inserted set computed against the PRE-delete store (sols
            # bound there), added to the post-delete store without dupes
            inserted = construct_from_solutions(sols, op["insert"],
                                                distinct=False).dropDuplicates(on)
            acc = acc.unionByName(inserted.join(acc, on=on, how="left_anti"))
    return acc


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update — graph management (quad-level half of the spec)
# ---------------------------------------------------------------------------

_GM_RE = re.compile(
    r"(?is)^\s*(?:"
    r"(?P<verb1>CLEAR|DROP)\s+(?:SILENT\s+)?"
    r"(?P<tgt1>(?:GRAPH\s*)?<[^<>]*>|DEFAULT|NAMED|ALL)"
    r"|(?P<verb2>COPY|MOVE|ADD)\s+(?:SILENT\s+)?"
    r"(?P<src2>(?:GRAPH\s*)?<[^<>]*>|DEFAULT)\s+TO\s+"
    r"(?P<dst2>(?:GRAPH\s*)?<[^<>]*>|DEFAULT)"
    r"|(?P<verb3>CREATE)\s+(?:SILENT\s+)?GRAPH\s*<[^<>]*>"
    r")\s*$"
)


def _gm_split(text: str) -> list[str]:
    """Split a graph-management request on top-level ';' — IRIREFs may
    legally contain ';' (query strings), so the scan skips <...> spans."""
    parts, buf, in_iri = [], [], False
    for ch in text:
        if ch == "<":
            in_iri = True
        elif ch == ">":
            in_iri = False
        if ch == ";" and not in_iri:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p for p in (s.strip() for s in parts) if p]


def _gm_term(tok: str) -> str:
    t = tok.strip()
    if t.upper() == "DEFAULT":
        return "_:default"
    iri = t[t.index("<") + 1:t.rindex(">")]
    return iri


def sparql_update_graphs(quads: DataFrame, text: str) -> DataFrame:
    """SPARQL 1.1 Update graph management over a QUADS relation (a
    ``graph`` column with the engine's '_:default' sentinel for the
    default graph): ``CLEAR``/``DROP`` (``GRAPH <g>`` | ``DEFAULT`` |
    ``NAMED`` | ``ALL``), ``COPY``/``MOVE``/``ADD`` (``[GRAPH] <g>`` |
    ``DEFAULT``) ``TO`` …, and ``CREATE GRAPH`` (a no-op — graphs exist
    implicitly in a quad store, per the spec's note), ``;``-chained,
    ``SILENT`` accepted and ignored (no op here can fail). Returns the
    new quads relation; like :func:`sparql_update` this is a pure
    function — commit the result through the snapshot/merge layer.

    The relation keeps ALL its columns: management ops only filter rows
    or rewrite the ``graph`` column (ADD dedupes against the target
    graph on the quad key). CLEAR and DROP coincide because an empty
    graph and an absent graph are indistinguishable in a quads relation.

    Scale shape: CLEAR/DROP are partition-prunable filters; COPY/MOVE
    are a filter + a column rewrite; ADD's dedup is one left-anti join
    keyed on the target graph's quads — all output-sized, no Python."""
    if "graph" not in quads.columns:
        raise SparqlError("sparql_update_graphs needs a quads relation "
                          "(a 'graph' column)")
    acc = quads
    on = ["graph", "subj", "pred", "obj"] if "obj" in quads.columns \
        else ["graph", "subj", "pred", "obj_value"]
    for stmt in _gm_split(text):
        m = _GM_RE.match(stmt)
        if not m:
            raise SparqlError(f"unsupported graph-management form: {stmt!r}")
        if m.group("verb3"):  # CREATE — implicit graphs: nothing to do
            continue
        if m.group("verb1"):
            tgt = m.group("tgt1")
            up = tgt.upper()
            if up == "ALL":
                acc = acc.limit(0)
            elif up == "DEFAULT":
                acc = acc.filter(F.col("graph") != "_:default")
            elif up == "NAMED":
                acc = acc.filter(F.col("graph") == "_:default")
            else:
                acc = acc.filter(F.col("graph") != _gm_term(tgt))
            continue
        verb = m.group("verb2").upper()
        src_g, dst_g = _gm_term(m.group("src2")), _gm_term(m.group("dst2"))
        if src_g == dst_g:
            continue  # per spec: COPY/MOVE/ADD g TO g is a no-op
        src_rows = acc.filter(F.col("graph") == src_g).withColumn(
            "graph", F.lit(dst_g))
        if verb in ("COPY", "MOVE"):
            acc = acc.filter(F.col("graph") != dst_g)
            if verb == "MOVE":
                acc = acc.filter(F.col("graph") != src_g)
            acc = acc.unionByName(src_rows)
        else:  # ADD: union without dropping, dedup on the quad key
            acc = acc.unionByName(src_rows.join(acc, on=on, how="left_anti"))
    return acc

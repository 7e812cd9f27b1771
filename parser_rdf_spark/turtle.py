"""Turtle subset parser (pure Python, per-document, Arrow-batch friendly).

Scope = the features the reference's external TurtleHandler/EasyRdf stack
is documented+tested to support (reference: docs/spec-completeness.md:137-148
and the turtle-based extractor unit tests): ``@prefix`` / SPARQL ``PREFIX``
directives, the ``a`` keyword, predicate lists ``;``, object lists ``,``,
anonymous blank nodes ``[ … ]``, collections ``( … )``, quoted literals with
language tags and ``^^`` datatypes, long (triple-quoted) strings, numeric
and boolean shorthand literals, and prefixed names. ``@base`` is explicitly
NOT implemented (the reference doesn't implement it either,
docs/spec-completeness.md:147).

Engine extension beyond the reference: RDF 1.2 Turtle-star — quoted
triples ``<< s p o >>`` in subject/object position (prefixed names
resolve, nesting allowed, anon/collections banned inside) and the
annotation shorthand ``s p o {| q v |}`` (asserts the base triple AND
annotates its quoted form). Quoted terms render to the same canonical
lexical encoding as :mod:`.rdfstar`, so the downstream relation,
serializers and SPARQL-star patterns treat Turtle-star and
N-Triples-star input identically. TriG inherits all of this
(:class:`.trig.TrigParser` extends this parser), completing the
star-format matrix.

Recursive-descent over the document string — per-document sequential by
nature, vectorized *across* documents by the calling ``mapInArrow`` stage.
"""

from __future__ import annotations

import re
from typing import Optional

from .ntriples import Triple

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XSD = "http://www.w3.org/2001/XMLSchema#"

_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "'": "'", "\\": "\\"}

# PN_LOCAL / PN_PREFIX approximation: broad unicode letters via \w plus
# the punctuation Turtle allows in local names.
_PNAME_RE = re.compile(r"([A-Za-z_][\w.\-]*)?:([\w.\-%:]*)", re.UNICODE)
_PNAME_DECL_RE = re.compile(r"([A-Za-z_][\w.\-]*)?:")
_BNODE_RE = re.compile(r"_:([A-Za-z0-9_][\w.\-]*)")
_INTEGER_RE = re.compile(r"[+-]?[0-9]+")
_DECIMAL_RE = re.compile(r"[+-]?[0-9]*\.[0-9]+")
_DOUBLE_RE = re.compile(r"[+-]?(?:[0-9]+\.[0-9]*|\.?[0-9]+)[eE][+-]?[0-9]+")
_LANGTAG_RE = re.compile(r"@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*")
_IRI_BAD_RE = re.compile(r'[\x00-\x20<"{}|^`]')
_UCHAR_RE = re.compile(r"\\u[0-9a-fA-F]{4}|\\U[0-9a-fA-F]{8}")


class TurtleError(ValueError):
    def __init__(self, pos: int, message: str):
        super().__init__(f"Turtle parsing failed at offset {pos}: {message}")
        self.pos = pos


class _Term:
    __slots__ = ("kind", "value", "lang", "datatype")

    def __init__(self, kind: str, value: str, lang: Optional[str] = None, datatype: Optional[str] = None):
        self.kind = kind  # 'iri' | 'bnode' | 'literal'
        self.value = value
        self.lang = lang
        self.datatype = datatype


class TurtleParser:
    def __init__(self, content: str):
        self.s = content
        self.i = 0
        self.n = len(content)
        self.prefixes: dict[str, str] = {}
        self.triples: list[Triple] = []
        self._bnode_seq = 0
        self._line_starts = [0]
        for m in re.finditer("\n", content):
            self._line_starts.append(m.end())

    # -- low-level ---------------------------------------------------------

    def _line_of(self, pos: int) -> int:
        import bisect

        return bisect.bisect_right(self._line_starts, pos)

    def _err(self, msg: str) -> TurtleError:
        return TurtleError(self.i, msg)

    def _skip_ws(self) -> None:
        while self.i < self.n:
            ch = self.s[self.i]
            if ch in " \t\r\n":
                self.i += 1
            elif ch == "#":
                j = self.s.find("\n", self.i)
                self.i = self.n if j == -1 else j + 1
            else:
                return

    def _expect(self, ch: str) -> None:
        if self.i >= self.n or self.s[self.i] != ch:
            raise self._err(f"expected '{ch}'")
        self.i += 1

    def _fresh_bnode(self) -> str:
        self._bnode_seq += 1
        return f"_:tb{self._bnode_seq}"

    # -- terms -------------------------------------------------------------

    def _read_iriref(self) -> str:
        end = self.s.find(">", self.i + 1)
        if end == -1:
            raise self._err("unterminated IRI")
        raw = self.s[self.i + 1 : end]
        self.i = end + 1
        # W3C IRIREF production: no controls/space and none of <"{}|^`
        # (same ban the N-Triples path enforces at ntriples.py V5/V8, and
        # pinned by the W3C turtle-syntax-bad-uri-* cases)
        if _IRI_BAD_RE.search(raw):
            raise self._err("illegal character in IRI")
        if "\\" in raw:
            # only \uXXXX / \UXXXXXXXX escapes are legal inside IRIREF
            if _UCHAR_RE.sub("", raw).find("\\") != -1:
                raise self._err("illegal escape in IRI")
        return _unescape_uchar(raw)

    def _read_pname(self) -> str:
        m = _PNAME_RE.match(self.s, self.i)
        if not m:
            raise self._err("expected prefixed name")
        prefix = m.group(1) or ""
        local = m.group(2) or ""
        # Turtle grammar: a trailing '.' belongs to the statement, not the name.
        consumed_end = m.end()
        while local.endswith("."):
            local = local[:-1]
            consumed_end -= 1
        if prefix not in self.prefixes:
            raise self._err(f"undefined prefix '{prefix}:'")
        self.i = consumed_end
        return self.prefixes[prefix] + local

    def _read_string(self) -> str:
        s, i, n = self.s, self.i, self.n
        quote = s[i]
        long_quote = s[i : i + 3] == quote * 3
        if long_quote:
            i += 3
            end_marker = quote * 3
            out: list[str] = []
            while i < n:
                if s[i] == "\\":
                    out.append(self._echar(i))
                    i += 2 if s[i + 1] not in "uU" else (6 if s[i + 1] == "u" else 10)
                    continue
                if s.startswith(end_marker, i):
                    self.i = i + 3
                    return "".join(out)
                out.append(s[i])
                i += 1
            raise self._err("unterminated long string")
        i += 1
        out = []
        while i < n:
            ch = s[i]
            if ch == "\\":
                out.append(self._echar(i))
                i += 2 if s[i + 1] not in "uU" else (6 if s[i + 1] == "u" else 10)
                continue
            if ch == quote:
                self.i = i + 1
                return "".join(out)
            if ch == "\n":
                break
            out.append(ch)
            i += 1
        raise self._err("unterminated string literal")

    def _echar(self, i: int) -> str:
        nxt = self.s[i + 1] if i + 1 < self.n else ""
        if nxt in _ECHAR:
            return _ECHAR[nxt]
        if nxt in "uU":
            width = 4 if nxt == "u" else 8
            hexs = self.s[i + 2 : i + 2 + width]
            if len(hexs) != width or not all(c in "0123456789abcdefABCDEF" for c in hexs):
                raise self._err(f"invalid numeric escape '\\{nxt}{hexs}'")
            cp = int(hexs, 16)
            if cp > 0x10FFFF:
                raise self._err(f"numeric escape out of range '\\{nxt}{hexs}'")
            return chr(cp)
        raise self._err(f"invalid escape '\\{nxt}'")

    def _read_literal(self) -> _Term:
        value = self._read_string()
        lang = None
        datatype = None
        if self.i < self.n and self.s[self.i] == "@":
            m = _LANGTAG_RE.match(self.s, self.i)
            if not m:
                raise self._err("invalid language tag")
            lang = self.s[self.i + 1 : m.end()]
            self.i = m.end()
        elif self.s.startswith("^^", self.i):
            self.i += 2
            if self.i < self.n and self.s[self.i] == "<":
                datatype = self._read_iriref()
            else:
                datatype = self._read_pname()
        return _Term("literal", value, lang, datatype)

    def _read_term(self, subject_pos: bool) -> _Term:
        self._skip_ws()
        if self.i >= self.n:
            raise self._err("unexpected end of input")
        ch = self.s[self.i]
        if ch == "<":
            if self.s.startswith("<<", self.i):
                # RDF 1.2 Turtle-star quoted triple — unambiguous ('<'
                # can never occur inside an IRIREF)
                return self._read_quoted()
            return _Term("iri", self._read_iriref())
        if self.s.startswith("_:", self.i):
            # pos-anchored match — self.s[self.i:] would copy the whole
            # remaining document per bnode token (O(n²) on bnode-heavy docs)
            m = _BNODE_RE.match(self.s, self.i)
            if not m:
                raise self._err("invalid blank node label")
            label = m.group(1)
            while label.endswith("."):
                label = label[:-1]
            self.i += 2 + len(label)
            return _Term("bnode", "_:" + label)
        if ch == "[":
            self.i += 1
            node = self._fresh_bnode()
            self._skip_ws()
            if self.i < self.n and self.s[self.i] == "]":
                self.i += 1
                return _Term("bnode", node)
            self._predicate_object_list(_Term("bnode", node))
            self._skip_ws()
            self._expect("]")
            return _Term("bnode", node)
        if ch == "(":
            self.i += 1
            return self._read_collection()
        if not subject_pos:
            if ch in "\"'":
                return self._read_literal()
            m = _DOUBLE_RE.match(self.s, self.i)
            if m:
                self.i = m.end()
                return _Term("literal", m.group(0), None, XSD + "double")
            m = _DECIMAL_RE.match(self.s, self.i)
            if m:
                self.i = m.end()
                return _Term("literal", m.group(0), None, XSD + "decimal")
            m = _INTEGER_RE.match(self.s, self.i)
            if m:
                self.i = m.end()
                return _Term("literal", m.group(0), None, XSD + "integer")
            if self.s.startswith("true", self.i) and not _is_name_char(self.s, self.i + 4):
                self.i += 4
                return _Term("literal", "true", None, XSD + "boolean")
            if self.s.startswith("false", self.i) and not _is_name_char(self.s, self.i + 5):
                self.i += 5
                return _Term("literal", "false", None, XSD + "boolean")
        return _Term("iri", self._read_pname())

    def _quoted_term(self, subj: _Term, pred: str, obj: _Term) -> _Term:
        """Build the canonical quoted-triple lexical form (rdfstar.py's
        encoding — single spaces, absolute IRIs, N-Triples escapes) from
        already-parsed Turtle terms. IRIs that still contain characters
        the IRIREF production bans only in RAW form (reachable here via
        ``\\u`` escapes) are rejected: the canonical form must re-parse
        byte-identically."""
        from .rdfstar import _IRI_BAD, quoted_lexical

        for kind, value in ((subj.kind, subj.value), ("iri", pred),
                            (obj.kind, obj.value)):
            if kind == "iri" and any(c in _IRI_BAD for c in value):
                raise self._err(
                    "IRI inside a quoted triple contains a character that "
                    "cannot round-trip through the canonical encoding")
        return _Term(
            "quoted",
            quoted_lexical(subj.value, pred, obj.kind, obj.value,
                           obj.lang, obj.datatype),
        )

    def _read_quoted(self) -> _Term:
        """``<< qtSubject verb qtObject >>`` — qtSubject admits IRIs,
        blank node labels and nested quoted triples (no anon ``[]``, no
        collections, no literals); qtObject additionally admits
        literals. Renders to the canonical lexical encoding."""
        self.i += 2

        def qt_term(subject_pos: bool) -> _Term:
            self._skip_ws()
            if self.i < self.n and self.s[self.i] in "[(":
                raise self._err(
                    "anonymous blank nodes and collections are not "
                    "allowed inside a quoted triple")
            # subject_pos=True already bans literal forms (numeric/
            # boolean/string shorthands never parse in subject position)
            return self._read_term(subject_pos=subject_pos)

        subj = qt_term(subject_pos=True)
        pred = self._verb()
        obj = qt_term(subject_pos=False)
        self._skip_ws()
        if not self.s.startswith(">>", self.i):
            raise self._err("expected '>>' closing a quoted triple")
        self.i += 2
        return self._quoted_term(subj, pred, obj)

    def _read_collection(self) -> _Term:
        """( e1 e2 … ) ⇒ rdf:first/rdf:rest chain; empty ⇒ rdf:nil."""
        items: list[_Term] = []
        while True:
            self._skip_ws()
            if self.i >= self.n:
                raise self._err("unterminated collection")
            if self.s[self.i] == ")":
                self.i += 1
                break
            items.append(self._read_term(subject_pos=False))
        if not items:
            return _Term("iri", RDF_NIL)
        head = self._fresh_bnode()
        node = head
        for idx, item in enumerate(items):
            self._emit(_Term("bnode", node), RDF_FIRST, item)
            if idx + 1 < len(items):
                nxt = self._fresh_bnode()
                self._emit(_Term("bnode", node), RDF_REST, _Term("bnode", nxt))
                node = nxt
            else:
                self._emit(_Term("bnode", node), RDF_REST, _Term("iri", RDF_NIL))
        return _Term("bnode", head)

    # -- statements --------------------------------------------------------

    def _emit(self, subj: _Term, pred: str, obj: _Term) -> None:
        self.triples.append(
            Triple(
                subj.value,
                pred,
                obj.kind,
                obj.value,
                obj.lang,
                obj.datatype,
                self._line_of(self.i),
            )
        )

    def _verb(self) -> str:
        self._skip_ws()
        if self.i >= self.n:
            raise self._err("expected predicate")
        ch = self.s[self.i]
        if ch == "a" and not _is_name_char(self.s, self.i + 1) and self.s[self.i : self.i + 1] == "a":
            self.i += 1
            return RDF_TYPE
        if ch == "<":
            return self._read_iriref()
        return self._read_pname()

    def _predicate_object_list(self, subj: _Term) -> None:
        while True:
            pred = self._verb()
            while True:
                obj = self._read_term(subject_pos=False)
                self._emit(subj, pred, obj)
                self._skip_ws()
                if self.s.startswith("{|", self.i):
                    # RDF 1.2 annotation block: asserts the base triple
                    # (already emitted) AND a predicate-object list whose
                    # subject is the quoted form of that triple; applies
                    # to the object just read (per-object in a ',' list);
                    # nests (an annotation inside an annotation quotes
                    # the annotation triple)
                    self.i += 2
                    self._predicate_object_list(self._quoted_term(subj, pred, obj))
                    self._skip_ws()
                    if not self.s.startswith("|}", self.i):
                        raise self._err("expected '|}' closing an annotation")
                    self.i += 2
                    self._skip_ws()
                if self.i < self.n and self.s[self.i] == ",":
                    self.i += 1
                    continue
                break
            self._skip_ws()
            if self.i < self.n and self.s[self.i] == ";":
                # grammar: (';' (verb objectList)?)* — every ';' may have an
                # EMPTY continuation, so ';;' runs and a dangling ';' before
                # '.' or ']' are all legal (W3C repeated_semis_* eval cases)
                while self.i < self.n and self.s[self.i] == ";":
                    self.i += 1
                    self._skip_ws()
                if self.i < self.n and self.s[self.i] in ".]":
                    return
                continue
            return

    def _directive(self) -> bool:
        """Handle @prefix / PREFIX (and tolerate/reject @base). True if consumed."""
        s, i = self.s, self.i
        is_at = s.startswith("@prefix", i) and s[i + 7 : i + 8] in (" ", "\t", "\n", "\r")
        is_sparql = s[i : i + 6].upper() == "PREFIX" and s[i + 6 : i + 7] in (" ", "\t", "\n", "\r")
        if is_at or is_sparql:
            self.i += 7 if is_at else 6
            self._skip_ws()
            m = _PNAME_DECL_RE.match(self.s, self.i)
            if not m:
                raise self._err("expected prefix name")
            prefix = m.group(1) or ""
            self.i = m.end()
            self._skip_ws()
            if self.i >= self.n or self.s[self.i] != "<":
                raise self._err("expected namespace IRI")
            ns = self._read_iriref()
            self.prefixes[prefix] = ns
            self._skip_ws()
            if is_at:
                self._expect(".")
            elif self.i < self.n and self.s[self.i] == ".":
                self.i += 1  # SPARQL-style PREFIX takes no dot, but tolerate one
            return True
        if s.startswith("@base", i) or (
            s[i : i + 4].upper() == "BASE" and s[i + 4 : i + 5] in (" ", "\t", "\n", "\r")
        ):
            # not implemented — parity with the reference (spec-completeness:147)
            raise self._err("@base is not supported")
        return False

    def parse(self) -> list[Triple]:
        while True:
            self._skip_ws()
            if self.i >= self.n:
                return self.triples
            if self._directive():
                continue
            subj = self._read_term(subject_pos=True)
            self._skip_ws()
            # a bare '[...]' or collection subject may be a complete statement
            if self.i < self.n and self.s[self.i] == "." and subj.kind == "bnode":
                self.i += 1
                continue
            self._predicate_object_list(subj)
            self._skip_ws()
            self._expect(".")


def _is_name_char(s: str, i: int) -> bool:
    return i < len(s) and (s[i].isalnum() or s[i] in "_-.:")


def _unescape_uchar(text: str) -> str:
    if "\\" not in text:
        return text
    return re.sub(
        r"\\u([0-9a-fA-F]{4})|\\U([0-9a-fA-F]{8})",
        lambda m: chr(int(m.group(1) or m.group(2), 16)),
        text,
    )


def parse_document(content: str) -> tuple[list[Triple], dict[str, str]]:
    """Parse a Turtle document; returns (triples, declared prefixes)."""
    p = TurtleParser(content)
    triples = p.parse()
    return triples, p.prefixes


def can_handle(content: str) -> bool:
    """D6: Turtle sniff — ``@prefix`` / SPARQL ``PREFIX`` lead on the first
    substantive line. Leading blank and ``#``-comment lines are skipped:
    the reference detects a document whose ``@prefix`` follows a comment
    (pinned by tests/Characterization/RdfParserTest.php:25-29; the
    plain ``@prefix``-at-start case by tests/Unit/RdfParserTest.php:33-35).
    """
    for raw in content.split("\n"):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        return line.startswith("@prefix") or bool(
            re.match(r"PREFIX\s+[A-Za-z_][\w.\-]*?:\s*<", line, re.IGNORECASE)
        )
    return False

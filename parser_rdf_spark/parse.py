"""Stage 2: the fused detect → validate → parse mapInArrow stage.

ONE Arrow round-trip per page batch (SURVEY.md §4 item 4): stage-1 HTML→
text extraction (when ``text`` is null), detection (D1-D10), strict
validation (V1-V13), tokenization (P1-P4), doc-scoped blank-node rewriting
(P5), per-doc prefix extraction (E14) and resource counts (P6) all happen
inside a single ``mapInArrow`` pass over the page batch. Everything
downstream of this stage is pure Column/SQL expressions — zero Python
after stage 2.

Output shape is deliberately **one nested row per document**: the page's
triples travel as an Arrow list<struct> column assembled directly with
pyarrow from flat Python lists (C-speed, no per-triple Python row
objects, no pandas layer), and :func:`triples_of` explodes them JVM-side
with a codegen'd generator. Measured on this box, shipping per-triple
rows through pandas cost ~2× the whole parse compute; the nested shape
removes most of that boundary tax.

Split the parsed frame with :func:`triples_of`, :func:`errors_of`,
:func:`docmeta_of` — and persist/checkpoint it first when fanning out to
several consumers, so the 100-TB text scan happens once.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import formats as _formats
from . import htmldata as _htmldata
from . import nquads as _nquads
from . import trig as _trig
from .html_text import html_bytes_to_text
from .schemas import PARSED

DEFAULT_GRAPH = "_:default"  # E21 sentinel (reference: src/RdfParser.php:136-154)

_ARROW_SCHEMA: Optional[pa.Schema] = None


def _arrow_schema() -> pa.Schema:
    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_SCHEMA = to_arrow_schema(PARSED)
    return _ARROW_SCHEMA


def doc_hash(url: str) -> str:
    """Deterministic 64-bit doc id used for blank-node scoping (P5)."""
    return hashlib.blake2b(url.encode("utf-8"), digest_size=8).hexdigest()


def parse_page(
    text: Optional[str], html: Optional[bytes], fmt: Optional[str] = None,
    empty_guard: bool = True,
) -> _formats.DocResult:
    """One page through the whole per-document parse: HTML→text when
    ``text`` is null, detect + parse, then the fallbacks auto-detection
    needs — the raw HTML's structured data when the text is not RDF, and
    the N-Quads / TriG / RDF-star retries when a sniffed parse fails.
    The Spark stage (:func:`_parse_batch`) and the no-Spark control
    (``scripts/scaling_control.py``) both run exactly this."""
    if not isinstance(text, str) and html is not None:
        # fused stage 1: byte-identical text extraction (html_text.py)
        text = html_bytes_to_text(bytes(html))
    res = _formats.parse_rdf_document(
        text if isinstance(text, str) else "", fmt, empty_guard=empty_guard
    )
    if res.error_stage in ("format_detection", "empty") and fmt is None and html is not None:
        # the (tag-stripped) text is empty or isn't RDF, but the raw HTML
        # may still carry structured data (microdata / RDFa / embedded
        # JSON-LD); without any, the original error stands
        raw = bytes(html).decode("utf-8", errors="replace")
        if _htmldata.can_handle(raw):
            res = _formats.parse_rdf_document(raw, "html", empty_guard=empty_guard)
    elif not res.ok and fmt is None and isinstance(text, str):
        if res.format == "n-triples" and _nquads.can_handle(text):
            # four-term lines satisfy the (reference-pinned) n-triples
            # sniffer but fail its strict parse — retry as N-Quads
            res = _formats.parse_rdf_document(text, "n-quads", empty_guard=empty_guard)
        if (
            not res.ok
            and res.format in ("n-triples", "n-quads", "turtle")
            and "{" in text
        ):
            # '@prefix'-led / pname-labeled TriG sniffs as Turtle
            # (reference-pinned D6); GRAPH-block docs whose inner
            # lines are triple-shaped sniff as N-Triples (D5). Either
            # strict parse fails on the block syntax — retry as TriG.
            # The '{' gate is deliberately loose (only failed docs
            # pay the retry), so keep the result ONLY if TriG
            # actually parses; otherwise the original error stands.
            retry = _formats.parse_rdf_document(text, "trig", empty_guard=empty_guard)
            if retry.ok:
                res = retry
        if (
            not res.ok
            and res.format in ("n-triples", "n-quads", "turtle")
            and "<<" in text
        ):
            # line-shaped RDF-star docs sniff as N-Triples (D5) but
            # the strict RDF 1.1 parser rejects '<<' — retry as
            # N-Triples-star, then N-Quads-star (4-term lines); keep
            # only a successful retry. (Turtle/TriG-sniffed docs
            # parse star natively — turtle.py — so this retry only
            # fires for them on other parse errors.)
            retry = _formats.parse_rdf_document(
                text, "ntriples-star", empty_guard=empty_guard
            )
            if not retry.ok:
                retry = _formats.parse_rdf_document(
                    text, "nquads-star", empty_guard=empty_guard
                )
            if retry.ok:
                res = retry
    return res


def _parse_batch(
    urls: list, texts: list, htmls: list, fmt: Optional[str], scope: bool, empty_guard: bool
) -> pa.RecordBatch:
    schema = _arrow_schema()
    n = len(urls)

    formats: list = [None] * n
    error_stage: list = [None] * n
    error_line: list = [None] * n
    error_message: list = [None] * n
    resource_count: list = [None] * n
    n_triples: list = [None] * n
    prefixes: list = [None] * n

    # flat triple columns + per-doc offsets (arrow list assembly)
    offsets = [0]
    subj: list = []
    pred: list = []
    obj_kind: list = []
    obj_value: list = []
    obj_lang: list = []
    obj_datatype: list = []
    line_no: list = []
    graph_term: list = []

    for i in range(n):
        res = parse_page(texts[i], htmls[i], fmt, empty_guard)
        triples = res.triples
        if triples:
            # column-wise flatten; bnode scoping (P5) runs on the columns
            s, p, k, v, lang, dt, ln, g = zip(*triples)
            if scope:
                s, v, g = _formats.scope_columns(s, k, v, g, doc_hash(urls[i]))
            subj += s
            pred += p
            obj_kind += k
            obj_value += v
            obj_lang += lang
            obj_datatype += dt
            line_no += ln
            graph_term += g
        offsets.append(len(subj))
        formats[i] = res.format
        if res.ok:
            resource_count[i] = res.resource_count
            n_triples[i] = len(triples)
            prefixes[i] = res.prefixes
        else:
            error_stage[i] = res.error_stage
            error_line[i] = res.error_line
            error_message[i] = res.error_message

    try:
        return _assemble(
            schema, urls, formats, error_stage, error_line, error_message,
            resource_count, n_triples, prefixes, offsets,
            subj, pred, obj_kind, obj_value, obj_lang, obj_datatype, line_no,
            graph_term,
        )
    except (UnicodeEncodeError, pa.lib.ArrowInvalid):
        # A hostile page smuggled a lone UTF-16 surrogate through an
        # escape sequence (\uD800 passes the hex-only V10 check; Arrow
        # then refuses the string). Never kill the batch: identify the
        # offending documents, turn them into error rows, re-assemble.
        bad: set[int] = set()
        for i in range(n):
            lo, hi = offsets[i], offsets[i + 1]
            cols = (subj, pred, obj_value, obj_lang, obj_datatype, graph_term)
            if any(
                s is not None and _SURROGATE_RE.search(s)
                for col in cols
                for s in col[lo:hi]
            ) or (
                prefixes[i]
                and any(
                    _SURROGATE_RE.search(k) or _SURROGATE_RE.search(v)
                    for k, v in prefixes[i].items()
                )
            ):
                bad.add(i)
        n_offsets = [0]
        n_cols: list[list] = [[], [], [], [], [], [], [], []]
        old_cols = (subj, pred, obj_kind, obj_value, obj_lang, obj_datatype, line_no, graph_term)
        for i in range(n):
            if i in bad:
                error_stage[i] = "parse"
                error_line[i] = None
                error_message[i] = "document contains lone UTF-16 surrogates"
                resource_count[i] = None
                n_triples[i] = None
                prefixes[i] = None
            else:
                lo, hi = offsets[i], offsets[i + 1]
                for dst, src in zip(n_cols, old_cols):
                    dst.extend(src[lo:hi])
            n_offsets.append(len(n_cols[0]))
        return _assemble(
            schema, urls, formats, error_stage, error_line, error_message,
            resource_count, n_triples, prefixes, n_offsets, *n_cols,
        )


_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def _assemble(
    schema, urls, formats, error_stage, error_line, error_message,
    resource_count, n_triples, prefixes, offsets,
    subj, pred, obj_kind, obj_value, obj_lang, obj_datatype, line_no,
    graph_term,
) -> pa.RecordBatch:
    n = len(urls)
    triple_type = schema.field("triples").type
    struct_type = triple_type.value_type
    triple_struct = pa.StructArray.from_arrays(
        [
            pa.array(subj, type=pa.string()),
            pa.array(pred, type=pa.string()),
            pa.array(obj_kind, type=pa.string()),
            pa.array(obj_value, type=pa.string()),
            pa.array(obj_lang, type=pa.string()),
            pa.array(obj_datatype, type=pa.string()),
            pa.array(line_no, type=pa.int32()),
            pa.array(graph_term, type=pa.string()),
        ],
        fields=list(struct_type),
    )
    triples_arr = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), triple_struct)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, type=pa.string()),
            pa.array([DEFAULT_GRAPH] * n, type=pa.string()),
            pa.array(formats, type=pa.string()),
            pa.array(error_stage, type=pa.string()),
            pa.array(error_line, type=pa.int32()),
            pa.array(error_message, type=pa.string()),
            pa.array(resource_count, type=pa.int64()),
            pa.array(n_triples, type=pa.int64()),
            pa.array(prefixes, type=schema.field("prefixes").type),
            triples_arr,
        ],
        schema=schema,
    )


def parse_pages(
    pages: DataFrame,
    fmt: Optional[str] = None,
    scope_bnodes: bool = True,
    empty_guard: bool = True,
) -> DataFrame:
    """pages(url, …, text[, html], …) → PARSED frame (one row per page).

    ``fmt`` is the D2 explicit-format override; unknown names raise
    FormatDetectionError *here*, before any job is submitted.
    ``empty_guard=False`` gives handler-direct semantics for empty docs
    (see formats.parse_rdf_document).
    """
    if fmt is not None and fmt not in _formats.supported_formats():
        raise _formats.FormatDetectionError(
            f"No handler registered for format: {fmt}. "
            f"Available: {', '.join(_formats.supported_formats())}"
        )

    has_html = "html" in pages.columns

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            urls = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            htmls = rb.column(2).to_pylist() if rb.num_columns > 2 else [None] * len(urls)
            yield _parse_batch(urls, texts, htmls, fmt, scope_bnodes, empty_guard)

    # column-prune before the Python boundary: url+text (+html only when
    # stage 1 still has pages to extract) cross Arrow — nothing else.
    cols = ["url", "text"] + (["html"] if has_html else [])
    return pages.select(*cols).mapInArrow(run, schema=PARSED)


def triples_of(parsed: DataFrame) -> DataFrame:
    """Explode the nested triples JVM-side → the flat triples relation.

    ``graph`` is the statement's named graph (N-Quads fourth term) when
    present, else the document's default graph (E21 sentinel)."""
    return parsed.select(
        "doc_url", "graph", F.explode("triples").alias("t")
    ).select(
        "doc_url",
        F.coalesce(F.col("t.graph"), F.col("graph")).alias("graph"),
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj_kind").alias("obj_kind"),
        F.col("t.obj_value").alias("obj_value"),
        F.col("t.obj_lang").alias("obj_lang"),
        F.col("t.obj_datatype").alias("obj_datatype"),
        F.col("t.line_no").alias("line_no"),
    )


def errors_of(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("error_stage").isNotNull()).select(
        "doc_url",
        F.col("error_stage").alias("stage"),
        F.col("error_line").alias("line"),
        F.col("error_message").alias("message"),
    )


def docmeta_of(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "doc_url", "format", "error_stage", "error_line", "error_message",
        "resource_count", "n_triples", "prefixes",
    )


def prefixes_of(parsed: DataFrame) -> DataFrame:
    """Long-form prefixes table (doc_url, prefix, namespace)."""
    return (
        parsed.filter(F.col("prefixes").isNotNull())
        .select("doc_url", F.explode("prefixes").alias("prefix", "namespace"))
    )


def detected_of(parsed: DataFrame) -> DataFrame:
    """D4 canParse surface: (url, format, error)."""
    return parsed.select(
        F.col("doc_url").alias("url"),
        "format",
        F.col("error_stage").alias("error"),
    )


def subject_bnode(col: Column) -> Column:
    """Predicate: is this term a (scoped) blank node?"""
    return col.startswith("_:")

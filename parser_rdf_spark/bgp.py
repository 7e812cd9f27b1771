"""Basic-graph-pattern (SPARQL-style) query compiler over the triples
relation.

The reference is a parser that EMITS triples (reference:
src/RdfParser.php:111-125); the natural query workload over the
constructed KG is a conjunction of triple patterns — SPARQL's BGP core.
This module compiles a pattern list into a DataFrame plan of self-joins
over ONE triples table, which is exactly the shape Catalyst optimizes
well:

* a constant in a pattern position becomes a ``filter`` that reaches the
  parquet scan as a pushed-down predicate (and, on the materialized edge
  table of :mod:`.materialize`, a constant predicate prunes
  ``pred_bucket`` partitions outright);
* each shared variable becomes an equi-join key — the self-joins shuffle
  on the variable's column, and AQE broadcast-converts the selective
  sides at runtime (constant-rich patterns scan few rows);
* OPTIONAL blocks are left outer joins, FILTERs are Column expressions
  applied after binding (Catalyst pushes them to the earliest join that
  binds their variables).

At 100 TB the plan is N-1 shuffles for N patterns in the worst case, and
fewer in practice: AQE turns every selective pattern into a broadcast
probe, and patterns sharing their join variable reuse the exchange.
No Python runs per row — the compiler only builds Column expressions.

Pattern syntax: a pattern is a ``(subject, predicate, object)`` string
triple; a term starting with ``?`` is a variable, anything else is a
constant matched verbatim against the triples columns. A variable
repeated inside one pattern constrains equality (``(?x, knows, ?x)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_POSITIONS = ("subj", "pred", "obj")


def triples_spo(triples: DataFrame) -> DataFrame:
    """Project the engine's full triples schema (schemas.TRIPLES) to the
    generic (subj, pred, obj) relation the compiler queries: object IRIs,
    bnode labels and literal lexical forms all land in ``obj``."""
    return triples.select("subj", "pred", F.col("obj_value").alias("obj"))


def quads_spo(triples: DataFrame) -> DataFrame:
    """Like :func:`triples_spo` but keeps the named-graph column (the
    N-Quads surface of :mod:`.nquads`: '_:default' when unnamed), for
    4-term GRAPH patterns."""
    return triples.select(
        F.coalesce(F.col("graph"), F.lit("_:default")).alias("graph"),
        "subj", "pred", F.col("obj_value").alias("obj"),
    )


def terms_spo(triples: DataFrame) -> DataFrame:
    """Project the full triples schema (schemas.TRIPLES) to the
    TERM-ENCODED (subj, pred, obj) relation of
    ``sparql_query(..., term_mode=True)``: every position rendered in
    canonical N-Triples term syntax — ``<iri>``, ``_:label``,
    ``"lex"``, ``"lex"@lang``, ``"lex"^^<dt>``, or an RDF-star quoted
    lexical form. One string IS one RDF term, so joins / DISTINCT /
    solution equality are term-identity for free and the SPARQL term
    builtins (LANG, DATATYPE, isIRI/isBlank/isLiteral/isNumeric,
    sameTerm, STR) compile to pure string expressions over the encoding
    (whole-stage-codegen friendly; no companion columns to thread
    through the join machinery). The rendering is exactly the
    serializer's (serialize.object_term), so the encoded relation is
    also the canonical comparison form of SURVEY §1.3.

    Scale note (encode once, query many): over this DERIVED projection a
    constant pattern filter evaluates above the base scan (Catalyst
    cannot invert concat), so at 100-TB scale MATERIALIZE the encoded
    relation (parquet/Iceberg, bucketed by pred like the edges table) —
    the encoded terms are then stored columns and every constant filter
    reaches the scan as a pushed parquet predicate (pinned by
    tests/test_sparql_terms.py::test_materialized_encoding_pushes_filters).
    """
    from .serialize import _term, object_term

    return triples.select(
        _term(F.col("subj")).alias("subj"),
        _term(F.col("pred")).alias("pred"),
        object_term().alias("obj"),
    )


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pred_bucket_prune(scan: DataFrame, preds: list[str]) -> DataFrame:
    """Partition pruning over the MATERIALIZED term relation
    (materialize.GraphWriter table ``terms``): when the relation carries
    a ``pred_bucket`` partition column (bucket count in the column
    metadata, set by GraphWriter.terms), a constant-predicate pattern
    additionally filters ``pred_bucket = pmod(xxhash64(pred), N)``. The
    right-hand side is foldable, so Catalyst constant-folds it to a
    literal and the file source prunes 1-1/N of the partition
    directories BEFORE any IO (plan-pinned by
    tests/test_materialized_terms.py). A no-op on relations without the
    column or the metadata."""
    if "pred_bucket" not in scan.columns:
        return scan
    meta = scan.schema["pred_bucket"].metadata or {}
    n = meta.get("pred_buckets")
    if not n:
        return scan
    cond = None
    for p in preds:
        eq = F.col("pred_bucket") == \
            F.pmod(F.xxhash64(F.lit(p)), F.lit(int(n))).cast("int")
        cond = eq if cond is None else (cond | eq)
    return scan.filter(cond)


def _var_name(term: str) -> str:
    name = term[1:]
    if not name:
        raise ValueError("empty variable name '?'")
    return name


def seq_path(subj: str, preds: list[str], obj: str, tag: str = "p") -> list[tuple[str, str, str]]:
    """SPARQL sequence path ``subj p1/p2/.../pn obj`` desugared into a
    chain of patterns through fresh intermediate variables (each hop is
    one more self-join — exactly the cost the explicit syntax shows)."""
    if not preds:
        raise ValueError("sequence path needs at least one predicate")
    out = []
    cur = subj
    for i, p in enumerate(preds):
        nxt = obj if i == len(preds) - 1 else f"?__{tag}{i}"
        out.append((cur, p, nxt))
        cur = nxt
    return out


def _graph_nodes(triples: DataFrame) -> DataFrame:
    """All terms of the graph (subjects ∪ objects), one column ``t`` —
    the domain of SPARQL's zero-length path pairs. One distinct over the
    corpus; documented cost of the ``*``/``?`` zero-length forms."""
    return (
        triples.select(F.col("subj").alias("t"))
        .unionByName(triples.select(F.col("obj").alias("t")))
        .distinct()
    )


def _path_edges(triples: DataFrame, elt) -> DataFrame:
    """The single-step (subj, obj) edge relation of a path element:
    a plain IRI (equality filter), ``^p`` (swapped roles), an
    alternation list (one ``isin`` filter), or a ``('seq', parts)``
    sequence (left-fold equi-join over the parts, distinct at the end —
    the composed relation is a set). Used as the base relation under a
    parenthesized closure ``(…)+`` / ``(…)*`` / ``(…)?``."""
    if isinstance(elt, tuple) and len(elt) == 3 and elt[0] == "closure":
        # nested closure ((p/q)+)* — the inner closure's pair relation
        # is the edge set of the outer one; recursion bottoms out at
        # plain elements
        _, inner, op = elt
        if op == "?":
            return _path_edges(triples, inner).distinct().unionByName(
                _graph_nodes(triples).select(
                    F.col("t").alias("subj"), F.col("t").alias("obj"))
            ).distinct()
        return kleene_scan(triples, inner, zero=(op == "*"))
    if isinstance(elt, str):
        if elt.startswith("^") and len(elt) > 1:
            inv = _path_edges(triples, elt[1:])
            return inv.select(F.col("obj").alias("subj"),
                              F.col("subj").alias("obj"))
        if elt.startswith("!") and len(elt) > 1:
            # negated property set as a closure base: the complement
            # edge relation — one NOT IN filter, still a pushed scan
            inner = elt[1:]
            if inner.startswith("(") and inner.endswith(")"):
                excluded = [p.strip() for p in inner[1:-1].split("|")]
            else:
                excluded = [inner]
            return triples.filter(
                ~F.col("pred").isin(excluded)).select("subj", "obj")
        if elt[-1:] in ("+", "*", "?") and len(elt) > 1:
            # a modified element as a closure base / sequence part
            # ((p+/q)*, ((p)+)* …): its pair relation is the edge set
            base, op = elt[:-1], elt[-1]
            if op == "?":
                return _path_edges(triples, base).distinct().unionByName(
                    _graph_nodes(triples).select(
                        F.col("t").alias("subj"), F.col("t").alias("obj"))
                ).distinct()
            return kleene_scan(triples, base, zero=(op == "*"))
        return _pred_bucket_prune(
            triples.filter(F.col("pred") == F.lit(elt)), [elt]
        ).select("subj", "obj")
    if isinstance(elt, list):
        return _pred_bucket_prune(
            triples.filter(F.col("pred").isin(elt)), elt
        ).select("subj", "obj")
    if isinstance(elt, tuple) and len(elt) == 2 and elt[0] == "seq":
        cur = _path_edges(triples, elt[1][0])
        for part in elt[1][1:]:
            nxt = _path_edges(triples, part).select(
                F.col("subj").alias("__mid"), F.col("obj").alias("__out"))
            cur = (cur.join(nxt, cur["obj"] == nxt["__mid"])
                   .select(cur["subj"], F.col("__out").alias("obj")))
        return cur.distinct()
    if isinstance(elt, tuple) and len(elt) == 2 and elt[0] == "alt":
        # general alternation (members may be modified/sequence paths):
        # the union of the members' pair relations
        cur = _path_edges(triples, elt[1][0])
        for part in elt[1][1:]:
            cur = cur.unionByName(_path_edges(triples, part))
        return cur.distinct()
    raise ValueError(f"unsupported path element under a closure: {elt!r}")


def kleene_scan(
    triples: DataFrame,
    pred,
    zero: bool = False,
    max_iters: int = 20,
) -> DataFrame:
    """Transitive-closure scan for a SPARQL ``p+`` / ``p*`` path: all
    (subj, obj) pairs connected by ≥1 hop of ``pred`` (any
    :func:`_path_edges` element — plain IRI, ``^p``, alternation list,
    ``('seq', parts)``, a negated set ``!p`` / ``!(p1|p2)``, or a
    nested ``('closure', …)`` tuple — so parenthesized closures
    ``(p1|p2)+`` / ``(p1/p2)+`` / ``((p/q)+)*`` / ``!(p)+`` all close
    over the composed edge relation), computed by
    iterative path doubling with per-round ``localCheckpoint`` (closes a
    diameter-d chain in ⌈log₂ d⌉ shuffles). ``zero=True`` (the ``p*``
    form) unions the reflexive pairs over every term of the graph, per
    SPARQL's zero-length-path semantics (one distinct over the corpus —
    the documented cost of ``*`` vs ``+``).

    Scale shape: the closure is computed over the ``pred`` edge subset
    only (constant filter pushed to the scan), not the whole relation;
    hierarchy predicates (partOf, subClassOf, replies-to) are orders of
    magnitude smaller than the corpus. Returns columns (subj, obj).
    """
    from .inference import transitive_closure

    edges = _path_edges(triples, pred)
    closed = transitive_closure(
        edges, src_col="subj", dst_col="obj", max_iters=max_iters
    ).select(F.col("src").alias("subj"), F.col("dst").alias("obj"))
    if zero:
        closed = closed.unionByName(
            _graph_nodes(triples).select(
                F.col("t").alias("subj"), F.col("t").alias("obj"))
        ).distinct()
    return closed


_GSEP = "\x00"  # graph∕node fuse separator: NUL is banned in IRIs (V5)
#                 and bnode labels, so graph-fused node ids never collide


def _tag_graph(quads: DataFrame) -> DataFrame:
    """Fuse the graph name into the node ids of a quads relation so ONE
    closure computation (path doubling over the union of all graphs —
    not a per-graph loop) stays inside each graph: nodes of different
    graphs can never compare equal."""
    return quads.select(
        F.concat(F.col("graph"), F.lit(_GSEP), F.col("subj")).alias("subj"),
        "pred",
        F.concat(F.col("graph"), F.lit(_GSEP), F.col("obj")).alias("obj"),
    )


def _untag_graph(df: DataFrame) -> DataFrame:
    """Split the graph back out of :func:`_tag_graph`-fused (subj, obj)
    pairs. The graph is the FIRST segment (graph names cannot contain
    NUL); the node is stripped by exact prefix length, so a literal
    object that itself contains NUL is still recovered byte-exact."""
    def node(colname: str):
        c = F.col(colname)
        glen = F.length(F.substring_index(c, _GSEP, 1))
        return c.substr(glen + F.lit(2), F.length(c))

    return df.select(
        F.substring_index(F.col("subj"), _GSEP, 1).alias("graph"),
        node("subj").alias("subj"),
        node("obj").alias("obj"),
    )


def _closure_relation(triples: DataFrame, g_term):
    """(relation, finalize) pair for a path-closure scan under a graph
    term. No graph term → the relation itself. CONSTANT graph → that
    graph's slice (a pushed scan filter: the closure runs over one
    graph's edges only, never the corpus). VARIABLE graph → the
    graph-fused relation of :func:`_tag_graph`, finalized by splitting
    the graph column back out — one closure over all graphs at once."""
    if g_term is None:
        return triples, lambda df: df
    if not _is_var(g_term):
        sliced = triples.filter(F.col("graph") == g_term).drop("graph")
        return sliced, lambda df: df.select(
            F.lit(g_term).alias("graph"), "subj", "obj")
    return _tag_graph(triples), _untag_graph


def _pattern_scan(triples: DataFrame, pattern: tuple,
                  dedup: bool = True) -> tuple[DataFrame, set[str]]:
    """One pattern → a filtered projection of the triples relation with
    variable-named columns. Returns (scan, bound_variable_names).

    ``dedup`` collapses each scan to distinct (subj, pred, obj) rows
    AFTER the constant filters and BEFORE the variable projection: RDF
    graphs are triple SETS, but a corpus-level relation unions
    per-document graphs, so a hot subject's (x, type, C) row can repeat
    thousands of times and a multiset join squares it (the same failure
    mode measured in shacl_validate: 5e8-row join on the 200k-doc bench
    corpus). Deduping post-filter keeps the exchange output-sized for
    constant-bound patterns while preserving SPARQL solution
    multiplicities (dedup at triple granularity, not binding
    granularity).

    Predicate-position path operators (constants only):
      * alternation — a list/tuple of predicates compiles to one
        ``isin`` filter (SPARQL ``p1|p2``), still a pushed-down In;
      * inverse — a ``^p`` predicate swaps the subject/object roles
        (SPARQL ``^p``), zero extra cost;
      * transitive — a trailing ``+`` / ``*`` (SPARQL ``p+`` / ``p*``)
        swaps the base relation for :func:`kleene_scan`'s closure, and a
        trailing ``?`` (zero-or-one) for the single-hop edges unioned
        with the reflexive pairs over every graph term. A predicate IRI
        that genuinely ends in ``+``/``*``/``?`` can be matched
        literally by passing it as a 1-element alternation ``[pred]``;
      * negated set — a leading ``!`` (``!p`` or ``!(p1|p2)``, SPARQL's
        negated property set) compiles to a NOT IN filter — like
        alternation it constrains the scan without binding the predicate
        position, so two negated-set patterns never share a phantom join
        variable. A predicate IRI that genuinely starts with ``!`` can
        be matched literally via a 1-element alternation ``[pred]``.

    A 4-term pattern ``(graph, subj, pred, obj)`` additionally matches /
    binds the relation's ``graph`` column (SPARQL GRAPH over the N-Quads
    surface — use :func:`quads_spo`); the graph term is a plain variable
    or constant. Kleene paths under a graph term close WITHIN each
    graph (SPARQL paths never cross graph boundaries): a constant graph
    slices the relation first (pushed scan filter), a variable graph
    runs one closure over graph-fused node ids (:func:`_tag_graph`).
    """
    if len(pattern) == 4:
        g_term, s_term, p_term, o_term = pattern
        if not isinstance(g_term, str):
            raise ValueError(f"graph term must be a plain term: {g_term!r}")
        if "graph" not in triples.columns:
            raise ValueError(
                "4-term (GRAPH) patterns need a relation with a graph "
                "column — use quads_spo()"
            )
    elif len(pattern) == 3:
        g_term, s_term, p_term, o_term = None, *pattern
    else:
        raise ValueError(f"pattern must be (subj, pred, obj) or "
                         f"(graph, subj, pred, obj): {pattern!r}")
    if isinstance(p_term, str) and p_term.startswith("^"):
        s_term, o_term = o_term, s_term
        p_term = p_term[1:]
    scan = triples
    if isinstance(p_term, str) and p_term.startswith("!") and len(p_term) > 1:
        inner = p_term[1:]
        if inner.startswith("(") and inner.endswith(")"):
            excluded = [p.strip() for p in inner[1:-1].split("|")]
        else:
            excluded = [inner]
        scan = scan.filter(~F.col("pred").isin(excluded))
        p_term = None  # constrained by the NOT IN; binds nothing
    elif isinstance(p_term, str) and p_term.endswith(("+", "*")) and len(p_term) > 1:
        base, op = p_term[:-1], p_term[-1]
        rel, finalize = _closure_relation(triples, g_term)
        scan = finalize(kleene_scan(rel, base, zero=(op == "*"))) \
            .withColumn("pred", F.lit(p_term))
    elif isinstance(p_term, str) and p_term.endswith("?") \
            and len(p_term) > 1 and not p_term.startswith("?"):
        # SPARQL zero-or-one path p?: the single-hop edge set unioned
        # with the reflexive pairs over every graph term — same
        # zero-length semantics as p*, without the closure
        base = p_term[:-1]
        rel, finalize = _closure_relation(triples, g_term)
        hop = _pred_bucket_prune(
            rel.filter(F.col("pred") == F.lit(base)), [base]
        ).select("subj", "obj")
        scan = finalize(hop.unionByName(
            _graph_nodes(rel).select(
                F.col("t").alias("subj"), F.col("t").alias("obj"))
        ).distinct()).withColumn("pred", F.lit(p_term))
    elif isinstance(p_term, tuple) and len(p_term) == 3 \
            and p_term[0] == "closure":
        # parenthesized path closure ('closure', inner, op): the closure
        # (or zero-or-one union) over the COMPOSED edge relation of the
        # inner alternation/sequence element
        _, inner, op = p_term
        rel, finalize = _closure_relation(triples, g_term)
        if op == "?":
            scan = _path_edges(rel, inner).distinct().unionByName(
                _graph_nodes(rel).select(
                    F.col("t").alias("subj"), F.col("t").alias("obj"))
            ).distinct()
        else:
            scan = kleene_scan(rel, inner, zero=(op == "*"))
        scan = finalize(scan).withColumn("pred", F.lit("__closure__"))
        p_term = None  # constrained by the composed scan; binds nothing
    elif isinstance(p_term, tuple) and len(p_term) == 2 \
            and p_term[0] == "alt":
        # general path alternation over modified/sequence members
        # (p+|q, (p/q)|r): the union of the members' pair relations
        rel, finalize = _closure_relation(triples, g_term)
        scan = finalize(_path_edges(rel, p_term)) \
            .withColumn("pred", F.lit("__alt__"))
        p_term = None  # constrained by the composed scan; binds nothing
    if g_term is None:
        positions, terms = _POSITIONS, (s_term, p_term, o_term)
    else:
        positions, terms = ("graph",) + _POSITIONS, (g_term, s_term, p_term, o_term)
    cols: dict[str, F.Column] = {}
    quoted: dict[str, tuple] = {}  # position -> ('quoted', s, p, o)
    for pos, term in zip(positions, terms):
        if pos == "pred" and term is None:
            continue
        if pos == "pred" and isinstance(term, (list, tuple)):
            if any(_is_var(t) for t in term):
                raise ValueError(f"alternation members must be constants: {term!r}")
            scan = _pred_bucket_prune(
                scan.filter(F.col(pos).isin(list(term))), list(term))
            continue
        if isinstance(term, tuple) and term[:1] == ("quoted",):
            # RDF-star quoted-triple pattern << s p o >> in subject or
            # object position: constrain the scan to quoted terms here,
            # resolve the inner positions after dedup via star_unnest
            if pos not in ("subj", "obj"):
                raise ValueError(
                    f"quoted-triple patterns are only valid in subject/"
                    f"object position, not {pos}")
            if len(term) != 4:
                raise ValueError(f"malformed quoted pattern: {term!r}")
            scan = scan.filter(F.col(pos).startswith("<<"))
            quoted[pos] = term
            continue
        if _is_var(term):
            name = _var_name(term)
            if name in cols:
                # repeated variable inside one pattern: equality constraint
                scan = scan.filter(F.col(pos) == cols[name])
            else:
                cols[name] = F.col(pos)
        else:
            scan = scan.filter(F.col(pos) == F.lit(term))
            if pos == "pred":
                scan = _pred_bucket_prune(scan, [term])
    if dedup and (cols or quoted):
        # triple granularity for 3-term patterns (a quad store collapses
        # to its triple SET — the documented corpus-level semantics);
        # quad granularity when the graph term participates
        scan = scan.dropDuplicates(list(positions))
    for pos, term in quoted.items():
        # parse-once-per-distinct-term unnest relation (starops), joined
        # 1:1 on the quoted lexical form AFTER the dedup so the Arrow
        # parse cost is paid on the term dictionary, not the triples
        un = _quoted_unnest_spo(triples, tag=pos)
        scan = scan.join(un, F.col(pos) == F.col(f"__qt_{pos}"), "inner")
        for ipos, iterm in zip(
            (f"__qs_{pos}", f"__qp_{pos}", f"__qo_{pos}"), term[1:]
        ):
            if isinstance(iterm, tuple):
                raise ValueError(
                    "nested quoted-triple patterns are not supported — "
                    "bind the inner term to a variable and add a second "
                    "quoted pattern over it")
            if _is_var(iterm):
                name = _var_name(iterm)
                if name in cols:
                    scan = scan.filter(F.col(ipos) == cols[name])
                else:
                    cols[name] = F.col(ipos)
            else:
                scan = scan.filter(F.col(ipos) == F.lit(iterm))
    if not cols:
        # fully-constant pattern: an existence test; bind a constant-free
        # marker column so the join below degenerates to a cross with a
        # 0-or-1-row side (AQE broadcasts it); limit(1) makes dedup moot
        return scan.select(F.lit(1).alias("__exists")).limit(1), set()
    return scan.select(*[c.alias(n) for n, c in cols.items()]), set(cols)


def _quoted_unnest_spo(triples: DataFrame, tag: str) -> DataFrame:
    """star_unnest collapsed to the spo surface: one row per distinct
    quoted lexical form with inner (subject, predicate, object-value)
    strings, columns tagged per pattern position so two quoted patterns
    in one BGP never collide. Strings that start with '<<' but do not
    parse as quoted terms (possible in the kind-collapsed relation) are
    dropped — they can never match a quoted pattern."""
    from .starops import _parse_quoted_udf

    terms = (
        triples.filter(F.col("subj").startswith("<<"))
        .select(F.col("subj").alias("term"))
        .unionByName(
            triples.filter(F.col("obj").startswith("<<"))
            .select(F.col("obj").alias("term"))
        )
        .distinct()
    )
    parts = terms.withColumn("p", _parse_quoted_udf(F.col("term")))
    return parts.select(
        F.col("term").alias(f"__qt_{tag}"),
        F.col("p.q_subj").alias(f"__qs_{tag}"),
        F.col("p.q_pred").alias(f"__qp_{tag}"),
        F.col("p.q_obj_value").alias(f"__qo_{tag}"),
    ).filter(F.col(f"__qp_{tag}").isNotNull())


def _join_patterns(
    acc: DataFrame | None,
    bound: set[str],
    scan: DataFrame,
    scan_vars: set[str],
    how: str,
) -> tuple[DataFrame, set[str]]:
    if acc is None:
        return scan, set(scan_vars)
    shared = sorted(bound & scan_vars)
    if shared:
        joined = acc.join(scan, on=shared, how=how)
    elif not scan_vars:
        # existence-test pattern: a 0-or-1-row guard; the broadcast cross
        # is free and filters everything when the triple is absent
        joined = acc.crossJoin(F.broadcast(scan)).drop("__exists")
        return joined, bound
    else:
        # disconnected pattern groups: genuine cross product (SPARQL
        # semantics); rare and intentional, so make it explicit
        joined = acc.crossJoin(scan)
    return joined, bound | scan_vars


def _conditioned_join(
    acc: DataFrame,
    bound: set[str],
    scan: DataFrame,
    scan_vars: set[str],
    filters: list[str],
    how: str,
) -> DataFrame:
    """Join ``acc`` with ``scan`` on (shared-variable equality AND the
    ``filters`` expressions) — the SPARQL §18.2 conditioned forms:
    ``LeftJoin(Ω1, Ω2, expr)`` (OPTIONAL with an inner FILTER, spec
    §6.1/§18.2.1 simplification), and the correlated EXISTS / NOT EXISTS
    semi/anti joins whose inner FILTER may reference outer variables
    (spec §8.1.1: EXISTS is evaluated under the outer binding).

    The filter expressions resolve names across BOTH sides: scan's
    shared columns are renamed away first, so an outer-or-shared
    variable resolves to ``acc``'s column and an inner-only variable to
    ``scan``'s — exactly the merged-solution scope the spec evaluates
    the expression over (on matched rows the shared columns are equal,
    so either side is the spec's value). Catalyst pushes any conjunct
    that references only the scan side below the join (safe for
    left/semi/anti), so an inner-only FILTER still prunes before the
    shuffle; a conjunct over both sides runs as the join condition,
    which is the only place its semantics CAN run."""
    shared = sorted(bound & scan_vars)
    for v in shared:
        scan = scan.withColumnRenamed(v, f"__r_{v}")
    # after the rename every column name is unique across the join, so
    # name-based resolution is unambiguous even though both sides derive
    # from the same triples lineage
    cond = None
    for v in shared:
        eq = F.col(f"`{v}`") == F.col(f"`__r_{v}`")
        cond = eq if cond is None else cond & eq
    for f in filters:
        e = F.expr(f)
        cond = e if cond is None else cond & e
    assert cond is not None
    joined = acc.join(scan, on=cond, how=how)
    if how.startswith("left_"):
        return joined  # semi/anti: only acc's columns survive
    return joined.drop(*[f"__r_{v}" for v in shared])


def _compile_optional_entry(
    triples: DataFrame,
    ent,
    dedup: bool,
    stats: dict | None,
) -> tuple[DataFrame, set[str], list[str]]:
    """Compile one ``optional=`` entry to (relation, vars, join_filters).

    Accepted forms: a single pattern tuple; a LIST of patterns (one
    inner-joined group); or a DICT group ``{"patterns": […],
    "filters": […], "bind": {…}, "optional": […]}`` — the general
    SPARQL OPTIONAL body. Inside a dict group, BIND extends the group's
    own solutions (spec scoping: the expression sees the group's
    variables only — an outer reference is an unresolved column, which
    is the spec's unbound-variable error), nested OPTIONALs left-join
    recursively, and FILTERs are RETURNED rather than applied: the
    caller must evaluate them as the left-join condition, because a
    filter referencing an outer variable cannot be decided before the
    join (LeftJoin(Ω1, Ω2, expr))."""
    if isinstance(ent, dict):
        extra = set(ent) - {"patterns", "filters", "bind", "optional"}
        if extra:
            raise ValueError(
                f"OPTIONAL group supports patterns/filters/bind/nested "
                f"optional only, got: {sorted(extra)}")
        if not ent.get("patterns"):
            raise ValueError("OPTIONAL group needs at least one pattern")
        scan, scan_vars = _compile_group(triples, list(ent["patterns"]),
                                         dedup, stats=stats)
        for nested in ent.get("optional") or []:
            n_scan, n_vars, n_filters = _compile_optional_entry(
                triples, nested, dedup, stats)
            if n_filters:
                scan = _conditioned_join(scan, scan_vars, n_scan, n_vars,
                                         n_filters, "left")
            else:
                scan, _ = _join_patterns(scan, scan_vars, n_scan, n_vars,
                                         "left")
            scan_vars |= n_vars
        for name, expr in (ent.get("bind") or {}).items():
            name = _var_name(name) if _is_var(name) else name
            scan = scan.withColumn(name, F.expr(expr))
            scan_vars.add(name)
        return scan, scan_vars, list(ent.get("filters") or [])
    if ent and isinstance(ent[0], (list, tuple)):
        # OPTIONAL group: inner-join the group's patterns first, then
        # left-join the whole group (all-or-nothing binding)
        scan, scan_vars = _compile_group(triples, list(ent), dedup,
                                         stats=stats)
        return scan, scan_vars, []
    scan, scan_vars = _pattern_scan(triples, ent, dedup=dedup)
    return scan, scan_vars, []


def predicate_stats_map(stats) -> dict[str, tuple[int, int, int]]:
    """Normalize :func:`.graphops.predicate_statistics` output (or any
    relation/mapping with pred → n_triples, ndv_subj, ndv_obj) to the
    dict :func:`bgp_query` consumes. Collecting is bounded driver state:
    one row per distinct PREDICATE (schema-sized — 10³-10⁵ in real KGs),
    never per triple."""
    if isinstance(stats, dict):
        return {p: (int(v[0]), int(v[1]), int(v[2])) for p, v in stats.items()}
    return {
        r["pred"]: (int(r["n_triples"]), int(r["ndv_subj"]), int(r["ndv_obj"]))
        for r in stats.select("pred", "n_triples", "ndv_subj", "ndv_obj").collect()
    }


def _estimate_pattern(pat, smap: dict, n_total: float) -> float:
    """Estimated solution cardinality of one triple pattern under
    per-predicate stats — the standard System-R style independence
    estimate: count(pred) shrunk by 1/NDV for each constant subject /
    object. Variable predicates sum the per-predicate estimates (exact
    decomposition of the scan); closures and unknown shapes fall back to
    the total (pessimistic → ordered late)."""
    terms = tuple(pat)
    if len(terms) == 4:        # GRAPH patterns: graph term adds no stats
        terms = terms[1:]
    s_term, p_term, o_term = terms

    def per_pred(n: int, ndv_s: int, ndv_o: int) -> float:
        est = float(n)
        if not _is_var(s_term):
            est /= max(ndv_s, 1)
        if o_term is not None and not _is_var(o_term):
            est /= max(ndv_o, 1)
        return est

    if isinstance(p_term, tuple) and p_term[:1] == ("closure",):
        return n_total
    if isinstance(p_term, (list, tuple)):          # alternation
        preds = list(p_term)
    elif p_term is None or _is_var(p_term):
        preds = None                               # ranges over all preds
    else:
        base = p_term
        if base[-1:] in ("+", "*", "?") and len(base) > 1:
            return n_total                         # kleene: join depth unknown
        preds = [base]
    if preds is None:
        return sum(per_pred(*v) for v in smap.values()) or n_total
    return sum(per_pred(*smap[p]) for p in preds if p in smap)


def _pattern_vars(pat) -> set[str]:
    out = set()
    for t in pat:
        if isinstance(t, tuple) and t[:1] == ("quoted",):
            # inner variables of a quoted-triple pattern participate in
            # join connectivity exactly like top-level ones
            out |= _pattern_vars(t[1:])
        elif _is_var(t):
            out.add(_var_name(t))
    return out


def _order_patterns(patterns: list, stats: dict | None) -> list[tuple[int, tuple]]:
    """The join-order decision of :func:`_compile_group`, exposed for
    plan tests: (index, pattern) pairs in execution order."""
    if stats:
        n_total = float(sum(v[0] for v in stats.values())) or 1.0
        remaining = list(enumerate(patterns))
        est = {i: _estimate_pattern(p, stats, n_total) for i, p in remaining}
        ordered = []
        bound_vars: set[str] = set()
        while remaining:
            connected = [
                (i, p) for i, p in remaining
                if not ordered or (_pattern_vars(p) & bound_vars)
                or not _pattern_vars(p)
            ]
            pool = connected or remaining   # disconnected groups: genuine cross
            i, pat = min(pool, key=lambda ip: (est[ip[0]], ip[0]))
            ordered.append((i, pat))
            bound_vars |= _pattern_vars(pat)
            remaining = [(j, q) for j, q in remaining if j != i]
        return ordered

    def n_constants(p) -> int:
        return sum(0 if _is_var(t) else 1 for t in p)

    return sorted(enumerate(patterns), key=lambda ip: (-n_constants(ip[1]), ip[0]))


def _compile_group(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    dedup: bool,
    stats: dict[str, tuple[int, int, int]] | None = None,
) -> tuple[DataFrame, set[str]]:
    """Inner-join a pattern group most-constant-first (the shared static
    selectivity heuristic of :func:`bgp_query`), or — when per-predicate
    ``stats`` are supplied — in greedy smallest-estimated-cardinality
    order restricted to variable-connected choices (a Selinger-style
    left-deep greedy that never introduces a cross join the static order
    would have avoided)."""
    ordered = _order_patterns(patterns, stats)
    acc: DataFrame | None = None
    bound: set[str] = set()
    for _, pat in ordered:
        scan, scan_vars = _pattern_scan(triples, pat, dedup=dedup)
        acc, bound = _join_patterns(acc, bound, scan, scan_vars, "inner")
    assert acc is not None
    return acc, bound


def _compile_negation_group(
    triples: DataFrame,
    group,
    dedup: bool,
    stats: dict | None,
    kind: str,
) -> tuple[DataFrame, set[str], list[str]]:
    """Compile one EXISTS / NOT EXISTS / MINUS group to (relation, vars,
    filters). A group is a pattern LIST (existing form) or a DICT
    ``{"patterns": […], "filters": […]}``; filters are returned for the
    caller to place per the construct's correlation semantics."""
    if isinstance(group, dict):
        extra = set(group) - {"patterns", "filters"}
        if extra:
            raise ValueError(
                f"{kind} group supports patterns/filters only, "
                f"got: {sorted(extra)}")
        if not group.get("patterns"):
            raise ValueError(f"{kind} group needs at least one pattern")
        df, gvars = _compile_group(triples, list(group["patterns"]),
                                   dedup, stats=stats)
        return df, gvars, list(group.get("filters") or [])
    df, gvars = _compile_group(triples, group, dedup, stats=stats)
    return df, gvars, []


def apply_negation(
    triples: DataFrame,
    acc: DataFrame,
    exists=None,
    not_exists=None,
    minus=None,
    dedup: bool = True,
    stats: dict | None = None,
    bound: set[str] | None = None,
) -> DataFrame:
    """Apply SPARQL EXISTS / NOT EXISTS / MINUS groups to an arbitrary
    solution relation ``acc`` (the groups match against ``triples``).
    Factored out of :func:`bgp_query` so group-level executors (UNION /
    sub-SELECT groups) can run the same semantics over their joined
    relation — per the algebra these are group-scoped, not
    BGP-scoped. Group forms and filter correlation semantics are those
    documented on :func:`bgp_query`."""
    bound = set(acc.columns) if bound is None else bound

    for group in exists or []:
        pos, pos_vars, gfilters = _compile_negation_group(
            triples, group, dedup, stats, "EXISTS")
        shared = sorted(bound & pos_vars)
        if gfilters:
            # correlated EXISTS (spec §8.1.1): the inner FILTER may
            # reference outer variables, so it must run as the semi-join
            # condition; inner-only conjuncts still push below the join
            acc = _conditioned_join(acc, bound, pos, pos_vars,
                                    gfilters, "left_semi")
        elif shared:
            acc = acc.join(pos.select(*shared).distinct(), on=shared,
                           how="left_semi")
        else:
            # constant gate: ≥1 inner solution keeps all rows, else none
            gate = pos.limit(1).select(F.lit(1).alias("__gate"))
            acc = acc.crossJoin(F.broadcast(gate)).drop("__gate")

    for kind, groups in (("not_exists", not_exists), ("minus", minus)):
        for group in groups or []:
            neg, neg_vars, gfilters = _compile_negation_group(
                triples, group, dedup, stats,
                "MINUS" if kind == "minus" else "NOT EXISTS")
            if kind == "minus" and gfilters:
                # MINUS evaluates its pattern INDEPENDENTLY (spec §8.3):
                # the filter sees only the group's own variables — an
                # outer reference is unresolved, the spec's unbound error
                try:
                    for f in gfilters:
                        neg = neg.filter(F.expr(f))
                except Exception as e:
                    raise ValueError(
                        "MINUS filters see only the MINUS group's own "
                        f"variables (spec §8.3): {e}") from e
                gfilters = []
            shared = sorted(bound & neg_vars)
            if kind == "not_exists" and gfilters:
                acc = _conditioned_join(acc, bound, neg, neg_vars,
                                        gfilters, "left_anti")
                continue
            if not shared:
                if kind == "minus":
                    continue  # SPARQL MINUS: disjoint domains remove nothing
                # NOT EXISTS with a disjoint group (spec §8.3.3): the
                # constant anti-gate — ≥1 inner solution removes EVERY
                # row, zero solutions removes nothing (the dual of the
                # EXISTS gate; this asymmetry vs MINUS is the spec's own
                # worked example)
                gate = neg.limit(1).select(F.lit(1).alias("__gate"))
                acc = acc.join(F.broadcast(gate), F.lit(True), "left_anti")
                continue
            acc = acc.join(neg.select(*shared).distinct(), on=shared,
                           how="left_anti")
    return acc


def bgp_query(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    filters: list[str] | None = None,
    select: list[str] | None = None,
    distinct: bool = False,
    order_by: list[str] | None = None,
    limit: int | None = None,
    dedup: bool = True,
    values: tuple[list[str], list[tuple]] | None = None,
    bind: dict[str, str] | None = None,
    exists: list[list[tuple[str, str, str]]] | None = None,
    not_exists: list[list[tuple[str, str, str]]] | None = None,
    minus: list[list[tuple[str, str, str]]] | None = None,
    group_by: list[str] | None = None,
    aggregates: dict[str, str] | None = None,
    having: list[str] | None = None,
    stats: dict | DataFrame | None = None,
) -> DataFrame:
    """Compile a basic graph pattern to a DataFrame over ``triples``.

    ``triples`` must expose (subj, pred, obj) string columns — use
    :func:`triples_spo` to adapt the engine's full parse schema.

    ``patterns`` are required (inner-joined); ``optional`` entries are
    left-joined after all required ones (unbound → NULL, SPARQL
    OPTIONAL) — an entry is a single pattern, a LIST of patterns
    (compiled as one inner-joined group and left-joined as a whole:
    SPARQL ``OPTIONAL { p1 . p2 }`` all-or-nothing binding, unlike two
    separate OPTIONALs), or a DICT group ``{"patterns": […],
    "filters": […], "bind": {…}, "optional": […]}`` — the general
    OPTIONAL body: its FILTERs become the left-JOIN CONDITION
    (``LeftJoin(Ω1, Ω2, expr)``, spec §18.2.1 — they may reference
    outer variables; a failing row keeps the left solution with the
    group's variables NULL), its BINDs extend the group's own solutions
    before the join, and nested optionals left-join recursively;
    ``filters`` are SQL boolean expressions over variable names (SPARQL
    FILTER); ``select`` projects a subset of variables (``?``-prefixed
    or bare names accepted).

    Join order: required patterns are joined most-constant-first (a
    cheap selectivity proxy — every constant is a pushed-down equality
    on the scan), with ties kept in user order; AQE re-plans the
    physical side at runtime, so this only needs to be roughly right.
    Pass ``stats`` (the :func:`.graphops.predicate_statistics` relation,
    or its :func:`predicate_stats_map` dict) to switch to cost-based
    ordering: patterns join greedily by smallest estimated cardinality
    (count(pred) / NDV per constant term), restricted to
    variable-connected choices — on a skewed predicate this is the
    difference between a broadcast-probe chain and a billion-row
    intermediate, which the constant-counting heuristic cannot see.

    ``dedup=True`` (default) collapses each pattern scan to distinct
    triples — required for corpus-level relations, which union
    per-document graphs (see :func:`_pattern_scan`); pass False only
    when the input is already a triple SET and the extra per-scan
    exchange should be skipped.

    SPARQL 1.1 clauses beyond the BGP core:

    * ``values`` — ``(var_names, rows)`` inline data (SPARQL VALUES),
      inner-joined as a broadcast local relation on its variables; a
      ``None`` cell (UNDEF) matches every value;
    * ``bind`` — {new_var: SQL expression over bound vars} (SPARQL
      BIND), applied in insertion order so later binds see earlier ones;
    * ``exists`` — pattern GROUPS kept via left-semi join on the shared
      variables (SPARQL FILTER EXISTS); a group sharing NO variable is a
      constant gate — ≥1 inner solution keeps everything (a broadcast
      limit-1 cross), zero solutions keeps nothing;
    * ``not_exists`` — pattern GROUPS removed via left-anti join on the
      shared variables (SPARQL FILTER NOT EXISTS); a group sharing NO
      variable is the constant ANTI-gate (spec §8.3.3): ≥1 inner
      solution removes every row, zero solutions removes nothing;
    * ``exists``/``not_exists`` groups may also be DICTs ``{"patterns":
      […], "filters": […]}`` — the filters run as the semi/anti-join
      CONDITION (correlated EXISTS, spec §8.1.1: they may reference
      outer variables; inner-only conjuncts are pushed below the join
      by Catalyst);
    * ``minus`` — SPARQL MINUS: like ``not_exists`` but a group sharing
      NO variable removes nothing (per spec, incompatible domains); a
      DICT group's filters apply to the MINUS relation BEFORE the
      anti-join (spec §8.3: MINUS evaluates its pattern independently,
      so an outer-variable reference is an unresolved-column error);
    * ``group_by`` + ``aggregates`` ({out_name: SQL aggregate expr}) +
      ``having`` — one hash aggregate; partial (map-side) aggregation is
      Catalyst-automatic, so a mega-group shuffles combiner output, not
      rows. ``aggregates`` without ``group_by`` is a global aggregate.

    Negation caveat: anti-join keys follow SQL NULL equality, so a
    solution whose shared variable is NULL (possible only via OPTIONAL
    or BIND) survives negation; reference negation vars from required
    patterns (always bound) for spec-exact behavior.
    """
    if not patterns:
        raise ValueError("at least one required pattern")

    if stats is not None and not isinstance(stats, dict):
        stats = predicate_stats_map(stats)
    acc, bound = _compile_group(triples, patterns, dedup, stats=stats)

    if values is not None:
        v_names, v_rows = values
        names = [_var_name(v) if _is_var(v) else v for v in v_names]
        if not names:
            raise ValueError("values needs at least one variable")
        spark = triples.sparkSession
        # terms are strings; a declared schema also types an all-UNDEF
        # column, which inference cannot
        inline = spark.createDataFrame(v_rows, schema=T.StructType(
            [T.StructField(n, T.StringType()) for n in names]))
        shared = sorted(bound & set(names))
        if not shared:
            raise ValueError(
                f"VALUES variables {names} share nothing with the patterns"
            )
        # inline data is by construction tiny: broadcast, never shuffle.
        # An UNDEF cell is compatible with every value (§18.3): a column
        # holding one joins on `u IS NULL OR v = u` and keeps the
        # patterns' (always bound) value; the other columns stay
        # equalities, which Catalyst plans as broadcast hash-join keys
        loose = {v for v in shared
                 if any(r[names.index(v)] is None for r in v_rows)}
        inline = inline.select(*[
            F.col(c).alias(f"__v_{c}") if c in shared else F.col(c)
            for c in names])
        cond = None
        for v in shared:
            u = F.col(f"__v_{v}")
            eq = (u.isNull() | (F.col(v) == u)) if v in loose else F.col(v) == u
            cond = eq if cond is None else cond & eq
        acc = acc.join(F.broadcast(inline), cond, "inner").drop(
            *[f"__v_{v}" for v in shared])
        bound |= set(names)

    for pat in optional or []:
        scan, scan_vars, jfilters = _compile_optional_entry(
            triples, pat, dedup, stats)
        if not (scan_vars & bound) and not jfilters:
            raise ValueError(
                f"OPTIONAL pattern {pat!r} shares no variable with the "
                "required patterns; its left join would be a cross product"
            )
        if jfilters:
            # LeftJoin(Ω1, Ω2, expr): the group's FILTERs are the join
            # condition — a non-matching (or filter-failing) row keeps
            # the left solution with the group's variables NULL
            acc = _conditioned_join(acc, bound, scan, scan_vars,
                                    jfilters, "left")
        else:
            acc, _ = _join_patterns(acc, bound, scan, scan_vars, "left")
        bound |= scan_vars

    assert acc is not None
    for name, expr in (bind or {}).items():
        name = _var_name(name) if _is_var(name) else name
        if name in bound:
            raise ValueError(f"BIND target ?{name} is already bound")
        acc = acc.withColumn(name, F.expr(expr))
        bound.add(name)

    for expr in filters or []:
        acc = acc.filter(F.expr(expr))

    acc = apply_negation(triples, acc, exists=exists, not_exists=not_exists,
                         minus=minus, dedup=dedup, stats=stats, bound=bound)

    if aggregates:
        keys = [_var_name(g) if _is_var(g) else g for g in (group_by or [])]
        missing = [k for k in keys if k not in bound]
        if missing:
            raise ValueError(f"group_by references unbound variables: {missing}")
        aggs = [F.expr(e).alias(n) for n, e in aggregates.items()]
        acc = acc.groupBy(*keys).agg(*aggs) if keys else acc.agg(*aggs)
        bound = set(keys) | set(aggregates)
        default_order = keys + list(aggregates)
        for expr in having or []:
            acc = acc.filter(F.expr(expr))
    elif group_by or having:
        raise ValueError("group_by/having require aggregates")
    else:
        default_order = sorted(bound)

    if select:
        names = [_var_name(s) if _is_var(s) else s for s in select]
        missing = [n for n in names if n not in bound]
        if missing:
            raise ValueError(f"select references unbound variables: {missing}")
        acc = acc.select(*names)
    elif bound:
        acc = acc.select(*default_order)

    if distinct:
        acc = acc.distinct()
    if order_by:
        acc = acc.orderBy(*[_var_name(o) if _is_var(o) else o for o in order_by])
    if limit is not None:
        acc = acc.limit(limit)
    return acc


def bgp_ask(triples: DataFrame, patterns: list, **kwargs) -> DataFrame:
    """SPARQL ASK: does the pattern have ≥1 solution? Returns a 1-row
    DataFrame with a single boolean ``ask`` column (a DataFrame, not a
    bool, so the result composes with the driver contract and stays
    lazy). The ``limit(1)`` before the count lets Spark stop each scan
    at the first solution — an ASK over a selective pattern touches a
    handful of rows regardless of corpus size."""
    sols = bgp_query(triples, patterns, **kwargs).limit(1)
    return sols.agg((F.count(F.lit(1)) > 0).alias("ask"))


def bgp_construct(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    template: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    filters: list[str] | None = None,
    distinct: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """SPARQL CONSTRUCT: run the pattern match, then instantiate
    ``template`` triples from each solution — the KG-to-KG rewrite
    primitive (schema alignment, inference materialization, projection
    of a subgraph). Output is a (subj, pred, obj) relation ready for
    :func:`bgp_query`, :mod:`.materialize`, or a delta merge.

    Template rows whose terms bind to NULL (an OPTIONAL variable that
    didn't match) are dropped, per SPARQL semantics. The instantiation
    is a narrow select + union — all the cost is in the match."""
    sols = bgp_query(triples, patterns, optional=optional, filters=filters,
                     dedup=dedup)
    return construct_from_solutions(sols, template, distinct=distinct)


def construct_from_solutions(
    sols: DataFrame,
    template: list[tuple[str, str, str]],
    distinct: bool = True,
) -> DataFrame:
    """Instantiate CONSTRUCT ``template`` triples from an already-built
    solution relation — the tail of :func:`bgp_construct`, exposed so a
    front-end can apply solution modifiers (ORDER BY + LIMIT) to the
    match before templating."""

    def term_col(term: str) -> F.Column:
        return F.col(_var_name(term)) if _is_var(term) else F.lit(term)

    parts = []
    for t in template:
        if len(t) != 3:
            raise ValueError(f"template entry must be (subj, pred, obj): {t!r}")
        row = sols.select(
            term_col(t[0]).alias("subj"),
            term_col(t[1]).alias("pred"),
            term_col(t[2]).alias("obj"),
        ).filter(
            F.col("subj").isNotNull() & F.col("pred").isNotNull() & F.col("obj").isNotNull()
        )
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct() if distinct else out


def bgp_union(
    triples: DataFrame,
    groups: list[dict],
    select: list[str] | None = None,
    distinct: bool = False,
    order_by: list[str] | None = None,
    limit: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """SPARQL UNION: each group is a dict of :func:`bgp_query` kwargs
    (``patterns`` required; ``optional`` / ``filters`` / ``bind`` /
    ``values`` / ``not_exists`` / ``minus`` / ``aggregates`` accepted),
    compiled independently and unioned by column NAME — a variable bound
    in only some branches is NULL elsewhere, per SPARQL union
    semantics. The union is multiset (UNION ALL); pass ``distinct=True``
    for set semantics.

    Scale shape: a union is plan-level concatenation — zero extra
    shuffles beyond each branch's own joins, and Catalyst pushes any
    later filter into every branch independently.
    """
    if not groups:
        raise ValueError("at least one union group")
    branches = [bgp_query(triples, dedup=dedup, **g) for g in groups]
    acc = branches[0]
    for b in branches[1:]:
        acc = acc.unionByName(b, allowMissingColumns=True)
    if select:
        acc = acc.select(*[_var_name(s) if _is_var(s) else s for s in select])
    if distinct:
        acc = acc.distinct()
    if order_by:
        acc = acc.orderBy(*[_var_name(o) if _is_var(o) else o for o in order_by])
    if limit is not None:
        acc = acc.limit(limit)
    return acc

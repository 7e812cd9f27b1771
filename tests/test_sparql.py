"""SPARQL text front-end (sparql.py): parse-and-run semantics against
the same micro-KGs the bgp compiler tests use, plus error-path pins for
every documented out-of-scope construct."""

import re
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from parser_rdf_spark.sparql import SparqlError, parse_sparql, sparql_query

TRIPLES = [
    ("a", "type", "Person"),
    ("b", "type", "Person"),
    ("c", "type", "Person"),
    ("r", "type", "Robot"),
    ("a", "knows", "b"),
    ("b", "knows", "c"),
    ("a", "knows", "c"),
    ("a", "name", "Alice"),
    ("b", "name", "Bob"),
    ("a", "age", "30"),
    ("b", "age", "25"),
    ("x", "urn:ex:p", "y"),
]


@pytest.fixture(scope="module")
def kg(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


@pytest.fixture(scope="module")
def hier(spark):
    edges = [("leaf1", "partOf", "mid"), ("leaf2", "partOf", "mid"),
             ("mid", "partOf", "top"),
             ("leaf1", "type", "Leaf"), ("mid", "type", "Node")]
    return spark.createDataFrame(edges, "subj string, pred string, obj string")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_simple_select(kg):
    out = sparql_query(kg, 'SELECT ?s WHERE { ?s type "Person" }')
    assert rows(out) == [("a",), ("b",), ("c",)]
    assert out.columns == ["s"]


def test_prefix_expansion_and_verbatim(kg):
    # declared prefix expands; undeclared pname matches verbatim
    out = sparql_query(kg, """
        PREFIX ex: <urn:ex:>
        SELECT ?o WHERE { x ex:p ?o }
    """)
    assert rows(out) == [("y",)]
    out2 = sparql_query(kg, 'SELECT ?s WHERE { ?s knows c }')
    assert rows(out2) == [("a",), ("b",)]


def test_predicate_object_list_semicolon_comma(kg):
    out = sparql_query(kg, """
        SELECT ?p ?n WHERE {
          ?p type Person ; name ?n ; knows b , c .
        }
    """)
    assert rows(out) == [("a", "Alice")]


def test_select_star_hides_internal_vars(kg):
    out = sparql_query(kg, 'SELECT * WHERE { ?s knows/knows ?o }')
    assert sorted(out.columns) == ["o", "s"]
    assert rows(out.select("s", "o")) == [("a", "c")]


def test_optional_group_text(kg):
    out = sparql_query(kg, """
        SELECT ?p ?n ?g WHERE {
          ?p type Person .
          OPTIONAL { ?p name ?n . ?p age ?g }
        }
    """)
    assert rows(out) == [("a", "Alice", "30"), ("b", "Bob", "25"),
                         ("c", None, None)]


def test_filter_or_and_numeric_cast(kg):
    out = sparql_query(kg, """
        SELECT ?p WHERE {
          ?p age ?a .
          FILTER (?a > 26 || ?p = "b")
        }
    """)
    assert rows(out) == [("a",), ("b",)]
    # numeric comparison must be numeric, not lexicographic: "30" > "100"
    spec = parse_sparql('SELECT ?p WHERE { ?p age ?a . FILTER(?a < 100) }')
    assert "CAST(a AS DOUBLE)" in spec["filters"][0]


def test_filter_bare_builtin_and_regex(kg):
    out = sparql_query(kg, """
        SELECT ?n WHERE { ?p name ?n . FILTER regex(?n, "^Al") }
    """)
    assert rows(out) == [("Alice",)]
    out2 = sparql_query(kg, """
        SELECT ?n WHERE { ?p name ?n . FILTER regex(?n, "^al", "i") }
    """)
    assert rows(out2) == [("Alice",)]


def test_filter_functions(kg):
    out = sparql_query(kg, """
        SELECT ?n WHERE {
          ?p name ?n .
          FILTER (STRSTARTS(?n, "B") && STRLEN(?n) = 3)
        }
    """)
    assert rows(out) == [("Bob",)]


def test_filter_in_and_bound(kg):
    out = sparql_query(kg, """
        SELECT ?p WHERE {
          ?p type Person .
          OPTIONAL { ?p name ?n }
          FILTER (!BOUND(?n))
        }
    """)
    assert rows(out) == [("c",)]
    out2 = sparql_query(kg, """
        SELECT ?p WHERE { ?p name ?n . FILTER (?n IN ("Alice", "Zed")) }
    """)
    assert rows(out2) == [("a",)]


def test_not_exists_and_minus(kg):
    out = sparql_query(kg, """
        SELECT ?p WHERE {
          ?p type Person .
          FILTER NOT EXISTS { ?p name ?n }
        }
    """)
    assert rows(out) == [("c",)]
    out2 = sparql_query(kg, """
        SELECT ?p WHERE { ?p type Person . MINUS { ?p knows c } }
    """)
    assert rows(out2) == [("c",)]


def test_values_single_and_multi(kg):
    out = sparql_query(kg, """
        SELECT ?p ?n WHERE { ?p name ?n . VALUES ?n { "Alice" "Zed" } }
    """)
    assert rows(out) == [("a", "Alice")]
    out2 = sparql_query(kg, """
        SELECT ?p ?n WHERE {
          ?p name ?n .
          VALUES (?p ?n) { ("a" "Alice") ("b" UNDEF) }
        }
    """)
    # UNDEF matches every value (§18.3): ("b" UNDEF) joins b's name
    assert rows(out2) == [("a", "Alice"), ("b", "Bob")]


def test_values_undef_matches_every_value(spark):
    g = spark.createDataFrame([("a", "knows", "b"), ("b", "knows", "c")],
                              "subj string, pred string, obj string")
    out = sparql_query(g, "SELECT ?s ?o { ?s knows ?o VALUES ?o { UNDEF c } }")
    assert rows(out) == [("a", "b"), ("b", "c"), ("b", "c")]
    # an UNDEF-only column and a non-shared column next to an equi-key
    out2 = sparql_query(g, """
        SELECT ?s ?o ?t { ?s knows ?o VALUES (?s ?o ?t) { (a UNDEF x) (b c y) } }
    """)
    assert rows(out2) == [("a", "b", "x"), ("b", "c", "y")]
    # an all-UNDEF column (no type to infer) matches everything
    out3 = sparql_query(g, "SELECT ?s ?o { ?s knows ?o VALUES ?o { UNDEF } }")
    assert rows(out3) == [("a", "b"), ("b", "c")]


def test_bind(kg):
    out = sparql_query(kg, """
        SELECT ?p ?u WHERE {
          ?p name ?n . BIND (UCASE(?n) AS ?u)
        }
    """)
    assert rows(out) == [("a", "ALICE"), ("b", "BOB")]


def test_union(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { ?s type Robot } UNION { ?s name "Alice" }
        }
    """)
    assert rows(out) == [("a",), ("r",)]


def test_path_sequence_and_alternation(kg):
    out = sparql_query(kg, 'SELECT ?o WHERE { a knows/name ?o }')
    assert rows(out) == [("Bob",)]
    out2 = sparql_query(kg, 'SELECT ?v WHERE { a name|age ?v }')
    assert rows(out2) == [("30",), ("Alice",)]


def test_path_inverse_and_negated(kg):
    out = sparql_query(kg, 'SELECT ?s WHERE { Alice ^name ?s }')
    assert rows(out) == [("a",)]
    out2 = sparql_query(kg, 'SELECT ?o WHERE { a !(knows|type) ?o }')
    assert rows(out2) == [("30",), ("Alice",)]


def test_path_kleene(hier):
    out = sparql_query(hier, 'SELECT ?o WHERE { leaf1 partOf+ ?o }')
    assert rows(out) == [("mid",), ("top",)]


def test_group_by_having_order_limit(kg):
    out = sparql_query(kg, """
        SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s knows ?o }
        GROUP BY ?s
        HAVING (COUNT(?o) >= 1)
        ORDER BY DESC(?n) ?s
        LIMIT 2
    """)
    assert [tuple(r) for r in out.collect()] == [("a", 2), ("b", 1)]


def test_count_distinct_and_global_aggregate(kg):
    out = sparql_query(kg, """
        SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s knows ?o }
    """)
    assert rows(out) == [(2,)]


def test_ask(kg):
    assert rows(sparql_query(kg, 'ASK { a knows b }')) == [(True,)]
    assert rows(sparql_query(kg, 'ASK { b knows a }')) == [(False,)]


def test_construct(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?y knownBy ?x } WHERE { ?x knows ?y . ?x type Person }
    """)
    assert ("b", "knownBy", "a") in rows(out)
    assert out.columns == ["subj", "pred", "obj"]


def test_variable_predicate(kg):
    out = sparql_query(kg, 'SELECT ?p WHERE { a ?p b }')
    assert rows(out) == [("knows",)]


def test_bnode_acts_as_variable(kg):
    out = sparql_query(kg, 'SELECT ?n WHERE { _:x knows c . _:x name ?n }')
    assert rows(out) == [("Alice",), ("Bob",)]


def test_string_literal_escapes_and_langtag_lexical(kg):
    # lang tag parsed but matching is lexical-form-only (documented)
    out = sparql_query(kg, 'SELECT ?p WHERE { ?p name "Alice"@en }')
    assert rows(out) == [("a",)]


@pytest.mark.parametrize("query,msg", [
    ('SELECT ?s WHERE { ?s type Person } OFFSET x', "OFFSET needs"),
    ('SELECT ?s WHERE { SERVICE <urn:x> { ?s type Person } }', "SERVICE"),
    ('SELECT ?s WHERE { ?s knows ?o . FILTER EXISTS { SERVICE <urn:x> { ?o type ?t } } }',
     "EXISTS groups support"),
    ('SELECT ?s WHERE { SERVICE ?endpoint { ?s type Person } }',
     "variable endpoint"),
    # BASE itself is supported (test_iri_base_from.py); a base that
    # stays relative after chaining is the remaining error path
    ('BASE <rel/> SELECT ?s WHERE { ?s type Person }', "absolute"),
    ('SELECT ?s WHERE { { ?s type Person } }', "UNION branches"),
])
def test_unsupported_constructs_raise(kg, query, msg):
    with pytest.raises(SparqlError, match=msg):
        sparql_query(kg, query).collect()


def test_union_mixed_with_triples(kg):
    # sibling patterns ⋈ union solutions: Join is commutative over
    # multisets, so {P . {A} UNION {B}} ≡ Join(P, Union(A, B))
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person .
          { ?s knows b } UNION { ?s knows c }
        }
    """)
    assert rows(out) == [("a",), ("a",), ("b",)]


def test_union_nested(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { { ?s knows b } UNION { ?s knows c } } UNION { ?s type Robot }
        }
    """)
    assert rows(out) == [("a",), ("a",), ("b",), ("r",)]


def test_union_two_expressions_one_group(kg):
    # each UNION expression is one solution relation; the group joins them
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { ?s type Person } UNION { ?s type Robot }
          { ?s knows c } UNION { ?s age 30 }
        }
    """)
    assert rows(out) == [("a",), ("a",), ("b",)]


def test_union_group_filter_references_union_var(kg):
    # group FILTERs run over the joined relation, so they may reference
    # variables bound on either side of the union join
    out = sparql_query(kg, """
        SELECT ?s ?n WHERE {
          ?s name ?n .
          { ?s knows b } UNION { ?s knows c }
          FILTER(?n = "Alice")
        }
    """)
    assert rows(out) == [("a", "Alice"), ("a", "Alice")]


def test_subselect_inside_union_branch(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { { SELECT ?s WHERE { ?s knows c } } } UNION { ?s type Robot }
        }
    """)
    assert rows(out) == [("a",), ("b",), ("r",)]


def test_union_sibling_not_exists(kg):
    # NOT EXISTS as a SIBLING of a union is group-scoped: the anti-join
    # runs against the JOINED relation (patterns ⋈ union solutions)
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person .
          { ?s knows b } UNION { ?s knows c }
          FILTER NOT EXISTS { ?s age ?a }
        }
    """)
    assert rows(out) == []  # a and b both have ages
    out2 = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person .
          { ?s knows b } UNION { ?s knows c }
          FILTER NOT EXISTS { ?s name "Alice" }
        }
    """)
    assert rows(out2) == [("b",)]


def test_union_sibling_minus_and_exists(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { ?s knows b } UNION { ?s knows c }
          MINUS { ?s age "30" }
        }
    """)
    assert rows(out) == [("b",)]
    out2 = sparql_query(kg, """
        SELECT ?s WHERE {
          { ?s knows b } UNION { ?s knows c }
          FILTER EXISTS { ?s name ?n FILTER(?n = "Alice") }
        }
    """)
    assert rows(out2) == [("a",), ("a",)]


def test_negated_set_closure(kg):
    # !(…)+ closes over the complement edge relation
    out = sparql_query(kg, """
        PREFIX ex: <urn:ex:>
        SELECT ?a ?b WHERE { ?a !(type|name|age|ex:p)+ ?b }
    """)
    assert rows(out) == [("a", "b"), ("a", "c"), ("b", "c")]


def test_nested_path_closure(kg):
    # ((knows/knows)+)*: the inner closure's pair relation is the edge
    # set of the outer one; * adds the zero-length (reflexive) pairs
    out = sparql_query(kg, 'SELECT ?b WHERE { a ((knows/knows)+)* ?b }')
    assert rows(out) == [("a",), ("c",)]
    out2 = sparql_query(kg, 'SELECT ?a ?b WHERE { ?a ((knows)+)+ ?b }')
    assert rows(out2) == [("a", "b"), ("a", "c"), ("b", "c")]


def test_alternation_over_modified_paths(kg):
    # p+|q: union of the closure's pairs and q's edges
    out = sparql_query(kg, 'SELECT ?a ?b WHERE { ?a knows+|age ?b }')
    assert rows(out) == [("a", "30"), ("a", "b"), ("a", "c"),
                         ("b", "25"), ("b", "c")]
    # sequence member and inverse member
    out2 = sparql_query(kg, 'SELECT ?a ?b WHERE { ?a (knows/knows)|name ?b }')
    assert rows(out2) == [("a", "Alice"), ("a", "c"), ("b", "Bob")]
    out3 = sparql_query(kg, 'SELECT ?b WHERE { b ^knows|name ?b }')
    assert rows(out3) == [("Bob",), ("a",)]


def test_closure_over_mixed_alternation(kg):
    # (knows+|name)* under a closure: alt members may themselves be
    # closures; zero-length pairs come from the * on top
    out = sparql_query(kg, 'SELECT ?b WHERE { b (knows+|name)* ?b }')
    assert rows(out) == [("Bob",), ("b",), ("c",)]


def test_service_registered_relation(kg, spark):
    # SERVICE over a registered DataFrame: the body evaluates against
    # the endpoint relation and joins the enclosing group
    remote = spark.createDataFrame(
        [("a", "salary", "100"), ("c", "salary", "80"),
         ("z", "salary", "999")], kg.schema)
    out = sparql_query(kg, """
        SELECT ?s ?sal WHERE {
          ?s type Person
          SERVICE <urn:hr> { ?s salary ?sal }
        }
    """, services={"urn:hr": remote})
    assert rows(out) == [("a", "100"), ("c", "80")]


def test_service_silent_unregistered_is_identity(kg):
    # spec §18.8: SERVICE SILENT on an unreachable endpoint yields the
    # single empty solution mapping — the join identity
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Robot
          SERVICE SILENT <urn:nowhere> { ?s salary ?sal }
        }
    """)
    assert rows(out) == [("r",)]
    ask = sparql_query(kg, 'ASK { SERVICE SILENT <urn:x> { a knows ?o } }')
    assert [tuple(r) for r in ask.collect()] == [(True,)]


def test_service_variable_endpoint(kg, spark):
    # SERVICE ?ep ranges over every registered endpoint, binding ?ep
    hr = spark.createDataFrame([("a", "salary", "100")], kg.schema)
    it = spark.createDataFrame([("b", "salary", "90")], kg.schema)
    out = sparql_query(kg, """
        SELECT ?ep ?s ?sal WHERE {
          ?s type Person
          SERVICE ?ep { ?s salary ?sal }
        }
    """, services={"urn:hr": hr, "urn:it": it})
    assert rows(out) == [("urn:hr", "a", "100"), ("urn:it", "b", "90")]


def test_service_body_may_union_and_filter(kg, spark):
    remote = spark.createDataFrame(
        [("a", "salary", "100"), ("b", "bonus", "5")], kg.schema)
    out = sparql_query(kg, """
        SELECT ?s ?v WHERE {
          ?s type Person
          SERVICE <urn:hr> {
            { ?s salary ?v } UNION { ?s bonus ?v }
            FILTER(STRSTARTS(?v, "1"))
          }
        }
    """, services={"urn:hr": remote})
    assert rows(out) == [("a", "100")]


def test_optional_with_inner_filter(kg):
    # LeftJoin(Ω1, Ω2, expr): the filter is the join condition — a
    # failing row keeps the left solution with the group vars NULL
    out = sparql_query(kg, """
        SELECT ?s ?a WHERE {
          ?s type Person OPTIONAL { ?s age ?a FILTER(?a > "26") }
        }
    """)
    assert rows(out) == [("a", "30"), ("b", None), ("c", None)]


def test_optional_filter_references_outer_var(kg):
    out = sparql_query(kg, """
        SELECT ?s ?n ?a WHERE {
          ?s name ?n OPTIONAL { ?s age ?a FILTER(?n = "Alice") }
        }
    """)
    assert rows(out) == [("a", "Alice", "30"), ("b", "Bob", None)]


def test_optional_inner_filter_pushed_below_left_join(kg):
    # an inner-only conjunct of the join condition must be pushed into
    # the optional side's scan by Catalyst, not run at the join
    out = sparql_query(kg, """
        SELECT ?s ?a WHERE {
          ?s type Person OPTIONAL { ?s age ?a FILTER(?a > "26") }
        }
    """)
    # expression ids are stripped (s#262 holds "26"), leaving literals
    plan = re.sub(r"#\d+", "", out._jdf.queryExecution().optimizedPlan().toString())
    join_line = next(l for l in plan.splitlines() if "LeftOuter" in l)
    assert "26" not in join_line  # condition is the equality only
    assert "26" in plan  # ...because the filter moved below the join


def test_optional_with_bind_inside(kg):
    out = sparql_query(kg, """
        SELECT ?s ?t WHERE {
          ?s type Person
          OPTIONAL { ?s age ?a BIND(concat(?a, "!") AS ?t) }
        }
    """)
    assert rows(out) == [("a", "30!"), ("b", "25!"), ("c", None)]


def test_optional_nested(kg):
    out = sparql_query(kg, """
        SELECT ?s ?k ?n WHERE {
          ?s type Person
          OPTIONAL { ?s knows ?k OPTIONAL { ?k name ?n } }
        }
    """)
    assert rows(out) == [("a", "b", "Bob"), ("a", "c", None),
                         ("b", "c", None), ("c", None, None)]


def test_optional_correlated_no_shared_var(kg, spark):
    # no shared variable but a correlated filter: a conditioned left
    # join (LeftJoin with expr), not a rejected cross product
    kg2 = kg.unionByName(spark.createDataFrame(
        [("x2", "age2", "27")], kg.schema))
    out = sparql_query(kg2, """
        SELECT ?s ?o2 WHERE {
          ?s age ?a OPTIONAL { x2 age2 ?o2 FILTER(?o2 > ?a) }
        }
    """)
    assert rows(out) == [("a", None), ("b", "27")]


def test_exists_correlated_filter(kg):
    # spec §8.1.1: EXISTS' inner FILTER may reference outer variables
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s age ?a
          FILTER EXISTS { ?s knows ?o FILTER(?o = "b" || ?a < "26") }
        }
    """)
    assert rows(out) == [("a",), ("b",)]


def test_not_exists_with_inner_filter(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person
          FILTER NOT EXISTS { ?s knows ?o FILTER(?o = "c") }
        }
    """)
    assert rows(out) == [("c",)]


def test_minus_with_inner_filter(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person MINUS { ?s knows ?o FILTER(?o = "b") }
        }
    """)
    assert rows(out) == [("b",), ("c",)]


def test_minus_filter_outer_var_raises(kg):
    # spec §8.3: MINUS evaluates its pattern independently — an outer
    # variable inside its FILTER is an error, never silently false
    with pytest.raises(ValueError, match="MINUS filters see only"):
        sparql_query(kg, """
            SELECT ?s ?n WHERE {
              ?s name ?n MINUS { ?s knows ?o FILTER(?o = ?n) }
            }
        """).collect()


def test_optional_group_rejects_union_inside(kg):
    with pytest.raises(SparqlError, match="OPTIONAL groups support"):
        sparql_query(kg, """
            SELECT ?s WHERE {
              ?s type Person
              OPTIONAL { { ?s knows b } UNION { ?s knows c } }
            }
        """).collect()


def test_subselect_in_ask_and_construct(kg):
    ask = sparql_query(kg, """
        ASK WHERE { { SELECT ?s WHERE { ?s knows c } } ?s type Person }
    """)
    assert [tuple(r) for r in ask.collect()] == [(True,)]
    built = sparql_query(kg, """
        CONSTRUCT { ?s a Known } WHERE {
          ?s type Person . { ?s knows b } UNION { ?s knows c }
        }
    """)
    assert sorted(r.subj for r in built.collect()) == ["a", "b"]


def test_parse_spec_shape():
    spec = parse_sparql("""
        PREFIX ex: <urn:ex:>
        SELECT DISTINCT ?s WHERE {
          ?s ex:p ?o . OPTIONAL { ?o ex:q ?z }
          FILTER (?z != "w")
        } LIMIT 7
    """)
    assert spec["form"] == "select"
    assert spec["distinct"] is True
    assert spec["patterns"] == [("?s", "urn:ex:p", "?o")]
    assert spec["optional"] == [[("?o", "urn:ex:q", "?z")]]
    assert spec["limit"] == 7


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update
# ---------------------------------------------------------------------------

from parser_rdf_spark.sparql import sparql_update  # noqa: E402


@pytest.fixture()
def store(spark):
    return spark.createDataFrame(
        [("a", "type", "Person"), ("a", "name", "Alice"),
         ("b", "type", "Person"), ("b", "name", "Bob")],
        "subj string, pred string, obj string",
    )


def test_insert_data_no_duplicates(store):
    out = sparql_update(store, """
        INSERT DATA { c type Person . a type Person }
    """)
    assert rows(out) == sorted(
        [("a", "type", "Person"), ("a", "name", "Alice"),
         ("b", "type", "Person"), ("b", "name", "Bob"),
         ("c", "type", "Person")]
    )


def test_delete_data(store):
    out = sparql_update(store, 'DELETE DATA { a name "Alice" }')
    assert ("a", "name", "Alice") not in rows(out)
    assert out.count() == 3


def test_delete_where(store):
    out = sparql_update(store, 'DELETE WHERE { ?s name ?n }')
    assert rows(out) == [("a", "type", "Person"), ("b", "type", "Person")]


def test_modify_delete_insert_shared_where(store):
    # rename predicate for Persons; inserts bind against the PRE-delete
    # store, deletes remove all matching triples
    out = sparql_update(store, """
        DELETE { ?p name ?n }
        INSERT { ?p label ?n . ?p renamed "true" }
        WHERE { ?p type Person . ?p name ?n }
    """)
    got = rows(out)
    assert ("a", "label", "Alice") in got and ("b", "label", "Bob") in got
    assert ("a", "renamed", "true") in got
    assert not any(p == "name" for _, p, _o in got)


def test_sequential_operations(store):
    out = sparql_update(store, """
        INSERT DATA { c type Robot } ;
        DELETE WHERE { ?s type Robot . ?s name ?n } ;
        DELETE { ?s type Person } INSERT { ?s type Human }
        WHERE { ?s type Person . ?s name "Alice" }
    """)
    got = rows(out)
    assert ("c", "type", "Robot") in got           # op2 matched nothing (no name)
    assert ("a", "type", "Human") in got
    assert ("a", "type", "Person") not in got
    assert ("b", "type", "Person") in got          # untouched


def test_insert_only_modify(store):
    out = sparql_update(store, """
        INSERT { ?p greeted "yes" } WHERE { ?p name "Bob" }
    """)
    assert ("b", "greeted", "yes") in rows(out)
    assert out.count() == 5


def test_update_multiset_delete_removes_all_copies(spark):
    multi = spark.createDataFrame(
        [("a", "p", "x")] * 3 + [("a", "q", "y")],
        "subj string, pred string, obj string",
    )
    out = sparql_update(multi, 'DELETE DATA { a p x }')
    assert rows(out) == [("a", "q", "y")]


@pytest.mark.parametrize("text,msg", [
    ("CLEAR ALL", "not supported"),
    ("INSERT DATA { ?s type Person }", "constants only"),
    ("DELETE { ?s knows/name ?n } INSERT { ?s x ?n } WHERE { ?s knows ?o }",
     "property paths are not allowed"),
    ("INSERT DATA { a type Person } DELETE DATA { a type Person }",
     "expected ';'"),
    ("", "empty update"),
])
def test_update_errors(store, text, msg):
    with pytest.raises(SparqlError, match=msg):
        sparql_update(store, text).collect()


# ---------------------------------------------------------------------------
# GRAPH (quads) + DESCRIBE
# ---------------------------------------------------------------------------

QUADS = [
    ("_:default", "a", "type", "Person"),
    ("_:default", "b", "type", "Person"),
    ("urn:g1", "a", "knows", "b"),
    ("urn:g1", "a", "name", "Alice"),
    ("urn:g2", "a", "knows", "c"),
    ("urn:g2", "b", "name", "Bob"),
]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(
        QUADS, "graph string, subj string, pred string, obj string")


def test_graph_constant(quads):
    out = sparql_query(quads, 'SELECT ?o WHERE { GRAPH <urn:g1> { a knows ?o } }')
    assert rows(out) == [("b",)]


def test_graph_variable_ranges_over_named_only(quads):
    out = sparql_query(quads, 'SELECT ?g WHERE { GRAPH ?g { ?s type ?t } }')
    assert rows(out) == []  # type triples live in the default graph
    out2 = sparql_query(quads, 'SELECT ?g ?o WHERE { GRAPH ?g { a knows ?o } }')
    assert rows(out2) == [("urn:g1", "b"), ("urn:g2", "c")]


def test_default_graph_excludes_named(quads):
    # un-GRAPHed patterns over a quads relation match the DEFAULT graph
    out = sparql_query(quads, 'SELECT ?s WHERE { ?s type Person }')
    assert rows(out) == [("a",), ("b",)]
    out2 = sparql_query(quads, 'SELECT ?s WHERE { ?s knows b }')
    assert rows(out2) == []  # knows lives only in named graphs


def test_graph_joins_with_default(quads):
    out = sparql_query(quads, """
        SELECT ?s ?n WHERE {
          ?s type Person .
          GRAPH <urn:g2> { ?s name ?n }
        }
    """)
    assert rows(out) == [("b", "Bob")]


PATH_QUADS = [
    ("_:default", "x1", "partOf", "x2"),
    ("_:default", "x2", "partOf", "x3"),
    ("urn:g1", "n1", "partOf", "n2"),
    ("urn:g1", "n2", "partOf", "n3"),
    ("urn:g2", "n3", "partOf", "n4"),  # would extend g1's chain if
    #                                     closure leaked across graphs
]


@pytest.fixture(scope="module")
def path_quads(spark):
    return spark.createDataFrame(
        PATH_QUADS, "graph string, subj string, pred string, obj string")


def test_kleene_path_in_constant_graph(path_quads):
    out = sparql_query(path_quads, """
        SELECT ?a ?b WHERE { GRAPH <urn:g1> { ?a partOf+ ?b } }
    """)
    assert rows(out) == [("n1", "n2"), ("n1", "n3"), ("n2", "n3")]


def test_kleene_path_in_variable_graph_stays_per_graph(path_quads):
    out = sparql_query(path_quads, """
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a partOf+ ?b } }
    """)
    # the g1 chain never reaches n4: paths close WITHIN each graph
    assert rows(out) == [("urn:g1", "n1", "n2"), ("urn:g1", "n1", "n3"),
                         ("urn:g1", "n2", "n3"), ("urn:g2", "n3", "n4")]


def test_kleene_path_over_quads_default_graph(path_quads):
    out = sparql_query(path_quads, 'SELECT ?a ?b WHERE { ?a partOf+ ?b }')
    assert rows(out) == [("x1", "x2"), ("x1", "x3"), ("x2", "x3")]


def test_zero_or_more_path_in_graph(path_quads):
    # p* reflexive pairs range over the GRAPH's terms only
    out = sparql_query(path_quads, """
        SELECT ?b WHERE { GRAPH <urn:g2> { n3 partOf* ?b } }
    """)
    assert rows(out) == [("n3",), ("n4",)]


def test_nested_graph_inner_wins(quads):
    # spec §13.3: the inner GRAPH re-selects the active graph from the
    # dataset — the outer term neither constrains nor binds inner
    # patterns; sibling patterns still bind the outer term
    out = sparql_query(quads, """
        SELECT ?g ?o ?n WHERE {
          GRAPH ?g { a knows ?o GRAPH <urn:g2> { b name ?n } }
        }
    """)
    assert rows(out) == [("urn:g1", "b", "Bob"), ("urn:g2", "c", "Bob")]


def test_graph_on_triple_relation_raises(kg):
    with pytest.raises(SparqlError, match="quads relation"):
        sparql_query(kg, 'SELECT ?s WHERE { GRAPH ?g { ?s type Person } }').collect()


def test_update_on_quads_raises(quads):
    with pytest.raises(SparqlError, match="quads relation"):
        sparql_update(quads, 'DELETE DATA { a type Person }')


def test_describe_constant(kg):
    out = sparql_query(kg, 'DESCRIBE a')
    assert rows(out) == [("a", "age", "30"), ("a", "knows", "b"),
                         ("a", "knows", "c"), ("a", "name", "Alice"),
                         ("a", "type", "Person")]


def test_describe_variable_where(kg):
    out = sparql_query(kg, 'DESCRIBE ?r WHERE { ?r type Robot }')
    assert rows(out) == [("r", "type", "Robot")]


def test_describe_mixed_and_dedup(kg):
    out = sparql_query(kg, 'DESCRIBE r ?r WHERE { ?r type Robot }')
    assert rows(out) == [("r", "type", "Robot")]


def test_describe_without_where_var_raises(kg):
    with pytest.raises(SparqlError, match="needs a WHERE"):
        sparql_query(kg, 'DESCRIBE ?x').collect()


def test_zero_or_one_path(kg):
    # knows? into a constant object: one-hop sources plus the reflexive
    # match on the object itself
    out = sparql_query(kg, 'SELECT ?s WHERE { ?s knows? c }')
    assert rows(out) == [("a",), ("b",), ("c",)]


def test_zero_or_one_in_sequence(hier):
    out = sparql_query(hier, 'SELECT ?a WHERE { leaf1 partOf/partOf? ?a }')
    assert rows(out) == [("mid",), ("top",)]


def test_inverse_zero_or_one(hier):
    # ?s ^partOf? leaf1  ⇔  leaf1 partOf? ?s
    out = sparql_query(hier, 'SELECT ?s WHERE { ?s ^partOf? leaf1 }')
    assert rows(out) == [("leaf1",), ("mid",)]


def test_projection_expression(kg):
    out = sparql_query(kg, """
        SELECT ?s (UCASE(?name) AS ?u) WHERE { ?s name ?name }
    """)
    assert rows(out) == [("a", "ALICE"), ("b", "BOB")]
    assert out.columns == ["s", "u"]


def test_projection_expression_numeric(kg):
    out = sparql_query(kg, """
        SELECT ?s (?age + 1 AS ?next) WHERE { ?s age ?age }
        ORDER BY ?next
    """)
    assert [tuple(r) for r in out.collect()] == [("b", 26.0), ("a", 31.0)]


def test_projection_expression_over_aggregate(kg):
    out = sparql_query(kg, """
        SELECT ?s (COUNT(?o) AS ?n) (CONCAT(?s, "!") AS ?tag) WHERE {
          ?s knows ?o
        } GROUP BY ?s ORDER BY ?s
    """)
    assert [tuple(r) for r in out.collect()] == [("a", 2, "a!"), ("b", 1, "b!")]


def test_closure_over_sequence(kg):
    # (knows/knows)+ — closure over the composed 2-hop relation
    out = sparql_query(kg, 'SELECT ?s ?o WHERE { ?s (knows/knows)+ ?o }')
    assert rows(out) == [("a", "c")]


def test_closure_over_alternation(kg):
    out = sparql_query(kg, 'SELECT ?s ?o WHERE { ?s (knows|name)+ ?o }')
    assert rows(out) == [("a", "Alice"), ("a", "Bob"), ("a", "b"),
                         ("a", "c"), ("b", "Bob"), ("b", "c")]


def test_zero_or_one_over_sequence(kg):
    out = sparql_query(kg, 'SELECT ?o WHERE { a (knows/knows)? ?o }')
    assert rows(out) == [("a",), ("c",)]


def test_subselect_join(kg):
    # inner aggregate per person, joined back to the outer name pattern
    out = sparql_query(kg, """
        SELECT ?s ?name ?n WHERE {
          ?s name ?name .
          { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s knows ?o } GROUP BY ?s }
        }
    """)
    assert rows(out) == [("a", "Alice", 2), ("b", "Bob", 1)]


def test_subselect_outer_filter_on_inner_var(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          ?s type Person .
          { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s knows ?o } GROUP BY ?s }
          FILTER(?n >= 2)
        }
    """)
    assert rows(out) == [("a",)]


def test_subselect_bare_group(kg):
    # a group that is ONLY a sub-select
    out = sparql_query(kg, """
        SELECT ?n WHERE {
          { SELECT (COUNT(?s) AS ?n) WHERE { ?s type Person } }
        }
    """)
    assert rows(out) == [(3,)]


def test_subselect_limit_inside(kg):
    # inner ORDER/LIMIT page feeds the outer join
    out = sparql_query(kg, """
        SELECT ?s ?name WHERE {
          ?s name ?name .
          { SELECT ?s WHERE { ?s type Person } ORDER BY ?s LIMIT 1 }
        }
    """)
    assert rows(out) == [("a", "Alice")]


def test_subselect_outer_aggregate(kg):
    # outer aggregate over the joined relation
    out = sparql_query(kg, """
        SELECT (SUM(?n) AS ?total) WHERE {
          ?s type Person .
          { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s knows ?o } GROUP BY ?s }
        }
    """)
    assert rows(out) == [(3.0,)]


def test_subselect_in_non_select_forms(kg):
    # sub-SELECTs run in every query form (spec §8 allows subqueries in
    # any group graph pattern)
    ask = sparql_query(kg, """
        ASK { { SELECT ?s WHERE { ?s type Person } } }
    """)
    assert [tuple(r) for r in ask.collect()] == [(True,)]
    out = sparql_query(kg, """
        SELECT ?s WHERE {
          { { SELECT ?s WHERE { ?s type Person } } }
          UNION
          { ?s type Robot }
        }
    """)
    assert rows(out) == [("a",), ("b",), ("c",), ("r",)]


def test_filter_exists_positive(kg):
    out = sparql_query(kg, """
        SELECT ?p WHERE {
          ?p type Person .
          FILTER EXISTS { ?p name ?n }
        }
    """)
    assert rows(out) == [("a",), ("b",)]


def test_filter_exists_disjoint_gate(kg):
    # no shared variable: a constant gate — keeps all (inner non-empty)
    out = sparql_query(kg, """
        SELECT ?p WHERE { ?p type Person . FILTER EXISTS { ?q type Robot } }
    """)
    assert out.count() == 3
    out2 = sparql_query(kg, """
        SELECT ?p WHERE { ?p type Person . FILTER EXISTS { ?q type Dragon } }
    """)
    assert out2.count() == 0


def test_offset_and_limit(kg):
    out = sparql_query(kg, """
        SELECT ?s WHERE { ?s type Person } ORDER BY ?s LIMIT 2 OFFSET 1
    """)
    assert [tuple(r) for r in out.collect()] == [("b",), ("c",)]


def test_aggregate_over_union(kg):
    out = sparql_query(kg, """
        SELECT ?t (COUNT(?s) AS ?n) WHERE {
          { ?s type Person . BIND("person" AS ?t) }
          UNION
          { ?s type Robot . BIND("robot" AS ?t) }
        } GROUP BY ?t ORDER BY ?t
    """)
    assert [tuple(r) for r in out.collect()] == [("person", 3), ("robot", 1)]


def test_group_concat(kg):
    out = sparql_query(kg, """
        SELECT ?s (GROUP_CONCAT(?o; SEPARATOR=",") AS ?who) WHERE {
          ?s knows ?o
        } GROUP BY ?s ORDER BY ?s
    """)
    assert [tuple(r) for r in out.collect()] == [("a", "b,c"), ("b", "c")]


def test_group_concat_default_sep_and_distinct(kg):
    out = sparql_query(kg, """
        SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?types) WHERE { ?s type ?t }
    """)
    assert [tuple(r) for r in out.collect()] == [("Person Robot",)]


def test_group_concat_bad_separator(kg):
    import pytest as _pytest
    with _pytest.raises(SparqlError, match="SEPARATOR"):
        sparql_query(kg, """
            SELECT (GROUP_CONCAT(?t; SEP=",") AS ?x) WHERE { ?s type ?t }
        """)


# ---------------------------------------------------------------------------
# Update: graph management over quads
# ---------------------------------------------------------------------------

@pytest.fixture()
def gm_quads(spark):
    return spark.createDataFrame([
        ("_:default", "s0", "p", "o0"),
        ("urn:g:1", "s1", "p", "o1"),
        ("urn:g:1", "s1b", "p", "o1b"),
        ("urn:g:2", "s2", "p", "o2"),
        ("urn:g:1", "s2", "p", "o2"),  # same quad key exists in g1 and g2
    ], "graph string, subj string, pred string, obj string")


def _g(df):
    return sorted(tuple(r) for r in df.collect())


def test_graph_mgmt_clear_and_drop(spark, gm_quads):
    from parser_rdf_spark.sparql import sparql_update_graphs

    out = sparql_update_graphs(gm_quads, "CLEAR GRAPH <urn:g:1>")
    assert _g(out) == [("_:default", "s0", "p", "o0"),
                       ("urn:g:2", "s2", "p", "o2")]
    assert sparql_update_graphs(gm_quads, "DROP SILENT ALL").count() == 0
    assert _g(sparql_update_graphs(gm_quads, "CLEAR DEFAULT")) == _g(
        gm_quads.filter("graph <> '_:default'"))
    assert _g(sparql_update_graphs(gm_quads, "DROP NAMED")) == [
        ("_:default", "s0", "p", "o0")]


def test_graph_mgmt_copy_move_add(spark, gm_quads):
    from parser_rdf_spark.sparql import sparql_update_graphs

    # COPY overwrites the target
    out = sparql_update_graphs(gm_quads, "COPY <urn:g:1> TO <urn:g:2>")
    assert _g(out.filter("graph = 'urn:g:2'")) == [
        ("urn:g:2", "s1", "p", "o1"), ("urn:g:2", "s1b", "p", "o1b"),
        ("urn:g:2", "s2", "p", "o2")]
    assert out.filter("graph = 'urn:g:1'").count() == 3  # source kept

    # MOVE drops the source
    out = sparql_update_graphs(gm_quads, "MOVE GRAPH <urn:g:1> TO GRAPH <urn:g:2>")
    assert out.filter("graph = 'urn:g:1'").count() == 0
    assert out.filter("graph = 'urn:g:2'").count() == 3

    # ADD merges with dedup on the quad key
    out = sparql_update_graphs(gm_quads, "ADD <urn:g:1> TO <urn:g:2>")
    assert _g(out.filter("graph = 'urn:g:2'")) == [
        ("urn:g:2", "s1", "p", "o1"), ("urn:g:2", "s1b", "p", "o1b"),
        ("urn:g:2", "s2", "p", "o2")]

    # DEFAULT as a COPY source; chained ops apply in order
    out = sparql_update_graphs(
        gm_quads, "COPY DEFAULT TO <urn:g:9> ; DROP DEFAULT")
    assert _g(out.filter("graph = 'urn:g:9'")) == [("urn:g:9", "s0", "p", "o0")]
    assert out.filter("graph = '_:default'").count() == 0


def test_graph_mgmt_noop_and_errors(spark, gm_quads):
    from parser_rdf_spark.sparql import sparql_update_graphs

    assert _g(sparql_update_graphs(gm_quads, "CREATE GRAPH <urn:new>")) == _g(gm_quads)
    assert _g(sparql_update_graphs(gm_quads, "ADD <urn:g:1> TO <urn:g:1>")) == _g(gm_quads)
    with pytest.raises(SparqlError, match="graph-management"):
        sparql_update_graphs(gm_quads, "LOAD <http://x> INTO GRAPH <urn:g:1>")
    with pytest.raises(SparqlError, match="quads relation"):
        sparql_update_graphs(gm_quads.drop("graph"), "CLEAR ALL")
    # IRI containing ';' splits correctly
    out = sparql_update_graphs(gm_quads, "COPY <urn:g:1> TO <urn:x;y> ; DROP <urn:g:2>")
    assert out.filter("graph = 'urn:x;y'").count() == 3


def test_construct_where_shorthand(kg):
    out = sparql_query(kg, """
        CONSTRUCT WHERE { ?s knows ?o }
    """)
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "knows", "b"), ("a", "knows", "c"), ("b", "knows", "c")]


def test_construct_where_rejects_non_plain_patterns(kg):
    import pytest as _pytest
    with _pytest.raises(SparqlError, match="plain triple patterns"):
        sparql_query(kg, "CONSTRUCT WHERE { ?s knows+ ?o }")
    with _pytest.raises(SparqlError, match="plain triple patterns"):
        sparql_query(kg, """
            CONSTRUCT WHERE { ?s knows ?o FILTER(?o != "c") }
        """)


def test_construct_with_order_limit(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?s likesTop ?o } WHERE { ?s knows ?o }
        ORDER BY ?s ?o LIMIT 2
    """)
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "likesTop", "b"), ("a", "likesTop", "c")]


def test_describe_cbd_expands_bnode_trees(spark):
    t = spark.createDataFrame([
        ("s", "p", "_:b1"),
        ("_:b1", "q", "_:b2"),
        ("_:b2", "q2", "leaf"),
        ("s", "p2", "iri-obj"),
        ("iri-obj", "x", "not-included"),   # IRI objects are NOT expanded
        ("other", "y", "z"),
    ], "subj string, pred string, obj string")
    out = sparql_query(t, "DESCRIBE <s>")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("_:b1", "q", "_:b2"),
        ("_:b2", "q2", "leaf"),
        ("s", "p", "_:b1"),
        ("s", "p2", "iri-obj"),
    ]


def test_describe_cbd_cyclic_bnodes_terminate(spark):
    t = spark.createDataFrame([
        ("s", "p", "_:a"),
        ("_:a", "q", "_:b"),
        ("_:b", "q", "_:a"),  # bnode cycle
    ], "subj string, pred string, obj string")
    out = sparql_query(t, "DESCRIBE <s>")
    assert out.count() == 3


def test_select_reduced_eliminates_duplicates(kg):
    out = sparql_query(kg, "SELECT REDUCED ?t WHERE { ?s type ?t }")
    assert sorted(tuple(r) for r in out.collect()) == [("Person",), ("Robot",)]


# ---------------------------------------------------------------------------
# round-4 ADVICE pins: CONSTRUCT honors the full WHERE group, update WHERE
# never silently drops elements, STRBEFORE/STRAFTER, dup VALUES/BIND, '?'
# path suffix in templates
# ---------------------------------------------------------------------------

def test_construct_honors_not_exists(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?p a Loner }
        WHERE { ?p type Person . FILTER NOT EXISTS { ?p knows ?o } }
    """)
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert rows(out) == [("c", rdf_type, "Loner")]


def test_construct_honors_values_and_bind(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?p hasTag ?tag }
        WHERE {
          ?p type Person .
          BIND(UCASE(?p) AS ?tag)
          VALUES ?p { a b }
        }
    """)
    assert rows(out) == [("a", "hasTag", "A"), ("b", "hasTag", "B")]


def test_construct_honors_minus_and_exists(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?p a Sociable }
        WHERE { ?p type Person . FILTER EXISTS { ?p knows ?o }
                MINUS { ?p name "Alice" } }
    """)
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert rows(out) == [("b", rdf_type, "Sociable")]


def test_update_where_honors_exists(spark):
    store = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    out = sparql_update(store, """
        DELETE { ?p type Person }
        WHERE { ?p type Person . FILTER EXISTS { ?p knows ?o } }
    """)
    # a and b know someone → deleted; c knows nobody → kept
    kept = rows(out.filter("pred = 'type' and obj = 'Person'"))
    assert kept == [("c", "type", "Person")]


def test_update_where_union(spark):
    store = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    out = sparql_update(store, """
        INSERT { ?p a Flagged }
        WHERE { { ?p knows c } UNION { ?p type Robot } }
    """)
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    flagged = rows(out.filter(f"pred = '{rdf_type}'"))
    assert flagged == [("a", rdf_type, "Flagged"), ("b", rdf_type, "Flagged"),
                       ("r", rdf_type, "Flagged")]


def test_update_where_subselect(spark):
    store = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    out = sparql_update(store, """
        DELETE { ?p age ?a }
        WHERE { ?p age ?a . { SELECT ?p WHERE { ?p knows b } } }
    """)
    assert rows(out.filter("pred = 'age'")) == [("b", "age", "25")]


def test_strbefore_strafter(kg):
    out = sparql_query(kg, """
        SELECT ?b ?f WHERE {
          a name ?n .
          BIND(STRBEFORE(?n, "li") AS ?b)
          BIND(STRAFTER(?n, "li") AS ?f)
        }
    """)
    assert rows(out) == [("A", "ce")]
    # delimiter absent → '' (NOT the whole string — the substring_index trap)
    out2 = sparql_query(kg, """
        SELECT ?b ?f WHERE {
          a name ?n .
          BIND(STRBEFORE(?n, "zz") AS ?b)
          BIND(STRAFTER(?n, "zz") AS ?f)
        }
    """)
    assert rows(out2) == [("", "")]
    # empty delimiter: STRBEFORE → '', STRAFTER → the whole string
    out3 = sparql_query(kg, """
        SELECT ?b ?f WHERE {
          a name ?n .
          BIND(STRBEFORE(?n, "") AS ?b)
          BIND(STRAFTER(?n, "") AS ?f)
        }
    """)
    assert rows(out3) == [("", "Alice")]


def test_duplicate_values_clause_rejected():
    with pytest.raises(SparqlError, match="multiple VALUES"):
        parse_sparql("""
            SELECT ?s WHERE {
              ?s type ?t . VALUES ?s { a } VALUES ?t { Person }
            }
        """)


def test_duplicate_bind_target_rejected():
    with pytest.raises(SparqlError, match="duplicate BIND"):
        parse_sparql("""
            SELECT ?x WHERE {
              ?s type ?t . BIND(1 AS ?x) BIND(2 AS ?x)
            }
        """)


def test_zero_or_one_path_rejected_in_templates(kg):
    with pytest.raises(SparqlError, match="plain terms"):
        parse_sparql("CONSTRUCT { ?s knows? ?o } WHERE { ?s type ?o }")
    with pytest.raises(SparqlError, match="plain predicates"):
        sparql_update(kg, "INSERT { ?s knows? ?o } WHERE { ?s type ?o }")


# ---------------------------------------------------------------------------
# entailment regimes (sparql_query_entailed)
# ---------------------------------------------------------------------------
def test_entailed_rdfs_select(spark):
    from parser_rdf_spark.sparql import sparql_query_entailed

    t = spark.createDataFrame(
        [
            ("x", "rdf:type", "ex:Dog"),
            ("ex:Dog", "rdfs:subClassOf", "ex:Animal"),
        ],
        "subj string, pred string, obj string",
    )
    vocab = {"type": "rdf:type", "subclass": "rdfs:subClassOf",
             "subprop": "rdfs:subPropertyOf", "domain": "rdfs:domain",
             "range": "rdfs:range"}
    rows = sparql_query_entailed(
        t, 'SELECT ?x WHERE { ?x rdf:type "ex:Animal" }',
        entailment="rdfs", vocab=vocab).collect()
    assert [r.x for r in rows] == ["x"]
    # without the regime the match is empty
    from parser_rdf_spark.sparql import sparql_query
    assert sparql_query(
        t, 'SELECT ?x WHERE { ?x rdf:type "ex:Animal" }').count() == 0


def test_entailed_owl_transitive(spark):
    from parser_rdf_spark.sparql import sparql_query_entailed

    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    OWL_TRANS = "http://www.w3.org/2002/07/owl#TransitiveProperty"
    t = spark.createDataFrame(
        [
            ("a", "ex:part", "b"),
            ("b", "ex:part", "c"),
            ("ex:part", RDF_TYPE, OWL_TRANS),
        ],
        "subj string, pred string, obj string",
    )
    rows = sparql_query_entailed(
        t, 'SELECT ?y WHERE { "a" ex:part ?y }', entailment="owl").collect()
    assert sorted(r.y for r in rows) == ["b", "c"]


def test_entailed_unknown_regime_raises(spark):
    from parser_rdf_spark.sparql import SparqlError, sparql_query_entailed

    t = spark.createDataFrame([("a", "p", "b")],
                              "subj string, pred string, obj string")
    with pytest.raises(SparqlError, match="entailment regime"):
        sparql_query_entailed(t, "SELECT ?x WHERE { ?x p ?y }",
                              entailment="full-owl-dl")


def test_ask_over_union(spark):
    from parser_rdf_spark.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "q", "d")],
        "subj string, pred string, obj string",
    )
    q = 'ASK WHERE { { ?x p ?y } UNION { ?x missing ?y } }'
    assert sparql_query(t, q).collect()[0].ask is True
    q2 = 'ASK WHERE { { ?x nope ?y } UNION { ?x missing ?y } }'
    assert sparql_query(t, q2).collect()[0].ask is False


def test_construct_over_union(spark):
    from parser_rdf_spark.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "q", "d")],
        "subj string, pred string, obj string",
    )
    out = sparql_query(t, """
        CONSTRUCT { ?x linked ?y } WHERE {
          { ?x p ?y } UNION { ?y q ?x }
        }
    """).collect()
    assert sorted((r.subj, r.pred, r.obj) for r in out) == [
        ("a", "linked", "b"), ("d", "linked", "c")]


def test_construct_union_drops_unbound_template_rows(spark):
    from parser_rdf_spark.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "q", "d")],
        "subj string, pred string, obj string",
    )
    # ?z is bound only in the second branch -> first branch emits nothing
    out = sparql_query(t, """
        CONSTRUCT { ?x has ?z } WHERE {
          { ?x p ?y } UNION { ?x q ?z }
        }
    """).collect()
    assert [(r.subj, r.pred, r.obj) for r in out] == [("c", "has", "d")]


def test_describe_over_union(spark):
    from parser_rdf_spark.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "q", "d"), ("a", "r", "v")],
        "subj string, pred string, obj string",
    )
    out = sparql_query(t, """
        DESCRIBE ?x WHERE { { ?x p ?y } UNION { ?x q ?y } }
    """).collect()
    assert sorted((r.subj, r.pred, r.obj) for r in out) == [
        ("a", "p", "b"), ("a", "r", "v"), ("c", "q", "d")]


def test_hash_and_iri_functions(spark):
    import hashlib

    from parser_rdf_spark.sparql import sparql_query

    t = spark.createDataFrame([("a", "p", "hello")],
                              "subj string, pred string, obj string")
    rows = sparql_query(t, """
        SELECT ?h ?h2 ?u WHERE {
          ?x p ?v .
          BIND (MD5(?v) AS ?h)
          BIND (SHA256(?v) AS ?h2)
          BIND (IRI(CONCAT("urn:x:", ?v)) AS ?u)
        }
    """).collect()
    assert rows[0].h == hashlib.md5(b"hello").hexdigest()
    assert rows[0].h2 == hashlib.sha256(b"hello").hexdigest()
    assert rows[0].u == "urn:x:hello"


# ---------------------------------------------------------------------------
# stats= through the TEXT front-end (round 5: users write text, not
# pattern lists — cost-based join ordering must be reachable here too)
# ---------------------------------------------------------------------------

def _skewed_kg(spark):
    rows_ = [(f"s{i % 20}", "common", f"o{i}") for i in range(200)]
    rows_ += [("s1", "rare", "x"), ("s2", "rare", "y")]
    return spark.createDataFrame(rows_, "subj string, pred string, obj string")


def test_sparql_query_stats_reorders_adversarial_text(spark):
    from parser_rdf_spark.graphops import predicate_statistics

    kg = _skewed_kg(spark)
    # adversarial user order: the mega-predicate pattern written first
    q = "SELECT ?s ?o ?x WHERE { ?s common ?o . ?s rare ?x }"
    plain = sparql_query(kg, q)
    costed = sparql_query(kg, q, stats=predicate_statistics(kg))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, costed.collect()))
    plan = costed._jdf.queryExecution().optimizedPlan().toString()
    assert -1 < plan.find("rare") < plan.find("common")
    plan0 = plain._jdf.queryExecution().optimizedPlan().toString()
    assert -1 < plan0.find("common") < plan0.find("rare")


def test_sparql_query_stats_reaches_union_and_subselect(spark):
    from parser_rdf_spark.graphops import predicate_statistics

    kg = _skewed_kg(spark)
    stats = predicate_statistics(kg)
    # UNION: each branch independently cost-ordered
    qu = ("SELECT ?s WHERE { { ?s common ?o . ?s rare ?x } "
          "UNION { ?s rare ?y } }")
    u0 = sparql_query(kg, qu)
    u1 = sparql_query(kg, qu, stats=stats)
    assert sorted(r.s for r in u0.collect()) == \
        sorted(r.s for r in u1.collect())
    plan = u1._jdf.queryExecution().optimizedPlan().toString()
    assert -1 < plan.find("rare") < plan.find("common")
    # sub-SELECT: the inner group is cost-ordered too
    qs = ("SELECT ?s ?n WHERE { ?s common ?o . ?s rare ?z . "
          "{ SELECT ?s (COUNT(?o2) AS ?n) WHERE "
          "{ ?s common ?o2 . ?s rare ?x2 } GROUP BY ?s } }")
    s0 = sparql_query(kg, qs)
    s1 = sparql_query(kg, qs, stats=stats)
    assert sorted(map(tuple, s0.collect())) == \
        sorted(map(tuple, s1.collect()))


def test_sparql_query_stats_term_mode_key_encoding(spark):
    from pyspark.sql import functions as F

    from parser_rdf_spark.bgp import terms_spo
    from parser_rdf_spark.graphops import predicate_statistics

    raw = spark.createDataFrame(
        [("s%d" % (i % 20), "http://e/common", "o%d" % i) for i in range(60)]
        + [("s1", "http://e/rare", "x")],
        "subj string, pred string, obj_value string")
    enc = terms_spo(raw.withColumn("obj_kind", F.lit("iri"))
                    .withColumn("obj_lang", F.lit(None).cast("string"))
                    .withColumn("obj_datatype", F.lit(None).cast("string"))
                    .select("subj", "pred", "obj_value", "obj_kind",
                            "obj_lang", "obj_datatype"))
    # stats computed over the RAW relation (bare-IRI keys) must apply to
    # the <iri>-encoded term relation
    stats = predicate_statistics(
        raw.select("subj", "pred", F.col("obj_value").alias("obj")))
    q = ("SELECT ?s WHERE { ?s <http://e/common> ?o . "
         "?s <http://e/rare> ?x }")
    got = sparql_query(enc, q, term_mode=True, stats=stats)
    assert {r.s for r in got.collect()} == {"<s1>"}
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert -1 < plan.find("rare") < plan.find("common")


# ---------------------------------------------------------------------------
# the group join follows §18.3 compatibility: a variable some piece may
# leave unbound matches anything there
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [("a", "type", "Person"), ("a", "name", "Alice"), ("a", "age", "30"),
         ("b", "age", "40")], "subj string, pred string, obj string")


def test_union_branch_leaving_join_var_unbound(people):
    # ?s is unbound in the second branch, so its solutions join every ?s
    out = sparql_query(people, """
        SELECT ?s ?v { ?s <type> <Person> .
                       { ?s <name> ?v } UNION { ?s2 <age> ?v } }
    """)
    assert rows(out) == [("a", "30"), ("a", "40"), ("a", "Alice")]


def test_sibling_binds_var_a_union_branch_leaves_unbound(people):
    # ?v is unbound in the second branch: the sibling pattern binds it
    out = sparql_query(people, """
        SELECT ?s ?v { { ?s <name> ?v } UNION { ?s <age> ?w } ?s <age> ?v }
    """)
    assert rows(out) == [("a", "30"), ("b", "40")]


def test_empty_group_runs_its_filters(people):
    # every SERVICE was SILENT-skipped: the group is the single empty
    # solution, and its FILTER still applies
    ask = sparql_query(
        people, "ASK { SERVICE SILENT <http://x/> { ?s ?p ?o } FILTER(false) }")
    assert [tuple(r) for r in ask.collect()] == [(False,)]
    sel = sparql_query(people, "SELECT * WHERE { }")
    assert sel.count() == 1 and sel.columns == []


def test_certain_union_variable_keeps_an_equi_join(spark):
    # the sparql_union_join_group contract shape: ?e is bound in both
    # branches, so the union joins its siblings on an equi-key
    kg = spark.createDataFrame(
        [("c1", "inNation", "n1"), ("s1", "inNation", "n1"),
         ("c2", "inNation", "n2"), ("n1", "name", "NATION_1"),
         ("n2", "name", "NATION_2"), ("c1", "type", "Customer"),
         ("c1", "highBalance", "true"), ("c2", "type", "Customer"),
         ("c2", "highBalance", "true"), ("s1", "type", "Supplier")],
        "subj string, pred string, obj string")
    out = sparql_query(kg, """
        SELECT ?e ?nname WHERE {
          ?e inNation ?n .
          ?n name ?nname .
          { ?e type Customer . ?e highBalance "true" }
          UNION { ?e type Supplier }
          FILTER (STRSTARTS(?nname, "NATION_1"))
        }
    """)
    assert rows(out) == [("c1", "NATION_1"), ("s1", "NATION_1")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_outer_graph_var_without_own_pattern_raises(quads):
    with pytest.raises(SparqlError, match=r"GRAPH \?g"):
        sparql_query(quads, """
            SELECT ?g ?n WHERE { GRAPH ?g { GRAPH <urn:g2> { b name ?n } } }
        """)


def test_select_distinct_star_dedups_after_hiding_internal_vars(kg):
    # a knows two objects through the query bnode; the hidden bnode
    # column must not keep both rows apart
    out = sparql_query(kg, "SELECT DISTINCT * WHERE { ?s knows _:x }")
    assert rows(out) == [("a",), ("b",)]


def test_construct_honours_offset(kg):
    out = sparql_query(kg, """
        CONSTRUCT { ?s met ?o } WHERE { ?s knows ?o } ORDER BY ?s ?o OFFSET 1
    """)
    assert rows(out) == [("a", "met", "c"), ("b", "met", "c")]


_JOIN_PRED = st.sampled_from(["p0", "p1", "p2"])
_JOIN_TERM = st.sampled_from(["?s", "?v", "?w", "a", "b"])
_JOIN_GROUP = st.lists(st.tuples(_JOIN_TERM, _JOIN_PRED, _JOIN_TERM),
                       min_size=1, max_size=2)
_JOIN_NODE = st.sampled_from(["a", "b", "c"])
_JOIN_GRAPH = st.lists(st.tuples(_JOIN_NODE, _JOIN_PRED, _JOIN_NODE),
                       max_size=12, unique=True)


def _oracle_group(p_pats, a_pats, b_pats, graph):
    """§18.3 over multisets of dicts: Join(BGP(P), Union(BGP(A), BGP(B)))."""
    def match(pattern):
        out = []
        for triple in graph:
            mu = {}
            for term, val in zip(pattern, triple):
                if term.startswith("?"):
                    if mu.setdefault(term[1:], val) != val:
                        break
                elif term != val:
                    break
            else:
                out.append(mu)
        return out

    def join(left, right):
        return [{**m1, **m2} for m1 in left for m2 in right
                if all(m1[k] == m2[k] for k in m1.keys() & m2.keys())]

    def bgp(patterns):
        sols = [{}]
        for pat in patterns:
            sols = join(sols, match(pat))
        return sols

    return join(bgp(p_pats), bgp(a_pats) + bgp(b_pats))


@settings(max_examples=25, deadline=None)
@given(graph=_JOIN_GRAPH, p_pats=_JOIN_GROUP, a_pats=_JOIN_GROUP,
       b_pats=_JOIN_GROUP)
def test_group_join_matches_compatibility_oracle(spark, graph, p_pats,
                                                 a_pats, b_pats):
    def block(pats):
        return " . ".join(" ".join(t) for t in pats)

    df = spark.createDataFrame(graph, "subj string, pred string, obj string")
    out = sparql_query(df, f"SELECT * WHERE {{ {block(p_pats)} . "
                           f"{{ {block(a_pats)} }} UNION {{ {block(b_pats)} }} }}")
    names = {t[1:] for pat in p_pats + a_pats + b_pats
             for t in pat if t.startswith("?")}
    assert set(out.columns) == names
    want = _oracle_group(p_pats, a_pats, b_pats, graph)
    assert Counter(tuple(r) for r in out.collect()) == \
        Counter(tuple(mu.get(c) for c in out.columns) for mu in want)

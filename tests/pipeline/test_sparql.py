"""SPARQL SELECT front-end (operators/sparql.py): each clause of the
subset against hand-computed bindings over a small program-built
graph, plus syntax-error contracts and the no-cross-join guards."""

import re

import pytest
from pyspark.sql import functions as F

from rdf_spark.operators.sparql import (
    RDF_TYPE, SparqlApproximationWarning, SparqlSyntaxError, sparql_ask,
    sparql_construct, sparql_describe, sparql_select, sparql_update,
)
from rdf_spark.terms import KIND_IRI, KIND_LITERAL

SCHEMA = "subj string, pred string, obj_kind tinyint, obj_lex string"
E = "http://ex/"


@pytest.fixture(scope="module")
def g(spark):
    rows = [
        (E + "alice", RDF_TYPE, KIND_IRI, E + "Person"),
        (E + "alice", E + "name", KIND_LITERAL, "Alice"),
        (E + "alice", E + "age", KIND_LITERAL, "9"),
        (E + "alice", E + "knows", KIND_IRI, E + "bob"),
        (E + "bob", RDF_TYPE, KIND_IRI, E + "Person"),
        (E + "bob", E + "name", KIND_LITERAL, "Bob"),
        (E + "bob", E + "age", KIND_LITERAL, "40"),
        (E + "bob", E + "knows", KIND_IRI, E + "carol"),
        (E + "carol", RDF_TYPE, KIND_IRI, E + "Person"),
        (E + "carol", E + "name", KIND_LITERAL, "carol lower"),
        # carol has no age, no knows -> OPTIONAL null side
        (E + "dog", RDF_TYPE, KIND_IRI, E + "Animal"),
        (E + "dog", E + "name", KIND_LITERAL, "Rex"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def rows(df):
    return {tuple(r) for r in df.collect()}


PFX = f"PREFIX ex: <{E}>\n"


def test_bgp_and_prefix_and_a(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n . }"""))
    assert got == {("Alice",), ("Bob",), ("carol lower",)}


def test_predicate_object_lists_and_filter_numeric(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?p ?n WHERE {
          ?p a ex:Person ; ex:name ?n ; ex:age ?a .
          FILTER (?a > 10)
        }"""))
    # lexical "9" vs "40": numeric comparison must pick 40, not
    # string order (where "9" > "40")
    assert got == {(E + "bob", "Bob")}


def test_filter_string_functions(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE {
          ?p ex:name ?n .
          FILTER (REGEX(?n, "^CAROL", "i") || STRSTARTS(?n, "Al"))
        }"""))
    assert got == {("Alice",), ("carol lower",)}
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n .
          FILTER (CONTAINS(UCASE(?n), "RE") && STRLEN(?n) = 3) }"""))
    assert got == {("Rex",)}


def test_optional_and_bound(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?a WHERE {
          ?p a ex:Person ; ex:name ?n .
          OPTIONAL { ?p ex:age ?a }
        }"""))
    assert got == {("Alice", "9"), ("Bob", "40"), ("carol lower", None)}
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE {
          ?p a ex:Person ; ex:name ?n .
          OPTIONAL { ?p ex:age ?a }
          FILTER (!BOUND(?a))
        }"""))
    assert got == {("carol lower",)}


def test_property_path_in_pattern(g):
    # knows+ from alice: bob and carol (via path passthrough)
    got = rows(sparql_select(g, PFX + """
        SELECT DISTINCT ?n WHERE {
          <http://ex/alice> ex:knows+ ?q . ?q ex:name ?n .
        }"""))
    assert got == {("Bob",), ("carol lower",)}
    # inverse + sequence
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ^ex:knows/ex:name ?n .
                          ?p ex:name "Bob" . }"""))
    assert got == {("Alice",)}


def test_order_limit_offset_distinct(g):
    q = PFX + """
        SELECT ?n WHERE { ?p a ex:Person . ?p ex:name ?n . }
        ORDER BY DESC(?n) LIMIT 2"""
    assert [r.n for r in sparql_select(g, q).collect()] == \
        ["carol lower", "Bob"]
    q = PFX + """
        SELECT ?n WHERE { ?p ex:name ?n . }
        ORDER BY ?n LIMIT 2 OFFSET 1"""
    assert [r.n for r in sparql_select(g, q).collect()] == ["Bob", "Rex"]
    # DISTINCT collapses the two Person-typed matches of one name
    q = PFX + """
        SELECT DISTINCT ?t WHERE { ?p a ?t . }"""
    assert rows(sparql_select(g, q)) == {(E + "Person",), (E + "Animal",)}


def test_select_star_keeps_first_seen_order(g):
    df = sparql_select(g, PFX + """
        SELECT * WHERE { ?p ex:knows ?q . ?q ex:name ?n . }""")
    assert df.columns == ["p", "q", "n"]


def test_group_by_aggregates(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?t (COUNT(*) AS ?cnt) WHERE { ?p a ?t . }
        GROUP BY ?t"""))
    assert got == {(E + "Person", 3), (E + "Animal", 1)}
    # global aggregate (no GROUP BY) + SUM casts the lexical forms
    got = rows(sparql_select(g, PFX + """
        SELECT (COUNT(?p) AS ?n) (SUM(?a) AS ?total) WHERE {
          ?p ex:age ?a . }"""))
    assert got == {(2, 49.0)}
    # COUNT(DISTINCT ?t) + written-order projection with MIN lexical
    got = rows(sparql_select(g, PFX + """
        SELECT (COUNT(DISTINCT ?t) AS ?k) (MIN(?n) AS ?first) WHERE {
          ?p a ?t ; ex:name ?n . }"""))
    assert got == {(2, "Alice")}
    # non-grouped plain variable must raise
    with pytest.raises(Exception):
        sparql_select(g, PFX + """
            SELECT ?p (COUNT(*) AS ?c) WHERE { ?p a ?t . }
            GROUP BY ?t""")


def test_union(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE {
          { ?p a ex:Animal . ?p ex:name ?n . }
          UNION
          { ?p ex:age ?a . ?p ex:name ?n . FILTER (?a > 10) }
        }"""))
    assert got == {("Rex",), ("Bob",)}
    # variables missing from one branch come back null there
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?a WHERE {
          { ?p a ex:Animal . ?p ex:name ?n . }
          UNION
          { ?p ex:age ?a . ?p ex:name ?n . }
        }"""))
    assert got == {("Rex", None), ("Alice", "9"), ("Bob", "40")}


def test_values(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?p ?n WHERE {
          VALUES ?p { ex:alice ex:dog }
          ?p ex:name ?n .
        }"""))
    assert got == {(E + "alice", "Alice"), (E + "dog", "Rex")}
    # multi-var VALUES constrains pairs, not the cross product
    got = rows(sparql_select(g, PFX + """
        SELECT ?p ?n WHERE {
          ?p ex:name ?n .
          VALUES (?p ?n) { (ex:alice "Alice") (ex:bob "WRONG") }
        }"""))
    assert got == {(E + "alice", "Alice")}


def test_construct_basic(g, spark):
    out = sparql_construct(g, PFX + """
        CONSTRUCT { ?p a ex:Agent ; ex:label ?n . }
        WHERE { ?p a ex:Person ; ex:name ?n . }""")
    assert set(out.columns) == {"subj_kind", "subj", "pred", "obj_kind",
                                "obj_lex", "obj_datatype", "obj_lang"}
    got = {(r.subj, r.pred, r.obj_kind, r.obj_lex) for r in out.collect()}
    assert got == {
        (E + "alice", RDF_TYPE, KIND_IRI, E + "Agent"),
        (E + "bob", RDF_TYPE, KIND_IRI, E + "Agent"),
        (E + "carol", RDF_TYPE, KIND_IRI, E + "Agent"),
        (E + "alice", E + "label", KIND_LITERAL, "Alice"),
        (E + "bob", E + "label", KIND_LITERAL, "Bob"),
        (E + "carol", E + "label", KIND_LITERAL, "carol lower"),
    }
    # object var bound to a literal keeps KIND_LITERAL; to an IRI
    # keeps KIND_IRI — metadata flows through keep_kinds
    out2 = sparql_construct(g, PFX + """
        CONSTRUCT { ?p ex:linked ?o . } WHERE { ?p ex:knows ?o . }""")
    assert {r.obj_kind for r in out2.collect()} == {KIND_IRI}


def test_construct_invalid_instantiations_dropped(g):
    # unbound OPTIONAL var -> that template triple is omitted for
    # carol, but the bound template triple still constructs
    out = sparql_construct(g, PFX + """
        CONSTRUCT { ?p ex:age2 ?a ; ex:label ?n . }
        WHERE { ?p a ex:Person ; ex:name ?n .
                OPTIONAL { ?p ex:age ?a } }""")
    got = {(r.subj, r.pred, r.obj_lex) for r in out.collect()}
    assert (E + "carol", E + "age2", None) not in got
    assert sum(1 for s, p, o in got if p == E + "age2") == 2
    assert sum(1 for s, p, o in got if p == E + "label") == 3
    # literal bound into SUBJECT position -> instantiation dropped
    out2 = sparql_construct(g, PFX + """
        CONSTRUCT { ?n ex:of ?p . } WHERE { ?p ex:name ?n . }""")
    assert out2.count() == 0


def test_construct_constants_and_dedup(g):
    # constant template triple instantiates identically per binding
    # row -> CONSTRUCT's graph semantics collapse it to ONE row
    out = sparql_construct(g, PFX + """
        CONSTRUCT { ex:corpus ex:hasMember ?p . ex:corpus a ex:Corpus ;
                    ex:size 3 . }
        WHERE { ?p a ex:Person . }""")
    rows_ = {(r.subj, r.pred, r.obj_kind, r.obj_lex, r.obj_datatype)
             for r in out.collect()}
    assert (E + "corpus", RDF_TYPE, KIND_IRI, E + "Corpus", None) in rows_
    assert (E + "corpus", E + "size", KIND_LITERAL, "3",
            "http://www.w3.org/2001/XMLSchema#integer") in rows_
    assert len(rows_) == 5  # 3 members + type + size


def test_bind_and_having(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?shout WHERE {
          ?p a ex:Person ; ex:name ?n .
          BIND (UCASE(?n) AS ?shout)
          FILTER (STRSTARTS(?shout, "A") || STRSTARTS(?shout, "C"))
        }"""))
    assert got == {("Alice", "ALICE"), ("carol lower", "CAROL LOWER")}
    got = rows(sparql_select(g, PFX + """
        SELECT ?t (COUNT(*) AS ?c) WHERE { ?p a ?t . }
        GROUP BY ?t HAVING (?c > 1)"""))
    assert got == {(E + "Person", 3)}
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT ?p WHERE { ?p a ex:Person . } HAVING (?p = "x")""")


def test_ask(g):
    assert sparql_ask(g, PFX + "ASK { ?p a ex:Animal . }") is True
    assert sparql_ask(g, PFX + 'ASK { ?p ex:name "Nobody" . }') is False
    assert sparql_ask(g, PFX + """
        ASK { ?p ex:age ?a . FILTER (?a > 100) }""") is False


def test_describe(g):
    # constant IRI: all triples touching bob (subject or object)
    got = {(r.subj, r.pred, r.obj_lex)
           for r in sparql_describe(g, PFX + "DESCRIBE ex:bob").collect()}
    assert (E + "bob", E + "name", "Bob") in got
    assert (E + "alice", E + "knows", E + "bob") in got  # object side
    assert all(E + "bob" in (s, o) for s, _, o in got)
    # variable form with WHERE
    got = {(r.subj, r.pred, r.obj_lex) for r in sparql_describe(g, PFX + """
        DESCRIBE ?p WHERE { ?p a ex:Animal . }""").collect()}
    assert got == {(E + "dog", RDF_TYPE, E + "Animal"),
                   (E + "dog", E + "name", "Rex")}


def test_graph_patterns(spark):
    quads = spark.createDataFrame(
        [(E + "s1", E + "p", 0, E + "o1", E + "g1"),
         (E + "s2", E + "p", 0, E + "o2", E + "g2"),
         (E + "s3", E + "q", 0, E + "o3", E + "g1")],
        "subj string, pred string, obj_kind tinyint, obj_lex string, "
        "graph string")
    # constant graph filters; variable graph binds
    got = rows(sparql_select(quads, PFX + """
        SELECT ?s WHERE { GRAPH <http://ex/g1> { ?s ex:p ?o . } }"""))
    assert got == {(E + "s1",)}
    got = rows(sparql_select(quads, PFX + """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p ?o . } }"""))
    assert got == {(E + "g1", E + "s1"), (E + "g2", E + "s2")}
    # patterns OUTSIDE graph match across graphs (union default graph)
    got = rows(sparql_select(quads, PFX + """
        SELECT ?s WHERE { ?s ex:p ?o . }"""))
    assert got == {(E + "s1",), (E + "s2",)}
    # GRAPH over a graph-less triple table raises
    with pytest.raises(ValueError):
        sparql_select(quads.drop("graph"), PFX + """
            SELECT ?s WHERE { GRAPH ?g { ?s ex:p ?o . } }""").collect()


def test_minus(g):
    # persons except those who know someone
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          MINUS { ?p ex:knows ?x . }
        }"""))
    assert got == {(E + "carol",)}
    # MINUS group with its own filter
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person ; ex:name ?n .
          MINUS { ?p ex:age ?a . FILTER (?a > 10) }
        }"""))
    assert got == {(E + "alice",), (E + "carol",)}


def test_minus_disjoint_domain_removes_nothing(g):
    # spec §8.3.3: no shared variable -> MINUS removes nothing
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          MINUS { ?q a ex:Animal . }
        }"""))
    assert got == {(E + "alice",), (E + "bob",), (E + "carol",)}


def test_minus_keeps_outer_nulls(g):
    # carol's ?a is null from the OPTIONAL; null shared vars are
    # never removed by MINUS (unbound -> not in the binding's domain)
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          OPTIONAL { ?p ex:age ?a }
          MINUS { ?p2 ex:age ?a . FILTER (?a > 10) }
        }"""))
    assert got == {(E + "alice",), (E + "carol",)}


def test_filter_exists(g):
    # persons who know someone (semi join)
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          FILTER EXISTS { ?p ex:knows ?x . }
        }"""))
    assert got == {(E + "alice",), (E + "bob",)}
    # NOT EXISTS (anti join) with an inner filter
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          FILTER NOT EXISTS { ?p ex:age ?a . FILTER (?a > 10) }
        }"""))
    assert got == {(E + "alice",), (E + "carol",)}


def test_exists_disjoint_is_scalar_probe(g):
    # unlike MINUS, a disjoint-domain NOT EXISTS removes EVERYTHING
    # when the pattern matches at all ...
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          FILTER NOT EXISTS { ?q a ex:Animal . }
        }"""))
    assert got == set()
    # ... and keeps everything when it never matches
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          FILTER NOT EXISTS { ?q a ex:Robot . }
        }"""))
    assert got == {(E + "alice",), (E + "bob",), (E + "carol",)}
    # disjoint EXISTS: matching pattern keeps all rows
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Animal .
          FILTER EXISTS { ?q ex:age ?a . }
        }"""))
    assert got == {(E + "dog",)}


def test_subquery(g):
    # aggregate subquery joined back on ?p: knows-count per person
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?k WHERE {
          ?p ex:name ?n .
          { SELECT ?p (COUNT(?x) AS ?k) WHERE { ?p ex:knows ?x . }
            GROUP BY ?p }
        }"""))
    assert got == {("Alice", 1), ("Bob", 1)}
    # LIMIT applies INSIDE the subquery (before the outer join)
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE {
          ?p ex:name ?n .
          { SELECT ?p WHERE { ?p ex:age ?a . }
            ORDER BY DESC(?a) LIMIT 1 }
        }"""))
    # lexical DESC over {"9","40"}: "9" sorts first
    assert got == {("Alice",)}
    # subquery as the whole group body
    got = rows(sparql_select(g, PFX + """
        SELECT ?c WHERE {
          { SELECT (COUNT(?p) AS ?c) WHERE { ?p a ex:Person . } }
        }"""))
    assert got == {(3,)}


def test_group_concat_sample_and_in(g):
    got = rows(sparql_select(g, PFX + """
        SELECT ?p (GROUP_CONCAT(?n; SEPARATOR="|") AS ?names) WHERE {
          ?p ex:knows ?q . ?q ex:name ?n .
        } GROUP BY ?p"""))
    assert got == {(E + "alice", "Bob"), (E + "bob", "carol lower")}
    # GROUP_CONCAT sorts collected values -> deterministic
    got = rows(sparql_select(g, PFX + """
        SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?all) WHERE {
          ?p a ex:Person ; ex:name ?n .
        }"""))
    assert got == {("Alice,Bob,carol lower",)}
    # SAMPLE = deterministic min
    got = rows(sparql_select(g, PFX + """
        SELECT (SAMPLE(?n) AS ?one) WHERE { ?p ex:name ?n . }"""))
    assert got == {("Alice",)}
    # IN / NOT IN over constant terms
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n .
          FILTER (?n IN ("Alice", "Rex")) }"""))
    assert got == {("Alice",), ("Rex",)}
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE { ?p a ex:Person ; ex:name ?n .
          FILTER (?n NOT IN ("Alice", "Bob")) }"""))
    assert got == {(E + "carol",)}
    # IN over IRIs in subject position
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n .
          FILTER (?p IN (ex:dog)) }"""))
    assert got == {("Rex",)}


def test_subquery_cross_join_guard(g):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT ?n WHERE {
              ?p ex:name ?n .
              { SELECT ?q WHERE { ?q a ex:Animal . } }
            }""").collect()


def spo(df):
    return {tuple(r) for r in df.select("subj", "pred", "obj_lex").collect()}


def test_update_insert_delete_data(g):
    out = sparql_update(g, PFX + """
        INSERT DATA { ex:eve a ex:Person ; ex:name "Eve" . }""")
    assert (E + "eve", RDF_TYPE, E + "Person") in spo(out)
    assert (E + "eve", E + "name", "Eve") in spo(out)
    assert out.count() == g.count() + 2
    # inserted rows carry kind metadata (IRI vs literal objects)
    kinds = {r["obj_lex"]: r["obj_kind"] for r in
             out.where(F.col("subj") == E + "eve").collect()}
    assert kinds == {E + "Person": KIND_IRI, "Eve": KIND_LITERAL}
    # the input is untouched (functional semantics)
    assert g.count() == 12

    out = sparql_update(g, PFX + """
        DELETE DATA { ex:dog ex:name "Rex" . }""")
    assert (E + "dog", E + "name", "Rex") not in spo(out)
    assert out.count() == g.count() - 1


def test_update_delete_insert_where(g):
    # rename the predicate ex:name -> ex:label for Persons only
    out = sparql_update(g, PFX + """
        DELETE { ?p ex:name ?n . }
        INSERT { ?p ex:label ?n . }
        WHERE { ?p a ex:Person ; ex:name ?n . }""")
    s = spo(out)
    assert (E + "alice", E + "label", "Alice") in s
    assert (E + "alice", E + "name", "Alice") not in s
    # the Animal keeps its ex:name (WHERE restricted to Persons)
    assert (E + "dog", E + "name", "Rex") in s
    assert out.count() == g.count()
    # insert-only form
    out = sparql_update(g, PFX + """
        INSERT { ?p a ex:Agent . } WHERE { ?p a ex:Person . }""")
    assert (E + "carol", RDF_TYPE, E + "Agent") in spo(out)
    assert out.count() == g.count() + 3
    # delete-only form with a filter
    out = sparql_update(g, PFX + """
        DELETE { ?p ex:age ?a . }
        WHERE { ?p ex:age ?a . FILTER (?a > 10) }""")
    s = spo(out)
    assert (E + "bob", E + "age", "40") not in s
    assert (E + "alice", E + "age", "9") in s


def test_minus_under_keep_kinds_update(g):
    # regression: v__kind/__datatype/__lang companions must stay OUT
    # of the MINUS join surface (null datatype keys made MINUS a
    # no-op inside UPDATE/CONSTRUCT WHERE clauses)
    out = sparql_update(g, PFX + """
        DELETE { ?p ex:age ?a . }
        WHERE { ?p ex:age ?a .
                MINUS { ?p2 ex:age ?a . FILTER (?a > 10) } }""")
    s = spo(out)
    assert (E + "alice", E + "age", "9") not in s   # deleted
    assert (E + "bob", E + "age", "40") in s        # MINUS-protected


def test_exists_with_optional_nulls(g):
    # an unbound shared var stays FREE inside EXISTS: carol (null ?a)
    # matches iff the pattern matches at all
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          OPTIONAL { ?p ex:age ?a }
          FILTER EXISTS { ?q ex:age ?a }
        }"""))
    assert got == {(E + "alice",), (E + "bob",), (E + "carol",)}
    # ... and NOT EXISTS symmetrically removes the null row too
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          ?p a ex:Person .
          OPTIONAL { ?p ex:age ?a }
          FILTER NOT EXISTS { ?q ex:age ?a }
        }"""))
    assert got == set()


def test_construct_subquery_keeps_literal_kind(g):
    # regression: subquery projection must carry v__kind companions so
    # CONSTRUCT stamps literals as literals (not default-IRI)
    out = sparql_construct(g, PFX + """
        CONSTRUCT { ?p ex:alias ?n . }
        WHERE { ?p ex:knows ?q .
                { SELECT ?q ?n WHERE { ?q ex:name ?n . } } }""")
    got = {(r["obj_lex"], r["obj_kind"]) for r in out.collect()}
    assert got == {("Bob", KIND_LITERAL), ("carol lower", KIND_LITERAL)}


def test_in_numeric_matches_equals(g):
    # IN is a chain of '=' -> numeric-literal casting applies
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE { ?p ex:age ?a . FILTER (?a IN (9, 50)) }"""))
    assert got == {(E + "alice",)}
    with pytest.raises(SparqlSyntaxError):  # missing comma
        sparql_select(g, PFX + """
            SELECT ?n WHERE { ?p ex:name ?n .
              FILTER (?n IN ("Alice" "Bob")) }""").collect()
    with pytest.raises(SparqlSyntaxError):  # COUNT(DISTINCT *)
        sparql_select(g, PFX + """
            SELECT (COUNT(DISTINCT *) AS ?c)
            WHERE { ?p ex:name ?n . }""").collect()


def test_str_coalesce_if(g):
    # COALESCE fills the OPTIONAL null; IF takes a full boolean cond
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?v WHERE {
          ?p a ex:Person ; ex:name ?n .
          OPTIONAL { ?p ex:age ?a }
          BIND (COALESCE(?a, "none") AS ?v)
        }"""))
    assert got == {("Alice", "9"), ("Bob", "40"),
                   ("carol lower", "none")}
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?grp WHERE {
          ?p ex:name ?n ; ex:age ?a .
          BIND (IF(?a > 10, "old", "young") AS ?grp)
        }"""))
    assert got == {("Alice", "young"), ("Bob", "old")}
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n .
          FILTER (STR(?n) = "Rex") }"""))
    assert got == {("Rex",)}


def test_bind_is_positional(g):
    # a BIND written BEFORE the OPTIONAL must not see its variables
    # (spec §10: expression error -> unbound), while the same BIND
    # written AFTER sees them
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?v WHERE {
          ?p a ex:Person ; ex:name ?n .
          BIND (?a AS ?v)
          OPTIONAL { ?p ex:age ?a }
        }"""))
    assert got == {("Alice", None), ("Bob", None),
                   ("carol lower", None)}
    got = rows(sparql_select(g, PFX + """
        SELECT ?n ?v WHERE {
          ?p a ex:Person ; ex:name ?n .
          OPTIONAL { ?p ex:age ?a }
          BIND (?a AS ?v)
        }"""))
    assert got == {("Alice", "9"), ("Bob", "40"), ("carol lower", None)}


def test_update_syntax_errors(g):
    for bad in [
        PFX + "INSERT DATA { ?v ex:p ex:o . }",   # variable in DATA
        PFX + "DELETE { ?p ex:name ?n . }",        # missing WHERE
        PFX + "COPY DEFAULT TO ex:g",              # out of subset
    ]:
        with pytest.raises(SparqlSyntaxError):
            sparql_update(g, bad).collect()


def test_syntax_errors(g):
    for bad, why in [
        ("SELECT ?x WHERE { }", "empty group"),
        (PFX + "SELECT ?x WHERE { ?a ex:p ?b . ?c ex:p ?d . }",
         "disconnected BGP"),
        (PFX + "SELECT ?x WHERE { ?a ex:p ?b . OPTIONAL { ?c ex:q ?d } }",
         "disconnected OPTIONAL"),
        (PFX + "SELECT ?z WHERE { ?a ex:p ?b . }", "unbound select var"),
        ("SELECT ?x WHERE { ?x foo:p ?y . }", "undeclared prefix"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . } GARBAGE", "trailing"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . UNION { ?x ex:q ?y } }",
         "UNION out of subset"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . "
         "OPTIONAL { ?x ex:q ?z . MINUS { ?x ex:r ?w } } }",
         "MINUS inside OPTIONAL"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . "
         "MINUS { ?x ex:q ?z . MINUS { ?x ex:r ?w } } }",
         "MINUS inside MINUS"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . FILTER EXISTS { "
         "?x ex:q ?z . OPTIONAL { ?x ex:r ?w } } }",
         "OPTIONAL inside EXISTS"),
        (PFX + "SELECT ?x WHERE { ?x ex:p ?y . FILTER NOT { } }",
         "NOT without EXISTS"),
    ]:
        with pytest.raises((SparqlSyntaxError, ValueError)):
            sparql_select(g, bad).collect(), why


def test_plan_is_relational(g, tmp_path):
    # written-to-parquet graph: constant filters must push into the
    # scan, joins must be equi-joins, no cartesian anywhere
    p = str(tmp_path / "g.parquet")
    g.write.parquet(p)
    gp = g.sparkSession.read.parquet(p)
    df = sparql_select(gp, PFX + """
        SELECT ?n ?a WHERE {
          ?p a ex:Person ; ex:name ?n .
          OPTIONAL { ?p ex:age ?a }
          FILTER (STRSTARTS(?n, "A"))
        }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "PushedFilters: [IsNotNull(pred)" in plan or \
        "PushedFilters: [" in plan
    # EXISTS/MINUS over a null-free group: plain semi/anti equi-joins,
    # no null-branch split, no cartesian
    df2 = sparql_select(gp, PFX + """
        SELECT ?n WHERE {
          ?p ex:name ?n .
          FILTER EXISTS { ?p a ex:Person }
          MINUS { ?p ex:age ?a . FILTER (?a > 100) }
        }""")
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan2 and "NestedLoop" not in plan2
    assert "LeftSemi" in plan2 and "LeftAnti" in plan2
    assert "Union" not in plan2  # null split skipped: group is null-free


def test_bind_before_pattern_is_join_constraint(g):
    # r4 ADVICE regression: a BIND written BEFORE a pattern that
    # binds the same variable is Extend-then-Join (spec §18.5) — an
    # equality constraint on the matched values, never an overwrite
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          BIND ("Alice" AS ?n)
          ?p ex:name ?n .
        }"""))
    assert got == {(E + "alice",)}
    # an out-of-scope reference errors -> the target stays UNBOUND in
    # the Extend, which is join-compatible with anything: the later
    # pattern binds freely (no constraint, no overwrite)
    got = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE {
          BIND (UCASE(?missing) AS ?n)
          ?p a ex:Person .
          ?p ex:name ?n .
        }"""))
    assert got == {(E + "alice",), (E + "bob",), (E + "carol",)}


def test_bind_target_already_used_raises(g):
    # spec §10.1: the BIND target must not have been used in the
    # group before the BIND — raising beats silently overwriting
    for bad in [
        PFX + """SELECT ?p WHERE { ?p ex:name ?n .
                 BIND ("Alice" AS ?n) }""",
        PFX + """SELECT ?p WHERE { VALUES ?n { "Alice" }
                 ?p ex:name ?n . BIND ("Bob" AS ?n) }""",
        PFX + """SELECT ?p WHERE { ?p ex:name ?m .
                 BIND (UCASE(?m) AS ?v) BIND ("x" AS ?v) }""",
    ]:
        with pytest.raises(SparqlSyntaxError):
            sparql_select(g, bad).collect()


def test_construct_bnode_subject_keeps_kind(spark):
    # r4 ADVICE regression: a blank-node subject binding must
    # construct as a BNODE triple, not silently become an IRI
    from rdf_spark.terms import KIND_BNODE
    t = spark.createDataFrame(
        [(KIND_BNODE, "b0", E + "name", KIND_LITERAL, "Anon",
          None, None),
         (KIND_IRI, E + "alice", E + "name", KIND_LITERAL, "Alice",
          None, None)],
        "subj_kind tinyint, subj string, pred string, "
        "obj_kind tinyint, obj_lex string, obj_datatype string, "
        "obj_lang string")
    out = sparql_construct(t, PFX + """
        CONSTRUCT { ?s ex:label ?n . } WHERE { ?s ex:name ?n . }""")
    got = {(r.subj_kind, r.subj, r.obj_kind, r.obj_lex)
           for r in out.collect()}
    assert got == {(KIND_BNODE, "b0", KIND_LITERAL, "Anon"),
                   (KIND_IRI, E + "alice", KIND_LITERAL, "Alice")}


def test_select_projection_expressions(g):
    # (expr AS ?v) in the projection: arithmetic over bindings
    got = rows(sparql_select(g, PFX + """
        SELECT ?n (?a * 2 + 1 AS ?v) WHERE {
          ?p ex:name ?n ; ex:age ?a . } ORDER BY ?n"""))
    assert got == {("Alice", 19.0), ("Bob", 81.0)}
    # string function + written-order projection incl. the expression
    out = sparql_select(g, PFX + """
        SELECT (UCASE(?n) AS ?u) ?n WHERE { ?p ex:name ?n . }""")
    assert out.columns == ["u", "n"]
    assert ("REX", "Rex") in rows(out)
    # out-of-scope reference in the expression -> unbound (null)
    got = rows(sparql_select(g, PFX + """
        SELECT ?n (?nope AS ?v) WHERE { ?p ex:name ?n . }"""))
    assert all(v is None for _, v in got) and len(got) == 4


def test_select_expression_after_aggregate(g):
    # expression over a grouped result: group keys + agg aliases
    got = rows(sparql_select(g, PFX + """
        SELECT ?p (SUM(?a) AS ?s) (?s + 100 AS ?v) WHERE {
          ?p ex:age ?a . } GROUP BY ?p"""))
    assert got == {(E + "alice", 9.0, 109.0), (E + "bob", 40.0, 140.0)}
    # referencing a pre-group variable the aggregation consumed raises
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT ?p (?a + 1 AS ?v) (COUNT(?a) AS ?c) WHERE {
              ?p ex:age ?a . } GROUP BY ?p""").collect()
    # alias colliding with an in-scope variable raises (§18.2.4.4)
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT (?a + 1 AS ?n) WHERE {
              ?p ex:name ?n ; ex:age ?a . }""").collect()


def test_order_by_expressions_and_filter_arithmetic(g):
    # DESC(expr): numeric ordering via arithmetic, not lexicographic
    out = sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n ; ex:age ?a . }
        ORDER BY DESC(?a * 1) LIMIT 1""")
    assert [r.n for r in out.collect()] == ["Bob"]
    # lexicographic would put "9" > "40"; arithmetic in FILTER too
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n ; ex:age ?a .
          FILTER (?a - 35 > 0) }"""))
    assert got == {("Bob",)}
    # unary minus and the signed-number tokenizer quirk (?a+1):
    # Bob: -40 < 40+1-50 = -9 -> true; Alice: -9 < 9+1-50 = -40 -> false
    got = rows(sparql_select(g, PFX + """
        SELECT ?n WHERE { ?p ex:name ?n ; ex:age ?a .
          FILTER (-?a < ?a+1 - 50) }"""))
    assert got == {("Bob",)}


# -- MINUS/EXISTS null semantics: warning + exact_null_semantics -----
# Divergent fixture (hand-computed): outer = Person with OPTIONAL age
# -> (alice,9) (bob,40) (carol,null); inner binds (?p,?a) via
# "?q ex:knows ?p . ?q ex:age ?a" -> (bob,9) (carol,40).  Spec §8.3.3
# drops carol (compatible with (carol,40): ?a unbound, dom overlap on
# ?p); the null-strict approximation keeps her.

_NULLS_OUTER = """
    SELECT ?p WHERE {
      ?p a ex:Person .
      OPTIONAL { ?p ex:age ?a }
      %s { ?q ex:knows ?p . ?q ex:age ?a %s }
    }"""


def test_minus_multivar_null_warns_and_exact_flag(g):
    import warnings as _w
    from rdf_spark.operators.sparql import SparqlApproximationWarning
    q = PFX + _NULLS_OUTER % ("MINUS", "")
    with pytest.warns(SparqlApproximationWarning):
        approx = rows(sparql_select(g, q))
    # null-strict: carol's (null ?a) row never equi-matches -> kept
    assert approx == {(E + "alice",), (E + "bob",), (E + "carol",)}
    with _w.catch_warnings():
        _w.simplefilter("error", SparqlApproximationWarning)
        exact = rows(sparql_select(g, q, exact_null_semantics=True))
    # spec-exact: (carol, unbound ?a) is compatible with inner
    # (carol, 40) with overlapping domain -> removed
    assert exact == {(E + "alice",), (E + "bob",)}


def test_exists_multivar_null_warns_and_exact_flag(g):
    import warnings as _w
    from rdf_spark.operators.sparql import SparqlApproximationWarning
    # FILTER(?a < 20) shrinks inner to {(bob, 9)} so the approximate
    # scalar probe (ignores carol's still-bound ?p) diverges
    q = PFX + _NULLS_OUTER % ("FILTER EXISTS", ". FILTER (?a < 20)")
    with pytest.warns(SparqlApproximationWarning):
        approx = rows(sparql_select(g, q))
    assert approx == {(E + "carol",)}  # match-at-all probe keeps her
    with _w.catch_warnings():
        _w.simplefilter("error", SparqlApproximationWarning)
        exact = rows(sparql_select(g, q, exact_null_semantics=True))
    assert exact == set()  # no inner row compatible with any outer row
    # NOT EXISTS is the complement under the exact join
    qn = PFX + _NULLS_OUTER % ("FILTER NOT EXISTS", ". FILTER (?a < 20)")
    exact_n = rows(sparql_select(g, qn, exact_null_semantics=True))
    assert exact_n == {(E + "alice",), (E + "bob",), (E + "carol",)}


def test_minus_single_shared_var_does_not_warn(g):
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("error")  # any warning -> failure
        got = rows(sparql_select(g, PFX + """
            SELECT ?p WHERE {
              ?p a ex:Person .
              OPTIONAL { ?p ex:age ?a }
              MINUS { ?p ex:knows ?x . }
            }"""))
    assert got == {(E + "carol",)}


def test_graph_scoped_property_paths(spark):
    # g1 holds a->b->c, g2 holds c->d, default graph holds x->y:
    # hand-computed closure-join oracle per graph below
    quads = spark.createDataFrame(
        [(E + "a", E + "p", 0, E + "b", E + "g1"),
         (E + "b", E + "p", 0, E + "c", E + "g1"),
         (E + "c", E + "p", 0, E + "d", E + "g2"),
         (E + "x", E + "p", 0, E + "y", None)],
        "subj string, pred string, obj_kind tinyint, obj_lex string, "
        "graph string")
    # constant graph: the closure is scoped to g1's edges AND g1's
    # term universe — never reaches d through g2's edge
    got = rows(sparql_select(quads, PFX + """
        SELECT ?s ?o WHERE { GRAPH <http://ex/g1> { ?s ex:p+ ?o . } }"""))
    assert got == {(E + "a", E + "b"), (E + "a", E + "c"),
                   (E + "b", E + "c")}
    # variable graph: per-named-graph closure with ?g bound; the
    # default-graph (null label) edge is excluded (spec 13.3)
    got = rows(sparql_select(quads, PFX + """
        SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:p+ ?o . } }"""))
    assert got == {(E + "g1", E + "a", E + "b"),
                   (E + "g1", E + "a", E + "c"),
                   (E + "g1", E + "b", E + "c"),
                   (E + "g2", E + "c", E + "d")}
    # sanity: WITHOUT a GRAPH clause the merged-graph path crosses
    # the g1/g2 boundary (a reaches d) — the scoping above is real
    got = rows(sparql_select(quads, PFX + """
        SELECT ?s ?o WHERE { ?s ex:p+ ?o . }"""))
    assert (E + "a", E + "d") in got
    # path + ordinary pattern sharing the graph variable
    got = rows(sparql_select(quads, PFX + """
        SELECT ?g ?o WHERE { GRAPH ?g { ex:a ex:p+ ?o . } }"""))
    assert got == {(E + "g1", E + "b"), (E + "g1", E + "c")}


def test_bind_runtime_null_imposes_no_constraint(g):
    # r5 review: BIND whose expression is null AT RUNTIME (referenced
    # OPTIONAL var missing on the row) leaves the target unbound —
    # join-compatible with the later pattern, so the row SURVIVES
    # with the pattern's value (spec Extend-error rule), it is not
    # dropped by a null equality constraint.
    got = rows(sparql_select(g, PFX + """
        SELECT ?p ?m WHERE {
          ?p a ex:Person .
          OPTIONAL { ?p ex:knows ?k }
          BIND (?k AS ?m)
          ?p ex:name ?m .
        }"""))
    # alice/bob: ?k bound to an IRI != their name literal -> the
    # equality constraint rightly drops them; carol: ?k unbound ->
    # no constraint, pattern binds ?m freely
    assert got == {(E + "carol", "carol lower")}


def test_signed_number_carries_multiplicative_tail(g):
    # r5 review: grammar [116] — after a sign-folded numeric literal
    # (?a+1 lexing as VAR NUMBER(+1)) the multiplicative tail must
    # still be consumed: ?a+1*2 is ?a + (1*2), not a parse error.
    dense = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE { ?p ex:age ?a . FILTER (?a+1*2 > 11) }"""))
    spaced = rows(sparql_select(g, PFX + """
        SELECT ?p WHERE { ?p ex:age ?a . FILTER (?a + 1 * 2 > 11) }"""))
    assert dense == spaced == {(E + "bob",)}  # 40+2=42 ; 9+2=11 !> 11
    proj = rows(sparql_select(g, PFX + """
        SELECT ?p (?a+1*2 AS ?x) WHERE { ?p ex:age ?a . }"""))
    assert proj == {(E + "alice", 11.0), (E + "bob", 42.0)}


def test_non_numeric_arithmetic_operand_raises_sparql_error(g):
    # r5 review: a string/IRI operand in + - * / is a structured
    # SparqlSyntaxError, never a bare ValueError out of float()
    for bad in [
        'SELECT ?p WHERE { ?p ex:age ?a . FILTER ("abc" + ?a > 0) }',
        'SELECT ?p WHERE { ?p ex:age ?a . FILTER (?a * "x" > 0) }',
        'SELECT ?p WHERE { ?p ex:age ?a . FILTER (-"abc" > 0) }',
    ]:
        with pytest.raises(SparqlSyntaxError):
            sparql_select(g, PFX + bad).collect()


def test_aggregate_inside_select_expression(g):
    # spec grammar [109]: aggregates may appear INSIDE a projection
    # expression; each computes with the visible aggregates under a
    # hidden alias and the expression runs over the grouped result
    got = rows(sparql_select(g, PFX + """
        SELECT ?t (SUM(?a)/COUNT(?a) AS ?avg) WHERE {
          ?p a ?t ; ex:age ?a .
        } GROUP BY ?t"""))
    assert got == {(E + "Person", 24.5)}  # (9 + 40) / 2
    # arithmetic over two inline aggregates, implicit single group
    # (SUM/COUNT are numeric by definition; MIN/MAX stay lexical per
    # the module's documented literal-comparison contract)
    got = rows(sparql_select(g, PFX + """
        SELECT (SUM(?a) - COUNT(?a) AS ?x) WHERE {
          ?p ex:age ?a . }"""))
    assert got == {(47.0,)}  # (9 + 40) - 2
    # mixed with a visible aggregate + ORDER BY the expr alias;
    # hidden __iagg columns must not leak into the output schema
    df = sparql_select(g, PFX + """
        SELECT ?t (COUNT(?p) AS ?cnt) (SUM(?a)*2 AS ?dbl) WHERE {
          ?p a ?t ; ex:age ?a .
        } GROUP BY ?t ORDER BY DESC(?dbl)""")
    assert df.columns == ["t", "cnt", "dbl"]
    assert rows(df) == {(E + "Person", 2, 98.0)}


def test_aggregate_outside_select_expression_raises(g):
    # aggregates stay illegal in FILTER and BIND (and under
    # SELECT *) — reference a SELECT alias instead
    for bad in [
        'SELECT ?p WHERE { ?p ex:age ?a . FILTER (SUM(?a) > 10) }',
        'SELECT ?p WHERE { ?p ex:age ?a . BIND (SUM(?a) AS ?s) }',
        """SELECT * WHERE { ?p a ?t ; ex:age ?a . }
           ORDER BY DESC(SUM(?a))""",
    ]:
        with pytest.raises(SparqlSyntaxError):
            sparql_select(g, PFX + bad).collect()


def test_aggregates_in_having_and_order_by(g):
    # HAVING over a direct aggregate call (no SELECT alias needed)
    got = rows(sparql_select(g, PFX + """
        SELECT ?t WHERE { ?p a ?t . }
        GROUP BY ?t HAVING (COUNT(?p) > 1)"""))
    assert got == {(E + "Person",)}
    # ORDER BY DESC(aggregate): sorted by per-type count, hidden
    # carrier dropped from the output schema
    df = sparql_select(g, PFX + """
        SELECT ?t WHERE { ?p a ?t . }
        GROUP BY ?t ORDER BY DESC(COUNT(?p))""")
    assert df.columns == ["t"]
    assert [r["t"] for r in df.collect()] == [E + "Person", E + "Animal"]
    # both at once, sharing the group
    df = sparql_select(g, PFX + """
        SELECT ?t (COUNT(?p) AS ?c) WHERE { ?p a ?t ; ex:name ?n . }
        GROUP BY ?t HAVING (COUNT(?n) + COUNT(?p) > 0)
        ORDER BY DESC(COUNT(?p) * 2) ?t""")
    assert df.columns == ["t", "c"]


def test_inline_aggregate_review_regressions(g):
    # a var used both inside AND outside the aggregate is a
    # non-grouped reference -> structured SparqlSyntaxError, never a
    # raw Spark AnalysisException
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT (SUM(?a) + ?a AS ?x) WHERE { ?p ex:age ?a . }""")
    # ... but grouped vars may mix with aggregates in one expression
    got = rows(sparql_select(g, PFX + """
        SELECT (STRLEN(?t) + COUNT(?p) AS ?x) WHERE {
          ?p a ?t ; ex:age ?a . } GROUP BY ?t"""))
    assert got == {(float(len("http://ex/Person") + 2),)}
    # the hidden-alias namespace is reserved — a user alias there
    # would silently vanish from the projection otherwise
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT ?t (SUM(?a) AS ?__iagg0) WHERE {
              ?p a ?t ; ex:age ?a . } GROUP BY ?t""")


def test_inline_aggregate_distinct_and_validation_regressions(g):
    # DISTINCT must dedupe over VISIBLE columns only — a hidden
    # aggregate carrier differing between groups must not keep two
    # visually-identical rows alive
    df = sparql_select(g, PFX + """
        SELECT DISTINCT ?t WHERE { ?p a ?t ; ex:age ?a . }
        GROUP BY ?t ?a HAVING (COUNT(?p) >= 1)""")
    assert df.columns == ["t"]
    assert [r["t"] for r in df.collect()] == [E + "Person"]
    # a non-grouped variable mixed into a HAVING/ORDER BY aggregate
    # expression is a structured error, not a Spark analysis failure
    for bad in [
        """SELECT ?t WHERE { ?p a ?t ; ex:age ?a . }
           GROUP BY ?t HAVING (SUM(?a) > ?a)""",
        """SELECT ?t WHERE { ?p a ?t ; ex:age ?a . }
           GROUP BY ?t ORDER BY DESC(SUM(?a) + ?a)""",
    ]:
        with pytest.raises(SparqlSyntaxError):
            sparql_select(g, PFX + bad).collect()
    # ORDER BY aggregate under DISTINCT: structured refusal (spec:
    # DISTINCT ordering may only use projected values)
    with pytest.raises(SparqlSyntaxError):
        sparql_select(g, PFX + """
            SELECT DISTINCT ?t WHERE { ?p a ?t . }
            GROUP BY ?t ORDER BY DESC(COUNT(?p))""")


def test_inline_aggregate_reuse_shares_column(g):
    # the same aggregate in SELECT, HAVING and ORDER BY computes once
    df = sparql_select(g, PFX + """
        SELECT ?t (COUNT(?p) AS ?c) WHERE { ?p a ?t . }
        GROUP BY ?t HAVING (COUNT(?p) >= 1)
        ORDER BY DESC(COUNT(?p)) ?t""")
    assert df.columns == ["t", "c"]
    assert [(r["t"], r["c"]) for r in df.collect()] == [
        (E + "Person", 3), (E + "Animal", 1)]
    # exactly ONE count in the aggregate (reuse, not three copies)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    agg_line = [ln for ln in plan.split("\n") if "Aggregate" in ln][0]
    assert agg_line.count("count(") == 1, agg_line
    # a subquery's identical aggregate is NOT shared with the outer
    # query (different groups) — both still evaluate correctly
    got = rows(sparql_select(g, PFX + """
        SELECT ?t (COUNT(?p) AS ?outer) WHERE {
          ?p a ?t .
          { SELECT ?p (COUNT(?q) AS ?inner) WHERE { ?p ex:knows ?q . }
            GROUP BY ?p }
        } GROUP BY ?t ORDER BY DESC(COUNT(?p))"""))
    assert got == {(E + "Person", 2)}  # alice+bob have knows edges


# -- inner-group nullability (hand-computed): outer ?p ex:age ?a ->
# (alice, 9) (bob, 40); only the INNER group binds null, via VALUES
# (alice, UNDEF).  Spec-exact, (alice, 9) is compatible with (alice,
# unbound ?a) and shares ?p: MINUS drops alice, EXISTS keeps only her.
# The null-strict approximation never matches the UNDEF row.
_INNER_NULLS = """
    SELECT ?p WHERE {
      ?p ex:age ?a .
      %s { VALUES (?p ?a) { (ex:alice UNDEF) } }
    }"""


@pytest.mark.parametrize("clause, approx, exact", [
    ("MINUS", {"alice", "bob"}, {"bob"}),
    ("FILTER EXISTS", set(), {"alice"}),
    ("FILTER NOT EXISTS", {"alice", "bob"}, {"bob"}),
])
def test_inner_group_null_warns_and_exact_flag(g, clause, approx, exact):
    import warnings as _w
    q = PFX + _INNER_NULLS % clause
    with pytest.warns(SparqlApproximationWarning):
        assert rows(sparql_select(g, q)) == {(E + p,) for p in approx}
    with _w.catch_warnings():
        _w.simplefilter("error", SparqlApproximationWarning)
        got = rows(sparql_select(g, q, exact_null_semantics=True))
    assert got == {(E + p,) for p in exact}


_GROUPED = PFX + """
    SELECT ?p (COUNT(?n) AS ?c) WHERE { ?p ex:name ?n . ?p ex:age ?a }
    GROUP BY ?p """


@pytest.mark.parametrize("modifier", [
    "ORDER BY DESC(STRLEN(?a))", 'HAVING (?a = "9")', "ORDER BY ?a",
    "ORDER BY DESC(STRLEN(?p))"])
def test_modifier_without_aggregate_call_is_validated(g, modifier):
    # in an aggregate query every HAVING / ORDER BY key may reference
    # only group keys and SELECT aliases, aggregate call or not
    if "?p" in modifier:
        got = sparql_select(g, _GROUPED + modifier).collect()
        assert [tuple(r) for r in got] == [(E + "alice", 1), (E + "bob", 1)]
        return
    with pytest.raises(SparqlSyntaxError, match=re.escape(
            "aggregate expression references non-grouped variables "
            "['a']")):
        sparql_select(g, _GROUPED + modifier).collect()


# -- error contract: one row per (entry point, text), the exact
# SparqlSyntaxError message — or, for an accepted text, its rows
@pytest.mark.parametrize("fn, text, expected", [
    (sparql_select, "ASK { ?p a ex:Person }", "expected SELECT, got 'ASK'"),
    (sparql_ask, "DESCRIBE ex:alice", "expected ASK, got 'DESCRIBE'"),
    (sparql_construct, "SELECT ?p WHERE { ?p a ex:Person }",
     "expected CONSTRUCT, got 'SELECT'"),
    (sparql_describe, "CONSTRUCT { ?p a ex:T } WHERE { ?p a ex:Person }",
     "expected DESCRIBE, got 'CONSTRUCT'"),
    (sparql_update, "SELECT ?p WHERE { ?p a ex:Person }",
     "expected INSERT or DELETE, got 'SELECT'"),
    (sparql_select, "SELECT ?p WHERE { ?p a ex:Person } GARBAGE",
     "trailing input at 'GARBAGE'"),
    (sparql_ask, "ASK { ?p a ex:Person } GARBAGE",
     "trailing input at 'GARBAGE'"),
    (sparql_construct,
     "CONSTRUCT { ?p a ex:T } WHERE { ?p a ex:Person } LIMIT 1 GARBAGE",
     "trailing input at 'GARBAGE'"),
    (sparql_describe, "DESCRIBE ex:alice GARBAGE",
     "trailing input at 'GARBAGE'"),
    (sparql_update, "INSERT DATA { ?v ex:p ex:o . }",
     "INSERT/DELETE DATA cannot contain variables"),
    (sparql_update, "DELETE DATA { ex:alice ex:p ?v . }",
     "INSERT/DELETE DATA cannot contain variables"),
    (sparql_describe, "DESCRIBE ?p", "DESCRIBE ?var needs a WHERE group"),
    (sparql_construct, "CONSTRUCT { ?p foo:q ?n } WHERE { ?p ex:name ?n }",
     "undeclared prefix 'foo'"),
    (sparql_update, "INSERT DATA { ex:a foo:q ex:b }",
     "undeclared prefix 'foo'"),
    # a dangling ';' before '}' in WHERE (grammar [83]), as templates
    (sparql_select, "SELECT ?n WHERE { ?p a ex:Person ; ex:name ?n ; }",
     {("Alice",), ("Bob",), ("carol lower",)}),
])
def test_error_contract(g, fn, text, expected):
    if isinstance(expected, set):
        assert rows(fn(g, PFX + text)) == expected
        return
    with pytest.raises(SparqlSyntaxError) as err:
        out = fn(g, PFX + text)
        if not isinstance(out, bool):
            out.collect()
    assert str(err.value) == expected

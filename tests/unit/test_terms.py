"""Unit tests for term model: serialization, sorting, normalization,
equality (ported behaviors from reference ntriples/doc_test.go:44-124,
nquads/doc_test.go:42-108)."""

from functools import partial

from rdf_spark.grammar.ntriples import parse_document
from rdf_spark import terms as T

parse_nq = partial(parse_document, quads=True)


def test_serialization_roundtrip():
    doc = '<http://a/s> <http://a/p> "v"@en .\n_:b0 <http://a/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    parsed = parse_document(doc)
    text = "".join(T.triple_str(t) + "\n" for t in parsed)
    assert parse_document(text) == parsed


def test_literal_equality_is_lexical():
    a = parse_document('<http://a/s> <http://a/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n')
    b = parse_document('<http://a/s> <http://a/p> "01"^^<http://www.w3.org/2001/XMLSchema#integer> .\n')
    assert not T.documents_equal(a, b)


def test_bnode_relabel_equal():
    # same structure, different labels -> equal (ntriples/doc_test.go:44-94)
    a = parse_document("_:x <http://a/p> _:y .\n_:y <http://a/p> _:x .\n")
    b = parse_document("_:u <http://a/p> _:v .\n_:v <http://a/p> _:u .\n")
    assert T.documents_equal(a, b)


def test_bnode_structure_mismatch():
    a = parse_document("_:x <http://a/p> _:x .\n")
    b = parse_document("_:u <http://a/p> _:v .\n")
    assert not T.documents_equal(a, b)


def test_equality_depends_on_parsed_bnode_labels():
    # Document.Equal as written sorts on the labels before normalizing,
    # so it expects labels as parsed: a relabelling that reverses their
    # order compares unequal, one that keeps it compares equal
    doc = parse_document('_:a <http://a/p> "1" .\n_:b <http://a/p> "2" .\n')
    relabel = lambda t, m: tuple(("b", m[x[1]]) if x[0] == "b" else x for x in t)
    reversed_ = [relabel(t, {"a": "r1", "b": "r0"}) for t in doc]
    kept = [relabel(t, {"a": "xa", "b": "xb"}) for t in doc]
    assert not T.documents_equal(doc, reversed_)
    assert not T.eval_documents_equal(doc, reversed_)
    assert T.documents_equal(doc, kept)
    assert T.eval_documents_equal(doc, kept)


def test_iri_equality_unescapes_unicode():
    a = parse_document("<http://a/\\u0041> <http://a/p> <http://a/o> .\n", validate=False)
    b = parse_document("<http://a/A> <http://a/p> <http://a/o> .\n", validate=False)
    assert T.documents_equal(a, b)


def test_quad_sort_default_graph_first():
    g = ("i", "http://a/g")
    named = (("i", "http://a/s"), ("i", "http://a/p"), ("i", "http://a/o"), g)
    default = (("i", "http://z/s"), ("i", "http://a/p"), ("i", "http://a/o"), None)
    assert T.sort_quads([named, default]) == [default, named]


def test_equality_ignores_input_order():
    a = parse_document("_:x <http://a/p> _:y .\n<http://a/s> <http://a/p> _:x .\n"
                       "_:y <http://a/q> \"v\" .\n")
    assert T.documents_equal(a, a[::-1])
    assert T.eval_documents_equal(a, a[::-1])
    q = parse_nq("_:x <http://a/p> _:y <http://a/g> .\n<http://a/s> <http://a/p> _:x .\n"
                 "_:y <http://a/q> \"v\" <http://a/g> .\n_:z <http://a/p> _:x .\n")
    assert T.quad_documents_equal(q, q[::-1])


def test_quad_documents_equal_per_graph_bnodes():
    a = parse_nq("_:x <http://a/p> <http://a/o> <http://a/g> .\n")
    b = parse_nq("_:y <http://a/p> <http://a/o> <http://a/g> .\n")
    assert T.quad_documents_equal(a, b)


def test_flat_roundtrip():
    t = (("b", "x"), ("i", "http://a/p"), ("l", "v", None, "en"))
    row = T.triple_to_row(t)
    assert row[0] == T.KIND_BNODE and row[3] == T.KIND_LITERAL and row[6] == "en"
    assert T.row_to_term(row[0], row[1]) == ("b", "x")


def test_iri_cache_distinguishes_iriref_from_pname():
    """<ex:n> (absolute IRIREF) and ex:n (prefixed name) share lexical
    text; the evaluator memo must key on the syntactic kind."""
    from rdf_spark.grammar.turtle import parse_and_evaluate

    doc = '@prefix ex: <http://p/> .\n<ex:n> <ex:p> ex:n .\n'
    out = [tuple(t) for t in parse_and_evaluate(doc, "")]
    assert (("i", "ex:n"), ("i", "ex:p"), ("i", "http://p/n")) in out


def test_iri_cache_invalidated_on_prefix_redefinition():
    """@prefix redefinition mid-document must not serve stale memoized
    resolutions."""
    from rdf_spark.grammar.turtle import parse_and_evaluate

    doc = (
        "@prefix ex: <http://a/> .\n"
        "ex:s ex:p ex:o .\n"
        "@prefix ex: <http://b/> .\n"
        "ex:s ex:p ex:o .\n"
    )
    out = {t[0][1] for t in parse_and_evaluate(doc, "")}
    assert out == {"http://a/s", "http://b/s"}


def test_iri_cache_invalidated_on_base_change():
    from rdf_spark.grammar.turtle import parse_and_evaluate

    doc = (
        "@base <http://a/> .\n"
        "<s> <p> <o> .\n"
        "@base <http://b/> .\n"
        "<s> <p> <o> .\n"
    )
    out = {t[0][1] for t in parse_and_evaluate(doc, "")}
    assert out == {"http://a/s", "http://b/s"}

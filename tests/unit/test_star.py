"""RDF-star smoke tests (reference star/*/doc_test.go:9-13) plus
nesting and serialization round-trips."""

import pytest

from rdf_spark import terms as T
from rdf_spark.grammar.ntriples import RDFSyntaxError, parse_document


def test_quoted_subject():
    doc = "<< <http://example/s> <http://example/p> <http://example/o> >> <http://example/q> <http://example/z> ."
    ts = parse_document(doc, star=True)
    assert len(ts) == 1
    assert ts[0][0][0] == "q"
    assert T.triple_str(ts[0]) == (
        "<< <http://example/s> <http://example/p> <http://example/o> >> "
        "<http://example/q> <http://example/z> ."
    )


def test_quoted_object_nested():
    doc = "<http://e/s> <http://e/p> << <http://e/a> <http://e/b> << <http://e/x> <http://e/y> \"z\" >> >> ."
    ts = parse_document(doc, star=True)
    inner = ts[0][2][1][2]
    assert inner[0] == "q" and inner[1][2] == ("l", "z", None, None)


def test_star_nquads_graph():
    doc = "<< <http://e/s> <http://e/p> <http://e/o> >> <http://e/q> \"v\" <http://e/g> ."
    qs = parse_document(doc, quads=True, star=True)
    assert qs[0][3] == ("i", "http://e/g")


def test_star_bad_unclosed():
    with pytest.raises(RDFSyntaxError):
        parse_document("<< <http://e/s> <http://e/p> <http://e/o> <http://e/q> <http://e/z> .", star=True)


def test_flat_encoding_kind3():
    ts = parse_document(
        "<< <http://e/s> <http://e/p> <http://e/o> >> <http://e/q> <http://e/z> .", star=True
    )
    row = T.triple_to_row(ts[0])
    assert row[0] == T.KIND_QUOTED
    assert row[1].startswith("<< ")

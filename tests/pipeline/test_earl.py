"""EARL/DOAP report sink (rdf_spark.earl; SURVEY.md S10, reference
internal/testsuite/report.go)."""

import pytest

from rdf_spark.testsuite import manifest_path, suite_available


def needs_suite(suite):
    return pytest.mark.skipif(
        not suite_available(suite),
        reason=f"W3C suite file absent: {manifest_path(suite)}",
    )


PROJECT = {
    "iri": "https://example.org/rdf-spark",
    "name": "rdf-spark",
    "description": "PySpark KG construction engine",
    "implements": ["http://www.w3.org/TR/turtle/"],
}
DEV = {"iri": "https://example.org/dev", "name": "Dev"}
DATE = "2026-08-17+00:00"


@pytest.fixture(scope="module")
def report_text(spark):
    from rdf_spark.earl import earl_report_text

    return earl_report_text(spark, PROJECT, DEV, DATE, suites=("ntriples",))


@needs_suite("ntriples")
def test_earl_structure(report_text):
    assert report_text.count("[ a earl:Assertion ;") == 68  # NT suite size
    assert "earl:outcome earl:passed" in report_text
    assert "earl:failed" not in report_text  # suite is 100% green
    assert "a doap:Project" in report_text
    assert "a foaf:Person, earl:Assertor" in report_text
    assert 'dct:date "2026-08-17+00:00"^^xsd:date' in report_text


@needs_suite("ntriples")
def test_earl_dogfoods_through_own_turtle_parser(report_text):
    """The published document is valid Turtle: parse it with this
    repo's own grammar and check the assertion triples came through."""
    from rdf_spark.grammar import turtle as ttl
    from rdf_spark.terms import RDF_NS

    triples = ttl.evaluate_document(
        ttl.parse_document(report_text), base="http://example.org/report"
    )
    EARL = "http://www.w3.org/ns/earl#"
    assertions = [t for t in triples
                  if t[1] == ("i", RDF_NS + "type")
                  and t[2] == ("i", EARL + "Assertion")]
    assert len(assertions) == 68
    outcomes = [t for t in triples if t[1] == ("i", EARL + "outcome")]
    assert all(o[2] == ("i", EARL + "passed") for o in outcomes)
    tests = {t[2][1] for t in triples if t[1] == ("i", EARL + "test")}
    assert len(tests) == 68
    assert all(i.startswith("http://www.w3.org/2013/N-TriplesTests/manifest.ttl#")
               for i in tests)


def test_header_escapes_config_strings(spark):
    """Quotes/backslashes in config names must be escaped into valid
    Turtle literals, verified by dogfood-parsing the header."""
    from rdf_spark.earl import earl_report_text
    from rdf_spark.grammar import turtle as ttl

    from rdf_spark.terms import escape_literal_lex

    raw = 'evil "name" \\ test'
    proj = dict(PROJECT, name=raw, description="line1\nline2")
    dev = dict(DEV, name='d "q"')
    text = earl_report_text(spark, proj, dev, DATE, suites=())
    triples = ttl.evaluate_document(
        ttl.parse_document(text), base="http://example.org/report"
    )
    # expected lex = what the engine's parser produces for the same
    # escaped literal in a minimal reference doc (the header must use
    # exactly the serializer-side escaping, whatever the internal lex
    # convention is)
    ref = ttl.evaluate_document(
        ttl.parse_document(
            f'<http://e/s> <http://e/p> "{escape_literal_lex(raw)}" .'
        ),
        base="http://e/",
    )
    expected = ref[0][2][1]
    names = {t[2][1] for t in triples
             if t[1] == ("i", "http://usefulinc.com/ns/doap#name")}
    assert expected in names


@needs_suite("nquads")
def test_suite_outcomes_all_pass(spark):
    """All four suites report earl:passed for every entry (matches the
    kernel suite tallies in CONFORMANCE.json)."""
    from rdf_spark.earl import suite_outcomes

    outs = suite_outcomes(("nquads",))
    assert len(outs) == 85
    assert all(o == "earl:passed" for _, o in outs)

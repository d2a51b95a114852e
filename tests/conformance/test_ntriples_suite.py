"""W3C N-Triples suite: 68/68 must pass (reference README.md:7).

PositiveSyntax -> parse must succeed; NegativeSyntax -> parse must fail
(dispatch mirrors reference ntriples/doc_test.go:126-179).
"""

import pytest

from rdf_spark.grammar.ntriples import RDFSyntaxError, parse_document
from rdf_spark.testsuite import load_manifest_regex, manifest_path, suite_available

if not suite_available("ntriples"):
    pytest.skip(f"W3C suite file absent: {manifest_path('ntriples')}",
                allow_module_level=True)
TESTS = load_manifest_regex("ntriples")


@pytest.mark.parametrize("t", TESTS, ids=[t.name for t in TESTS])
def test_ntriples_suite(t):
    text = t.action_text()
    if t.test_type == "rdft:TestNTriplesPositiveSyntax":
        parse_document(text)  # must not raise
    elif t.test_type == "rdft:TestNTriplesNegativeSyntax":
        with pytest.raises(RDFSyntaxError):
            parse_document(text)
    else:
        pytest.fail(f"unknown test type {t.test_type}")

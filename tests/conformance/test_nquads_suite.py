"""W3C N-Quads suite: 85/85 must pass (reference README.md:8)."""

from functools import partial

import pytest

from rdf_spark.grammar import ntriples
from rdf_spark.grammar.ntriples import RDFSyntaxError
from rdf_spark.testsuite import load_manifest_regex, manifest_path, suite_available

parse_document = partial(ntriples.parse_document, quads=True)
if not suite_available("nquads"):
    pytest.skip(f"W3C suite file absent: {manifest_path('nquads')}",
                allow_module_level=True)
TESTS = load_manifest_regex("nquads")


@pytest.mark.parametrize("t", TESTS, ids=[t.name for t in TESTS])
def test_nquads_suite(t):
    text = t.action_text()
    if t.test_type == "rdft:TestNQuadsPositiveSyntax":
        parse_document(text)
    elif t.test_type == "rdft:TestNQuadsNegativeSyntax":
        with pytest.raises(RDFSyntaxError):
            parse_document(text)
    else:
        pytest.fail(f"unknown test type {t.test_type}")

"""W3C Turtle suite (reference README.md:9 — 288/288 with IRI
validation off; dispatch mirrors turtle/doc_test.go:118-246).

- PositiveSyntax: parse + evaluate must succeed; serialized output must
  reparse as N-Triples.
- NegativeSyntax: parse must fail OR validation must return False.
- Eval: evaluate with base http://www.w3.org/2013/TurtleTests/<name>.ttl,
  compare against golden .nt with ``terms.eval_documents_equal`` (the
  procedure of doc_test.go:196-215).
- NegativeEval: if parse succeeds, evaluation must error.
"""

import pytest

from rdf_spark import terms as T
from rdf_spark.grammar import turtle as ttl
from rdf_spark.grammar.ntriples import RDFSyntaxError, parse_document as parse_nt
from rdf_spark.testsuite import load_manifest_regex, manifest_path, suite_available

if not suite_available("turtle"):
    pytest.skip(f"W3C suite file absent: {manifest_path('turtle')}",
                allow_module_level=True)
TESTS = load_manifest_regex("turtle")


@pytest.mark.parametrize("t", TESTS, ids=[t.name for t in TESTS])
def test_turtle_suite(t):
    text = t.action_text()
    if t.test_type == "rdft:TestTurtlePositiveSyntax":
        ast = ttl.parse_document(text)
        triples = ttl.evaluate_document(ast, base=t.base_iri)
        nt_text = "".join(T.triple_str(x) + "\n" for x in triples)
        parse_nt(nt_text, validate=False)
    elif t.test_type == "rdft:TestTurtleNegativeSyntax":
        try:
            ast = ttl.parse_document(text)
        except RDFSyntaxError:
            return
        assert not ttl.validate_document(ast), "expected parse/validate failure"
    elif t.test_type == "rdft:TestTurtleEval":
        ast = ttl.parse_document(text)
        mine = ttl.evaluate_document(ast, base=t.base_iri)
        golden = parse_nt(t.result_text(), validate=False)
        assert T.eval_documents_equal(golden, mine), (
            "golden:\n"
            + "".join(T.triple_str(x) + "\n" for x in golden)
            + "mine:\n"
            + "".join(T.triple_str(x) + "\n" for x in mine)
        )
        # output must reparse as NT
        parse_nt("".join(T.triple_str(x) + "\n" for x in mine), validate=False)
    elif t.test_type == "rdft:TestTurtleNegativeEval":
        try:
            ast = ttl.parse_document(text)
        except RDFSyntaxError:
            return
        with pytest.raises((ttl.RDFEvalError, RDFSyntaxError)):
            ttl.evaluate_document(ast, base=t.base_iri)
    else:
        pytest.fail(f"unknown test type {t.test_type}")

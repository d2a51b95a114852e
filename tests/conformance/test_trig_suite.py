"""W3C TriG suite (reference README.md:10 — 332/332, validation off;
dispatch mirrors trig/doc_test.go:82-199).

Eval tests are count-checked against the golden .nq plus an
output-reparses-as-NQ check — exactly the reference's procedure
(trig/doc_test.go:169-176)."""

from functools import partial

import pytest

from rdf_spark import terms as T
from rdf_spark.grammar import trig
from rdf_spark.grammar.ntriples import RDFSyntaxError, parse_document
from rdf_spark.testsuite import load_manifest_regex, manifest_path, suite_available

parse_nq = partial(parse_document, quads=True)
if not suite_available("trig"):
    pytest.skip(f"W3C suite file absent: {manifest_path('trig')}",
                allow_module_level=True)
TESTS = load_manifest_regex("trig")


def _serialize(quads) -> str:
    return "".join(T.quad_str(q) + "\n" for q in quads)


@pytest.mark.parametrize("t", TESTS, ids=[t.name for t in TESTS])
def test_trig_suite(t):
    text = t.action_text()
    if t.test_type == "rdft:TestTrigPositiveSyntax":
        ast = trig.parse_document(text)
        quads = trig.evaluate_document(ast)
        parse_nq(_serialize(quads), validate=False)
    elif t.test_type == "rdft:TestTrigNegativeSyntax":
        try:
            ast = trig.parse_document(text)
        except RDFSyntaxError:
            return
        assert not trig.validate_document(ast), "expected parse/validate failure"
    elif t.test_type == "rdft:TestTrigEval":
        ast = trig.parse_document(text)
        mine = trig.evaluate_document(ast)
        golden = parse_nq(t.result_text(), validate=False)
        assert len(golden) == len(mine), (
            f"quad count {len(mine)} != golden {len(golden)}\n"
            f"golden:\n{_serialize(golden)}mine:\n{_serialize(mine)}"
        )
        parse_nq(_serialize(mine), validate=False)
    elif t.test_type == "rdft:TestTrigNegativeEval":
        try:
            ast = trig.parse_document(text)
        except RDFSyntaxError:
            return
        with pytest.raises((trig.RDFEvalError, RDFSyntaxError)):
            trig.evaluate_document(ast)
    else:
        pytest.fail(f"unknown test type {t.test_type}")

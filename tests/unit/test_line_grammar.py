"""Cross-format contract of the one line grammar (N-Triples, N-Quads and
their RDF-star forms), pinned without the W3C suite files:

- every N-Triples line parses as N-Quads, with graph None;
- the RDF-star forms equal the flat forms on lines without ``<<``;
- a graph label on an N-Triples line is an N-Triples error;
- error line numbers count ``\\n``, ``\\r\\n`` and ``\\r`` alike;
- empty and comment-only documents are empty.

An expected ``str`` is the exact ``RDFSyntaxError`` message (it becomes
the ``error`` column of a pipeline row).
"""

import pytest

from rdf_spark.grammar.ntriples import RDFSyntaxError, parse_document

S, P, O, G = (("i", f"http://ex/{x}") for x in "spog")
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
FLAGS = {"nt": (False, False), "nq": (True, False),
         "nt-star": (False, True), "nq-star": (True, True)}

# N-Triples documents -> their triples, in document order
NT_DOCS = {
    "iri": ("<http://ex/s> <http://ex/p> <http://ex/o> .", [(S, P, O)]),
    "bnode-lang-comment": ('_:b1 <http://ex/p> "v"@en-GB . # c',
                           [(("b", "b1"), P, ("l", "v", None, "en-GB"))]),
    "tabs-typed-no-space-dot": (f'<http://ex/s>\t<http://ex/p>\t"1"^^<{XSD_INT}>.',
                                [(S, P, ("l", "1", XSD_INT, None))]),
    "escapes-two-lines": ('<http://ex/s> <http://ex/p> _:o .\n'
                          '<http://ex/s> <http://ex/p> "a\\"b\\u00E9" .\n',
                          [(S, P, ("b", "o")), (S, P, ("l", 'a\\"b\\u00E9', None, None))]),
}

LINE4 = ["<http://ex/s> <http://ex/p> <http://ex/o> .", "# c", "", "bad line"]
REL2 = ["<http://ex/s> <http://ex/p> <http://ex/o> .", "<rel> <http://ex/p> <http://ex/o> ."]
GRAPH_ON_NT = "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> ."


def _cases():
    for name, (doc, triples) in NT_DOCS.items():
        for fl, (quads, star) in FLAGS.items():
            yield name, fl, doc, [t + (None,) for t in triples] if quads else triples
    yield "graph-on-nt", "nt", GRAPH_ON_NT, f"line 1: not a valid N-Triples triple: {GRAPH_ON_NT!r}"
    yield "graph-on-nt", "nt-star", GRAPH_ON_NT, "rdf-star: expected '.' at 42: '<http://ex/g> .'"
    yield "graph-on-nt", "nq", GRAPH_ON_NT, [(S, P, O, G)]
    yield "graph-on-nt", "nq-star", GRAPH_ON_NT, [(S, P, O, G)]
    for eol_name, eol in (("lf", "\n"), ("crlf", "\r\n"), ("cr", "\r")):
        bad, rel = eol.join(LINE4) + eol, eol.join(REL2)
        yield f"line-no-{eol_name}", "nt", bad, "line 4: not a valid N-Triples triple: 'bad line'"
        yield f"line-no-{eol_name}", "nq", bad, "line 4: not a valid N-Quads statement: 'bad line'"
        yield f"line-no-{eol_name}", "nt-star", bad, "rdf-star: expected term at 0: 'bad line'"
        yield f"iri-line-no-{eol_name}", "nt", rel, "line 2: invalid IRI <rel>"
        yield f"iri-line-no-{eol_name}", "nq", rel, "line 2: invalid IRI <rel>"
        yield f"iri-line-no-{eol_name}", "nq-star", rel, "invalid IRI <rel>"
    for name, doc in (("empty", ""), ("comment", "# only a comment"), ("blank-lines", "\n\n"),
                      ("mixed-eol-comments", " \t\r\n# a\r# b\n")):
        for fl in FLAGS:
            yield name, fl, doc, []


CASES = list(_cases())


@pytest.mark.parametrize("name,flags,doc,expected", CASES,
                         ids=[f"{c[0]}-{c[1]}" for c in CASES])
def test_line_grammar_contract(name, flags, doc, expected):
    quads, star = FLAGS[flags]
    if isinstance(expected, str):
        with pytest.raises(RDFSyntaxError) as err:
            parse_document(doc, quads=quads, star=star)
        assert str(err.value) == expected
    else:
        assert parse_document(doc, quads=quads, star=star) == expected

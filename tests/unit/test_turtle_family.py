"""Contract of the Turtle-family grammars (``grammar/turtle.py`` and
``grammar/trig.py``), pinned without the W3C suite files.

TriG is Turtle's statements plus graph blocks, so each row is one
document with its expected outcome under one or both grammars:

- ``("RDFSyntaxError", message)`` when ``parse_document`` raises;
- otherwise ``(validate_document, output)``, where ``output`` is the
  ``evaluate_document`` result as N-Triples/N-Quads lines (in the order
  returned), or ``("RDFEvalError", message)`` when evaluation raises.

The rows cover every TriG block form, the Turtle statements shared by
both grammars, nested-structure emission order, blank-node counters
shared across graphs, TriG's verbatim ``@base``/``@prefix``, the
document order both grammars return, undeclared-prefix validation,
the exact syntax error messages and the canonical lexical form of
string escapes (read with backslash parity).
"""

import pytest

from rdf_spark.grammar import trig, turtle
from rdf_spark.grammar.turtle import RDFEvalError, RDFSyntaxError
from rdf_spark.terms import quad_str, triple_str

EX = "@prefix : <http://ex/> .\n"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
UNDECLARED = ("RDFEvalError", "prefix 'ex:' not defined")


def _both(lines):
    """The same valid output from both grammars (N-Triples lines: a
    default-graph quad serializes like its triple)."""
    return dict.fromkeys(("turtle", "trig"), (True, lines))


# (id, document, {grammar: expected})
CASES = [
    # TriG block forms
    ("label-iri", EX + "<http://ex/g> { :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> .",
        ]),
    }),
    ("label-prefixed", EX + ":g { :s :p :o . :s :p :o2 . }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> .",
            "<http://ex/s> <http://ex/p> <http://ex/o2> <http://ex/g> .",
        ]),
    }),
    ("label-bnode", EX + "_:g { :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> _:g .",
        ]),
    }),
    ("label-anon", EX + "[] { :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> _:b1 .",
        ]),
    }),
    ("label-comment-eol", EX + ":g # c\n{ :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> .",
        ]),
    }),
    ("graph-kw-space", EX + "GRAPH :g { :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> .",
        ]),
    }),
    ("graph-kw-tab", EX + "GRAPH\t_:g { :s :p :o }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> _:g .",
        ]),
    }),
    ("unlabeled", EX + "{ :s :p :o . :s :p [ :q :r ] }", {
        "trig": (True, [
            "<http://ex/s> <http://ex/p> <http://ex/o> .",
            "_:b1 <http://ex/q> <http://ex/r> .",
            "<http://ex/s> <http://ex/p> _:b1 .",
        ]),
    }),
    ("empty-graphs", EX + ":g { } {}", {
        "trig": (True, []),
    }),
    # Turtle statements, shared by both grammars
    ("top-level-triples", EX + ":s :p :o1, :o2 ; a :C ; .\n"
     ":s2 :p 1, 2.5, 3e0, true, 'x'@en, \"y\"^^:dt .", _both([
        "<http://ex/s> <http://ex/p> <http://ex/o1> .",
        "<http://ex/s> <http://ex/p> <http://ex/o2> .",
        f"<http://ex/s> <{RDF}type> <http://ex/C> .",
        f"<http://ex/s2> <http://ex/p> \"1\"^^<{XSD}integer> .",
        f"<http://ex/s2> <http://ex/p> \"2.5\"^^<{XSD}decimal> .",
        f"<http://ex/s2> <http://ex/p> \"3e0\"^^<{XSD}double> .",
        f"<http://ex/s2> <http://ex/p> \"true\"^^<{XSD}boolean> .",
        "<http://ex/s2> <http://ex/p> \"x\"@en .",
        "<http://ex/s2> <http://ex/p> \"y\"^^<http://ex/dt> .",
    ])),
    ("bnpl-subject-pol", EX + "[ :p :o ] :q :r .", _both([
        "_:b1 <http://ex/p> <http://ex/o> .",
        "_:b1 <http://ex/q> <http://ex/r> .",
    ])),
    ("bnpl-subject-alone", EX + "[ :p :o ; :p2 :o2 ] .", _both([
        "_:b1 <http://ex/p> <http://ex/o> .",
        "_:b1 <http://ex/p2> <http://ex/o2> .",
    ])),
    ("collection-subject", EX + "( :a :b ) :p :o .", _both([
        f"_:el1 <{RDF}first> <http://ex/a> .",
        f"_:el1 <{RDF}rest> _:el2 .",
        f"_:el2 <{RDF}first> <http://ex/b> .",
        f"_:el2 <{RDF}rest> <{RDF}nil> .",
        "_:el1 <http://ex/p> <http://ex/o> .",
    ])),
    ("empty-collection-subject", EX + "() :p :o .\n:s :p () .", _both([
        f"<http://ex/s> <http://ex/p> <{RDF}nil> .",
    ])),
    # nested-structure triples come before the triple that uses them
    ("nested-order", EX + ":s :p [ :q ( :a [ :r :b ] ) ; :t ( ) ] .", _both([
        "_:b2 <http://ex/r> <http://ex/b> .",
        f"_:el1 <{RDF}first> <http://ex/a> .",
        f"_:el1 <{RDF}rest> _:el2 .",
        f"_:el2 <{RDF}first> _:b2 .",
        f"_:el2 <{RDF}rest> <{RDF}nil> .",
        "_:b1 <http://ex/q> _:el1 .",
        f"_:b1 <http://ex/t> <{RDF}nil> .",
        "<http://ex/s> <http://ex/p> _:b1 .",
    ])),
    # blank-node counters run across statements and graphs
    ("bnode-counters-shared", EX + ":g1 { [] :p [ :q :o ] } [] { ( :a ) :p [] }\n"
     ":g2 { [ :p :o ] . }", {
        "trig": (True, [
            "_:b2 <http://ex/q> <http://ex/o> <http://ex/g1> .",
            "_:b1 <http://ex/p> _:b2 <http://ex/g1> .",
            f"_:el1 <{RDF}first> <http://ex/a> _:b3 .",
            f"_:el1 <{RDF}rest> <{RDF}nil> _:b3 .",
            "_:el1 <http://ex/p> _:b4 _:b3 .",
            "_:b5 <http://ex/p> <http://ex/o> <http://ex/g2> .",
        ]),
    }),
    ("bnode-counters", EX + "[] :p [ :q :o ] .\n( :a ) :p [] .\n[ :p :o ] .", {
        "turtle": (True, [
            "_:b2 <http://ex/q> <http://ex/o> .",
            "_:b1 <http://ex/p> _:b2 .",
            f"_:el1 <{RDF}first> <http://ex/a> .",
            f"_:el1 <{RDF}rest> <{RDF}nil> .",
            "_:el1 <http://ex/p> _:b3 .",
            "_:b4 <http://ex/p> <http://ex/o> .",
        ]),
    }),
    # TriG sets @base/@prefix verbatim; Turtle resolves them
    ("base-prefix", "@base <http://ex/dir/> .\n@prefix p: <rel/> .\n<x> p:y <z> .\n"
     "@base <sub/> .\n<w> p:y <v> .", {
        "turtle": (True, [
            "<http://ex/dir/x> <http://ex/dir/rel/y> <http://ex/dir/z> .",
            "<http://ex/dir/sub/w> <http://ex/dir/rel/y> <http://ex/dir/sub/v> .",
        ]),
        "trig": (True, [
            "<http://ex/dir/x> <rel/y> <http://ex/dir/z> .",
            "<sub/w> <rel/y> <sub/v> .",
        ]),
    }),
    ("sparql-directives", "BASE <http://ex/dir/>\nPREFIX p: <rel/>\n<x> p:y <z> .", {
        "turtle": (True, [
            "<http://ex/dir/x> <http://ex/dir/rel/y> <http://ex/dir/z> .",
        ]),
        "trig": (True, [
            "<http://ex/dir/x> <rel/y> <http://ex/dir/z> .",
        ]),
    }),
    # both grammars return statements in document order
    ("output-order", EX + ":z :p :o .\n:a :p :o .\n:m :p :o .", _both([
        "<http://ex/z> <http://ex/p> <http://ex/o> .",
        "<http://ex/a> <http://ex/p> <http://ex/o> .",
        "<http://ex/m> <http://ex/p> <http://ex/o> .",
    ])),
    # validate_document: every used prefix must be declared (datatypes excepted)
    ("undeclared-label", "ex:g { <http://ex/s> <http://ex/p> <http://ex/o> }", {
        "trig": (False, UNDECLARED),
    }),
    ("undeclared-in-graph", "<http://ex/g> { <http://ex/s> <http://ex/p> ex:o }", {
        "trig": (False, UNDECLARED),
    }),
    ("undeclared-subject", "ex:s <http://ex/p> <http://ex/o> .", {
        "turtle": (False, UNDECLARED),
        "trig": (False, UNDECLARED),
    }),
    ("undeclared-verb", "<http://ex/s> ex:p <http://ex/o> .", {
        "turtle": (False, UNDECLARED),
        "trig": (False, UNDECLARED),
    }),
    ("undeclared-nested-object", "<http://ex/s> <http://ex/p> [ <http://ex/q> ( ex:o ) ] .", {
        "turtle": (False, UNDECLARED),
        "trig": (False, UNDECLARED),
    }),
    ("undeclared-datatype-unchecked", "<http://ex/s> <http://ex/p> \"1\"^^ex:dt .", {
        "turtle": (True, UNDECLARED),
        "trig": (True, UNDECLARED),
    }),
    # exact syntax error messages
    ("unterminated-graph", EX + ":g { :s :p :o .", {
        "trig": ("RDFSyntaxError",
            "turtle: expected directive, block, or end of line at offset 25: ':g { :s :p :o .\\n'"),
    }),
    ("missing-dot", EX + ":s :p :o\n:t :p :o .", {
        "turtle": ("RDFSyntaxError",
            "turtle: expected '.' after triples at offset 34: ':t :p :o .\\n'"),
        "trig": ("RDFSyntaxError",
            "turtle: expected directive, block, or end of line at offset 25: ':s :p :o\\n:t :p :o .\\n'"),
    }),
    ("graph-kw-brace", EX + "GRAPH{ :s :p :o }", {
        "trig": ("RDFSyntaxError",
            "turtle: expected directive, block, or end of line at offset 25: 'GRAPH{ :s :p :o }\\n'"),
    }),
    ("object-after-comma", EX + ":s :p :o , .", {
        "turtle": ("RDFSyntaxError",
            "turtle: expected object after ',' at offset 36: '.\\n'"),
        "trig": ("RDFSyntaxError",
            "turtle: expected object after ',' at offset 36: '.\\n'"),
    }),
    ("graph-in-turtle", EX + ":g { :s :p :o }", {
        "turtle": ("RDFSyntaxError",
            "turtle: expected directive, triples, or end of line at offset 25: ':g { :s :p :o }\\n'"),
    }),
    # string escapes read with backslash parity (turtle.py deviation #4)
    *[(rid, EX + ":s :p " + lit + " .", {
        g: (True, [f'<http://ex/s> <http://ex/p> "{lex}" .' for lex in lexes])
        for g in ("turtle", "trig")
    }) for rid, lit, lexes in [
        ("echar-quote-single", r'''"a\"b", 'c\"d' ''', [r'a\"b', r'c\"d']),
        ("escaped-backslash-b", r'"a\\b"', [r"a\\b"]),
        ("escaped-backslash-f", r'"a\\f"', [r"a\\f"]),
        ("escaped-backslash-quote-long", r'"""a\\"b"""', [r'a\\\"b']),
        ("uchar-quote", r'"a\u0022b"', [r'a\"b']),
        ("uchar-backslash", r'"a\u005Cb"', [r"a\\b"]),
        # spellings kept as the reference writes them
        ("echar-apostrophe-kept", r"'a\'b'", [r"a\'b"]),
        ("uchar-control-kept", r'"a\u0009b"', [r"a\u0009b"]),
        ("uchar-ffff-kept", r'"a\uFFFFb"', [r"a\U0000FFFFb"]),
    ]],
]


def _run(grammar, doc):
    mod = {"turtle": turtle, "trig": trig}[grammar]
    try:
        ast = mod.parse_document(doc)
    except RDFSyntaxError as e:
        return ("RDFSyntaxError", str(e))
    valid = mod.validate_document(ast)
    try:
        out = mod.evaluate_document(ast)
    except RDFEvalError as e:
        return (valid, ("RDFEvalError", str(e)))
    render = triple_str if grammar == "turtle" else quad_str
    return (valid, [render(t) for t in out])


@pytest.mark.parametrize("grammar,doc,expected", [
    pytest.param(g, doc, exp, id=f"{g}-{rid}")
    for rid, doc, by_grammar in CASES for g, exp in by_grammar.items()
])
def test_turtle_family_contract(grammar, doc, expected):
    assert _run(grammar, doc) == expected

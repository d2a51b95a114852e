"""Turtle pretty-printer sink + IRI validity expr."""

import pytest

from pyspark.sql import functions as F

from rdf_spark.functions.iri import iri_is_valid
from rdf_spark.functions.serialize import prefix_header, serialize_turtle

SCHEMA = (
    "subj_kind tinyint, subj string, pred string, obj_kind tinyint, "
    "obj_lex string, obj_datatype string, obj_lang string"
)
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        (0, "http://ex/a", RDF_TYPE, 0, "http://ex/Thing", None, None),
        (0, "http://ex/a", "http://ex/name", 2, "Alice", None, None),
        (0, "http://ex/a", "http://ex/knows", 0, "http://ex/b", None, None),
        (0, "http://ex/a", "http://ex/note", 2, "bonjour", None, "fr"),
        # local part with a dot: not prefix-safe, must stay <...>
        (0, "http://ex/x.y", "http://ex/name", 2, "Dot", None, None),
        (1, "b0", "http://ex/name", 2, "Blank", None, None),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_blocks_grouped_and_sorted(triples):
    out = {r["subj"]: r["value"] for r in
           serialize_turtle(triples, {"ex": "http://ex/"}).collect()}
    assert out["ex:a"] == (
        "ex:a a ex:Thing ;\n"
        '  ex:knows ex:b ;\n'
        '  ex:name "Alice" ;\n'
        '  ex:note "bonjour"@fr .'
    )
    assert out["<http://ex/x.y>"] == '<http://ex/x.y> ex:name "Dot" .'
    assert out["_:b0"] == '_:b0 ex:name "Blank" .'


def test_longest_namespace_wins(spark):
    t = spark.createDataFrame(
        [(0, "http://ex/sub/a", "http://ex/name", 2, "v", None, None)], SCHEMA
    )
    out = serialize_turtle(
        t, {"ex": "http://ex/", "sub": "http://ex/sub/"}
    ).first()["value"]
    assert out.startswith("sub:a ")


def test_no_prefixes_full_iris(triples):
    out = {r["subj"]: r["value"] for r in serialize_turtle(triples).collect()}
    block = out["<http://ex/a>"]
    # '<' sorts before 'a', so IRI-pred pairs come first in the block
    assert block.startswith("<http://ex/a> <http://ex/knows> <http://ex/b> ;")
    assert "a <http://ex/Thing>" in block and block.endswith(" .")


def test_prefix_header():
    assert prefix_header({"b": "http://b/", "a": "http://a/"}) == [
        "@prefix a: <http://a/> .",
        "@prefix b: <http://b/> .",
    ]


def test_serialize_trig_graph_sections(spark):
    from rdf_spark.functions.serialize import serialize_trig
    from rdf_spark.grammar.trig import parse_and_evaluate

    rows = [
        (0, "http://ex/a", "http://ex/p", 0, "http://ex/o", None, None, None, None),
        (0, "http://ex/b", "http://ex/p", 2, "x", None, None, 0, "http://ex/g1"),
        (1, "b0", "http://ex/p", 2, "y", None, None, 0, "http://ex/g1"),
    ]
    q = spark.createDataFrame(
        rows, SCHEMA + ", graph_kind tinyint, graph string"
    )
    out = {r["graph"]: r["value"]
           for r in serialize_trig(q, {"ex": "http://ex/"}).collect()}
    assert out[None] == "ex:a ex:p ex:o ."
    assert out["<http://ex/g1>"] == (
        '<http://ex/g1> {\n_:b0 ex:p "y" .\nex:b ex:p "x" .\n}'
    )
    # round-trip through our own TriG parser
    text = "@prefix ex: <http://ex/> .\n" + "\n".join(out.values())
    assert len(parse_and_evaluate(text)) == 3


def test_iri_is_valid(spark):
    cases = [
        ("http://example.com/a", True),
        ("urn:x:y", True),
        ("ftp://h/p?q=1#f", True),
        ("relative/path", False),
        ("http://ex/with space", False),
        ('http://ex/"quote', False),
        ("http://ex/{brace}", False),
        ("1http://bad-scheme", False),
        ("", False),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "ref string")
    got = {r["ref"]: r["v"] for r in
           df.select("ref", iri_is_valid(F.col("ref")).alias("v")).collect()}
    for ref, want in cases:
        assert got[ref] is want, ref


TTL_NESTED = """@prefix ex: <http://ex/> .
ex:a ex:p [ ex:q [ ex:r "deep" ] ; ex:s "mid" ] ; ex:name "top" .
ex:b ex:p _:shared .
ex:c ex:p _:shared .
_:shared ex:q "multi" .
"""


def _parse_pages_df(spark, text):
    from rdf_spark.operators.parse import good_triples, parse_pages

    pages = spark.createDataFrame(
        [("http://u/1", "turtle", text)], "url string, format string, text string"
    )
    return good_triples(parse_pages(pages))


def test_nested_bnode_property_lists(spark):
    """Single-use bnodes inline as [ ... ] (recursively); multi-use
    bnodes keep their _:label blocks."""
    from rdf_spark.functions.serialize import serialize_turtle_nested

    t = _parse_pages_df(spark, TTL_NESTED)
    out = {r["subj"]: r["value"] for r in
           serialize_turtle_nested(t, {"ex": "http://ex/"}).collect()}
    a = out["ex:a"]
    assert a.count("[ ") == 2 and a.count(" ]") == 2     # two nesting levels
    assert 'ex:r "deep"' in a and 'ex:s "mid"' in a
    assert "_:" not in a                                  # fully inlined
    shared = [v for s, v in out.items() if s.startswith("_:")]
    assert len(shared) == 1 and 'ex:q "multi"' in shared[0]


def test_nested_roundtrip_documents_equal(spark):
    """The pretty output re-parses to an equal document (reference
    Document.Equal semantics, terms.documents_equal)."""
    from rdf_spark.functions.serialize import prefix_header, serialize_turtle_nested
    from rdf_spark.grammar.turtle import parse_and_evaluate
    from rdf_spark.terms import documents_equal

    t = _parse_pages_df(spark, TTL_NESTED)
    blocks = [r["value"] for r in
              serialize_turtle_nested(t, {"ex": "http://ex/"}).collect()]
    doc = "\n".join(prefix_header({"ex": "http://ex/"}) + sorted(blocks)) + "\n"
    got = parse_and_evaluate(doc, "http://u/1")
    want = parse_and_evaluate(TTL_NESTED, "http://u/1")
    assert documents_equal(want, got)


TTL_COLLECTIONS = """@prefix ex: <http://ex/> .
ex:s ex:list ( 1 2 3 ) ; ex:empty ( ) ; ex:one ( "x" ) .
ex:t ex:mixed ( ex:a ( 4 5 ) ) .
ex:u ex:also ex:shared .
"""


def test_collections_renested(spark):
    """rdf:first/rest chains print as ( ... ) per reference
    turtle/doc.go:735-744; the empty collection IS rdf:nil."""
    from rdf_spark.functions.serialize import serialize_turtle_nested

    prefixes = {"ex": "http://ex/",
                "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"}
    t = _parse_pages_df(spark, TTL_COLLECTIONS)
    out = {r["subj"]: r["value"] for r in
           serialize_turtle_nested(t, prefixes).collect()}
    s, tt = out["ex:s"], out["ex:t"]
    assert 'ex:one ( "x" )' in s
    assert "ex:empty rdf:nil" in s
    assert s.count("( ") == 2 and "[ " not in s
    # 3 integers in document order inside one ( )
    import re

    m = re.search(r"ex:list \( (.*?) \)", s)
    assert m and [x for x in m.group(1).split() if x.startswith('"')] == [
        '"1"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"2"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"3"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ]
    # nested collection folds inside the outer one
    assert "ex:mixed ( ex:a ( " in tt and tt.endswith(") ) .")


def test_collections_roundtrip_documents_equal(spark):
    from rdf_spark.functions.serialize import (
        prefix_header,
        serialize_turtle_nested,
    )
    from rdf_spark.grammar.turtle import parse_and_evaluate
    from rdf_spark.terms import documents_equal

    prefixes = {"ex": "http://ex/",
                "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"}
    t = _parse_pages_df(spark, TTL_COLLECTIONS)
    blocks = [r["value"] for r in
              serialize_turtle_nested(t, prefixes).collect()]
    doc = "\n".join(prefix_header(prefixes) + sorted(blocks)) + "\n"
    got = parse_and_evaluate(doc, "http://u/1")
    want = parse_and_evaluate(TTL_COLLECTIONS, "http://u/1")
    assert documents_equal(want, got)


def test_collections_randomized_roundtrip(spark):
    """Seeded randomized structures: nested/empty/singleton collections
    mixed with bnode property lists must all round-trip to an equal
    document through the pretty-printer."""
    import random

    from rdf_spark.functions.serialize import (
        prefix_header,
        serialize_turtle_nested,
    )
    from rdf_spark.grammar.turtle import parse_and_evaluate
    from rdf_spark.terms import documents_equal

    rng = random.Random(7)
    prefixes = {"ex": "http://ex/",
                "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"}

    def element(depth):
        kind = rng.choice(["int", "str", "iri", "list", "bnpl"]
                          if depth < 3 else ["int", "str", "iri"])
        if kind == "int":
            return str(rng.randrange(100))
        if kind == "str":
            return '"v%d"' % rng.randrange(100)
        if kind == "iri":
            return "ex:e%d" % rng.randrange(50)
        if kind == "bnpl":
            return '[ ex:k "%d" ]' % rng.randrange(100)
        return collection(depth + 1)

    def collection(depth=1):
        n = rng.choice([0, 1, 2, 3])
        return "( " + " ".join(element(depth) for _ in range(n)) + " )"

    for trial in range(6):
        body = "".join(
            "ex:s%d ex:p%d %s .\n" % (trial, i, collection())
            for i in range(3)
        )
        doc = "@prefix ex: <http://ex/> .\n" + body
        t = _parse_pages_df(spark, doc)
        blocks = [r["value"] for r in
                  serialize_turtle_nested(t, prefixes).collect()]
        out = "\n".join(prefix_header(prefixes) + sorted(blocks)) + "\n"
        got = parse_and_evaluate(out, "http://u/1")
        want = parse_and_evaluate(doc, "http://u/1")
        assert documents_equal(want, got), doc


def test_shared_list_cell_keeps_label_form(spark):
    """A list cell referenced twice is NOT single-use: it must keep the
    _:label form (inlining it would duplicate the node) and still
    round-trip."""
    from rdf_spark.functions.serialize import serialize_turtle_nested
    from rdf_spark.terms import RDF_FIRST, RDF_NIL, RDF_REST

    rows = [
        (0, "http://ex/s", "http://ex/p", 1, "c0", None, None),
        (0, "http://ex/t", "http://ex/p", 1, "c0", None, None),  # 2nd ref
        (1, "c0", RDF_FIRST, 2, "v", None, None),
        (1, "c0", RDF_REST, 0, RDF_NIL, None, None),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    out = {r["subj"]: r["value"] for r in
           serialize_turtle_nested(t, {"ex": "http://ex/"}).collect()}
    assert out["ex:s"] == "ex:s ex:p _:c0 ."
    assert "_:c0" in out


def test_nested_cycle_falls_back_to_labels(spark):
    """A bnode cycle can't inline; both nodes keep _:label blocks and
    the output still round-trips."""
    from rdf_spark.functions.serialize import serialize_turtle_nested

    rows = [
        (1, "x", "http://ex/p", 1, "y", None, None),
        (1, "y", "http://ex/p", 1, "x", None, None),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    out = {r["subj"]: r["value"] for r in
           serialize_turtle_nested(t, {"ex": "http://ex/"}).collect()}
    assert set(out) == {"_:x", "_:y"}
    assert out["_:x"] == "_:x ex:p _:y ."


def test_jsonld_roundtrip_through_own_parser(spark):
    """serialize_jsonld output re-parses (parse_jsonld) to exactly the
    original triples, including language tags, datatypes and escaped
    quotes."""
    from rdf_spark.functions.serialize import serialize_jsonld
    from rdf_spark.sources.jsonld import parse_jsonld

    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (0, "http://ex/a", "http://ex/knows", 0, "http://ex/b", None, None),
        (0, "http://ex/a", "http://ex/name", 2, 'say \\"hi\\"', None, None),
        (0, "http://ex/a", "http://ex/note", 2, "bonjour", None, "fr"),
        (0, "http://ex/a", "http://ex/age", 2, "42", XSD_INT, None),
        (1, "b0", "http://ex/name", 2, "Blank", None, None),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    docs = {r["subj"]: r["value"] for r in serialize_jsonld(t).collect()}
    got = []
    for v in docs.values():
        got.extend(parse_jsonld(v))
    want = {
        (("i", "http://ex/a"), ("i", "http://ex/knows"), ("i", "http://ex/b"), None),
        (("i", "http://ex/a"), ("i", "http://ex/name"),
         ("l", 'say \\"hi\\"', None, None), None),
        (("i", "http://ex/a"), ("i", "http://ex/note"),
         ("l", "bonjour", None, "fr"), None),
        (("i", "http://ex/a"), ("i", "http://ex/age"),
         ("l", "42", XSD_INT, None), None),
        (("b", "b0"), ("i", "http://ex/name"), ("l", "Blank", None, None), None),
    }
    assert {tuple(q) for q in got} == want


def test_serialize_rdfxml_roundtrip(spark):
    from rdf_spark.functions.serialize import (
        RDFXML_FOOTER, RDFXML_HEADER, serialize_rdfxml,
    )
    from rdf_spark.sources.rdfxml import parse_rdfxml

    rows = [
        (0, "http://ex/a", RDF_TYPE, 0, "http://ex/Thing", None, None),
        (0, "http://ex/a", "http://ex/name", 2, 'say \\"hi\\" &<>', None,
         None),
        (0, "http://ex/a", "http://ex/note", 2, "bonjour", None, "fr"),
        (0, "http://ex/a", "http://ex/age", 2, "36",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        (0, "http://ex/a", "http://ex/knows", 1, "b7", None, None),
        (1, "b7", "http://ex/name", 2, "line\\nbreak", None, None),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    frags = [r["value"] for r in serialize_rdfxml(t).collect()]
    doc = RDFXML_HEADER + "\n" + "\n".join(sorted(frags)) + RDFXML_FOOTER
    got = {(s, p[1], o) for s, p, o, _ in parse_rdfxml(doc)}
    want = {
        (("i", "http://ex/a"), RDF_TYPE, ("i", "http://ex/Thing")),
        (("i", "http://ex/a"), "http://ex/name",
         ("l", 'say \\"hi\\" &<>', None, None)),
        (("i", "http://ex/a"), "http://ex/note",
         ("l", "bonjour", None, "fr")),
        (("i", "http://ex/a"), "http://ex/age",
         ("l", "36", "http://www.w3.org/2001/XMLSchema#integer", None)),
        (("i", "http://ex/a"), "http://ex/knows", ("b", "b7")),
        (("b", "b7"), "http://ex/name", ("l", "line\\nbreak", None, None)),
    }
    assert got == want


def test_serialize_rdfxml_bad_predicate_raises(spark):
    from rdf_spark.functions.serialize import serialize_rdfxml

    t = spark.createDataFrame(
        [(0, "http://ex/a", "http://ex/p/", 2, "x", None, None)], SCHEMA)
    with pytest.raises(Exception, match="not serializable"):
        serialize_rdfxml(t).collect()


def test_serialize_rdfxml_nonascii_and_cr_roundtrip(spark):
    from rdf_spark.functions.serialize import (
        RDFXML_FOOTER, RDFXML_HEADER, serialize_rdfxml,
    )
    from rdf_spark.sources.rdfxml import parse_rdfxml
    from rdf_spark.terms import escape_literal_lex

    # canonical lexical forms as the term model stores them
    cafe = escape_literal_lex("café")            # café
    cr = escape_literal_lex("a\rb")              # a\rb
    astral = escape_literal_lex("x\U0001F600y")  # \U0001F600
    bslash_u = escape_literal_lex("lit \\u0041") # literal backslash-u
    rows = [(0, "http://ex/a", "http://ex/p1", 2, cafe, None, None),
            (0, "http://ex/a", "http://ex/p2", 2, cr, None, None),
            (0, "http://ex/a", "http://ex/p3", 2, astral, None, None),
            (0, "http://ex/a", "http://ex/p4", 2, bslash_u, None, None)]
    t = spark.createDataFrame(rows, SCHEMA)
    frags = [r["value"] for r in serialize_rdfxml(t).collect()]
    doc = RDFXML_HEADER + "\n".join(frags) + RDFXML_FOOTER
    got = {q[1][1]: q[2][1] for q in parse_rdfxml(doc)}
    assert got == {"http://ex/p1": cafe, "http://ex/p2": cr,
                   "http://ex/p3": astral, "http://ex/p4": bslash_u}
    # XML-unrepresentable control chars raise, never corrupt
    bad = spark.createDataFrame(
        [(0, "http://ex/a", "http://ex/p", 2,
          escape_literal_lex("x\x01y"), None, None)], SCHEMA)
    with pytest.raises(Exception, match="not serializable"):
        serialize_rdfxml(bad).collect()


def test_serialize_rdfxml_noncharacters_raise(spark):
    from rdf_spark.functions.serialize import serialize_rdfxml
    from rdf_spark.terms import escape_literal_lex

    # U+FFFF/U+FFFE are not XML 1.0 Chars even as &#x...; references
    bad = spark.createDataFrame(
        [(0, "http://ex/a", "http://ex/p", 2,
          escape_literal_lex("x￿y"), None, None)], SCHEMA)
    with pytest.raises(Exception, match="not serializable"):
        serialize_rdfxml(bad).collect()


def test_serialize_rdfxml_low_surrogate_raises(spark):
    from rdf_spark.functions.serialize import serialize_rdfxml

    # lone low surrogate (surrogateescape-decoded crawl bytes):
    # \uDC80 is not an XML 1.0 Char even as a character reference
    bad = spark.createDataFrame(
        [(0, "http://ex/a", "http://ex/p", 2, "x\\uDC80y", None, None)],
        SCHEMA)
    with pytest.raises(Exception, match="not serializable"):
        serialize_rdfxml(bad).collect()

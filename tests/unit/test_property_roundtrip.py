"""Property-based round-trip tests (hypothesis): serialize -> parse is
the identity on the term model, for arbitrary generated terms — the
reference proves this with 27 hand-picked examples
(turtle/doc_test.go:74-116); we prove it for the generated space."""

import string
from functools import partial

from hypothesis import given, settings, strategies as st

from rdf_spark.grammar.ntriples import parse_document
from rdf_spark.terms import quad_str, sort_document, triple_str

parse_nq = partial(parse_document, quads=True)

# lexical space that survives NT escaping untouched (printable ASCII
# minus quote/backslash — escape canonicalization itself is covered by
# the W3C suites; here we prove structural round-tripping)
_PLAIN = string.ascii_letters + string.digits + " .,;:!?()[]{}@#$%&*+-=/_~"

iri_st = st.text(
    alphabet=string.ascii_letters + string.digits + ":/._-#?=&",
    min_size=1, max_size=40,
).map(lambda s: ("i", "http://ex/" + s))
bnode_st = st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,10}", fullmatch=True).map(
    lambda s: ("b", s)
)
lang_st = st.from_regex(r"[a-z]{2}(-[a-z0-9]{1,8})?", fullmatch=True)
plain_text = st.text(alphabet=_PLAIN, max_size=40)
literal_st = st.one_of(
    plain_text.map(lambda s: ("l", s, None, None)),
    st.tuples(plain_text, iri_st).map(lambda t: ("l", t[0], t[1][1], None)),
    st.tuples(plain_text, lang_st).map(lambda t: ("l", t[0], None, t[1])),
)
subj_st = st.one_of(iri_st, bnode_st)
obj_st = st.one_of(iri_st, bnode_st, literal_st)
triple_st = st.tuples(subj_st, iri_st, obj_st)


@settings(max_examples=150, deadline=None)
@given(st.lists(triple_st, min_size=1, max_size=8))
def test_ntriples_roundtrip(triples):
    doc = "".join(triple_str(t) + "\n" for t in triples)
    parsed = parse_document(doc, validate=False)
    assert parsed == sort_document(triples)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(subj_st, iri_st, obj_st,
                          st.one_of(st.none(), iri_st, bnode_st)),
                min_size=1, max_size=6))
def test_nquads_roundtrip(quads):
    doc = "".join(quad_str(q) + "\n" for q in quads)
    parsed = parse_nq(doc, validate=False)
    # nquads parse returns quads sorted default-graph-first then string
    from rdf_spark.terms import sort_quads

    assert parsed == sort_quads(quads)


@settings(max_examples=100, deadline=None)
@given(st.lists(triple_st, min_size=1, max_size=6))
def test_serialize_parse_serialize_stable(triples):
    doc = "".join(triple_str(t) + "\n" for t in triples)
    once = parse_document(doc, validate=False)
    again = parse_document(
        "".join(triple_str(t) + "\n" for t in once), validate=False
    )
    assert once == again

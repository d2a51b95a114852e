"""Property-based round-trip tests (hypothesis): serialize -> parse is
the identity on the term model, for arbitrary generated terms — the
reference proves this with 27 hand-picked examples
(turtle/doc_test.go:74-116); we prove it for the generated space."""

import random
import re
import string
from functools import partial

from hypothesis import given, settings, strategies as st

from rdf_spark.grammar import turtle
from rdf_spark.grammar.ntriples import parse_document
from rdf_spark.terms import escape_literal_lex, quad_str, triple_str

parse_nq = partial(parse_document, quads=True)

# lexical space that survives NT escaping untouched (printable ASCII
# minus quote/backslash): the structural round trips below use it, and
# test_turtle_string_escapes_round_trip covers escape canonicalization
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
    assert parsed == triples


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(subj_st, iri_st, obj_st,
                          st.one_of(st.none(), iri_st, bnode_st)),
                min_size=1, max_size=6))
def test_nquads_roundtrip(quads):
    doc = "".join(quad_str(q) + "\n" for q in quads)
    parsed = parse_nq(doc, validate=False)
    assert parsed == quads


@settings(max_examples=100, deadline=None)
@given(st.lists(triple_st, min_size=1, max_size=6))
def test_serialize_parse_serialize_stable(triples):
    doc = "".join(triple_str(t) + "\n" for t in triples)
    once = parse_document(doc, validate=False)
    again = parse_document(
        "".join(triple_str(t) + "\n" for t in once), validate=False
    )
    assert once == again


# --- string escapes: Turtle string -> canonical lex -> the same value ------

_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
          '"': '"', "'": "'", "\\": "\\"}
_ECHAR_OF = {v: "\\" + k for k, v in _ECHAR.items()}
_ESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))", re.S)


def _spec_decode(lex):
    """N-Triples string body -> its value, per the spec's ECHAR/UCHAR.
    Each UCHAR must be spelled canonically: upper-case hex, never for
    printable ASCII, eight digits only from U+FFFF up."""
    def one(m):
        if m[3] is not None:
            return _ECHAR[m[3]]
        h = m[1] or m[2]
        cp = int(h, 16)
        assert h == h.upper() and not 0x20 <= cp <= 0x7E and (m[1] or cp >= 0xFFFF), m[0]
        return chr(cp)
    return _ESCAPE_RE.sub(one, lex)


def _uchar(c, eight, lower):
    cp = ord(c)
    h = f"{cp:08X}" if eight or cp > 0xFFFF else f"{cp:04X}"
    return ("\\U" if len(h) == 8 else "\\u") + (h.lower() if lower else h)


def _turtle_string(chars, q):
    """Spell each ``(char, way, eight, lower)`` as raw (way 0, where the
    string form allows it), ECHAR (way 1, where the char has one) or
    UCHAR (else; eight hex digits if ``eight``, lower case if ``lower``)."""
    long = len(q) == 3
    units = []
    for c, way, eight, lower in chars:
        raw_ok = c != "\\" and (long or c not in (q, "\n", "\r"))
        if c == q[0] and units[-2:] == [c, c]:
            raw_ok = False  # three raw quotes would close a long string
        if way == 0 and raw_ok:
            units.append(c)
        elif way == 1 and c in _ECHAR_OF:
            units.append(_ECHAR_OF[c])
        else:
            units.append(_uchar(c, eight, lower))
    if long and units and units[-1] == q[0]:  # nor can its body end in one
        units[-1] = _ECHAR_OF[q[0]]
    return q + "".join(units) + q


def _assert_canonical(lex, value):
    [(_, _, o)] = parse_document(f'<http://ex/s> <http://ex/p> "{lex}" .\n')
    assert o == ("l", lex, None, None)
    assert _spec_decode(lex) == value


_TRICKY = st.sampled_from(list("\"'\\bfuU\t\n\r\b\f\x00\x1f\x7f\x85")
                          + [chr(0xFFFF), chr(0x1F600)])


@settings(max_examples=400, deadline=None)
@given(st.lists(st.tuples(st.one_of(_TRICKY, st.characters(exclude_categories=("Cs",))),
                          st.integers(0, 2), st.booleans(), st.booleans()), max_size=24),
       st.sampled_from(['"', "'", '"' * 3, "'" * 3]))
def test_turtle_string_escapes_round_trip(chars, q):
    """Any value, written as a Turtle string of any form with each char
    spelled at random, evaluates to a lex that is valid N-Triples and
    decodes to that value; ``escape_literal_lex(value)`` does too."""
    _check_round_trip(chars, q)


def test_long_string_escapes_round_trip():
    """The same for bodies longer than one of the evaluator's chunks
    (256 escapes, or a run of more than 4096 other chars)."""
    rng = random.Random(0)
    pool = list("\"'\\bfu\t\n\r\x00\x7f") + [chr(0xE9), chr(0xFFFF), chr(0x1F600)]
    for q in ['"', "'", '"' * 3, "'" * 3]:
        chars = []
        for _ in range(3000):
            if rng.random() < 0.002:
                chars += [("a", 0, False, False)] * 5000
            else:
                chars.append((rng.choice(pool), rng.randrange(3),
                              rng.random() < 0.5, rng.random() < 0.5))
        _check_round_trip(chars, q)


def _check_round_trip(chars, q):
    value = "".join(c for c, *_ in chars)
    text = _turtle_string(chars, q)
    [(_, _, o)] = turtle.parse_and_evaluate(f"<http://ex/s> <http://ex/p> {text} .\n")
    _assert_canonical(o[1], value)
    _assert_canonical(escape_literal_lex(value), value)

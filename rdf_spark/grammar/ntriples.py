"""The one line grammar: N-Triples, N-Quads and their RDF-star forms
(W3C RDF 1.1 N-Triples / N-Quads EBNF, RDF-star quoted triples).

Line-oriented scanner. The flat grammars are regular, so each line is
matched by one compiled pattern (C-level speed — this runs inside
Arrow-batched UDFs over web-scale corpora, per-line Python loops would
dominate the profile). RDF-star adds quoted triples ``<< s p o >>`` in
subject/object position, nested without bound, so those lines go
through a small recursive parser built on the same terminals. Quoted
triples become ("q", (s, p, o)) terms; at the Spark boundary they are
string-encoded with kind=3 (SURVEY.md §1.3) because a static struct
type cannot hold unbounded nesting.

Behavioral parity targets in the reference (0x51-dev/rdf):
- N-Triples document/triple grammar: ntriples/grammar/grammar.go:8-156
  and ntriples/grammar/ntriples.ebnf
- N-Quads statement: nquads/grammar/grammar.go:9-33 (the N-Triples
  triple plus an optional graph label, IRI or blank node)
- ParseDocument: trailing-newline append, empty input -> empty doc
  (ntriples/doc.go:56-88, nquads/doc.go:30-62). Statements come out in
  document order; the reference's canonical sort on parse
  (ntriples/doc.go:86, nquads/doc.go:97-104) only feeds its equality
  check, so it lives in that check here (``terms.documents_equal``)
- RDF-star: star/ntriples/doc.go:28-59, star/nquads/doc.go:16-47;
  grammars star/*/grammar/grammar.go
- IRI validation (RFC 3987 absolute + fragment) toggleable; ON by
  default as in the reference (ntriples/doc.go:14-19, 192-208)
"""

from __future__ import annotations

import re

from .chars import BNODE_LABEL, IRIREF_BODY, LANGTAG, STRING_BODY_DQ, is_valid_iri

__all__ = ["RDFSyntaxError", "parse_document"]


class RDFSyntaxError(ValueError):
    """Raised when a document does not conform to the grammar."""


# --- terms: groups (iri) / (label) / (lexical, datatype, lang) --------------

_IRI = rf"<({IRIREF_BODY})>"
_BNODE = rf"_:({BNODE_LABEL})"
_LITERAL = rf"\"({STRING_BODY_DQ})\"(?:\^\^{_IRI}|@({LANGTAG}))?"
_NODE = rf"(?:{_IRI}|{_BNODE})"

_WS = r"[ \t]*"
_COMMENT = r"[ \t]*(?:#[^\n\r]*)?"
_SPO = rf"{_WS}{_NODE}{_WS}{_IRI}{_WS}(?:{_IRI}|{_BNODE}|{_LITERAL}){_WS}"

# groups: si sb p oi ob ol od olang [gi gb]
TRIPLE_RE = re.compile(rf"{_SPO}\.{_COMMENT}\Z")
QUAD_RE = re.compile(rf"{_SPO}(?:{_NODE}{_WS})?\.{_COMMENT}\Z")
BLANK_RE = re.compile(rf"{_COMMENT}\Z")
_EOL_SPLIT = re.compile(r"\r\n|\r|\n")


def _flat_statement(line: str, validate: bool, line_no: int, quads: bool):
    """One N-Triples / N-Quads line -> (s, p, o) or (s, p, o, g|None)."""
    m = (QUAD_RE if quads else TRIPLE_RE).match(line)
    if m is None:
        what = "N-Quads statement" if quads else "N-Triples triple"
        raise RDFSyntaxError(f"line {line_no}: not a valid {what}: {line!r}")
    si, sb, p, oi, ob, ol, od, olang, *g = m.groups()
    gi, gb = g or (None, None)
    if validate:
        # the reference's check order: subject, predicate, object or
        # datatype, graph (at most one of oi/od is set)
        for v in (si, p, oi, od, gi):
            if v is not None and not is_valid_iri(v):
                raise RDFSyntaxError(f"line {line_no}: invalid IRI <{v}>")
    subj = ("i", si) if si is not None else ("b", sb)
    if oi is not None:
        obj = ("i", oi)
    elif ob is not None:
        obj = ("b", ob)
    else:
        obj = ("l", ol, od, olang)
    if not quads:
        return (subj, ("i", p), obj)
    graph = ("i", gi) if gi is not None else ("b", gb) if gb is not None else None
    return (subj, ("i", p), obj, graph)


# --- RDF-star: recursive descent over the same terminals --------------------

_NODE_RE = re.compile(_NODE)
_IRI_RE = re.compile(_IRI)
_LITERAL_RE = re.compile(_LITERAL)
_WS_RE = re.compile(_WS)


class _StarLine:
    __slots__ = ("s", "i", "validate")

    def __init__(self, s: str, validate: bool):
        self.s = s
        self.i = 0
        self.validate = validate

    def ows(self):
        self.i = _WS_RE.match(self.s, self.i).end()

    def fail(self, what):
        raise RDFSyntaxError(f"rdf-star: expected {what} at {self.i}: {self.s[self.i:self.i+24]!r}")

    def iri_checked(self, v):
        if self.validate and not is_valid_iri(v):
            raise RDFSyntaxError(f"invalid IRI <{v}>")
        return ("i", v)

    def node(self):
        """IRI or blank node at the cursor, else None."""
        m = _NODE_RE.match(self.s, self.i)
        if m is None:
            return None
        self.i = m.end()
        iri, label = m.groups()
        return self.iri_checked(iri) if iri is not None else ("b", label)

    def subject(self):
        return self.node() or self.quoted_triple()

    def predicate(self):
        m = _IRI_RE.match(self.s, self.i)
        if m is None:
            self.fail("predicate IRI")
        self.i = m.end()
        return self.iri_checked(m.group(1))

    def object(self):
        term = self.node()
        if term is not None:
            return term
        m = _LITERAL_RE.match(self.s, self.i)
        if m is not None:
            self.i = m.end()
            lex, dt, lang = m.groups()
            if dt is not None:
                self.iri_checked(dt)
            return ("l", lex, dt, lang)
        return self.quoted_triple()

    def spo(self):
        s = self.subject()
        self.ows()
        p = self.predicate()
        self.ows()
        o = self.object()
        self.ows()
        return s, p, o

    def quoted_triple(self):
        if not self.s.startswith("<<", self.i):
            self.fail("term")
        self.i += 2
        self.ows()
        spo = self.spo()
        if not self.s.startswith(">>", self.i):
            self.fail("'>>'")
        self.i += 2
        return ("q", spo)

    def statement(self, quads: bool):
        self.ows()
        s, p, o = self.spo()
        g = None
        if quads and not self.s.startswith(".", self.i):
            g = self.node()
            self.ows()
        if not self.s.startswith(".", self.i):
            self.fail("'.'")
        self.i += 1
        if BLANK_RE.match(self.s, self.i) is None:
            self.fail("end of line")
        return (s, p, o, g) if quads else (s, p, o)


def parse_document(doc: str, validate: bool = True, quads: bool = False,
                   star: bool = False):
    """Parse an N-Triples (``quads=False``) or N-Quads (``quads=True``)
    document, with RDF-star quoted triples when ``star`` is set.

    Returns triples, or quads with graph ``None`` for the default graph.
    Mirrors reference ParseDocument (ntriples/doc.go:56-88): empty input
    is an empty document and a missing trailing newline is tolerated.
    Statements come out in document order.
    """
    if not doc:
        return []
    out = []
    for i, line in enumerate(_EOL_SPLIT.split(doc), start=1):
        if BLANK_RE.match(line):
            continue
        if star:
            out.append(_StarLine(line, validate).statement(quads))
        else:
            out.append(_flat_statement(line, validate, i, quads))
    return out

"""RDF term model, serialization, and the blank-node-normalized
equality oracle, the one place that knows the reference's canonical
order.

Terms are plain tuples (no classes) so they are cheap to build inside
Arrow-batched UDFs and trivially picklable:

- IRI          : ("i", value)
- Blank node   : ("b", label)
- Literal      : ("l", lexical, datatype_iri_or_None, lang_or_None)
- Quoted triple: ("q", (s, p, o))          -- RDF-star

A triple is ``(subj, pred, obj)``; a quad is ``(subj, pred, obj, graph)``
with ``graph`` a term or ``None`` for the default graph.

Semantics replicated from the reference (0x51-dev/rdf):
- serialization: ntriples/doc.go:42-44, 210-212, 271-279;
  star/ntriples/doc.go:211-213
- canonical sort: lexicographic on the serialized triple string
  (ntriples/doc.go:106-112); quads: default-graph-first then string
  (nquads/doc.go:97-104). The reference sorts on every parse, but only
  its equality checks read the order, so here the grammars return
  document order and only the oracle below sorts
- blank-node normalization: first-occurrence relabeling to b0,b1,...
  in document order, subjects before objects (ntriples/doc.go:114-145);
  per-graph with first-seen graph order for quads (nquads/doc.go:106-130)
- document equality: sort, length check, normalize both, pairwise
  compare with lexical literal equality and IRI unicode-unescape
  equality (ntriples/doc.go:92-104, 214-224, 281-289); the Turtle eval
  tests' normalize -> sort -> Equal wrapper (turtle/doc_test.go:196-215)
"""

from __future__ import annotations

from .grammar.chars import LEX_ESCAPES, unescape_unicode

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XSD_STRING = XSD_NS + "string"
XSD_INTEGER = XSD_NS + "integer"
XSD_DECIMAL = XSD_NS + "decimal"
XSD_DOUBLE = XSD_NS + "double"
XSD_BOOLEAN = XSD_NS + "boolean"
RDF_LANG_STRING = RDF_NS + "langString"

# kind codes used at the Spark boundary (FIXTURES.md §3)
KIND_IRI = 0
KIND_BNODE = 1
KIND_LITERAL = 2
KIND_QUOTED = 3

_KIND_CODE = {"i": KIND_IRI, "b": KIND_BNODE, "l": KIND_LITERAL, "q": KIND_QUOTED}


def iri(v):
    return ("i", v)


def bnode(label):
    return ("b", label)


def literal(lex, datatype=None, lang=None):
    return ("l", lex, datatype, lang)


def escape_literal_lex(s: str) -> str:
    """Raw text -> the canonical NT-escaped lexical form the grammar
    evaluators produce (E10 — turtle/evaluate.go:256-340), spelled by
    the one escape table, ``grammar.chars.LEX_ESCAPES``: ``\\\\``, ``\\"``,
    ``\\n``, ``\\r``, ``\\t`` as two-char escapes, other control chars and
    all non-ASCII up to U+FFFF as ``\\uXXXX``, above as
    ``\\UXXXXXXXX``. Extraction sources (HTML RDFa/Microdata, JSON-LD,
    RDF/XML) apply this so their literals compare/dedupe/serialize
    identically to the same value parsed from Turtle/N-Triples."""
    return s.translate(LEX_ESCAPES)


def term_str(t) -> str:
    """Serialize a term exactly as the reference's ``String()`` methods."""
    k = t[0]
    if k == "i":
        return f"<{t[1]}>"
    if k == "b":
        return f"_:{t[1]}"
    if k == "l":
        _, lex, dt, lang = t
        if dt is not None:
            return f'"{lex}"^^<{dt}>'
        if lang:
            return f'"{lex}"@{lang}'
        return f'"{lex}"'
    if k == "q":
        s, p, o = t[1]
        return f"<< {term_str(s)} {term_str(p)} {term_str(o)} >>"
    raise ValueError(f"unknown term kind {k!r}")


def triple_str(t) -> str:
    return f"{term_str(t[0])} {term_str(t[1])} {term_str(t[2])} ."


def quad_str(q) -> str:
    s, p, o, g = q
    if g is None:
        return f"{term_str(s)} {term_str(p)} {term_str(o)} ."
    return f"{term_str(s)} {term_str(p)} {term_str(o)} {term_str(g)} ."


def sort_document(triples):
    """Canonical order: lexicographic on serialized string
    (ntriples/doc.go:86, 106-112)."""
    return sorted(triples, key=triple_str)


def sort_quads(quads):
    """Default graph first, then serialized-string order
    (nquads/doc.go:97-104)."""
    return sorted(quads, key=lambda q: (q[3] is not None, quad_str(q)))


def normalize_blank_nodes(triples):
    """First-occurrence relabeling to b0,b1,... in document order,
    subject before object per triple (ntriples/doc.go:114-145).
    Does NOT recurse into quoted triples (matches reference's nt layer)."""
    mapping: dict[str, str] = {}

    def f(label: str) -> str:
        got = mapping.get(label)
        if got is None:
            got = f"b{len(mapping)}"
            mapping[label] = got
        return got

    out = []
    for s, p, o in triples:
        if s[0] == "b":
            s = ("b", f(s[1]))
        if o[0] == "b":
            o = ("b", f(o[1]))
        out.append((s, p, o))
    return out


def normalize_blank_nodes_quads(quads):
    """Per-graph normalization preserving first-seen graph-label order
    (nquads/doc.go:106-130). Graph labels themselves are not renamed."""
    order: list = []
    seen = set()
    for q in quads:
        key = None if q[3] is None else term_str(q[3])
        if key not in seen:
            seen.add(key)
            order.append((key, q[3]))
    by_graph: dict = {}
    for q in quads:
        key = None if q[3] is None else term_str(q[3])
        by_graph.setdefault(key, []).append((q[0], q[1], q[2]))
    out = []
    for key, gterm in order:
        for t in normalize_blank_nodes(by_graph[key]):
            out.append((t[0], t[1], t[2], gterm))
    return out


def _iri_equal(a: str, b: str) -> bool:
    """IRI equality with unicode-unescape on both sides
    (ntriples/doc.go:214-224)."""
    if a == b:
        return True
    return unescape_unicode(a) == unescape_unicode(b)


def term_equal(a, b, check_blank_node=True) -> bool:
    if a[0] != b[0]:
        return False
    k = a[0]
    if k == "i":
        return _iri_equal(a[1], b[1])
    if k == "b":
        return a[1] == b[1] if check_blank_node else True
    if k == "l":
        da, db = a[2], b[2]
        if da is not None and (db is None or not _iri_equal(da, db)):
            return False
        if da is None and db is not None:
            return False
        return a[1] == b[1] and (a[3] or "") == (b[3] or "")
    if k == "q":
        return all(term_equal(x, y, check_blank_node) for x, y in zip(a[1], b[1]))
    return False


def documents_equal(a, b) -> bool:
    """Reference ``Document.Equal`` on the documents as its
    ParseDocument returns them: sort both (ntriples/doc.go:86), length
    check, normalize both in sorted order, then pairwise compare
    (ntriples/doc.go:92-104). Inputs may come in any order."""
    if len(a) != len(b):
        return False
    na = normalize_blank_nodes(sort_document(a))
    nb = normalize_blank_nodes(sort_document(b))
    return all(
        term_equal(x[0], y[0]) and term_equal(x[1], y[1]) and term_equal(x[2], y[2])
        for x, y in zip(na, nb)
    )


def quad_documents_equal(a, b) -> bool:
    """Reference nquads ``Document.Equal``: group by graph-label string,
    graphs must match exactly, per-graph triple docs compared with
    bnode normalization (nquads/doc.go:64-79). Inputs may come in any
    order: each graph is sorted by :func:`documents_equal`."""
    if len(a) != len(b):
        return False

    def graphs(quads):
        g: dict = {}
        for q in quads:
            key = "" if q[3] is None else term_str(q[3])
            g.setdefault(key, []).append((q[0], q[1], q[2]))
        return g

    ga, gb = graphs(a), graphs(b)
    if set(ga) != set(gb):
        return False
    return all(documents_equal(ga[k], gb[k]) for k in ga)


def eval_documents_equal(golden, mine) -> bool:
    """The Turtle eval tests' comparison (turtle/doc_test.go:196-215):
    each side sorted as parsed and normalized, then ``Document.Equal``
    (which re-sorts on the normalized labels)."""
    return documents_equal(normalize_blank_nodes(sort_document(golden)),
                           normalize_blank_nodes(sort_document(mine)))


# --- Spark-boundary flattening ---------------------------------------------

def term_to_flat(t):
    """Term -> (kind:int, lex:str, datatype:str|None, lang:str|None).
    Quoted triples are string-encoded (SURVEY.md §1.3)."""
    k = t[0]
    if k == "l":
        return (KIND_LITERAL, t[1], t[2], t[3])
    if k == "q":
        return (KIND_QUOTED, term_str(t), None, None)
    return (_KIND_CODE[k], t[1], None, None)


def triple_to_row(t, graph=None):
    """Triple/quad -> flat tuple for the Spark ``triples`` schema:
    (subj_kind, subj, pred, obj_kind, obj_lex, obj_datatype, obj_lang,
     graph_kind, graph)."""
    sk, sv, _, _ = term_to_flat(t[0])
    ov = term_to_flat(t[2])
    pv = t[1][1] if t[1][0] == "i" else term_str(t[1])
    if graph is None:
        gk, gv = None, None
    else:
        gk, gv, _, _ = term_to_flat(graph)
    return (sk, sv, pv, ov[0], ov[1], ov[2], ov[3], gk, gv)


def row_to_term(kind, lex, datatype=None, lang=None):
    if kind == KIND_IRI:
        return ("i", lex)
    if kind == KIND_BNODE:
        return ("b", lex)
    if kind == KIND_LITERAL:
        return ("l", lex, datatype, lang)
    if kind == KIND_QUOTED:
        return ("x", lex)  # opaque string-encoded quoted triple
    raise ValueError(f"unknown kind code {kind}")

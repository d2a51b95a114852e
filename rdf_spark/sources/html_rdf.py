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

Determinism: a pure function of the HTML bytes — parse order is
document order, blank-node labels are per-document counters
(``ra%d`` / ``md%d``; skolemization makes them globally unique
downstream, SURVEY.md §2.4 R8). Runs inside the same Arrow-batched
per-row pass as the grammar parsers (operators/parse.py, through
``submit.map_rows``).
"""

from __future__ import annotations

from html.parser import HTMLParser
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
    i = 0
    while i + 1 < len(toks):
        p = toks[i]
        if p.endswith(":"):
            into[p[:-1]] = toks[i + 1]
        i += 2


def parse_rdfa(html: bytes | str, base: str = ""):
    """HTML with RDFa-lite markup -> list of (s, p, o, None) quads."""
    root = build_tree(html)
    quads: list = []
    counter = [0]

    def fresh():
        counter[0] += 1
        return bnode(f"ra{counter[0] - 1}")

    def resolve(ref: str):
        return iri(urljoin(base, ref) if base else ref)

    def walk(node, subject, vocab, prefixes, lang):
        a = node.attrs
        if "vocab" in a and a["vocab"]:
            vocab = a["vocab"]
        if "prefix" in a and a["prefix"]:
            prefixes = dict(prefixes)
            _parse_prefix_attr(a["prefix"], prefixes)
        lang = a.get("lang") or a.get("xml:lang") or lang

        new_subject = None
        if a.get("about") is not None:
            new_subject = resolve(a["about"])
        prop_names = (a.get("property") or "").split()
        types = (a.get("typeof") or "").split()

        # object-ish resource of this element
        obj_ref = None
        for key in ("resource", "href", "src"):
            if a.get(key) is not None:
                obj_ref = resolve(a[key])
                break

        if types and new_subject is None:
            # typeof without about: this element describes a new node
            new_subject = obj_ref if obj_ref is not None else fresh()

        here = new_subject if new_subject is not None else subject

        if types:
            for t in types:
                ti = _rdfa_expand(t, vocab, prefixes)
                if ti:
                    quads.append((here, iri(RDF_TYPE), iri(ti), None))

        if prop_names:
            preds = [
                pi for pi in (_rdfa_expand(p, vocab, prefixes) for p in prop_names) if pi
            ]
            if new_subject is not None and a.get("about") is None:
                # property + typeof/resource: link parent -> new node
                for pi in preds:
                    quads.append((subject, iri(pi), here, None))
            else:
                if a.get("content") is not None:
                    obj = _lit(a["content"], None, lang or None)
                elif obj_ref is not None and "resource" not in a:
                    obj = obj_ref
                elif a.get("resource") is not None:
                    obj = resolve(a["resource"])
                else:
                    dt = _rdfa_expand(a.get("datatype") or "", vocab, prefixes)
                    obj = _lit(node.text(), dt, None if dt else (lang or None))
                for pi in preds:
                    quads.append((here, iri(pi), obj, None))
                # a pure-literal property element does not change subject ctx
                for c in node.children:
                    if isinstance(c, _Node):
                        walk(c, here, vocab, prefixes, lang)
                return

        for c in node.children:
            if isinstance(c, _Node):
                walk(c, here, vocab, prefixes, lang)

    doc_subject = iri(base) if base else fresh()
    walk(root, doc_subject, None, dict(RDFA_INITIAL_PREFIXES), None)
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


def parse_microdata(html: bytes | str, base: str = ""):
    """HTML with Microdata markup -> list of (s, p, o, None) quads."""
    root = build_tree(html)
    quads: list = []
    counter = [0]

    # id -> element index for @itemref resolution (first id wins,
    # matching getElementById)
    ids: dict = {}

    for node in root.iter():
        nid = isinstance(node, _Node) and node.attrs.get("id")
        if nid and nid not in ids:
            ids[nid] = node

    active: set = set()  # items currently being crawled (cycle guard)

    def fresh():
        counter[0] += 1
        return bnode(f"md{counter[0] - 1}")

    def item_node(node):
        if id(node) in active:
            # circular @itemref chain — invalid microdata; emit a
            # fresh item with no properties rather than recursing
            return fresh()
        active.add(id(node))
        try:
            a = node.attrs
            if a.get("itemid"):
                subj = iri(urljoin(base, a["itemid"]) if base
                           else a["itemid"])
            else:
                subj = fresh()
            types = (a.get("itemtype") or "").split()
            vocab = _md_vocab(types[0]) if types else ""
            for t in types:
                quads.append((subj, iri(RDF_TYPE), iri(t), None))
            for c in node.children:
                if isinstance(c, _Node):
                    walk_props(c, subj, vocab)
            for ref in (a.get("itemref") or "").split():
                tgt = ids.get(ref)
                if tgt is not None:
                    walk_props(tgt, subj, vocab)
            return subj
        finally:
            active.discard(id(node))

    def prop_value(node):
        a = node.attrs
        if "itemscope" in a:
            return item_node(node)
        if node.tag in ("a", "area", "link") and a.get("href") is not None:
            return iri(urljoin(base, a["href"]) if base else a["href"])
        if node.tag in ("img", "audio", "video", "embed", "iframe", "source",
                        "track") and a.get("src") is not None:
            return iri(urljoin(base, a["src"]) if base else a["src"])
        if node.tag == "object" and a.get("data") is not None:
            return iri(urljoin(base, a["data"]) if base else a["data"])
        if node.tag == "meta" or a.get("content") is not None:
            return _lit(a.get("content") or "")
        if node.tag in ("time",) and a.get("datetime") is not None:
            return _lit(a["datetime"])
        if node.tag == "data" and a.get("value") is not None:
            return _lit(a["value"])
        return _lit(node.text())

    def walk_props(node, subj, vocab):
        a = node.attrs
        props = (a.get("itemprop") or "").split()
        if props:
            val = prop_value(node)
            for p in props:
                pred = p if ":" in p else vocab + p
                quads.append((subj, iri(pred), val, None))
            if "itemscope" in a:
                return  # nested item handled its own subtree
        if "itemscope" in a and not props:
            return  # a nested top-level item; handled by top-level scan
        for c in node.children:
            if isinstance(c, _Node):
                walk_props(c, subj, vocab)

    def scan_top(node):
        a = node.attrs
        if "itemscope" in a and "itemprop" not in a:
            item_node(node)
            return
        for c in node.children:
            if isinstance(c, _Node):
                scan_top(c)

    scan_top(root)
    return quads

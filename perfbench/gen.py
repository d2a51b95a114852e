"""Seeded corpora and the ground truth the generator knows about them.

Every corpus is a pure function of ``(workload, seed)``.  Besides the
documents, each generator records, per document, the canonical keys of
the triples it stated (after the link dictionary is applied), so the
benchmark can check the pipeline's output without trusting the program
under test:

- ``raw``: good triples stated (= the ``support`` sum after dedupe);
- ``keys``: the distinct canonical keys (= canonical row count);
- ``planted``: malformed documents, each of which must come back as
  exactly one error row.

A key is ``(subj, pred, obj, graph)``; literals are ``("lit", lex,
datatype)`` and blank nodes ``("bnode", url, n)``, so a skolemized
blank node never equals anything stated in another document.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
S = "http://schema.org/"
EX = "http://ex/"

MEDIA = {
    "turtle": "text/turtle",
    "ntriples": "application/n-triples",
    "nquads": "application/n-quads",
    "jsonld": "application/ld+json",
}


@dataclass
class Corpus:
    """Documents plus what the generator knows about them."""

    rows: list  # bulk: (url, format, text); crawl: (url, html bytes)
    dictionary: list  # (surface, canonical_iri)
    raw: int = 0  # good triples stated
    planted: int = 0  # malformed documents (one error row each)
    link_hits: int = 0  # IRI terms the dictionary rewrites
    iri_terms: int = 0  # IRI subjects + IRI objects stated
    bnode_terms: int = 0  # blank-node subjects + objects stated
    docs_by_format: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)  # url -> set of keys
    bytes: int = 0

    def commit(self, d: _Doc, fmt: str) -> None:
        self.facts.setdefault(d.url, set()).update(d.keys)
        self.raw += d.n
        self.iri_terms += d.iri
        self.link_hits += d.hits
        self.bnode_terms += d.bnode_terms
        self.count(fmt)

    def count(self, fmt: str) -> None:
        self.docs_by_format[fmt] = self.docs_by_format.get(fmt, 0) + 1

    def keys(self) -> set:
        out: set = set()
        for ks in self.facts.values():
            out |= ks
        return out

    def properties(self) -> dict:
        """Input properties a later change can name as its dependency."""
        n_keys = len(self.keys())
        return {
            "documents": len(self.rows),
            "bytes": self.bytes,
            "raw_triples": self.raw,
            "canonical_triples": n_keys,
            "dedupe_ratio": round(n_keys / self.raw, 4),
            "bnode_share": round(self.bnode_terms / (2 * self.raw), 4),
            "format_mix": dict(sorted(self.docs_by_format.items())),
            "planted_malformed": self.planted,
            "link_hit_ratio": round(self.link_hits / self.iri_terms, 4),
        }


class _Doc:
    """One document's triples, keyed canonically, plus its term counters.
    Counters reach the corpus only on :meth:`Corpus.commit`, so a
    malformed document contributes nothing."""

    def __init__(self, url: str, link: dict):
        self.url, self.link = url, link
        self.keys: set = set()
        self.n = self.iri = self.hits = self.bnode_terms = self.bnodes = 0

    def bnode(self):
        self.bnodes += 1
        return ("bnode", self.url, self.bnodes)

    def _term(self, t):
        if isinstance(t, str):
            self.iri += 1
            if t in self.link:
                self.hits += 1
                return self.link[t]
        elif t[0] == "bnode":
            self.bnode_terms += 1
        return t

    def add(self, s, p, o, g=None):
        self.keys.add((self._term(s), p, self._term(o), g))
        self.n += 1


def zipf(rng: random.Random, n: int, s: float) -> int:
    """Zipf-like index in [0, n): small indices dominate."""
    return min(int(n * rng.random() ** s), n - 1)


def _lit(lex, dt=None):
    return ("lit", lex, dt)


def _nt_term(t) -> str:
    if isinstance(t, str):
        return f"<{t}>"
    if t[0] == "lit":
        return f'"{t[1]}"' + (f"^^<{t[2]}>" if t[2] else "")
    raise ValueError(t)


# --- bulk_rdf -------------------------------------------------------------

def bulk_rdf(seed: int, n_orders: int = 1000, n_nt: int = 12, n_nq: int = 8,
             n_json: int = 40, dump_lines: int = 300, bad_share: float = 0.02) -> Corpus:
    """Turtle order documents, N-Triples / N-Quads dump pages and a few
    JSON-LD supplier records, as text; supplier IRIs are linked."""
    rng = random.Random(f"bulk_rdf:{seed}")
    n_parts, n_supp = 4000, 400
    link = {f"{EX}s{i}": f"http://kg.example/supplier/{i // 2}"
            for i in range(n_supp)}
    c = Corpus(rows=[], dictionary=sorted(link.items()))
    docs = [(fmt, k) for fmt, n in (("turtle", n_orders), ("ntriples", n_nt),
                                    ("nquads", n_nq), ("jsonld", n_json))
            for k in range(n)]
    rng.shuffle(docs)
    n_bad = round(bad_share * len(docs))
    bad = set(rng.sample(range(len(docs)), n_bad))
    for i, (fmt, k) in enumerate(docs):
        url = f"http://bulk.example/{seed}/{fmt}/{k}"
        d = _Doc(url, link)
        if fmt == "turtle":
            text = _order_doc(rng, d, k, n_parts, n_supp)
        elif fmt == "jsonld":
            text = _supplier_doc(rng, d, k, n_supp)
        else:
            graph = f"{EX}graph/{k}" if fmt == "nquads" else None
            text = _dump_page(rng, d, k, dump_lines, n_parts, n_supp, graph)
        if i in bad and fmt != "jsonld":
            text = _truncate(text, fmt)
            c.planted += 1
            c.count(fmt + "-malformed")
        else:
            c.commit(d, fmt)
        c.rows.append((url, fmt, text))
        c.bytes += len(text.encode())
    return c


def _order_doc(rng, d: _Doc, k: int, n_parts: int, n_supp: int) -> str:
    order = f"{EX}order/{k}"
    d.add(order, RDF_TYPE, f"{EX}Order")
    out = [f"@prefix ex: <{EX}> .", f"@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
           f"<{order}> a ex:Order ;"]
    for _ in range(rng.randint(1, 7)):
        p, s, q = zipf(rng, n_parts, 1.6), rng.randrange(n_supp), rng.randint(1, 50)
        b = d.bnode()
        d.add(order, f"{EX}hasLine", b)
        d.add(b, f"{EX}part", f"{EX}p{p}")
        d.add(b, f"{EX}supp", f"{EX}s{s}")
        d.add(b, f"{EX}qty", _lit(str(q), XSD_INT))
        out.append(f'  ex:hasLine [ ex:part ex:p{p} ; ex:supp ex:s{s} ; '
                   f'ex:qty "{q}"^^xsd:integer ] ;')
    d.add(order, f"{EX}id", _lit(str(k)))
    out.append(f'  ex:id "{k}" .')
    return "\n".join(out) + "\n"


def _dump_page(rng, d: _Doc, k: int, n_lines: int, n_parts: int, n_supp: int,
               graph: str | None) -> str:
    g = f" <{graph}>" if graph else ""
    out = []
    seen_parts = set()
    for j in range(n_lines):
        line = f"{EX}line/{'q' if graph else 't'}{k}-{j}"
        p, s = zipf(rng, n_parts, 1.6), rng.randrange(n_supp)
        for pred, obj in ((f"{EX}ships", f"{EX}p{p}"), (f"{EX}supp", f"{EX}s{s}"),
                          (f"{EX}qty", _lit(str(rng.randint(1, 50)), XSD_INT))):
            d.add(line, pred, obj, graph)
            out.append(f"<{line}> <{pred}> {_nt_term(obj)}{g} .")
        if p not in seen_parts:
            seen_parts.add(p)
            d.add(f"{EX}p{p}", RDF_TYPE, f"{EX}Part", graph)
            out.append(f"<{EX}p{p}> <{RDF_TYPE}> <{EX}Part>{g} .")
    return "\n".join(out) + "\n"


def _supplier_doc(rng, d: _Doc, k: int, n_supp: int) -> str:
    s = rng.randrange(n_supp)
    subj = f"{EX}s{s}"
    nation = f"{EX}nation/{s % 25}"
    d.add(subj, RDF_TYPE, f"{EX}Supplier")
    d.add(subj, f"{EX}nation", nation)
    d.add(subj, f"{EX}name", _lit(f"Supplier#{s}"))
    return json.dumps({
        "@context": {"ex": EX},
        "@id": subj, "@type": "ex:Supplier",
        "ex:nation": {"@id": nation}, "ex:name": f"Supplier#{s}",
    })


def _truncate(text: str, fmt: str) -> str:
    """A document cut off mid-statement: it must fail to parse."""
    if fmt == "turtle":
        return text[: text.rindex("ex:qty")]
    lines = text.splitlines()
    return "\n".join(lines[:-1]) + "\n" + lines[-1][: len(lines[-1]) // 2]


# --- crawl_checkpoint -----------------------------------------------------

_FILLER = ("Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
           "eiusmod tempor incididunt ut labore et dolore magna aliqua. ")


class _World:
    """The entities pages talk about; each entity's facts are fixed by
    ``(seed, id)``, so a fact repeated on many pages dedupes."""

    def __init__(self, seed: int, n: int):
        self.seed, self.n = seed, n

    def iri(self, i: int) -> str:
        return f"http://example.org/{self.seed}/e{i}"

    def alias(self, i: int) -> str:
        return f"http://alias.example/{self.seed}/e{i}"

    def facts(self, i: int):
        """[(pred, obj)] with objects as entity ids (int), IRIs or literals."""
        r = random.Random(f"crawl:{self.seed}:e{i}")
        if i % 4 == 0:
            out = [(RDF_TYPE, S + "Organization"), (S + "name", _lit(f"Org {i}"))]
            if i % 8 == 0:
                out.append((S + "url", f"http://org{i}.example/"))
            return out
        out = [(RDF_TYPE, S + "Person"), (S + "name", _lit(f"Name {i}")),
               (S + "age", _lit(str(r.randint(18, 80)), XSD_INT))]
        if r.random() < 0.8:
            out.append((S + "worksFor", 4 * r.randrange(self.n // 4)))
        for j in sorted({r.randrange(self.n) for _ in range(r.randint(0, 2))} - {i}):
            out.append((S + "knows", j))
        return out

    def city(self, i: int) -> str:
        return f"City {i % 50}"


def crawl(seed: int, n_pages: int = 1200, n_entities: int = 2500,
          skew: float = 1.4, alias_share: float = 0.2,
          bad_share: float = 0.03) -> Corpus:
    """HTML pages whose ``<script>`` blocks (Turtle, JSON-LD, N-Quads,
    N-Triples) or microdata/RDFa markup describe Zipf-skewed entities;
    alias IRIs are linked back to the entity; a planted share of pages
    carries one truncated block."""
    rng = random.Random(f"crawl_checkpoint:{seed}")
    w = _World(seed, n_entities)
    link = {w.alias(i): w.iri(i) for i in range(n_entities)}
    c = Corpus(rows=[], dictionary=sorted(link.items()))
    fmts = ["turtle"] * 40 + ["jsonld"] * 30 + ["nquads"] * 13 + \
        ["ntriples"] * 12 + ["microdata"] * 3 + ["rdfa"] * 2
    for k in range(n_pages):
        url = f"http://crawl.example/{seed}/page/{k}"
        fmt = rng.choice(fmts)
        ents = sorted({zipf(rng, n_entities, skew) for _ in range(rng.randint(1, 3))})
        if fmt in ("microdata", "rdfa"):
            ents = ents[:1]
        names = {i: (w.alias(i) if rng.random() < alias_share else w.iri(i))
                 for i in ents}
        d = _Doc(url, link)
        graph = f"http://site{rng.randrange(4)}.example/graph" \
            if fmt == "nquads" else None
        scripts, body = [], ""
        if fmt == "microdata":
            body = _microdata(d, w, ents[0], names[ents[0]])
        elif fmt == "rdfa":
            body = _rdfa(d, w, ents[0], names[ents[0]])
        else:
            scripts.append((fmt, _block(d, w, fmt, ents, names, graph)))
        c.commit(d, fmt)
        if rng.random() < bad_share:
            bfmt = rng.choice(["turtle", "nquads"])
            junk = _Doc(url, link)  # never committed: the block fails whole
            text = _block(junk, w, bfmt, [zipf(rng, n_entities, skew)], {},
                          "http://bad.example/graph")
            lines = text.rstrip("\n").split("\n")
            scripts.append((bfmt, "\n".join(lines[:-1] + [lines[-1][: len(lines[-1]) // 2]])))
            c.planted += 1
            c.count(bfmt + "-malformed")
        html = _page(rng, k, scripts, body)
        c.rows.append((url, html))
        c.bytes += len(html)
    return c


def _page(rng, k: int, scripts, body: str) -> bytes:
    tags = "".join(f'<script type="{MEDIA[f]}">\n{t}</script>' for f, t in scripts)
    filler = "".join(f"<p>{_FILLER * rng.randint(1, 4)}</p>" for _ in range(rng.randint(2, 6)))
    return (f"<!DOCTYPE html><html><head><title>page {k}</title>"
            f'<meta charset="utf-8">{tags}</head><body><h1>page {k}</h1>'
            f"{filler}{body}</body></html>").encode()


def _resolved(w: _World, names: dict, o):
    if isinstance(o, int):
        return names.get(o, w.iri(o))
    return o


def _block(d: _Doc, w: _World, fmt: str, ents, names: dict, graph) -> str:
    """One script payload stating every fact of ``ents``."""
    nodes = []
    for i in ents:
        subj = names.get(i, w.iri(i))
        po = [(p, _resolved(w, names, o)) for p, o in w.facts(i)]
        for p, o in po:
            d.add(subj, p, o, graph if fmt == "nquads" else None)
        city = None
        if fmt in ("turtle", "jsonld") and i % 4:
            city = w.city(i)
            b = d.bnode()
            d.add(subj, S + "address", b)
            d.add(b, S + "addressLocality", _lit(city))
        nodes.append((subj, po, city))
    if fmt == "jsonld":
        return json.dumps({"@context": {"s": S}, "@graph": [
            _jsonld_node(subj, po, city) for subj, po, city in nodes]}, indent=1) + "\n"
    if fmt == "turtle":
        out = [f"@prefix s: <{S}> ."]
        for subj, po, city in nodes:
            parts = [f"{_ttl(p)} {_nt_term(o)}" for p, o in po]
            if city:
                parts.append(f's:address [ s:addressLocality "{city}" ]')
            out.append(f"<{subj}> " + " ;\n  ".join(parts) + " .")
        return "\n".join(out) + "\n"
    g = f" <{graph}>" if fmt == "nquads" else ""
    return "".join(f"<{subj}> <{p}> {_nt_term(o)}{g} .\n"
                   for subj, po, _ in nodes for p, o in po)


def _ttl(p: str) -> str:
    return "a" if p == RDF_TYPE else "s:" + p[len(S):]


def _jsonld_node(subj, po, city) -> dict:
    node: dict = {"@id": subj}
    for p, o in po:
        if p == RDF_TYPE:
            node["@type"] = "s:" + o[len(S):]
            continue
        if isinstance(o, str):
            v: object = {"@id": o}
        elif o[2]:
            v = {"@value": o[1], "@type": o[2]}
        else:
            v = o[1]
        key = "s:" + p[len(S):]
        node.setdefault(key, []).append(v)
    if city:
        node["s:address"] = {"s:addressLocality": city}
    return node


def _microdata(d: _Doc, w: _World, i: int, subj: str) -> str:
    """Microdata item: type, name and the entity-valued properties."""
    facts = [(p, o) for p, o in w.facts(i) if p != S + "age"]
    typ = facts[0][1]
    props = []
    for p, o in facts[1:]:
        o = _resolved(w, {i: subj}, o)
        d.add(subj, p, o)
        name = p[len(S):]
        props.append(f'<a itemprop="{name}" href="{o}">link</a>' if isinstance(o, str)
                     else f'<span itemprop="{name}">{o[1]}</span>')
    d.add(subj, RDF_TYPE, typ)
    return (f'<div itemscope itemid="{subj}" itemtype="{typ}">'
            + "".join(props) + "</div>")


def _rdfa(d: _Doc, w: _World, i: int, subj: str) -> str:
    """RDFa Lite node with the same property subset as microdata."""
    facts = [(p, o) for p, o in w.facts(i) if p != S + "age"]
    typ = facts[0][1]
    props = []
    for p, o in facts[1:]:
        o = _resolved(w, {i: subj}, o)
        d.add(subj, p, o)
        name = p[len(S):]
        props.append(f'<a property="{name}" href="{o}">link</a>' if isinstance(o, str)
                     else f'<span property="{name}">{o[1]}</span>')
    d.add(subj, RDF_TYPE, typ)
    return (f'<div vocab="{S}" typeof="{typ[len(S):]}" resource="{subj}">'
            + "".join(props) + "</div>")


# --- bucket assignment ------------------------------------------------------
# PipelineRun dedupes per bucket, bucket = pmod(xxhash64(url), n); the
# expected output row count therefore needs Spark's XXH64 (seed 42).

_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M = 2**64 - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a UTF-8 string, as a signed long."""
    n, i = len(data), 0
    word = lambda j, w: int.from_bytes(data[j:j + w], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i <= n - 32:
            v = [_round(v[k], word(i + 8 * k, 8)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ ((word(i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - 2**64 if h >= 2**63 else h


def bucketed_rows(c: Corpus, n_buckets: int) -> int:
    """Output rows of a run that dedupes within each url bucket."""
    buckets: dict[int, set] = {}
    for url, ks in c.facts.items():
        buckets.setdefault(xxhash64(url.encode()) % n_buckets, set()).update(ks)
    return sum(len(ks) for ks in buckets.values())

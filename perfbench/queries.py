"""The ``sparql_read`` query mix and its expected answers.

Expected answers are computed in plain Python from the generator's
canonical keys (:mod:`gen`), with SPARQL's bag semantics: a fact stated
both in the default graph and in a named graph is two canonical rows,
and a pattern outside ``GRAPH`` matches both.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict
from dataclasses import dataclass

from gen import RDF_TYPE, S

PERSON, ORG = S + "Person", S + "Organization"


@dataclass
class Query:
    name: str
    form: str  # select | ask | construct
    text: str
    expected: object  # Counter of rows | bool | set of triples


def _val(t):
    """Key term -> the value a SPARQL result shows (bnodes stay opaque)."""
    if isinstance(t, str):
        return t
    return t[1] if t[0] == "lit" else t


class _Facts:
    def __init__(self, keys):
        self.by_p: dict[str, list] = defaultdict(list)
        for s, p, o, _g in keys:
            self.by_p[p].append((_val(s), _val(o)))

    def bgp(self, patterns, sols=None) -> list[dict]:
        """Bag-semantics BGP join; a term starting with ``?`` is a variable."""
        sols = [{}] if sols is None else sols
        for s, p, o in patterns:
            nxt = []
            for b in sols:
                for sv, ov in self.by_p[p]:
                    e = dict(b)
                    if _bind(e, s, sv) and _bind(e, o, ov):
                        nxt.append(e)
            sols = nxt
        return sols

    def subjects(self, p: str) -> set:
        return {s for s, _ in self.by_p[p]}


def _bind(b: dict, term: str, value) -> bool:
    if not term.startswith("?"):
        return term == value
    if term in b:
        return b[term] == value
    b[term] = value
    return True


def _rows(sols, *vs) -> Counter:
    return Counter(tuple(b.get(v) for v in vs) for b in sols)


def mix(keys, entity_base: str, seed: int) -> list[Query]:
    """A fixed, seeded list of queries over the canonical keys."""
    f = _Facts(keys)
    rng = random.Random(f"sparql_read:{seed}")
    pfx = f"PREFIX s: <{S}>\nPREFIX e: <{entity_base}>\n"
    short = lambda iri: "e:" + iri[len(entity_base):]  # noqa: E731
    # constants are drawn from a band of popularity ranks, so result
    # sizes, and with them the query times, barely vary with the seed
    staff = Counter(o for _, o in f.by_p[S + "worksFor"])
    orgs = sorted(staff, key=lambda o: (-staff[o], o))[5:15]
    knows = sorted(f.by_p[S + "knows"])
    degree = Counter(s for s, _ in knows)
    people = sorted(degree, key=lambda p: (-degree[p], p))[:20]

    def star():
        o = rng.choice(orgs)
        pats = [("?p", S + "worksFor", o), ("?p", S + "name", "?n"),
                ("?p", S + "age", "?a"), ("?p", RDF_TYPE, PERSON)]
        return Query("star", "select", pfx + f"SELECT ?p ?n ?a WHERE {{ ?p s:worksFor {short(o)} . "
                     "?p s:name ?n . ?p s:age ?a . ?p a s:Person }",
                     _rows(f.bgp(pats), "?p", "?n", "?a"))

    def optional():
        left = f.bgp([("?o", RDF_TYPE, ORG)])
        sols = []
        for b in left:
            ext = f.bgp([("?o", S + "url", "?u")], [b])
            sols.extend(ext or [b])
        return Query("optional", "select", pfx + "SELECT ?o ?u WHERE { ?o a s:Organization . "
                     "OPTIONAL { ?o s:url ?u } }", _rows(sols, "?o", "?u"))

    def filter_():
        x = 70
        sols = [b for b in f.bgp([("?p", S + "age", "?a")]) if float(b["?a"]) > x]
        return Query("filter", "select", pfx + f"SELECT ?p ?a WHERE {{ ?p s:age ?a . FILTER(?a > {x}) }}",
                     _rows(sols, "?p", "?a"))

    def group():
        c = Counter(o for _, o in f.by_p[S + "worksFor"])
        return Query("group", "select", pfx + "SELECT ?o (COUNT(?p) AS ?c) WHERE "
                     "{ ?p s:worksFor ?o } GROUP BY ?o", Counter((o, n) for o, n in c.items()))

    def minus():
        employed = f.subjects(S + "worksFor")
        sols = [b for b in f.bgp([("?p", RDF_TYPE, PERSON)]) if b["?p"] not in employed]
        return Query("minus", "select", pfx + "SELECT ?p WHERE { ?p a s:Person . "
                     "MINUS { ?p s:worksFor ?o } }", _rows(sols, "?p"))

    def not_exists():
        social = f.subjects(S + "knows")
        sols = [b for b in f.bgp([("?p", RDF_TYPE, PERSON)]) if b["?p"] not in social]
        return Query("not_exists", "select", pfx + "SELECT ?p WHERE { ?p a s:Person . "
                     "FILTER NOT EXISTS { ?p s:knows ?q } }", _rows(sols, "?p"))

    def path():
        a = rng.choice(people)
        names = {n for p, n in f.by_p[S + "name"]
                 if p in {o for s, o in knows if s == a}}
        return Query("path", "select", pfx + f"SELECT DISTINCT ?n WHERE {{ {short(a)} s:knows/s:name ?n }}",
                     Counter((n,) for n in names))

    def ask():
        a = rng.choice(people)
        b = rng.choice([o for s, o in knows if s == a] if rng.random() < 0.5 else people)
        return Query("ask", "ask", pfx + f"ASK {{ {short(a)} s:knows {short(b)} }}",
                     (a, b) in set(knows))

    def construct():
        o = rng.choice(orgs)
        got = {(p, S + "colleague", o) for p, oo in f.by_p[S + "worksFor"] if oo == o}
        return Query("construct", "construct", pfx + f"CONSTRUCT {{ ?p s:colleague {short(o)} }} "
                     f"WHERE {{ ?p s:worksFor {short(o)} }}", got)

    kinds = [star, optional, filter_, group, minus, not_exists, path, ask, ask,
             construct]
    return [k() for k in kinds]


def run(spark_table, q: Query, tracer):
    """Compile then execute one query; returns its result rows (1 for
    ASK), or -1 when the answer is wrong."""
    from rdf_spark.operators.sparql import sparql_ask, sparql_construct, sparql_select

    if q.form == "ask":
        with tracer.span("sparql.execute", query=q.name):
            got = sparql_ask(spark_table, q.text)
        return 1 if got == q.expected else -1
    compile_ = sparql_select if q.form == "select" else sparql_construct
    with tracer.span("sparql.compile", query=q.name):
        df = compile_(spark_table, q.text)
    with tracer.span("sparql.execute", query=q.name):
        rows = df.collect()
    if q.form == "construct":
        ok = {(r.subj, r.pred, r.obj_lex) for r in rows} == q.expected
    else:
        ok = Counter(tuple(r) for r in rows) == q.expected
    return len(rows) if ok else -1

"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship KG-construction run on sf0.001: Turtle docs
are synthesized in SQL from the nation/region tables, parsed by the
rdf_spark grammar engine (Arrow-vectorized), skolemized, entity-linked
and canonicalized; returns the canonical triple table.

`queries()` / `oracle_sql()` — one entry per operator family from
SURVEY.md §2 (parsing for all six syntaxes + RDFa/Microdata/JSON-LD,
triple-pattern ops + BGP match + k-hop BFS, skolemize, serialize
(NT/Turtle/nested/TriG), dedupe, entity link, salted skew-safe
aggregate, XSD datatypes, streaming ingest, sessionization) plus the
training-data operators (dedup, ANN, text analysis, curation,
multimodal).
Spark results and DuckDB oracles share exact column names and value
semantics (hashes via md5/sha256, floats rounded before comparison/
ranking). The single rows-only entry (k-means IVF) is genuinely
non-SQL-expressible (Lloyd iterations); its recall is asserted against
the brute-force oracle in tests/pipeline/test_kmeans_ivf.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EX = "http://ex/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _read(spark, sf_dir, name):
    from rdf_spark.submit import ship_package

    ship_package(spark)  # idempotent; executors import rdf_spark from any cwd
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- corpus builders (SQL-side text synthesis; deterministic) -------------

def _nation_turtle(spark, sf_dir) -> DataFrame:
    """One Turtle doc per nation, synthesized with SQL string exprs."""
    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("@prefix ex: <http://ex/> .\n"),
        F.lit("ex:n"), F.col("n_nationkey").cast("string"), F.lit(" a ex:Nation ;\n"),
        F.lit('  ex:name "'), F.col("n_name"), F.lit('" ;\n'),
        F.lit("  ex:inRegion ex:r"), F.col("n_regionkey").cast("string"), F.lit(" .\n"),
    )
    url = F.concat(F.lit("http://crawl.example/nation/"), F.col("n_nationkey").cast("string"))
    return n.select(url.alias("url"), F.lit("turtle").alias("format"), text.alias("text"))


def _parsed_nation_triples(spark, sf_dir) -> DataFrame:
    from rdf_spark.operators.parse import good_triples, parse_pages

    return good_triples(parse_pages(_nation_turtle(spark, sf_dir)))


_NATION_TRIPLES_ORACLE = f"""
    SELECT 'http://ex/n' || n_nationkey AS subj,
           '{RDF_TYPE}' AS pred,
           'http://ex/Nation' AS obj_lex
    FROM nation
    UNION ALL
    SELECT 'http://ex/n' || n_nationkey, 'http://ex/name', n_name FROM nation
    UNION ALL
    SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
           'http://ex/r' || n_regionkey FROM nation
"""


# --- queries ---------------------------------------------------------------

def q_rdf_parse_ntriples(spark, sf_dir):
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("<http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit('> <http://ex/name> "'), F.col("n_name"), F.lit('" .\n'),
        F.lit("<http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit("> <http://ex/inRegion> <http://ex/r"),
        F.col("n_regionkey").cast("string"), F.lit("> .\n"),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/nt/"), F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("ntriples").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_rdf_parse_turtle(spark, sf_dir):
    return _parsed_nation_triples(spark, sf_dir).select("subj", "pred", "obj_lex")


def q_rdf_parse_nquads(spark, sf_dir):
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("<http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit('> <http://ex/name> "'), F.col("n_name"),
        F.lit('" <http://ex/region/'), F.col("n_regionkey").cast("string"),
        F.lit("> .\n"),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/nq/"), F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("nquads").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex", "graph")


def q_rdf_parse_jsonld(spark, sf_dir):
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit('{"@id": "http://ex/n'), F.col("n_nationkey").cast("string"),
        F.lit('", "@type": "http://ex/Nation", "http://ex/name": "'),
        F.col("n_name"), F.lit('"}'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/jl/"), F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("jsonld").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_rdf_parse_star(spark, sf_dir):
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("<< <http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit('> <http://ex/name> "'), F.col("n_name"),
        F.lit('" >> <http://ex/saidBy> <http://ex/crawler> .\n'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/star/"), F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("ntriples-star").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select(F.col("subj_kind").cast("int").alias("subj_kind"), "subj", "pred", "obj_lex")


def q_rdf_parse_trig(spark, sf_dir):
    """TriG dataset parse (reference trig/doc.go:86-135 +
    trig/evaluate.go:10-251): one TriG doc per nation with the region
    graph labeled via a prefixed name."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("@prefix ex: <http://ex/> .\n"),
        F.lit("ex:g"), F.col("n_regionkey").cast("string"), F.lit(" {\n"),
        F.lit("ex:n"), F.col("n_nationkey").cast("string"),
        F.lit(' ex:name "'), F.col("n_name"), F.lit('" ;\n'),
        F.lit("  ex:inRegion ex:r"), F.col("n_regionkey").cast("string"),
        F.lit(" .\n}\n"),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/trig/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("trig").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex", "graph")


def q_rdf_parse_star_nq(spark, sf_dir):
    """RDF-star N-Quads parse (reference star/nquads/doc.go:16-47):
    quoted-triple subjects with a named-graph label per region."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("<< <http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit('> <http://ex/name> "'), F.col("n_name"),
        F.lit('" >> <http://ex/saidBy> <http://ex/crawler> <http://ex/g'),
        F.col("n_regionkey").cast("string"), F.lit("> .\n"),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/starnq/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("nquads-star").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select(F.col("subj_kind").cast("int").alias("subj_kind"),
                    "subj", "pred", "obj_lex", "graph")


def q_rdf_parse_rdfxml(spark, sf_dir):
    """RDF/XML-lite pages (sources/rdfxml.py: typed node elements,
    property elements, rdf:resource refs) -> triples through the same
    mapInArrow parse kernel. Oracle replays the generation rules."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit('<rdf:RDF xmlns:rdf='
              '"http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
              'xmlns:ex="http://ex/">\n<ex:Nation rdf:about='
              '"http://ex/n'), F.col("n_nationkey").cast("string"),
        F.lit('">\n  <ex:name>'), F.col("n_name"),
        F.lit('</ex:name>\n  <ex:inRegion rdf:resource="http://ex/r'),
        F.col("n_regionkey").cast("string"),
        F.lit('"/>\n</ex:Nation>\n</rdf:RDF>'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/xml/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("rdfxml").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_rdf_parse_microdata(spark, sf_dir):
    """HTML pages with Microdata markup -> triples via the full
    extraction front-end: parse_pages on the html extracts and parses
    the embedded blocks in one Python pass."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    html = F.concat(
        F.lit('<html><body><div itemscope itemtype="http://schema.org/Country"'
              ' itemid="http://ex/n'), F.col("n_nationkey").cast("string"),
        F.lit('"><span itemprop="name">'), F.col("n_name"),
        F.lit('</span><a itemprop="containedInPlace" href="http://ex/r'),
        F.col("n_regionkey").cast("string"),
        F.lit('">region</a></div></body></html>'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/md/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_rdf_parse_rdfa(spark, sf_dir):
    """HTML pages with RDFa-lite markup -> triples via the full
    extraction front-end: parse_pages on the html extracts and parses
    the embedded blocks in one Python pass."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    html = F.concat(
        F.lit('<html><body><div vocab="http://schema.org/" about="http://ex/n'),
        F.col("n_nationkey").cast("string"),
        F.lit('" typeof="Country"><span property="name">'), F.col("n_name"),
        F.lit('</span><a property="containedInPlace" href="http://ex/r'),
        F.col("n_regionkey").cast("string"),
        F.lit('">region</a></div></body></html>'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/ra/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_web_page_metadata(spark, sf_dir):
    """Page-metadata table (title / meta description / canonical link
    / html lang) extracted from synthesized HTML — the crawl-side
    companion of the RDF extraction front-end."""
    from rdf_spark.sources.extract import extract_metadata

    n = _read(spark, sf_dir, "nation")
    html = F.concat(
        F.lit('<html lang="en"><head><title>Nation '), F.col("n_name"),
        F.lit('</title><meta name="description" content="About '),
        F.col("n_name"),
        F.lit('"><link rel="canonical" href="/n/'),
        F.col("n_nationkey").cast("string"),
        F.lit('"></head><body>x</body></html>'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/meta/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    return extract_metadata(pages)


def q_rdf_triple_pattern(spark, sf_dir):
    from rdf_spark.operators.graphops import find_all

    t = _parsed_nation_triples(spark, sf_dir)
    return find_all(t, pred=EX + "name").select("subj", "obj_lex")


def q_rdf_bgp_match(spark, sf_dir):
    """SPARQL-style basic graph pattern over the nation KG:
    { ?n ex:inRegion ?r . ?n ex:name ?name } -> bindings."""
    from rdf_spark.operators.graphops import bgp_match

    t = _parsed_nation_triples(spark, sf_dir)
    return bgp_match(t, [("?n", EX + "inRegion", "?r"),
                         ("?n", EX + "name", "?name")])


def q_rdf_khop(spark, sf_dir):
    """Bounded BFS: entities reachable in <= 2 hops from every fifth
    nation along IRI-object edges, with minimum hop count."""
    from rdf_spark.operators.graphops import khop_neighbors

    t = _parsed_nation_triples(spark, sf_dir)
    n = _read(spark, sf_dir, "nation")
    start = n.where(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("subj")
    )
    return khop_neighbors(t, start, k=2).select(
        "entity", F.col("hops").cast("int").alias("hops")
    )


def _kg_rank_edges(spark, sf_dir):
    """Directed KG edge list with hub skew: customers and suppliers
    point at their nation, nations at their region (regions are
    dangling sinks — they exercise the dangling-mass redistribution)."""
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    return (
        c.select(
            F.concat(F.lit(EX + "c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(s.select(
            F.concat(F.lit(EX + "s"), F.col("s_suppkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "n"), F.col("s_nationkey").cast("string")).alias("dst"),
        ))
        .unionByName(n.select(
            F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")).alias("dst"),
        ))
    )


def q_kg_pagerank(spark, sf_dir):
    """3-iteration PageRank over the entity graph (textbook power
    iteration with dangling-mass redistribution; oracle unrolls the
    identical three iterations in SQL)."""
    from rdf_spark.operators.graphalgo import pagerank

    out = pagerank(_kg_rank_edges(spark, sf_dir), iters=3, damping=0.85)
    return out.select("node", F.round("rank", 6).alias("rank"))


def q_kg_reachability(spark, sf_dir):
    """Transitive closure (SPARQL `+` property path) over the
    order -> customer -> nation -> region containment chain, pointer
    doubling; oracle is a recursive CTE."""
    from rdf_spark.operators.graphalgo import transitive_closure

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 32 == 0)
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    e = (
        o.select(
            F.concat(F.lit(EX + "o"), F.col("o_orderkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .unionByName(c.select(
            F.concat(F.lit(EX + "c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")).alias("dst"),
        ))
        .unionByName(n.select(
            F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")).alias("dst"),
        ))
    )
    return transitive_closure(e).select("src", "dst")


def _nation_turtle_recrawl(spark, sf_dir) -> DataFrame:
    """The nation corpus as a later crawl snapshot: every 7th nation's
    page vanished, every 5th nation's name changed case."""
    n = _read(spark, sf_dir, "nation").where(F.col("n_nationkey") % 7 != 0)
    name = F.when(F.col("n_nationkey") % 5 == 0,
                  F.lower(F.col("n_name"))).otherwise(F.col("n_name"))
    text = F.concat(
        F.lit("@prefix ex: <http://ex/> .\n"),
        F.lit("ex:n"), F.col("n_nationkey").cast("string"), F.lit(" a ex:Nation ;\n"),
        F.lit('  ex:name "'), name, F.lit('" ;\n'),
        F.lit("  ex:inRegion ex:r"), F.col("n_regionkey").cast("string"), F.lit(" .\n"),
    )
    url = F.concat(F.lit("http://crawl.example/nation/"), F.col("n_nationkey").cast("string"))
    return n.select(url.alias("url"), F.lit("turtle").alias("format"), text.alias("text"))


def q_kg_graph_diff(spark, sf_dir):
    """Snapshot diff between two crawls of the nation KG (both sides
    go through the real parser): added/removed triples only."""
    from rdf_spark.operators.graphalgo import graph_diff
    from rdf_spark.operators.parse import good_triples, parse_pages

    old = _parsed_nation_triples(spark, sf_dir)
    new = good_triples(parse_pages(_nation_turtle_recrawl(spark, sf_dir)))
    return graph_diff(old, new).select("subj", "pred", "obj_lex", "change")


def q_rdf_path_coregion(spark, sf_dir):
    """SPARQL property path `<inRegion>/^<inRegion>` over the parsed
    nation KG: nation pairs sharing a region (self-pairs included —
    SPARQL pair semantics); oracle is a region self-join."""
    from rdf_spark.operators.paths import eval_path

    t = _parsed_nation_triples(spark, sf_dir)
    return eval_path(t, "<http://ex/inRegion>/^<http://ex/inRegion>")


def q_rdf_path_star(spark, sf_dir):
    """Property path `<in>*/<memberOf>` over the containment graph
    (orders -in-> customer -in-> nation -memberOf-> region):
    zero-or-more closure then one step — every entity's region, with
    the zero-length case contributing the nations' own memberOf
    edge."""
    from rdf_spark.operators.paths import eval_path

    t = _containment_triples(spark, sf_dir)
    return eval_path(t, f"<{EX}in>*/<{EX}memberOf>")


def _containment_triples(spark, sf_dir):
    """orders -in-> customer -in-> nation -memberOf-> region as a
    minimal triple table (subj, pred, obj_lex)."""
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 32 == 0)
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.select(
            F.concat(F.lit(EX + "o"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.lit(EX + "in").alias("pred"),
            F.concat(F.lit(EX + "c"), F.col("o_custkey").cast("string")).alias("obj_lex"),
        )
        .unionByName(c.select(
            F.concat(F.lit(EX + "c"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit(EX + "in").alias("pred"),
            F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")).alias("obj_lex"),
        ))
        .unionByName(n.select(
            F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("subj"),
            F.lit(EX + "memberOf").alias("pred"),
            F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")).alias("obj_lex"),
        ))
    )


def q_kg_components(spark, sf_dir):
    """Undirected connected components of the customer/nation/region
    affiliation graph — one component per region, labeled by the
    minimum node IRI; oracle is a recursive undirected-reachability
    CTE taking min(reach)."""
    from rdf_spark.operators.graphalgo import connected_components

    c = _read(spark, sf_dir, "customer").where(F.col("c_custkey") % 16 == 0)
    n = _read(spark, sf_dir, "nation")
    e = (
        c.select(
            F.concat(F.lit(EX + "c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(n.select(
            F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")).alias("dst"),
        ))
    )
    return connected_components(e)


def q_rdf_bgp_path(spark, sf_dir):
    """BGP with a property-path pattern: the `+` closure of `in`
    equi-joined with a plain memberOf pattern through the shared
    variable — every entity's nation and that nation's region."""
    from rdf_spark.operators.graphops import bgp_match

    t = _containment_triples(spark, sf_dir)
    return bgp_match(
        t,
        [("?x", f"<{EX}in>+", "?n"), ("?n", EX + "memberOf", "?r")],
    )


def q_kg_profile(spark, sf_dir):
    """Schema-discovery profile of the parsed nation KG: per-predicate
    triple/subject/object counts and IRI-vs-literal object split."""
    from rdf_spark.operators.graphops import graph_profile

    t = _parsed_nation_triples(spark, sf_dir)
    return graph_profile(t)


def q_kg_fuse_latest(spark, sf_dir):
    """Temporal conflict resolution: each order asserts its customer's
    current status; keep the most recent claim per (customer,
    lastStatus), date ties broken to the canonically smallest value on
    both sides."""
    from rdf_spark.operators.fuse import latest_values

    o = _read(spark, sf_dir, "orders")
    t = o.select(
        F.concat(F.lit(EX + "c"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit(EX + "lastStatus").alias("pred"),
        F.col("o_orderstatus").alias("obj_lex"),
        F.col("o_orderdate").alias("warc_ts"),
    )
    return latest_values(t).select("subj", "pred", "obj_lex")


def q_kg_fuse_majority(spark, sf_dir):
    """Truth discovery by support: every customer asserts its nation's
    name (a third of them in the wrong case); majority vote per
    (nation, name) with deterministic tie-break."""
    from rdf_spark.operators.fuse import majority_vote

    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    t = cn.select(
        F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("subj"),
        F.lit(EX + "name").alias("pred"),
        F.when(F.col("c_custkey") % 3 == 0, F.lower(F.col("n_name")))
        .otherwise(F.col("n_name"))
        .alias("obj_lex"),
    )
    return majority_vote(t)


def q_kg_fuzzy_link(spark, sf_dir):
    """Edit-distance entity linking: customer-side nation mentions
    (some suffixed, some case-folded) against the nation dictionary;
    blocked broadcast join + JVM levenshtein, best match per distinct
    mention."""
    from rdf_spark.operators.fuse import fuzzy_link

    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    mentions = cn.select(
        F.when(F.col("c_custkey") % 7 == 0, F.concat(F.col("n_name"), F.lit("x")))
        .when(F.col("c_custkey") % 11 == 0, F.lower(F.col("n_name")))
        .otherwise(F.col("n_name"))
        .alias("mention")
    )
    d = n.select(
        F.col("n_name").alias("surface"),
        F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias(
            "canonical_iri"
        ),
    )
    return fuzzy_link(mentions, d, max_dist=2)


def q_kg_apply_diff(spark, sf_dir):
    """Roundtrip gate for the snapshot-delta pair: applying
    graph_diff(old, new) onto old must recover new exactly (both
    snapshots built through the real parser); the oracle is the new
    snapshot itself."""
    from rdf_spark.operators.graphalgo import apply_diff, graph_diff
    from rdf_spark.operators.parse import good_triples, parse_pages

    old = _parsed_nation_triples(spark, sf_dir)
    new = good_triples(parse_pages(_nation_turtle_recrawl(spark, sf_dir)))
    return apply_diff(old, graph_diff(old, new)).select("subj", "pred", "obj_lex")


def q_kg_dangling_refs(spark, sf_dir):
    """Referential-integrity screen on the nation KG: IRIs referenced
    as objects but never described as subjects (here: the class IRI
    and the region IRIs, which no page describes)."""
    from rdf_spark.operators.graphalgo import dangling_refs

    t = _parsed_nation_triples(spark, sf_dir)
    return dangling_refs(t).select("iri", F.col("n_refs").cast("long").alias("n_refs"))


def _nation_turtle_shaped(spark, sf_dir) -> DataFrame:
    """Nation corpus seeded with deliberate schema defects for the
    SHACL screen: every 5th name lowercased (pattern), a second name
    when key%11==3 (maxCount), ex:key as a quoted string when key%3==0
    (datatype) or as an IRI when key%13==0 (nodeKind + datatype),
    ex:inRegion omitted when key%7==0 (minCount)."""
    n = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    ks = k.cast("string")
    name = F.when(k % 5 == 0, F.lower(F.col("n_name"))).otherwise(F.col("n_name"))
    name_part = F.concat(
        F.lit('  ex:name "'), name, F.lit('"'),
        F.when(
            k % 11 == 3,
            F.concat(F.lit(' , "'), F.col("n_name"), F.lit('_ALT"')),
        ).otherwise(F.lit("")),
        F.lit(" ;\n"),
    )
    key_part = (
        F.when(k % 13 == 0, F.concat(F.lit("  ex:key ex:k"), ks, F.lit(" ;\n")))
        .when(k % 3 == 0, F.concat(F.lit('  ex:key "'), ks, F.lit('" ;\n')))
        .otherwise(F.concat(F.lit("  ex:key "), ks, F.lit(" ;\n")))
    )
    region_part = F.when(k % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("  ex:inRegion ex:r"),
                 F.col("n_regionkey").cast("string"), F.lit(" ;\n"))
    )
    text = F.concat(
        F.lit("@prefix ex: <http://ex/> .\n"),
        F.lit("ex:n"), ks, F.lit(" a ex:Nation ;\n"),
        name_part, key_part, region_part,
        F.lit('  ex:crawled "2026" .\n'),
    )
    url = F.concat(F.lit("http://crawl.example/nation/"), ks)
    return n.select(url.alias("url"), F.lit("turtle").alias("format"),
                    text.alias("text"))


def q_kg_shacl(spark, sf_dir):
    """SHACL-lite shape validation (operators/shacl.py) over a parsed
    nation KG seeded with deliberate defects; the oracle recomputes
    the violation set directly from the seeding rules."""
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.shacl import validate_shapes

    t = good_triples(parse_pages(_nation_turtle_shaped(spark, sf_dir)))
    shapes = [
        {"shape_id": "NationName", "target_class": "http://ex/Nation",
         "path": "http://ex/name", "min_count": 1, "max_count": 1,
         "node_kind": "literal", "pattern": "^[A-Z][A-Z_0-9]*$"},
        {"shape_id": "NationKey", "target_class": "http://ex/Nation",
         "path": "http://ex/key", "node_kind": "literal",
         "datatype": "http://www.w3.org/2001/XMLSchema#integer"},
        {"shape_id": "NationRegion", "target_class": "http://ex/Nation",
         "path": "http://ex/inRegion", "min_count": 1, "max_count": 1,
         "node_kind": "iri"},
    ]
    return validate_shapes(t, shapes)


def _nation_ontology_pages(spark, sf_dir) -> DataFrame:
    """The nation corpus plus ONE ontology page (subClassOf chain,
    subPropertyOf, domain, range) — the rdfs_closure fixture."""
    onto = spark.createDataFrame(
        [(
            "http://crawl.example/ontology",
            "turtle",
            "@prefix ex: <http://ex/> .\n"
            "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
            "ex:Nation rdfs:subClassOf ex:Place .\n"
            "ex:Place rdfs:subClassOf ex:Resource .\n"
            "ex:inRegion rdfs:subPropertyOf ex:locatedIn .\n"
            "ex:locatedIn rdfs:domain ex:Place .\n"
            "ex:inRegion rdfs:range ex:Region .\n",
        )],
        "url string, format string, text string",
    )
    return _nation_turtle(spark, sf_dir).unionByName(onto)


def q_kg_rdfs_infer(spark, sf_dir):
    """RDFS (rho-df) forward-chaining materialization over the parsed
    nation KG + a one-page ontology: rdfs2/3/7/9 instance rules in one
    broadcast pass after pointer-doubling TBox closure (rdfs5/11);
    oracle replays each rule's output from the generation rules."""
    from rdf_spark.operators.infer import rdfs_closure
    from rdf_spark.operators.parse import good_triples, parse_pages

    t = good_triples(parse_pages(_nation_ontology_pages(spark, sf_dir)))
    return rdfs_closure(t).select("subj", "pred", "obj_lex")


def q_kg_sameas_rewrite(spark, sf_dir):
    """owl:sameAs smushing: three crawl sites describe the same
    customers under different IRIs with sameAs links (a<-b<-c chains);
    rewrite collapses every class to its minimum IRI and merges the
    duplicated name triples. Oracle emits the merged graph directly."""
    from rdf_spark.operators.infer import sameas_rewrite
    from rdf_spark.operators.parse import good_triples, parse_pages

    c = _read(spark, sf_dir, "customer").where(F.col("c_custkey") % 16 == 0)
    ks = F.col("c_custkey").cast("string")
    site_a = c.select(
        F.concat(F.lit("http://a.crawl.example/c/"), ks).alias("url"),
        F.lit("turtle").alias("format"),
        F.concat(
            F.lit("@prefix ex: <http://ex/> .\n<http://a.ex/c"), ks,
            F.lit("> a ex:Customer ;\n  ex:name \""), F.col("c_name"),
            F.lit("\" ;\n  ex:inNation <http://ex/n"),
            F.col("c_nationkey").cast("string"), F.lit("> .\n"),
        ).alias("text"),
    )
    site_b = c.select(
        F.concat(F.lit("http://b.crawl.example/c/"), ks).alias("url"),
        F.lit("turtle").alias("format"),
        F.concat(
            F.lit("@prefix ex: <http://ex/> .\n"
                  "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
                  "<http://b.ex/c"), ks,
            F.lit("> ex:name \""), F.col("c_name"),
            F.lit("\" ;\n  owl:sameAs <http://a.ex/c"), ks, F.lit("> .\n"),
        ).alias("text"),
    )
    site_c = c.where(F.col("c_custkey") % 32 == 0).select(
        F.concat(F.lit("http://c.crawl.example/c/"), ks).alias("url"),
        F.lit("turtle").alias("format"),
        F.concat(
            F.lit("@prefix ex: <http://ex/> .\n"
                  "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
                  "<http://c.ex/c"), ks,
            F.lit("> ex:vip true ;\n  owl:sameAs <http://b.ex/c"), ks,
            F.lit("> .\n"),
        ).alias("text"),
    )
    pages = site_a.unionByName(site_b).unionByName(site_c)
    t = good_triples(parse_pages(pages))
    return sameas_rewrite(t, broadcast_map=True).select(
        "subj", "pred", "obj_lex")


def q_kg_sparql_select(spark, sf_dir):
    """SPARQL SELECT front-end over the parsed nation KG: BGP with
    predicate lists, OPTIONAL region labels (only even regions have
    label pages -> real null rows), numeric-vs-lexical FILTER, and a
    string function — all compiled onto bgp_match + left join +
    Column filters (operators/sparql.py). Oracle replays the same
    query as relational SQL over nation/region."""
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.sparql import sparql_select

    r = _read(spark, sf_dir, "region").where(F.col("r_regionkey") % 2 == 0)
    label_pages = r.select(
        F.concat(F.lit("http://crawl.example/region/"),
                 F.col("r_regionkey").cast("string")).alias("url"),
        F.lit("turtle").alias("format"),
        F.concat(
            F.lit("@prefix ex: <http://ex/> .\nex:r"),
            F.col("r_regionkey").cast("string"),
            F.lit(' ex:label "'), F.col("r_name"), F.lit('" .\n'),
        ).alias("text"),
    )
    pages = _nation_turtle(spark, sf_dir).unionByName(label_pages)
    t = good_triples(parse_pages(pages))
    return sparql_select(t, """
        PREFIX ex: <http://ex/>
        SELECT ?n ?name ?r ?rlabel WHERE {
          ?n a ex:Nation ; ex:name ?name ; ex:inRegion ?r .
          OPTIONAL { ?r ex:label ?rlabel }
          FILTER (CONTAINS(?name, "A") || STRLEN(?name) <= 6)
        }""")


def q_kg_sparql_analytics(spark, sf_dir):
    """Round-4 SPARQL algebra additions under one hard gate: a
    { SELECT ... } aggregate subquery (nations per region, map-side
    partial count), FILTER EXISTS (left-semi: region has an 'A'
    nation) and MINUS (left-anti: drop regions holding a long-named
    nation) — all equi-joins on ?r, no cartesian anywhere
    (operators/sparql.py); round-5 widening: an arithmetic value
    expression in the projection (``(?cnt * 10 - 1 AS ?score)``) and
    an ORDER BY DESC() over the same expression (numeric sort), both
    through the compiled Column builder. Oracle replays the algebra
    as correlated EXISTS/NOT EXISTS SQL over nation."""
    from rdf_spark.operators.sparql import sparql_select

    t = _parsed_nation_triples(spark, sf_dir)
    return sparql_select(t, """
        PREFIX ex: <http://ex/>
        SELECT ?r ?cnt (?cnt * 10 - 1 AS ?score) WHERE {
          { SELECT ?r (COUNT(?n) AS ?cnt) WHERE { ?n ex:inRegion ?r . }
            GROUP BY ?r }
          FILTER EXISTS { ?m ex:inRegion ?r ; ex:name ?nm .
                          FILTER (CONTAINS(?nm, "A")) }
          MINUS { ?b ex:inRegion ?r ; ex:name ?bn .
                  FILTER (STRLEN(?bn) > 12) }
        } ORDER BY DESC(?cnt * 10 - 1) ?r""")


def q_kg_sparql_graph_path(spark, sf_dir):
    """Round-5 feature under a hard gate: a property path INSIDE
    GRAPH with a graph VARIABLE (operators/sparql.py ->
    paths.eval_path_per_graph composite-node encoding). Input: one
    next-nation chain edge per region, each region a named graph
    (parsed N-Quads); ``ex:next+`` then closes each chain WITHIN its
    graph — closures never cross graph boundaries. Oracle: ordered
    same-region nation pairs."""
    from pyspark.sql import Window

    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.sparql import sparql_select

    n = _read(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    edges = n.withColumn("nxt", F.lead("n_nationkey").over(w)).where(
        F.col("nxt").isNotNull())
    text = F.concat(
        F.lit("<http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit("> <http://ex/next> <http://ex/n"),
        F.col("nxt").cast("string"),
        F.lit("> <http://ex/g/r"), F.col("n_regionkey").cast("string"),
        F.lit("> .\n"),
    )
    pages = edges.select(
        F.concat(F.lit("http://crawl.example/chain/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("nquads").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return sparql_select(t, """
        PREFIX ex: <http://ex/>
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a ex:next+ ?b } }""")


def q_rdf_parse_jsonld_list(spark, sf_dir):
    """Round-5 JSON-LD @list under a hard gate: each nation page
    carries a 2-element ``{"@list": [...]}`` value; the parser
    (sources/jsonld.py _list_chain) expands it to an rdf:first/rest
    cell chain with doc-local bnode labels (j1, j2 — deterministic,
    the per-document counter). Oracle reproduces the 5 chain triples
    per nation."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit('{"@id": "http://ex/n'), F.col("n_nationkey").cast("string"),
        F.lit('", "http://ex/pair": {"@list": ["'), F.col("n_name"),
        F.lit('", "r'), F.col("n_regionkey").cast("string"),
        F.lit('"]}}'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/jll/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("jsonld").alias("format"),
        text.alias("text"),
    )
    t = good_triples(parse_pages(pages))
    return t.select("subj", "pred", "obj_lex")


def q_kg_sparql_update(spark, sf_dir):
    """SPARQL UPDATE as a snapshot transform (operators/sparql.py
    sparql_update): rename ex:name -> ex:label across the parsed
    nation KG in one DELETE/INSERT-WHERE — bindings once against the
    original graph, left-anti delete + unionByName insert. Oracle
    replays the rename over the generation rules."""
    from rdf_spark.operators.sparql import sparql_update

    t = _parsed_nation_triples(spark, sf_dir)
    out = sparql_update(t, """
        PREFIX ex: <http://ex/>
        DELETE { ?n ex:name ?v . }
        INSERT { ?n ex:label ?v . }
        WHERE { ?n a ex:Nation ; ex:name ?v . }""")
    return out.select("subj", "pred", "obj_lex")


def q_kg_sparql_groupconcat(spark, sf_dir):
    """GROUP_CONCAT/COUNT aggregates through the SPARQL front-end:
    per-region sorted name concatenation (the operator sorts collected
    values so the result is deterministic — DuckDB replays it as
    string_agg ORDER BY); round-5 widening: an aggregate INSIDE a
    SELECT expression (``SUM(?len)/COUNT(?n)`` — hidden inline-alias
    compilation, sparql.py) over a BIND-derived variable."""
    from rdf_spark.operators.sparql import sparql_select

    t = _parsed_nation_triples(spark, sf_dir)
    return sparql_select(t, """
        PREFIX ex: <http://ex/>
        SELECT ?r (GROUP_CONCAT(?name; SEPARATOR="|") AS ?names)
               (COUNT(?n) AS ?cnt)
               (SUM(?len) / COUNT(?n) AS ?avglen)
        WHERE { ?n ex:inRegion ?r ; ex:name ?name .
                BIND (STRLEN(?name) AS ?len) }
        GROUP BY ?r""")


def q_kg_construct_transform(spark, sf_dir):
    """SPARQL CONSTRUCT as graph transformation: re-express the nation
    KG in a target vocabulary (Place/located/label) — one array-explode
    pass over the BGP bindings, kinds/datatypes carried through
    (operators/sparql.py sparql_construct). Oracle replays the
    template over the generation rules."""
    from rdf_spark.operators.sparql import sparql_construct

    t = _parsed_nation_triples(spark, sf_dir)
    return sparql_construct(t, """
        PREFIX ex: <http://ex/>
        CONSTRUCT { ?n a ex:Place ; ex:located ?r ; ex:label ?name . }
        WHERE { ?n a ex:Nation ; ex:inRegion ?r ; ex:name ?name . }
    """).select("subj", "pred", "obj_kind", "obj_lex")


def q_rdf_group_by_graph(spark, sf_dir):
    from rdf_spark.operators.graphops import graphs

    q = q_rdf_parse_nquads(spark, sf_dir)
    return graphs(q).select("graph", "n_triples", "n_subjects")


def q_rdf_skolemize(spark, sf_dir):
    from rdf_spark.operators.skolemize import skolemize

    c = _read(spark, sf_dir, "customer")
    triples = c.select(
        F.concat(F.lit("http://crawl.example/c/"), (F.col("c_custkey") % 10).cast("string")).alias("url"),
        F.lit(1).cast("tinyint").alias("subj_kind"),
        F.concat(F.lit("b"), F.col("c_custkey").cast("string")).alias("subj"),
        F.lit(EX + "name").alias("pred"),
        F.lit(2).cast("tinyint").alias("obj_kind"),
        F.col("c_name").alias("obj_lex"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
        F.lit(None).cast("string").alias("graph"),
        F.col("c_custkey").alias("custkey"),
    )
    return skolemize(triples).select("custkey", F.col("subj").alias("skolem"))


def q_rdf_serialize(spark, sf_dir):
    from rdf_spark.functions.serialize import serialize_ntriples

    t = _parsed_nation_triples(spark, sf_dir)
    return serialize_ntriples(t).select(F.col("value").alias("line"))


def q_kg_pg_nodes(spark, sf_dir):
    """Property-graph export, node side (operators/graphalgo.py
    property_graph): every IRI with sorted rdf:type labels and a
    literal-property count. Oracle replays the LPG mapping rules."""
    from rdf_spark.operators.graphalgo import property_graph

    nodes, _ = property_graph(_parsed_nation_triples(spark, sf_dir))
    return nodes


def q_kg_pg_edges(spark, sf_dir):
    """Property-graph export, edge side: IRI-object triples minus
    rdf:type (types are node labels in the LPG model)."""
    from rdf_spark.operators.graphalgo import property_graph

    _, edges = property_graph(_parsed_nation_triples(spark, sf_dir))
    return edges


def q_rdf_serialize_rdfxml(spark, sf_dir):
    """RDF/XML sink (functions/serialize.py serialize_rdfxml): one
    rdf:Description per subject, property elements sorted, namespaces
    declared inline. Oracle replays the fixed element order for the
    3-predicate nation corpus."""
    from rdf_spark.functions.serialize import serialize_rdfxml

    t = _parsed_nation_triples(spark, sf_dir)
    return serialize_rdfxml(t).select("subj", "value")


def q_rdf_serialize_turtle(spark, sf_dir):
    """Pretty-printed Turtle sink: per-subject ';'-grouped blocks with
    prefix compaction and 'a' for rdf:type (SURVEY.md S9)."""
    from rdf_spark.functions.serialize import serialize_turtle

    t = _parsed_nation_triples(spark, sf_dir)
    return serialize_turtle(t, {"ex": EX}).select("subj", "value")


def q_rdf_serialize_turtle_nested(spark, sf_dir):
    """Nested Turtle pretty-printer (S9 structural form, reference
    turtle/doc.go:849-858): single-use bnodes inline as [ ... ].
    Per-document bnode labels are made global first (skolemize) since
    the corpus merges many documents into one table."""
    from rdf_spark.functions.serialize import serialize_turtle_nested
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.skolemize import skolemize

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("@prefix ex: <http://ex/> .\n"),
        F.lit("ex:n"), F.col("n_nationkey").cast("string"),
        F.lit(' ex:name "'), F.col("n_name"), F.lit('" ;\n'),
        F.lit('  ex:addr [ ex:city "'), F.col("n_name"),
        F.lit(' CITY" ; ex:zip "'), F.col("n_regionkey").cast("string"),
        F.lit('" ] .\n'),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/nest/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("turtle").alias("format"), text.alias("text"),
    )
    t = skolemize(good_triples(parse_pages(pages)))
    return serialize_turtle_nested(t, {"ex": EX}).select("subj", "value")


def q_rdf_serialize_jsonld(spark, sf_dir):
    """JSON-LD node-object sink (reference Node.toObject direction,
    node.go:24-100, completed as a document serializer; standard
    @type keyword). Round-trips through parse_jsonld."""
    from rdf_spark.functions.serialize import serialize_jsonld

    t = _parsed_nation_triples(spark, sf_dir)
    return serialize_jsonld(t).select("subj", "value")


def q_rdf_serialize_trig(spark, sf_dir):
    """TriG dataset pretty-printer: one graph section per region graph
    of the N-Quads corpus (SURVEY.md S9 dataset form)."""
    from rdf_spark.functions.serialize import serialize_trig
    from rdf_spark.operators.parse import good_triples, parse_pages

    n = _read(spark, sf_dir, "nation")
    text = F.concat(
        F.lit("<http://ex/n"), F.col("n_nationkey").cast("string"),
        F.lit('> <http://ex/name> "'), F.col("n_name"),
        F.lit('" <http://ex/region/'), F.col("n_regionkey").cast("string"),
        F.lit("> .\n"),
    )
    pages = n.select(
        F.concat(F.lit("http://crawl.example/nq/"),
                 F.col("n_nationkey").cast("string")).alias("url"),
        F.lit("nquads").alias("format"), text.alias("text"),
    )
    quads = good_triples(parse_pages(pages))
    return serialize_trig(quads, {"ex": EX}).select("graph", "value")


def q_rdf_iri_validate(spark, sf_dir):
    """Vectorized IRI validity triage (F1) over a mix of valid IRIs and
    malformed refs synthesized from customer."""
    from rdf_spark.functions.iri import iri_is_valid

    c = _read(spark, sf_dir, "customer")
    ref = (
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.lit("http://ex/c/"), F.col("c_custkey").cast("string")))
        .when(F.col("c_custkey") % 4 == 1,
              F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")))
        .when(F.col("c_custkey") % 4 == 2,
              F.concat(F.lit("relative/path/"), F.col("c_custkey").cast("string")))
        .otherwise(F.concat(F.lit("http://ex/bad space/"),
                            F.col("c_custkey").cast("string")))
    )
    return c.select(
        F.col("c_custkey").alias("custkey"),
        ref.alias("ref"),
        iri_is_valid(ref).alias("valid"),
    )


def q_rdf_dedupe(spark, sf_dir):
    from rdf_spark.operators.canonical import canonicalize

    li = _read(spark, sf_dir, "lineitem")
    triples = li.select(
        F.concat(F.lit("http://crawl.example/order/"), F.col("l_orderkey").cast("string")).alias("url"),
        F.lit(0).cast("tinyint").alias("subj_kind"),
        F.concat(F.lit(EX + "part/"), F.col("l_partkey").cast("string")).alias("subj"),
        F.lit(EX + "shippedWith").alias("pred"),
        F.lit(0).cast("tinyint").alias("obj_kind"),
        F.concat(F.lit(EX + "supp/"), F.col("l_suppkey").cast("string")).alias("obj_lex"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
        F.lit(None).cast("string").alias("graph"),
    )
    out = canonicalize(triples)
    return out.select("subj", "obj_lex", F.col("support").cast("long").alias("support"),
                      "first_url")


def q_rdf_merge_canonical(spark, sf_dir):
    """Incremental canonical-table maintenance: canonicalize two
    batch halves independently, merge (union + one aggregate — never a
    rescan of history), and the result must equal one full-batch
    GROUP BY (the oracle). Deterministic columns only; the mergeable
    HLL source sketches are pytest-covered (test_merge_canonical)."""
    from rdf_spark.operators.canonical import canonicalize_sketched, merge_canonical

    li = _read(spark, sf_dir, "lineitem")

    def half(pred):
        rows = li.where(pred)
        return rows.select(
            F.concat(F.lit("http://crawl.example/order/"),
                     F.col("l_orderkey").cast("string")).alias("url"),
            F.lit(0).cast("tinyint").alias("subj_kind"),
            F.concat(F.lit(EX + "part/"), F.col("l_partkey").cast("string")).alias("subj"),
            F.lit(EX + "shippedWith").alias("pred"),
            F.lit(0).cast("tinyint").alias("obj_kind"),
            F.concat(F.lit(EX + "supp/"), F.col("l_suppkey").cast("string")).alias("obj_lex"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("tinyint").alias("graph_kind"),
            F.lit(None).cast("string").alias("graph"),
        )

    a = canonicalize_sketched(half(F.col("l_orderkey") % 2 == 0))
    b = canonicalize_sketched(half(F.col("l_orderkey") % 2 == 1))
    merged = merge_canonical(a, b)
    return merged.select(
        "subj", "obj_lex", F.col("support").cast("long").alias("support"),
        "first_url",
    )


def q_rdf_entity_link(spark, sf_dir):
    from rdf_spark.operators.link import link_entities

    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    triples = c.select(
        F.lit("http://crawl.example/cust").alias("url"),
        F.lit(0).cast("tinyint").alias("subj_kind"),
        F.concat(F.lit(EX + "cust/"), F.col("c_custkey").cast("string")).alias("subj"),
        F.lit(EX + "inNation").alias("pred"),
        F.lit(0).cast("tinyint").alias("obj_kind"),
        F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")).alias("obj_lex"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
        F.lit(None).cast("string").alias("graph"),
    )
    dictionary = n.select(
        F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("surface"),
        F.concat(F.lit("http://kg.example/"), F.col("n_name")).alias("canonical_iri"),
    )
    return link_entities(triples, dictionary).select("subj", F.col("obj_lex").alias("linked_obj"))


def q_rdf_predicate_histogram(spark, sf_dir):
    t = _parsed_nation_triples(spark, sf_dir)
    return t.groupBy("pred").agg(F.count(F.lit(1)).alias("n")).select("pred", "n")


def q_rdf_salted_degree(spark, sf_dir):
    """Skew-safe two-phase salted aggregate (SURVEY.md R12 skew design):
    per-predicate triple counts over the customer->nation graph; result
    provably identical to a plain GROUP BY (the oracle)."""
    from rdf_spark.operators.link import salted_count

    c = _read(spark, sf_dir, "customer")
    triples = c.select(
        F.concat(F.lit(EX + "cust/"), F.col("c_custkey").cast("string")).alias("subj"),
        # heavy skew: one hot predicate dominates
        F.when(F.col("c_custkey") % 10 == 0, F.lit(EX + "segment"))
        .otherwise(F.lit(RDF_TYPE)).alias("pred"),
    )
    return salted_count(triples, ["pred"], salts=8).select(
        "pred", F.col("cnt").cast("long").alias("cnt")
    )


def q_rdf_po_map(spark, sf_dir):
    """Per-subject predicate-object map (reference SubjectMap /
    PredicateObjectMap, turtle/doc.go:398-417) flattened to a sorted
    string for engine-portable comparison."""
    from rdf_spark.operators.graphops import predicate_object_map

    t = _parsed_nation_triples(spark, sf_dir)
    po = predicate_object_map(t)
    return po.select(
        "subj",
        F.array_join(
            F.sort_array(F.transform(
                F.col("po"), lambda x: F.concat(x["pred"], F.lit("="), x["obj_lex"])
            )),
            "|",
        ).alias("po_flat"),
    )


def q_rdf_add_remove(spark, sf_dir):
    """Insert + delete over a triple store (reference Graph.Add/Remove,
    graph.go:11-14, 41-48): add region triples, remove every nation
    whose key is divisible by 3."""
    from rdf_spark.operators.graphops import add, remove

    t = _parsed_nation_triples(spark, sf_dir)
    r = _read(spark, sf_dir, "region")
    new_triples = r.select(
        F.lit(0).cast("tinyint").alias("subj_kind"),
        F.concat(F.lit(EX + "r"), F.col("r_regionkey").cast("string")).alias("subj"),
        F.lit(EX + "name").alias("pred"),
        F.lit(2).cast("tinyint").alias("obj_kind"),
        F.col("r_name").alias("obj_lex"),
    )
    n = _read(spark, sf_dir, "nation")
    doomed = n.where(F.col("n_nationkey") % 3 == 0).select(
        F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string")).alias("subj"),
        F.lit(EX + "name").alias("pred"),
        F.col("n_name").alias("obj_lex"),
    )
    return remove(add(t, new_triples), doomed).select("subj", "pred", "obj_lex")


def q_rdf_xsd_validate(spark, sf_dir):
    """XSD datatype validation/conversion (F4/F5) over literals
    synthesized from lineitem — includes invalid lexical forms."""
    from rdf_spark.functions.datatypes import xsd_is_valid, xsd_native

    XSD = "http://www.w3.org/2001/XMLSchema#"
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    lits = li.select(
        F.concat(F.lit("lit/"), F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("l_linenumber").cast("string")).alias("lit_id"),
        # rotate datatypes; make every 7th integer invalid (decimal point)
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(XSD + "integer"))
        .when(F.col("l_linenumber") % 3 == 1, F.lit(XSD + "decimal"))
        .otherwise(F.lit(XSD + "double")).alias("dt"),
        F.when(
            (F.col("l_linenumber") % 3 == 0) & (F.col("l_orderkey") % 7 == 0),
            F.concat(F.col("l_quantity").cast("int").cast("string"), F.lit(".5")),
        ).otherwise(
            F.when(F.col("l_linenumber") % 3 == 2,
                   F.concat(F.col("l_quantity").cast("int").cast("string"),
                            F.lit("e2")))
            .otherwise(F.col("l_quantity").cast("int").cast("string"))
        ).alias("lex"),
    )
    out = lits.select(
        "lit_id", "lex",
        xsd_is_valid(F.col("lex"), F.col("dt")).alias("valid"),
        xsd_native(F.col("lex"), F.col("dt")).alias("nat"),
    )
    return out.select(
        "lit_id", "lex", "valid",
        F.coalesce(F.col("nat.int").cast("double"), F.lit(-1.0)).alias("as_int"),
        F.coalesce(F.col("nat.dec").cast("double"), F.lit(-1.0)).alias("as_dec"),
        F.coalesce(F.col("nat.dbl"), F.lit(-1.0)).alias("as_dbl"),
    )


def q_doc_subword_tokens(spark, sf_dir):
    from rdf_spark.functions.text import subword_token_count, token_count

    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        subword_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def q_emb_near_dups(spark, sf_dir):
    from rdf_spark.operators.dedup import embedding_near_dups

    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_dups(e, threshold=0.9)


def q_doc_token_stats(spark, sf_dir):
    from rdf_spark.functions.text import avg_token_len, char_count, token_count

    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        char_count(F.col("text")).cast("long").alias("n_chars_"),
        avg_token_len(F.col("text")).alias("avg_tok_len"),
    )


def q_doc_quality(spark, sf_dir):
    from rdf_spark.functions.text import punct_ratio, quality_score, stopword_hits

    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        punct_ratio(F.col("text")).alias("punct_ratio"),
        stopword_hits(F.col("text")).cast("long").alias("stop_hits"),
        quality_score(F.col("text")).alias("quality"),
    )


def q_doc_lang_id(spark, sf_dir):
    from rdf_spark.functions.text import lang_id

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_doc_fingerprint(spark, sf_dir):
    from rdf_spark.functions.text import fingerprint

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_web_url_normalize(spark, sf_dir):
    """URL canonicalization + host extraction (pure SQL expressions)
    plus PSL-backed registrable-domain extraction (vendored
    public-suffix subset, broadcast left joins) over synthesized crawl
    URLs — dedup keys, per-site caps, domain-level train/test splits.
    The oracle states the closed-form expected outputs for each
    synthesized shape (Shop.Example.co.uk -> example.co.uk under the
    PSL, NOT co.uk)."""
    from rdf_spark.functions.psl import registrable_domain_psl
    from rdf_spark.functions.web import url_host, url_normalize

    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("string")
    url = (
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.lit("HTTP://WWW.Example.COM:80/p/"), k, F.lit("#frag")))
        .when(F.col("c_custkey") % 4 == 1,
              F.concat(F.lit("https://Shop.Example.co.uk:443/item/"), k, F.lit("/")))
        .when(F.col("c_custkey") % 4 == 2,
              F.concat(F.lit("http://user:pw@Mirror.example.net:8080/x/"), k))
        .otherwise(F.concat(F.lit("mailto:someone"), k, F.lit("@example.org#sig")))
    )
    base = c.select(
        F.col("c_custkey").alias("custkey"),
        url.alias("url"),
        url_normalize(url).alias("norm"),
        url_host(url).alias("host"),
    )
    return registrable_domain_psl(base, "url", "domain")


def q_doc_pii(spark, sf_dir):
    """PII screening + redaction over synthesized contact-bearing
    text (emails from custkey, phones from c_phone)."""
    from rdf_spark.functions.text import pii_counts, redact_pii

    c = _read(spark, sf_dir, "customer")
    phone = F.concat(F.lit("+1 (555) "),
                     (F.col("c_custkey") % 9000 + 1000).cast("string"),
                     F.lit("-01"))
    text = F.concat(
        F.lit("reach user"), F.col("c_custkey").cast("string"),
        F.lit("@mail.example or call "), phone,
        F.lit(" during office hours"),
    )
    pc = pii_counts(text)
    return c.select(
        F.col("c_custkey").alias("custkey"),
        pc["n_emails"].alias("n_emails"),
        pc["n_phones"].alias("n_phones"),
        redact_pii(text).alias("redacted"),
    )


def q_doc_repetition(spark, sf_dir):
    """Intra-document repeated-3-gram ratio (Gopher-style quality
    signal); pure SQL expression."""
    from rdf_spark.functions.text import repetition_ratio

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", repetition_ratio(F.col("text")).alias("rep_ratio"))


def q_web_domain_cap(spark, sf_dir):
    """Per-registrable-domain document cap (PSL-backed): at most 25
    docs per domain, lowest ids win (deterministic). The oracle
    replays the same rank window over the closed-form domains."""
    from rdf_spark.operators.curation import cap_per_domain

    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("string")
    url = (
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.lit("http://www.example.com/p/"), k))
        .when(F.col("c_custkey") % 4 == 1,
              F.concat(F.lit("https://shop.example.co.uk/item/"), k))
        .when(F.col("c_custkey") % 4 == 2,
              F.concat(F.lit("http://a.example.co.uk/x/"), k))
        .otherwise(F.concat(F.lit("http://mirror.example.net/y/"), k))
    )
    docs = c.select(F.col("c_custkey").alias("doc_id"), url.alias("url"))
    return cap_per_domain(docs, max_docs=25, url_col="url", id_col="doc_id")


def q_doc_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling via an md5-derived uniform
    hash — reproducible across runs/engines (map-only, no RNG)."""
    from rdf_spark.operators.curation import stratified_sample

    d = _read(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.2}, default_fraction=0.1
    ).select("doc_id", "lang")


def q_doc_remove_boilerplate(spark, sf_dir):
    """CCNet-style boilerplate removal over a synthesized multi-line
    corpus: lines shared across >= 2 documents (cookie banner, footer,
    per-segment template) are dropped; unique lines keep their order."""
    from rdf_spark.operators.curation import remove_boilerplate

    c = _read(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("COOKIE NOTICE ACCEPT ALL\n"),
        F.lit("about customer "), F.col("c_custkey").cast("string"), F.lit("\n"),
        F.lit("segment "), F.col("c_mktsegment"), F.lit(" member\n"),
        F.lit("name "), F.col("c_name"), F.lit("\n"),
        F.lit("SITE FOOTER NAV"),
    )
    docs = c.select(F.col("c_custkey").alias("doc_id"), text.alias("text"))
    return remove_boilerplate(docs, min_docs=2)


def q_doc_remove_dup_spans(spark, sf_dir):
    """Cross-document duplicated-SPAN removal (Lee et al. 2022,
    doc-level-keeper variant) over the documents table: tokens covered
    by an 8-token span appearing in >= 2 distinct docs are removed
    everywhere except the smallest containing doc_id. The DuckDB
    oracle replays the identical md5-keyed span accounting and
    whitespace-normalized rebuild (dedup.py::remove_duplicated_spans)."""
    from rdf_spark.operators.dedup import remove_duplicated_spans

    d = _read(spark, sf_dir, "documents")
    return remove_duplicated_spans(d, n=8, min_df=2)


def q_web_assign_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment keyed on the PSL
    registrable domain (same synthetic URL shapes as web_domain_cap,
    so the oracle states the closed-form domains and replays the
    md5-bucket thresholds — curation.py::assign_split)."""
    from rdf_spark.operators.curation import assign_split

    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("string")
    url = (
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.lit("http://www.example.com/p/"), k))
        .when(F.col("c_custkey") % 4 == 1,
              F.concat(F.lit("https://shop.example.co.uk/item/"), k))
        .when(F.col("c_custkey") % 4 == 2,
              F.concat(F.lit("http://a.example.co.uk/x/"), k))
        .otherwise(F.concat(F.lit("http://mirror.example.net/y/"), k))
    )
    docs = c.select(F.col("c_custkey").alias("doc_id"), url.alias("url"))
    return assign_split(docs, (("train", 0.8), ("val", 0.1), ("test", 0.1)))


def q_doc_contamination(spark, sf_dir):
    """Benchmark-decontamination screen (GPT-3/PaLM n-gram overlap
    rule): every 50th document plays the eval set; training docs
    sharing >= 3 distinct casefolded 5-grams with it are flagged. The
    oracle replays the identical shingle join + per-doc count
    (curation.py::flag_contaminated)."""
    from rdf_spark.operators.curation import flag_contaminated

    d = _read(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    train = d.where(F.col("doc_id") % 50 != 0)
    return flag_contaminated(train, bench, n=5, min_shared=3)


def q_doc_filter_verdicts(spark, sf_dir):
    """Reason-coded curation filter (first failing rule wins):
    too_short > high_repetition > low_quality > ok."""
    from rdf_spark.operators.curation import filter_verdicts

    d = _read(spark, sf_dir, "documents")
    return filter_verdicts(d, min_tokens=20, max_repetition=0.5,
                           min_quality=0.1)


def q_doc_pack_sequences(spark, sf_dir):
    """Deterministic greedy token-budget packing: hash buckets scanned
    in doc_id order; the oracle replays the same greedy walk with a
    recursive CTE."""
    from rdf_spark.operators.curation import pack_sequences

    d = _read(spark, sf_dir, "documents")
    return pack_sequences(d, max_tokens=1024, buckets=16).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("int").alias("bucket"), "seq_id", "seq_offset",
    )


def q_doc_exact_dedup(spark, sf_dir):
    from rdf_spark.operators.dedup import exact_dedup_groups

    d = _read(spark, sf_dir, "documents")
    g = exact_dedup_groups(d)
    return g.select(
        "content_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.array_join(F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ",").alias("doc_ids"),
    )


def q_doc_minhash(spark, sf_dir):
    from rdf_spark.operators.dedup import minhash_signatures, shingles

    d = _read(spark, sf_dir, "documents")
    return minhash_signatures(shingles(d, n=3), num_hashes=4).select(
        "doc_id", "mh_0", "mh_1", "mh_2", "mh_3"
    )


def q_doc_minhash_lsh_pairs(spark, sf_dir):
    from rdf_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingles(d, n=3), num_hashes=4)
    return lsh_candidate_pairs(sigs, num_hashes=4, band_size=2)


def q_doc_ngram_jaccard(spark, sf_dir):
    from rdf_spark.operators.dedup import jaccard_pairs, shingles

    d = _read(spark, sf_dir, "documents")
    return jaccard_pairs(shingles(d, n=3), threshold=0.5)


def q_doc_lsh_jaccard(spark, sf_dir):
    """The production near-dedup verification chain: MinHash-LSH
    candidate pairs, then EXACT n-gram Jaccard computed only for the
    candidates (jaccard_pairs semi-joins the shingle table to the
    candidate doc ids before its self-join; the final inner join to
    the pair set is the authoritative restriction the oracle
    replays)."""
    from rdf_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    d = _read(spark, sf_dir, "documents")
    sh = shingles(d, n=3)
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes=4), num_hashes=4, band_size=2
    )
    return jaccard_pairs(sh, threshold=0.3, candidates=cands)


def q_doc_dup_clusters(spark, sf_dir):
    """Connected components over the MinHash-LSH candidate graph:
    (doc_id, cluster_id=min reachable doc_id) — the final step of
    near-dup dedup (pick one representative per cluster)."""
    from rdf_spark.operators.dedup import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingles(d, n=3), num_hashes=4)
    pairs = lsh_candidate_pairs(sigs, num_hashes=4, band_size=2)
    return dup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_emb_topk_cosine(spark, sf_dir):
    from rdf_spark.operators.ann import brute_force_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return brute_force_topk(e, q, k=3).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q_emb_ivf_topk(spark, sf_dir):
    from rdf_spark.operators.ann import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return ivf_topk(e, q, k=3).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q_evt_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) over the
    events stream, batch form — one shuffle on the user key."""
    from rdf_spark.streaming.sessions import session_summaries

    e = _read(spark, sf_dir, "events")
    return session_summaries(e, gap_minutes=30)


def q_evt_hourly(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_tpch_q1_like(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_mm_features(spark, sf_dir):
    from rdf_spark.operators.multimodal import extract_features

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    return extract_features(media).select(
        "media_id", "byte_len", "content_sha", "feature"
    )


def q_mm_decode_resize(spark, sf_dir):
    """Image decode (stubbed codec, real Arrow plumbing) -> nearest-
    neighbor resize 8x8 -> 4x4. The pixel stub is deterministic
    (sha256(content) bytes tiled to w*h*3), so the DuckDB oracle can
    replay decode + nearest-neighbor index mapping in hex-string space
    and the exact output bytes are contract-checked (pixels_hex)."""
    from rdf_spark.operators.multimodal import decode_images, resize_images

    d = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit("image/png").alias("mime"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    out = resize_images(decode_images(media), 4, 4)
    return out.select("media_id", "width", "height", "channels",
                      F.hex(F.col("pixels")).alias("pixels_hex"))


def q_mm_frame_plan(spark, sf_dir):
    """Video frame-sampling plan: pure SQL fan-out (sequence+explode)
    of per-video frame timestamps; null/zero durations yield exactly
    one frame at t=0. The decode of each frame is the stubbed step —
    the distribution of work is the real, oracled part."""
    from rdf_spark.operators.multimodal import frame_sample_plan

    c = _read(spark, sf_dir, "customer")
    dur = F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("int")) \
        .otherwise(((F.col("c_custkey") % 7) * 800).cast("int"))
    media = c.select(
        F.col("c_custkey").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        dur.alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


def q_doc_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (banded Hamming candidates). The md5
    bit-vote construction is engine-portable; the DuckDB oracle
    recomputes the identical signature from hex nibbles."""
    from rdf_spark.operators.dedup import simhash, simhash_near_dups

    d = _read(spark, sf_dir, "documents")
    return simhash_near_dups(simhash(d), max_hamming=8)


def q_emb_ivf_kmeans_topk(spark, sf_dir):
    """Full IVF with deterministic k-means coarse quantizer (rows-only:
    Lloyd iterations are not SQL-expressible; recall vs the
    brute-force oracle is asserted in tests/pipeline/test_kmeans_ivf)."""
    from rdf_spark.operators.ann import ivf_kmeans_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return ivf_kmeans_topk(e, q, k=3, nlist=4, iters=2)


def q_emb_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN. The md5-derived hyperplane weights
    are engine-portable, so the DuckDB oracle recomputes the identical
    signatures and bucket join."""
    from rdf_spark.operators.ann import lsh_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return lsh_topk(e, q, k=3, planes=4).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q_emb_lsh_topk_probe2(spark, sf_dir):
    """Margin-ranked multi-probe LSH at nprobe=2: each query searches
    its exact bucket PLUS the bucket across its closest hyperplane
    (smallest |dot(v, w_plane)|, plane-index tie-break) — the first
    perturbation of true multi-probe. At nprobe=2 the best
    perturbation set is provably the singleton flip of the
    smallest-margin plane, so the DuckDB oracle can replay it as an
    argmin + one-bit flip over the same md5-derived hyperplanes
    (ann.py::_margin_probes)."""
    from rdf_spark.operators.ann import lsh_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return lsh_topk(e, q, k=3, planes=4, nprobe=2).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q_emb_lsh_near_dups(spark, sf_dir):
    """LSH-bucketed embedding near-dup PAIRS (the pair-generation
    scale path; within-bucket exact cosine). The md5-derived
    hyperplanes are engine-portable, so the oracle recomputes the
    identical signatures and the same within-bucket join."""
    from rdf_spark.operators.dedup import embedding_near_dups_lsh

    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_dups_lsh(e, threshold=0.35, planes=4)


def q_kg_pipeline(spark, sf_dir):
    """Full KG construction over synthesized pages: parse -> skolemize
    -> link -> canonical dedupe. Oracle-checked end-to-end on the
    deterministic canonical columns (approx_sources is an HLL estimate
    and engine-specific, so it is excluded from the contract)."""
    from rdf_spark.plans.pipeline import build_triples

    pages = _nation_turtle(spark, sf_dir)
    n = _read(spark, sf_dir, "nation")
    dictionary = n.select(
        F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")).alias("surface"),
        F.concat(F.lit("http://kg.example/region/"), F.col("n_regionkey").cast("string")).alias("canonical_iri"),
    )
    return build_triples(pages, dictionary, from_html=False).select(
        "subj", "pred", "obj_lex",
        F.col("support").cast("long").alias("support"), "first_url",
    )


def q_kg_streaming(spark, sf_dir):
    """Structured Streaming ingest (file source -> stateless parse/
    skolemize -> exactly-once file sink, trigger=availableNow) over the
    nation Turtle corpus. The streamed result must equal the batch
    parse — checked by the same SQL oracle."""
    import os
    import shutil
    import tempfile

    from rdf_spark.streaming.ingest import ingest_available

    base = os.path.join(
        tempfile.gettempdir(), "rdf_spark_stream_q",
        sf_dir.strip("/").replace("/", "_"),
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    _nation_turtle(spark, sf_dir).write.mode("overwrite").parquet(in_dir)
    ingest_available(spark, in_dir, out_dir, ckpt, from_html=False)
    t = spark.read.parquet(out_dir)
    return t.where(F.col("error").isNull()).select("subj", "pred", "obj_lex")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_kg_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order is the driver's evaluation order and the driver
    checks at most the FIRST 50 entries, so the high-value queries
    (flagship pipeline, streaming/sessionization, the dedup/ANN/
    curation families) come first; the tail past 50 holds entries whose
    operator is redundantly exercised earlier (rdf_merge_canonical's
    oracle is byte-identical to rdf_dedupe's; the pretty-printer
    variants all sit on the serializer checked by rdf_serialize and
    the round-trip tests) plus the genuinely rows-only k-means IVF.
    Every entry — head and tail — is still oracle-checked locally by
    tests/pipeline/test_entry_contract.py, which parametrizes all of
    them."""
    return {
        # flagship + previously-uncovered hard rows first
        "kg_pipeline": q_kg_pipeline,
        "evt_sessions": q_evt_sessions,
        "evt_hourly": q_evt_hourly,
        "mm_features": q_mm_features,
        "mm_decode_resize": q_mm_decode_resize,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "emb_lsh_topk": q_emb_lsh_topk,
        "kg_streaming": q_kg_streaming,
        # rotated into the head in round 4 (never driver-checked before;
        # their demoted counterparts are double-green in r02+r03)
        "web_domain_cap": q_web_domain_cap,
        "mm_frame_plan": q_mm_frame_plan,
        "doc_lsh_jaccard": q_doc_lsh_jaccard,
        "emb_lsh_near_dups": q_emb_lsh_near_dups,
        # round-4 margin-ranked multi-probe under the hard gate
        # (nprobe=2 is SQL-replayable: argmin-margin single flip)
        "emb_lsh_topk_probe2": q_emb_lsh_topk_probe2,
        # round-4 ops promoted for hard driver rows (decontamination
        # screen + leakage-safe split assignment)
        "doc_contamination": q_doc_contamination,
        "web_assign_split": q_web_assign_split,
        # round-4 graph analytics/integrity family (operators/
        # graphalgo.py) — never driver-checked, promoted on landing;
        # their slots come from triple-green rows (rdf_parse_star,
        # rdf_iri_validate, rdf_xsd_validate, doc_minhash — green in
        # r1+r2+r3, still locally oracled by test_entry_contract)
        "kg_pagerank": q_kg_pagerank,
        "kg_reachability": q_kg_reachability,
        "kg_graph_diff": q_kg_graph_diff,
        "kg_dangling_refs": q_kg_dangling_refs,
        # round-4 SHACL-lite shape validation (construction-side QA);
        # its head-50 slot comes from tpch_q1_like (green r1+r3,
        # not a KG operator, still locally oracled in the tail)
        "kg_shacl": q_kg_shacl,
        # round-4 ontology reasoning (operators/infer.py): RDFS
        # materialization + owl:sameAs smushing; their head-50 slots
        # come from doc_quality and rdf_triple_pattern (triple-green
        # r1+r2+r3, still locally oracled in the tail)
        "kg_rdfs_infer": q_kg_rdfs_infer,
        "kg_sameas_rewrite": q_kg_sameas_rewrite,
        # round-4 SPARQL front-end (operators/sparql.py); the head-50
        # slots come from emb_ivf_topk and web_url_normalize (green
        # r3 / triple-green, tail below)
        "kg_sparql_select": q_kg_sparql_select,
        # late-round-4 SPARQL algebra (subquery + EXISTS + MINUS); its
        # head-50 slot comes from emb_topk_cosine (green r3, the
        # declared exact crossJoin baseline — tail below, still
        # locally oracled by test_entry_contract)
        "kg_sparql_analytics": q_kg_sparql_analytics,
        # late-round-4 SPARQL UPDATE hard gate; slot from
        # rdf_parse_star_nq (green r3 + the full 85/85 W3C NQ and
        # RDF-star conformance suites — tail below)
        "kg_sparql_update": q_kg_sparql_update,
        "kg_construct_transform": q_kg_construct_transform,
        # parsing (embedded-RDF extraction; turtle demoted to tail r5)
        # new-in-round-4 RDF/XML-lite source; slot from
        # rdf_parse_rdfa (triple-green r1+r2+r3, tail below)
        "rdf_parse_rdfxml": q_rdf_parse_rdfxml,
        # round-5 rotation: the last three never-driver-checked
        # entries (landed late in round 4) promoted for hard rows;
        # their slots come from rdf_parse_ntriples /
        # rdf_parse_microdata (green r1+r2+r3+r4, NT also 68/68
        # W3C) and rdf_khop (green r2+r3+r4) — all demoted to the
        # tail, still locally oracled by test_entry_contract
        "rdf_serialize_rdfxml": q_rdf_serialize_rdfxml,
        "kg_pg_nodes": q_kg_pg_nodes,
        "kg_pg_edges": q_kg_pg_edges,
        # round-5 features promoted on landing for hard driver rows:
        # property paths inside GRAPH (graph-variable form) and the
        # JSON-LD @list chain; their slots come from rdf_parse_turtle
        # (green r1+r2+r3+r4 AND the 290/290 W3C suite + byte-exact
        # eval parity) and rdf_dedupe (green r1-r4; the canonical
        # aggregate also gates kg_pipeline and rdf_merge_canonical) —
        # both demoted to the tail, still locally oracled by
        # test_entry_contract
        "kg_sparql_graph_path": q_kg_sparql_graph_path,
        "rdf_parse_jsonld_list": q_rdf_parse_jsonld_list,
        "web_page_metadata": q_web_page_metadata,
        # graph ops
        "rdf_bgp_match": q_rdf_bgp_match,
        "rdf_skolemize": q_rdf_skolemize,
        "rdf_serialize": q_rdf_serialize,
        "rdf_entity_link": q_rdf_entity_link,
        # training-data / curation
        # round-4 operator: cross-doc duplicated-span removal
        "doc_remove_dup_spans": q_doc_remove_dup_spans,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_minhash_lsh_pairs": q_doc_minhash_lsh_pairs,
        # end-of-round-4 rotation: the remaining never-driver-checked
        # round-4 ops promoted for hard rows (fusion, property paths,
        # profile, components, apply_diff, GROUP_CONCAT); their slots
        # come from triple/double-green rows demoted to the tail —
        # rdf_parse_nquads/jsonld/trig (suite-covered 85/85, 335/335 +
        # r1+r2+r3 green), doc_pii/stratified_sample/
        # remove_boilerplate/filter_verdicts/pack_sequences (r2+r3),
        # doc_ngram_jaccard/doc_dup_clusters (r1+r2+r3; the jaccard
        # chain keeps doc_lsh_jaccard and the pointer-doubling kernel
        # keeps kg_components in the head)
        "kg_apply_diff": q_kg_apply_diff,
        "kg_fuse_latest": q_kg_fuse_latest,
        "kg_fuse_majority": q_kg_fuse_majority,
        "kg_fuzzy_link": q_kg_fuzzy_link,
        "rdf_path_coregion": q_rdf_path_coregion,
        "rdf_path_star": q_rdf_path_star,
        "rdf_bgp_path": q_rdf_bgp_path,
        "kg_profile": q_kg_profile,
        "kg_components": q_kg_components,
        "kg_sparql_groupconcat": q_kg_sparql_groupconcat,
        # --- 50-entry driver cap ends here; tail entries below are
        # redundant with earlier rows, rows-only, or double-green in
        # r02+r03 driver records (rotated out in round 4:
        # token_stats/lang_id/fingerprint/predicate_histogram, plus
        # emb_near_dups (vacuous 0-row sf0.01 match),
        # doc_subword_tokens, rdf_salted_degree and doc_repetition
        # (all double/triple-green) whose slots went to the new
        # emb_lsh_topk_probe2 / doc_remove_dup_spans /
        # doc_contamination / web_assign_split rows), and stay
        # covered by the local contract tests ---
        "emb_topk_cosine": q_emb_topk_cosine,
        "rdf_parse_turtle": q_rdf_parse_turtle,
        "rdf_dedupe": q_rdf_dedupe,
        "rdf_parse_rdfa": q_rdf_parse_rdfa,
        "rdf_parse_nquads": q_rdf_parse_nquads,
        "rdf_parse_jsonld": q_rdf_parse_jsonld,
        "rdf_parse_trig": q_rdf_parse_trig,
        "doc_pii": q_doc_pii,
        "doc_stratified_sample": q_doc_stratified_sample,
        "doc_remove_boilerplate": q_doc_remove_boilerplate,
        "doc_filter_verdicts": q_doc_filter_verdicts,
        "doc_pack_sequences": q_doc_pack_sequences,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_dup_clusters": q_doc_dup_clusters,
        "tpch_q1_like": q_tpch_q1_like,
        "web_url_normalize": q_web_url_normalize,
        "emb_ivf_topk": q_emb_ivf_topk,
        "doc_quality": q_doc_quality,
        "rdf_triple_pattern": q_rdf_triple_pattern,
        "rdf_parse_star": q_rdf_parse_star,
        "rdf_parse_star_nq": q_rdf_parse_star_nq,
        "rdf_iri_validate": q_rdf_iri_validate,
        "rdf_xsd_validate": q_rdf_xsd_validate,
        "doc_minhash": q_doc_minhash,
        "rdf_salted_degree": q_rdf_salted_degree,
        "doc_repetition": q_doc_repetition,
        "emb_near_dups": q_emb_near_dups,
        "doc_subword_tokens": q_doc_subword_tokens,
        "doc_token_stats": q_doc_token_stats,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "rdf_predicate_histogram": q_rdf_predicate_histogram,
        "rdf_group_by_graph": q_rdf_group_by_graph,
        "rdf_parse_ntriples": q_rdf_parse_ntriples,
        "rdf_parse_microdata": q_rdf_parse_microdata,
        "rdf_khop": q_rdf_khop,
        "rdf_serialize_turtle": q_rdf_serialize_turtle,
        "rdf_serialize_turtle_nested": q_rdf_serialize_turtle_nested,
        "rdf_serialize_jsonld": q_rdf_serialize_jsonld,
        "rdf_serialize_trig": q_rdf_serialize_trig,
        "rdf_merge_canonical": q_rdf_merge_canonical,
        "rdf_po_map": q_rdf_po_map,
        "rdf_add_remove": q_rdf_add_remove,
        "emb_ivf_kmeans_topk": q_emb_ivf_kmeans_topk,
    }


# shared by the emb_lsh_* oracles: recompute the random-hyperplane
# signatures in SQL — hyperplane weight w[p][j] = (int(md5(p|'|'|j)
# [:8 hex]) % 2001 - 1000)/1000, sign of the dot product per plane
_EMB_LSH_SIGS_CTE = r"""
    WITH dims AS (
        SELECT unnest(range((SELECT max(len(embedding))
                             FROM embeddings))) AS j
    ), w AS (
        SELECT pl.plane, dims.j,
               ((CAST(list_sum(list_transform(range(8), i ->
                   (strpos('0123456789abcdef',
                           substr(md5(pl.plane || '|' || dims.j),
                                  i + 1, 1)) - 1)
                   * power(16, 7 - i))) AS BIGINT)) % 2001 - 1000)
               / 1000.0 AS wt
        FROM (SELECT unnest(range(4)) AS plane) pl, dims
    ), vecdims AS (
        SELECT vec_id, s.j - 1 AS j, embedding[s.j] AS val
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS s(j)
    ), dots AS (
        SELECT v.vec_id, w.plane, sum(v.val * w.wt) AS dot
        FROM vecdims v JOIN w ON w.j = v.j
        GROUP BY 1, 2
    ), sigs AS (
        -- start from embeddings (not dots) so empty vectors keep a
        -- defined all-'0' signature, matching _hyperplane_sign's
        -- empty-vector guard on the Spark side (ann.py::_hyperplane_dot)
        SELECT e.vec_id, e.embedding,
               string_agg(CASE WHEN len(e.embedding) = 0 THEN '0'
                               WHEN coalesce(d.dot, 0) >= 0 THEN '1'
                               ELSE '0' END,
                          '' ORDER BY pl.plane) AS bucket
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(4)) AS plane) pl
        LEFT JOIN dots d ON d.vec_id = e.vec_id AND d.plane = pl.plane
        GROUP BY e.vec_id, e.embedding
    )
"""


# hex-char runs for the mm_decode_resize oracle: one 3-byte pixel at
# source offset (y*8 + x)*3 for each sampled row y / col x in {0,2,4,6}
_MM_RESIZE_PARTS = " || ".join(
    f"substr(hexpx, {(y * 8 + x) * 3 * 2 + 1}, 6)"
    for y in (0, 2, 4, 6)
    for x in (0, 2, 4, 6)
)


_SHINGLES_CTE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i:i+2], ' ') AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3
    )
"""


def oracle_sql() -> dict[str, str]:
    return {
        "rdf_parse_ntriples": """
            SELECT 'http://ex/n' || n_nationkey AS subj, 'http://ex/name' AS pred,
                   n_name AS obj_lex FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                   'http://ex/r' || n_regionkey FROM nation
        """,
        "rdf_parse_turtle": _NATION_TRIPLES_ORACLE,
        "rdf_parse_nquads": """
            SELECT 'http://ex/n' || n_nationkey AS subj, 'http://ex/name' AS pred,
                   n_name AS obj_lex, 'http://ex/region/' || n_regionkey AS graph
            FROM nation
        """,
        "rdf_parse_jsonld": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj, '{RDF_TYPE}' AS pred,
                   'http://ex/Nation' AS obj_lex FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/name', n_name FROM nation
        """,
        "rdf_parse_star": """
            SELECT 3 AS subj_kind,
                   '<< <http://ex/n' || n_nationkey || '> <http://ex/name> "' ||
                   n_name || '" >>' AS subj,
                   'http://ex/saidBy' AS pred, 'http://ex/crawler' AS obj_lex
            FROM nation
        """,
        "rdf_parse_trig": """
            SELECT 'http://ex/n' || n_nationkey AS subj, 'http://ex/name' AS pred,
                   n_name AS obj_lex, 'http://ex/g' || n_regionkey AS graph
            FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                   'http://ex/r' || n_regionkey, 'http://ex/g' || n_regionkey
            FROM nation
        """,
        "rdf_parse_star_nq": """
            SELECT 3 AS subj_kind,
                   '<< <http://ex/n' || n_nationkey || '> <http://ex/name> "' ||
                   n_name || '" >>' AS subj,
                   'http://ex/saidBy' AS pred, 'http://ex/crawler' AS obj_lex,
                   'http://ex/g' || n_regionkey AS graph
            FROM nation
        """,
        "rdf_parse_microdata": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj, '{RDF_TYPE}' AS pred,
                   'http://schema.org/Country' AS obj_lex FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://schema.org/name', n_name
            FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://schema.org/containedInPlace',
                   'http://ex/r' || n_regionkey FROM nation
        """,
        "rdf_parse_rdfa": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj, '{RDF_TYPE}' AS pred,
                   'http://schema.org/Country' AS obj_lex FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://schema.org/name', n_name
            FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://schema.org/containedInPlace',
                   'http://ex/r' || n_regionkey FROM nation
        """,
        "rdf_triple_pattern": """
            SELECT 'http://ex/n' || n_nationkey AS subj, n_name AS obj_lex FROM nation
        """,
        "web_page_metadata": """
            SELECT 'http://crawl.example/meta/' || n_nationkey AS url,
                   'Nation ' || n_name AS title,
                   'About ' || n_name AS description,
                   'http://crawl.example/n/' || n_nationkey AS canonical,
                   'en' AS html_lang
            FROM nation
        """,
        "rdf_bgp_match": """
            SELECT 'http://ex/n' || n_nationkey AS n,
                   'http://ex/r' || n_regionkey AS r,
                   n_name AS name
            FROM nation
        """,
        "rdf_khop": """
            SELECT 'http://ex/n' || n_nationkey AS entity, CAST(0 AS INT) AS hops
            FROM nation WHERE n_nationkey % 5 = 0
            UNION
            SELECT DISTINCT 'http://ex/r' || n_regionkey, 1
            FROM nation WHERE n_nationkey % 5 = 0
            UNION
            SELECT DISTINCT 'http://ex/Nation', 1
            FROM nation WHERE n_nationkey % 5 = 0
        """,
        # 3 unrolled power iterations, bit-compatible with the Spark
        # side: all constants forced to DOUBLE (DuckDB would otherwise
        # compute 1 - 0.85 in exact DECIMAL, one ulp away from the
        # Python double literal), dangling mass redistributed per
        # round, final rank rounded to 6 places on both sides
        "kg_pagerank": """
            WITH e AS (
                SELECT 'http://ex/c' || c_custkey AS src,
                       'http://ex/n' || c_nationkey AS dst FROM customer
                UNION ALL
                SELECT 'http://ex/s' || s_suppkey,
                       'http://ex/n' || s_nationkey FROM supplier
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey,
                       'http://ex/r' || n_regionkey FROM nation
            ), v AS (
                SELECT src AS node FROM e UNION SELECT dst FROM e
            ), nn AS (
                SELECT CAST(count(*) AS DOUBLE) AS n FROM v
            ), deg AS (
                SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
                FROM e GROUP BY 1
            ), r0 AS (
                SELECT v.node, deg.deg, CAST(1.0 AS DOUBLE) / nn.n AS pr
                FROM v LEFT JOIN deg USING (node) CROSS JOIN nn
            ), d1 AS (
                SELECT coalesce(sum(pr), 0) AS dang FROM r0 WHERE deg IS NULL
            ), c1 AS (
                SELECT e.dst AS node, sum(r.pr / r.deg) AS c
                FROM e JOIN r0 r ON r.node = e.src GROUP BY 1
            ), r1 AS (
                SELECT r.node, r.deg,
                       (1 - CAST(0.85 AS DOUBLE)) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * (coalesce(c1.c, 0) + d1.dang / nn.n) AS pr
                FROM r0 r LEFT JOIN c1 USING (node)
                CROSS JOIN nn CROSS JOIN d1
            ), d2 AS (
                SELECT coalesce(sum(pr), 0) AS dang FROM r1 WHERE deg IS NULL
            ), c2 AS (
                SELECT e.dst AS node, sum(r.pr / r.deg) AS c
                FROM e JOIN r1 r ON r.node = e.src GROUP BY 1
            ), r2 AS (
                SELECT r.node, r.deg,
                       (1 - CAST(0.85 AS DOUBLE)) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * (coalesce(c2.c, 0) + d2.dang / nn.n) AS pr
                FROM r1 r LEFT JOIN c2 USING (node)
                CROSS JOIN nn CROSS JOIN d2
            ), d3 AS (
                SELECT coalesce(sum(pr), 0) AS dang FROM r2 WHERE deg IS NULL
            ), c3 AS (
                SELECT e.dst AS node, sum(r.pr / r.deg) AS c
                FROM e JOIN r2 r ON r.node = e.src GROUP BY 1
            ), r3 AS (
                SELECT r.node, r.deg,
                       (1 - CAST(0.85 AS DOUBLE)) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * (coalesce(c3.c, 0) + d3.dang / nn.n) AS pr
                FROM r2 r LEFT JOIN c3 USING (node)
                CROSS JOIN nn CROSS JOIN d3
            )
            SELECT node, round(pr, 6) AS "rank" FROM r3
        """,
        "kg_reachability": """
            WITH RECURSIVE e AS (
                SELECT 'http://ex/o' || o_orderkey AS src,
                       'http://ex/c' || o_custkey AS dst
                FROM orders WHERE o_orderkey % 32 = 0
                UNION ALL
                SELECT 'http://ex/c' || c_custkey,
                       'http://ex/n' || c_nationkey FROM customer
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey,
                       'http://ex/r' || n_regionkey FROM nation
            ), r AS (
                SELECT src, dst FROM e
                UNION
                SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
            )
            SELECT src, dst FROM r
        """,
        "kg_graph_diff": f"""
            WITH old AS (
                {_NATION_TRIPLES_ORACLE}
            ), new AS (
                SELECT 'http://ex/n' || n_nationkey AS subj,
                       '{RDF_TYPE}' AS pred, 'http://ex/Nation' AS obj_lex
                FROM nation WHERE n_nationkey % 7 <> 0
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey, 'http://ex/name',
                       CASE WHEN n_nationkey % 5 = 0 THEN lower(n_name)
                            ELSE n_name END
                FROM nation WHERE n_nationkey % 7 <> 0
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                       'http://ex/r' || n_regionkey
                FROM nation WHERE n_nationkey % 7 <> 0
            )
            SELECT subj, pred, obj_lex, 'added' AS change
            FROM (SELECT * FROM new EXCEPT SELECT * FROM old)
            UNION ALL
            SELECT subj, pred, obj_lex, 'removed'
            FROM (SELECT * FROM old EXCEPT SELECT * FROM new)
        """,
        # the apply_diff roundtrip must land exactly on the new
        # snapshot, so the oracle IS the new snapshot
        "kg_apply_diff": f"""
            SELECT DISTINCT * FROM (
                SELECT 'http://ex/n' || n_nationkey AS subj,
                       '{RDF_TYPE}' AS pred, 'http://ex/Nation' AS obj_lex
                FROM nation WHERE n_nationkey % 7 <> 0
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey, 'http://ex/name',
                       CASE WHEN n_nationkey % 5 = 0 THEN lower(n_name)
                            ELSE n_name END
                FROM nation WHERE n_nationkey % 7 <> 0
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                       'http://ex/r' || n_regionkey
                FROM nation WHERE n_nationkey % 7 <> 0
            )
        """,
        "kg_fuse_latest": """
            WITH t AS (
                SELECT 'http://ex/c' || o_custkey AS subj,
                       'http://ex/lastStatus' AS pred,
                       o_orderstatus AS obj_lex, o_orderdate AS ts
                FROM orders
            ), r AS (
                SELECT subj, pred, obj_lex,
                       row_number() OVER (
                           PARTITION BY subj, pred
                           ORDER BY ts DESC, obj_lex ASC) AS rn
                FROM t
            )
            SELECT subj, pred, obj_lex FROM r WHERE rn = 1
        """,
        "kg_fuse_majority": """
            WITH t AS (
                SELECT 'http://ex/n' || n_nationkey AS subj,
                       'http://ex/name' AS pred,
                       CASE WHEN c_custkey % 3 = 0 THEN lower(n_name)
                            ELSE n_name END AS obj_lex
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), c AS (
                SELECT subj, pred, obj_lex,
                       CAST(count(*) AS BIGINT) AS support
                FROM t GROUP BY 1, 2, 3
            ), r AS (
                SELECT *, row_number() OVER (
                           PARTITION BY subj, pred
                           ORDER BY support DESC, obj_lex ASC) AS rn
                FROM c
            )
            SELECT subj, pred, obj_lex, support FROM r WHERE rn = 1
        """,
        # replicates fuzzy_link's documented blocking contract exactly:
        # first-char block + length band, case-insensitive levenshtein,
        # best match per DISTINCT mention, ties to min surface
        "kg_fuzzy_link": """
            WITH m AS (
                SELECT DISTINCT
                       CASE WHEN c_custkey % 7 = 0 THEN n_name || 'x'
                            WHEN c_custkey % 11 = 0 THEN lower(n_name)
                            ELSE n_name END AS mention
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), d AS (
                SELECT n_name AS s,
                       'http://ex/n' || n_nationkey AS iri
                FROM nation
            ), cand AS (
                SELECT m.mention, d.iri, d.s,
                       levenshtein(lower(m.mention), lower(d.s)) AS dist
                FROM m JOIN d
                  ON substr(lower(m.mention), 1, 1) = substr(lower(d.s), 1, 1)
                WHERE abs(length(m.mention) - length(d.s)) <= 2
                  AND levenshtein(lower(m.mention), lower(d.s)) <= 2
            ), r AS (
                SELECT mention, iri AS canonical_iri,
                       CAST(dist AS INT) AS dist,
                       row_number() OVER (
                           PARTITION BY mention
                           ORDER BY dist ASC, s ASC) AS rn
                FROM cand
            )
            SELECT mention, canonical_iri, dist FROM r WHERE rn = 1
        """,
        "rdf_path_coregion": """
            SELECT DISTINCT 'http://ex/n' || a.n_nationkey AS src,
                            'http://ex/n' || b.n_nationkey AS dst
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey
        """,
        # star = identity over every term in the triple table UNION the
        # in-closure (chain depth is exactly 2 here, so in UNION in∘in
        # is the full closure); then one memberOf step
        "rdf_path_star": """
            WITH inedges AS (
                SELECT 'http://ex/o' || o_orderkey AS src,
                       'http://ex/c' || o_custkey AS dst
                FROM orders WHERE o_orderkey % 32 = 0
                UNION ALL
                SELECT 'http://ex/c' || c_custkey,
                       'http://ex/n' || c_nationkey FROM customer
            ), member AS (
                SELECT 'http://ex/n' || n_nationkey AS src,
                       'http://ex/r' || n_regionkey AS dst FROM nation
            ), star AS (
                SELECT src, dst FROM inedges
                UNION
                SELECT a.src, b.dst
                FROM inedges a JOIN inedges b ON a.dst = b.src
                UNION
                SELECT n, n FROM (
                    SELECT src AS n FROM inedges
                    UNION SELECT dst FROM inedges
                    UNION SELECT src FROM member
                    UNION SELECT dst FROM member
                )
            )
            SELECT DISTINCT s.src, m.dst
            FROM star s JOIN member m ON s.dst = m.src
        """,
        "kg_components": """
            WITH RECURSIVE e AS (
                SELECT 'http://ex/c' || c_custkey AS a,
                       'http://ex/n' || c_nationkey AS b
                FROM customer WHERE c_custkey % 16 = 0
                UNION ALL
                SELECT 'http://ex/n' || n_nationkey,
                       'http://ex/r' || n_regionkey FROM nation
            ), u AS (
                SELECT a, b FROM e UNION SELECT b, a FROM e
            ), r AS (
                SELECT a AS node, a AS reach FROM u
                UNION
                SELECT r.node, u.b FROM r JOIN u ON r.reach = u.a
            )
            SELECT node, min(reach) AS component FROM r GROUP BY 1
        """,
        "rdf_bgp_path": """
            WITH inedges AS (
                SELECT 'http://ex/o' || o_orderkey AS src,
                       'http://ex/c' || o_custkey AS dst
                FROM orders WHERE o_orderkey % 32 = 0
                UNION ALL
                SELECT 'http://ex/c' || c_custkey,
                       'http://ex/n' || c_nationkey FROM customer
            ), closure AS (
                -- chain depth is exactly 2, so in UNION in∘in is the
                -- full + closure
                SELECT src, dst FROM inedges
                UNION
                SELECT a.src, b.dst
                FROM inedges a JOIN inedges b ON a.dst = b.src
            ), member AS (
                SELECT 'http://ex/n' || n_nationkey AS src,
                       'http://ex/r' || n_regionkey AS dst FROM nation
            )
            SELECT DISTINCT c.src AS x, c.dst AS n, m.dst AS r
            FROM closure c JOIN member m ON c.dst = m.src
        """,
        "kg_profile": f"""
            SELECT '{RDF_TYPE}' AS pred,
                   CAST(count(*) AS BIGINT) AS n_triples,
                   CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_subjects,
                   CAST(1 AS BIGINT) AS n_objects,
                   CAST(count(*) AS BIGINT) AS n_iri_objects,
                   CAST(0 AS BIGINT) AS n_literal_objects
            FROM nation
            UNION ALL
            SELECT 'http://ex/name', CAST(count(*) AS BIGINT),
                   CAST(count(DISTINCT n_nationkey) AS BIGINT),
                   CAST(count(DISTINCT n_name) AS BIGINT),
                   CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
            FROM nation
            UNION ALL
            SELECT 'http://ex/inRegion', CAST(count(*) AS BIGINT),
                   CAST(count(DISTINCT n_nationkey) AS BIGINT),
                   CAST(count(DISTINCT n_regionkey) AS BIGINT),
                   CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
            FROM nation
        """,
        "kg_dangling_refs": """
            WITH refs AS (
                SELECT 'http://ex/Nation' AS iri FROM nation
                UNION ALL
                SELECT 'http://ex/r' || n_regionkey FROM nation
            )
            SELECT iri, CAST(count(*) AS BIGINT) AS n_refs
            FROM refs GROUP BY 1
        """,
        # kg_rdfs_infer replays each RDFS rule's output from the
        # corpus generation rules: asserted nation triples + 5 schema
        # triples, rdfs11 (Nation<Resource), rdfs7 (locatedIn),
        # rdfs2 via the derived predicate (type Place), rdfs3
        # (regions typed), rdfs9 (type Place/Resource lift)
        "kg_rdfs_infer": f"""
            WITH n AS (SELECT n_nationkey AS k, n_name AS name,
                              n_regionkey AS r FROM nation),
                 rg AS (SELECT DISTINCT n_regionkey AS r FROM nation)
            SELECT 'http://ex/n' || k AS subj, '{RDF_TYPE}' AS pred,
                   'http://ex/Nation' AS obj_lex FROM n
            UNION ALL SELECT 'http://ex/n' || k, 'http://ex/name', name FROM n
            UNION ALL SELECT 'http://ex/n' || k, 'http://ex/inRegion',
                             'http://ex/r' || r FROM n
            UNION ALL SELECT 'http://ex/n' || k, 'http://ex/locatedIn',
                             'http://ex/r' || r FROM n
            UNION ALL SELECT 'http://ex/n' || k, '{RDF_TYPE}',
                             'http://ex/Place' FROM n
            UNION ALL SELECT 'http://ex/n' || k, '{RDF_TYPE}',
                             'http://ex/Resource' FROM n
            UNION ALL SELECT 'http://ex/r' || r, '{RDF_TYPE}',
                             'http://ex/Region' FROM rg
            UNION ALL SELECT * FROM (VALUES
                ('http://ex/Nation',
                 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
                 'http://ex/Place'),
                ('http://ex/Place',
                 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
                 'http://ex/Resource'),
                ('http://ex/Nation',
                 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
                 'http://ex/Resource'),
                ('http://ex/inRegion',
                 'http://www.w3.org/2000/01/rdf-schema#subPropertyOf',
                 'http://ex/locatedIn'),
                ('http://ex/locatedIn',
                 'http://www.w3.org/2000/01/rdf-schema#domain',
                 'http://ex/Place'),
                ('http://ex/inRegion',
                 'http://www.w3.org/2000/01/rdf-schema#range',
                 'http://ex/Region')
            ) AS t(subj, pred, obj_lex)
        """,
        # kg_sameas_rewrite: every class's representative is the
        # a-site IRI (minimum of http://a.ex/ < http://b.ex/ <
        # http://c.ex/); the duplicated name triples merge, sameAs
        # rows drop, vip carries over from the c-site alias
        "kg_sameas_rewrite": f"""
            WITH c AS (SELECT c_custkey AS k, c_name AS name,
                              c_nationkey AS n
                       FROM customer WHERE c_custkey % 16 = 0)
            SELECT 'http://a.ex/c' || k AS subj, '{RDF_TYPE}' AS pred,
                   'http://ex/Customer' AS obj_lex FROM c
            UNION ALL SELECT 'http://a.ex/c' || k, 'http://ex/name', name FROM c
            UNION ALL SELECT 'http://a.ex/c' || k, 'http://ex/inNation',
                             'http://ex/n' || n FROM c
            UNION ALL SELECT 'http://a.ex/c' || k, 'http://ex/vip', 'true'
            FROM c WHERE k % 32 = 0
        """,
        # kg_sparql_select: the SPARQL query is relational over the
        # generation rules — BGP = nation row, OPTIONAL label = left
        # join to even-keyed regions, FILTER mirrored exactly
        "kg_sparql_select": """
            SELECT 'http://ex/n' || n_nationkey AS n,
                   n_name AS name,
                   'http://ex/r' || n_regionkey AS r,
                   CASE WHEN n_regionkey % 2 = 0 THEN r_name END AS rlabel
            FROM nation LEFT JOIN region ON r_regionkey = n_regionkey
            WHERE contains(n_name, 'A') OR length(n_name) <= 6
        """,
        # kg_sparql_analytics: subquery -> GROUP BY, FILTER EXISTS ->
        # correlated EXISTS, MINUS -> correlated NOT EXISTS (shared
        # variable is ?r on both sides, so anti-join == NOT EXISTS)
        "kg_sparql_analytics": """
            WITH per AS (
                SELECT 'http://ex/r' || n_regionkey AS r,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM nation GROUP BY 1)
            -- DOUBLE: the SPARQL builder's documented arithmetic rule
            -- (operands are lexical strings -> double-cast both sides)
            SELECT r, cnt, CAST(cnt * 10 - 1 AS DOUBLE) AS score FROM per
            WHERE EXISTS (SELECT 1 FROM nation m
                          WHERE 'http://ex/r' || m.n_regionkey = per.r
                            AND contains(m.n_name, 'A'))
              AND NOT EXISTS (SELECT 1 FROM nation b
                              WHERE 'http://ex/r' || b.n_regionkey = per.r
                                AND length(b.n_name) > 12)
            ORDER BY score DESC, r
        """,
        # kg_sparql_graph_path: per-region next-chains closed by
        # ex:next+ inside GRAPH ?g == ordered same-region nation
        # pairs, graph = the region graph IRI
        "kg_sparql_graph_path": """
            SELECT 'http://ex/g/r' || a.n_regionkey AS g,
                   'http://ex/n' || a.n_nationkey AS a,
                   'http://ex/n' || b.n_nationkey AS b
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey
             AND a.n_nationkey < b.n_nationkey
        """,
        # rdf_parse_jsonld_list: the 5 chain triples per nation; cell
        # bnode labels are doc-local (j1, j2 — the per-document
        # counter restarts per page, deterministic)
        "rdf_parse_jsonld_list": """
            SELECT 'http://ex/n' || n_nationkey AS subj,
                   'http://ex/pair' AS pred, 'j1' AS obj_lex
            FROM nation
            UNION ALL
            SELECT 'j1',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#first',
                   n_name FROM nation
            UNION ALL
            SELECT 'j1',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#rest',
                   'j2' FROM nation
            UNION ALL
            SELECT 'j2',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#first',
                   'r' || n_regionkey FROM nation
            UNION ALL
            SELECT 'j2',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#rest',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#nil'
            FROM nation
        """,
        "rdf_parse_rdfxml": _NATION_TRIPLES_ORACLE,
        # property-graph export: nations carry one label + one literal
        # property (name); region/class IRIs are bare referenced nodes
        "kg_pg_nodes": """
            SELECT 'http://ex/n' || n_nationkey AS id,
                   'http://ex/Nation' AS labels,
                   CAST(1 AS BIGINT) AS n_props
            FROM nation
            UNION ALL
            SELECT DISTINCT 'http://ex/r' || n_regionkey, '',
                   CAST(0 AS BIGINT) FROM nation
            UNION ALL
            SELECT 'http://ex/Nation', '', CAST(0 AS BIGINT)
        """,
        "kg_pg_edges": """
            SELECT 'http://ex/n' || n_nationkey AS src,
                   'http://ex/inRegion' AS rel,
                   'http://ex/r' || n_regionkey AS dst
            FROM nation
        """,
        # kg_sparql_update: the nation generation rules with ex:name
        # renamed to ex:label (DELETE/INSERT-WHERE replay)
        "kg_sparql_update": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj,
                   '{RDF_TYPE}' AS pred,
                   'http://ex/Nation' AS obj_lex
            FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/label',
                   n_name FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                   'http://ex/r' || n_regionkey FROM nation
        """,
        "kg_sparql_groupconcat": """
            SELECT 'http://ex/r' || n_regionkey AS r,
                   string_agg(n_name, '|' ORDER BY n_name) AS names,
                   CAST(count(*) AS BIGINT) AS cnt,
                   -- DOUBLE: the SPARQL builder's arithmetic rule
                   CAST(SUM(length(n_name)) AS DOUBLE) / count(*)
                       AS avglen
            FROM nation GROUP BY 1
        """,
        # kg_construct_transform: the CONSTRUCT template instantiated
        # per nation row — type triple (IRI object, kind 0), located
        # (IRI), label (literal, kind 2)
        "kg_construct_transform": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj,
                   '{RDF_TYPE}' AS pred,
                   CAST(0 AS TINYINT) AS obj_kind,
                   'http://ex/Place' AS obj_lex FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/located',
                   CAST(0 AS TINYINT), 'http://ex/r' || n_regionkey
            FROM nation
            UNION ALL
            SELECT 'http://ex/n' || n_nationkey, 'http://ex/label',
                   CAST(2 AS TINYINT), n_name FROM nation
        """,
        # kg_shacl replays the defect-seeding rules of
        # _nation_turtle_shaped directly (the Spark side goes through
        # the real Turtle parser + validate_shapes); an IRI-valued key
        # (k%13==0) violates BOTH nodeKind and datatype
        "kg_shacl": """
            WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation)
            SELECT 'NationName' AS shape_id, 'http://ex/n' || k AS focus,
                   'pattern' AS "constraint", lower(name) AS value
            FROM n WHERE k % 5 = 0
            UNION ALL
            SELECT 'NationName', 'http://ex/n' || k, 'maxCount', NULL
            FROM n WHERE k % 11 = 3
            UNION ALL
            SELECT 'NationKey', 'http://ex/n' || k, 'datatype',
                   CASE WHEN k % 13 = 0 THEN 'http://ex/k' || k
                        ELSE CAST(k AS VARCHAR) END
            FROM n WHERE k % 3 = 0 OR k % 13 = 0
            UNION ALL
            SELECT 'NationKey', 'http://ex/n' || k, 'nodeKind',
                   'http://ex/k' || k
            FROM n WHERE k % 13 = 0
            UNION ALL
            SELECT 'NationRegion', 'http://ex/n' || k, 'minCount', NULL
            FROM n WHERE k % 7 = 0
        """,
        "rdf_group_by_graph": """
            SELECT 'http://ex/region/' || n_regionkey AS graph,
                   CAST(count(*) AS BIGINT) AS n_triples,
                   CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_subjects
            FROM nation GROUP BY 1
        """,
        "rdf_skolemize": """
            SELECT c_custkey AS custkey,
                   'sk' || sha256('http://crawl.example/c/' || (c_custkey % 10)
                                  || '|' || 'b' || c_custkey) AS skolem
            FROM customer
        """,
        "rdf_serialize": f"""
            SELECT '<http://ex/n' || n_nationkey || '> <{RDF_TYPE}> <http://ex/Nation> .' AS line
            FROM nation
            UNION ALL
            SELECT '<http://ex/n' || n_nationkey || '> <http://ex/name> "' || n_name || '" .'
            FROM nation
            UNION ALL
            SELECT '<http://ex/n' || n_nationkey || '> <http://ex/inRegion> <http://ex/r'
                   || n_regionkey || '> .'
            FROM nation
        """,
        # rdf_serialize_rdfxml: fixed element order — the three
        # property elements sort lexically as inRegion < name < type
        "rdf_serialize_rdfxml": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj,
                   '<rdf:Description rdf:about="http://ex/n'
                     || n_nationkey || '">' || chr(10) || '  '
                   || '<n:inRegion xmlns:n="http://ex/" rdf:resource='
                     || '"http://ex/r' || n_regionkey || '"/>'
                     || chr(10) || '  '
                   || '<n:name xmlns:n="http://ex/">' || n_name
                     || '</n:name>' || chr(10) || '  '
                   || '<n:type xmlns:n='
                     || '"http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                     || ' rdf:resource="http://ex/Nation"/>' || chr(10)
                   || '</rdf:Description>' AS value
            FROM nation
        """,
        "rdf_serialize_turtle": """
            SELECT 'ex:n' || n_nationkey AS subj,
                   'ex:n' || n_nationkey || ' a ex:Nation ;' || chr(10) ||
                   '  ex:inRegion ex:r' || n_regionkey || ' ;' || chr(10) ||
                   '  ex:name "' || n_name || '" .' AS value
            FROM nation
        """,
        "rdf_serialize_turtle_nested": """
            SELECT 'ex:n' || n_nationkey AS subj,
                   'ex:n' || n_nationkey ||
                   ' ex:addr [ ex:city "' || n_name || ' CITY" ; ex:zip "' ||
                   n_regionkey || '" ] ;' || chr(10) ||
                   '  ex:name "' || n_name || '" .' AS value
            FROM nation
        """,
        "rdf_serialize_jsonld": f"""
            SELECT 'http://ex/n' || n_nationkey AS subj,
                   '{{"@id":"http://ex/n' || n_nationkey ||
                   '","http://ex/inRegion":[{{"@id":"http://ex/r' || n_regionkey ||
                   '"}}],"http://ex/name":[{{"@value":"' || n_name ||
                   '"}}],"{RDF_TYPE}":[{{"@id":"http://ex/Nation"}}]}}' AS value
            FROM nation
        """,
        "rdf_serialize_trig": """
            SELECT '<http://ex/region/' || n_regionkey || '>' AS graph,
                   '<http://ex/region/' || n_regionkey || '> {' || chr(10) ||
                   string_agg('ex:n' || n_nationkey || ' ex:name "' || n_name
                              || '" .', chr(10)
                              ORDER BY 'ex:n' || n_nationkey) ||
                   chr(10) || '}' AS value
            FROM nation GROUP BY n_regionkey
        """,
        "rdf_iri_validate": """
            SELECT c_custkey AS custkey,
                   CASE WHEN c_custkey % 4 = 0 THEN 'http://ex/c/' || c_custkey
                        WHEN c_custkey % 4 = 1 THEN 'urn:cust:' || c_custkey
                        WHEN c_custkey % 4 = 2 THEN 'relative/path/' || c_custkey
                        ELSE 'http://ex/bad space/' || c_custkey END AS ref,
                   c_custkey % 4 IN (0, 1) AS valid
            FROM customer
        """,
        "rdf_dedupe": """
            SELECT 'http://ex/part/' || l_partkey AS subj,
                   'http://ex/supp/' || l_suppkey AS obj_lex,
                   CAST(count(*) AS BIGINT) AS support,
                   min('http://crawl.example/order/' || l_orderkey) AS first_url
            FROM lineitem GROUP BY 1, 2
        """,
        "rdf_merge_canonical": """
            SELECT 'http://ex/part/' || l_partkey AS subj,
                   'http://ex/supp/' || l_suppkey AS obj_lex,
                   CAST(count(*) AS BIGINT) AS support,
                   min('http://crawl.example/order/' || l_orderkey) AS first_url
            FROM lineitem GROUP BY 1, 2
        """,
        "rdf_entity_link": """
            SELECT 'http://ex/cust/' || c_custkey AS subj,
                   'http://kg.example/' || n_name AS linked_obj
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "rdf_predicate_histogram": f"""
            SELECT pred, CAST(count(*) AS BIGINT) AS n FROM (
                {_NATION_TRIPLES_ORACLE}
            ) GROUP BY pred
        """,
        "rdf_salted_degree": f"""
            SELECT CASE WHEN c_custkey % 10 = 0 THEN 'http://ex/segment'
                        ELSE '{RDF_TYPE}' END AS pred,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM customer GROUP BY 1
        """,
        "rdf_po_map": f"""
            WITH t AS ({_NATION_TRIPLES_ORACLE})
            SELECT subj,
                   array_to_string(list_sort(list(pred || '=' || obj_lex)), '|') AS po_flat
            FROM t GROUP BY subj
        """,
        "rdf_add_remove": f"""
            WITH t AS (
                {_NATION_TRIPLES_ORACLE}
                UNION ALL
                SELECT 'http://ex/r' || r_regionkey, 'http://ex/name', r_name
                FROM region
            )
            SELECT subj, pred, obj_lex FROM t
            WHERE NOT (subj IN (SELECT 'http://ex/n' || n_nationkey FROM nation
                                WHERE n_nationkey % 3 = 0)
                       AND pred = 'http://ex/name')
        """,
        "rdf_xsd_validate": r"""
            WITH src AS (
                SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS q
                FROM lineitem WHERE l_orderkey % 50 = 0
            ), lit AS (
                SELECT 'lit/' || l_orderkey || '-' || l_linenumber AS lit_id,
                       l_linenumber % 3 AS m,
                       CASE WHEN l_linenumber % 3 = 0 AND l_orderkey % 7 = 0
                                THEN q || '.5'
                            WHEN l_linenumber % 3 = 2 THEN q || 'e2'
                            ELSE CAST(q AS VARCHAR) END AS lex,
                       q
                FROM src
            )
            SELECT lit_id, lex,
                   CASE WHEN m = 0 THEN regexp_matches(lex, '^[+-]?[0-9]+$')
                        WHEN m = 1 THEN regexp_matches(lex,
                            '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$')
                        ELSE regexp_matches(lex,
                            '^([+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?|[+-]?INF|NaN)$')
                   END AS valid,
                   COALESCE(CASE WHEN m = 0 AND regexp_matches(lex, '^[+-]?[0-9]+$')
                        THEN CAST(lex AS DOUBLE) END, -1.0) AS as_int,
                   COALESCE(CASE WHEN m = 1 THEN CAST(lex AS DOUBLE) END, -1.0) AS as_dec,
                   COALESCE(CASE WHEN m = 2 THEN CAST(q AS DOUBLE) * 100 END, -1.0) AS as_dbl
            FROM lit
        """,
        "kg_streaming": _NATION_TRIPLES_ORACLE,
        "doc_subword_tokens": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?\pL+| ?\pN+| ?[^\s\pL\pN]+')) AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "emb_near_dups": """
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.9
        """,
        "doc_token_stats": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_,
                   round(CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0
                         THEN list_sum(list_transform(
                                list_filter(string_split_regex(text, '\\s+'), x -> x != ''),
                                x -> length(x))) * 1.0
                              / len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                         ELSE 0.0 END, 4) AS avg_tok_len
            FROM documents
        """,
        "doc_quality": r"""
            WITH base AS (
                SELECT doc_id, text,
                       length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS np,
                       length(text) AS nc,
                       len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS nt,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|is|in|that|it|was|for)\b', 1)) AS sh
                FROM documents
            )
            SELECT doc_id,
                   round(CASE WHEN nc > 0 THEN np * 1.0 / nc ELSE 0.0 END, 4) AS punct_ratio,
                   CAST(sh AS BIGINT) AS stop_hits,
                   round(least(nt / 100.0, 1.0) *
                         (1.0 - least(round(CASE WHEN nc > 0 THEN np * 1.0 / nc ELSE 0.0 END, 4) * 5.0, 1.0)), 4) AS quality
            FROM base
        """,
        "doc_lang_id": r"""
            SELECT doc_id,
                   CASE WHEN len(regexp_extract_all(lower(text),
                            '\b(the|and|of|to|is|in|that|it|was|for)\b', 1)) * 1.0
                        / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')), 1)
                        >= 0.05
                   THEN 'en' ELSE 'unk' END AS lang_pred
            FROM documents
        """,
        "doc_fingerprint": r"""
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "web_url_normalize": """
            SELECT c_custkey AS custkey,
                   CASE c_custkey % 4
                     WHEN 0 THEN 'HTTP://WWW.Example.COM:80/p/' || c_custkey || '#frag'
                     WHEN 1 THEN 'https://Shop.Example.co.uk:443/item/' || c_custkey || '/'
                     WHEN 2 THEN 'http://user:pw@Mirror.example.net:8080/x/' || c_custkey
                     ELSE 'mailto:someone' || c_custkey || '@example.org#sig'
                   END AS url,
                   CASE c_custkey % 4
                     WHEN 0 THEN 'http://www.example.com/p/' || c_custkey
                     WHEN 1 THEN 'https://shop.example.co.uk/item/' || c_custkey || '/'
                     WHEN 2 THEN 'http://user:pw@mirror.example.net:8080/x/' || c_custkey
                     ELSE 'mailto:someone' || c_custkey || '@example.org'
                   END AS norm,
                   CASE c_custkey % 4
                     WHEN 0 THEN 'www.example.com'
                     WHEN 1 THEN 'shop.example.co.uk'
                     WHEN 2 THEN 'mirror.example.net'
                     ELSE ''
                   END AS host,
                   CASE c_custkey % 4
                     WHEN 0 THEN 'example.com'
                     WHEN 1 THEN 'example.co.uk'
                     WHEN 2 THEN 'example.net'
                     ELSE ''
                   END AS domain
            FROM customer
        """,
        "doc_pii": r"""
            WITH t AS (
                SELECT c_custkey,
                       'reach user' || c_custkey || '@mail.example or call '
                       || '+1 (555) ' || (c_custkey % 9000 + 1000) || '-01'
                       || ' during office hours' AS text
                FROM customer
            )
            SELECT c_custkey AS custkey,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                       AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '\+?[0-9](?:[ ()-]{0,2}[0-9]){6,14}')) AS INT) AS n_phones,
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\+?[0-9](?:[ ()-]{0,2}[0-9]){6,14}', '<PHONE>', 'g') AS redacted
            FROM t
        """,
        "doc_repetition": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_transform(range(greatest(len(t) - 2, 0)), i ->
                           t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) AS g
                FROM toks
            )
            SELECT doc_id,
                   round(CASE WHEN len(g) > 0
                         THEN 1.0 - len(list_distinct(g)) * 1.0 / len(g)
                         ELSE 0.0 END, 4) AS rep_ratio
            FROM grams
        """,
        "web_domain_cap": """
            WITH docs AS (
                SELECT c_custkey AS doc_id,
                       CASE c_custkey % 4
                         WHEN 0 THEN 'http://www.example.com/p/' || c_custkey
                         WHEN 1 THEN 'https://shop.example.co.uk/item/' || c_custkey
                         WHEN 2 THEN 'http://a.example.co.uk/x/' || c_custkey
                         ELSE 'http://mirror.example.net/y/' || c_custkey
                       END AS url,
                       CASE c_custkey % 4
                         WHEN 0 THEN 'example.com'
                         WHEN 1 THEN 'example.co.uk'
                         WHEN 2 THEN 'example.co.uk'
                         ELSE 'example.net'
                       END AS dom
                FROM customer
            ), ranked AS (
                SELECT doc_id, url,
                       row_number() OVER (PARTITION BY dom
                                          ORDER BY doc_id) AS rn
                FROM docs
            )
            SELECT doc_id, url FROM ranked WHERE rn <= 25
        """,
        "doc_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(list_sum(list_transform(range(8), i ->
                      (strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
                      * power(16, 7 - i))) AS BIGINT) % 10000
                  < CASE lang WHEN 'en' THEN 5000
                              WHEN 'de' THEN 2000
                              ELSE 1000 END
        """,
        "doc_remove_boilerplate": """
            SELECT c_custkey AS doc_id,
                   'about customer ' || c_custkey || chr(10) ||
                   'name ' || c_name AS text
            FROM customer
        """,
        # domain-keyed split assignment: closed-form PSL domains for
        # the synthetic URL shapes, identical md5 bucket + cumulative
        # thresholds (train < 8000 <= val < 9000 <= test)
        "web_assign_split": """
            WITH d AS (
                SELECT c_custkey AS doc_id,
                       CASE c_custkey % 4
                           WHEN 0 THEN 'example.com'
                           WHEN 1 THEN 'example.co.uk'
                           WHEN 2 THEN 'example.co.uk'
                           ELSE 'example.net' END AS domain
                FROM customer
            ), h AS (
                SELECT doc_id, domain,
                       CAST(list_sum(list_transform(range(8), i ->
                           (strpos('0123456789abcdef',
                                   substr(md5(domain), i + 1, 1)) - 1)
                           * power(16, 7 - i))) AS BIGINT) % 10000 AS hv
                FROM d
            )
            SELECT doc_id, domain,
                   CASE WHEN hv < 8000 THEN 'train'
                        WHEN hv < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        # decontamination screen: casefolded 5-gram shingles of the
        # every-50th-doc "eval set" joined against the rest, per-doc
        # distinct-shared count, >= 3 flags
        "doc_contamination": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
                FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS r(i)
                WHERE len(t) >= 5
            ), bench AS (
                SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
            ), hits AS (
                SELECT s.doc_id, count(DISTINCT s.shingle) AS n_shared
                FROM sh s JOIN bench b USING (shingle)
                WHERE s.doc_id % 50 != 0
                GROUP BY s.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
                   coalesce(h.n_shared, 0) >= 3 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        # duplicated-span removal: identical md5-keyed span accounting
        # (space-joined 8-gram — injective since tokens cannot contain
        # whitespace; df>=2, min-doc keeper), coverage via start+j
        # expansion, whitespace-normalized rebuild
        "doc_remove_dup_spans": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), occ AS (
                SELECT doc_id, i - 1 AS start,
                       md5(array_to_string(t[i:i+7], ' ')) AS h
                FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS r(i)
                WHERE len(t) >= 8
            ), dup AS (
                SELECT h, min(doc_id) AS keeper
                FROM occ GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2
            ), cov AS (
                SELECT DISTINCT o.doc_id, o.start + s.j AS pos
                FROM occ o
                JOIN dup d ON d.h = o.h AND o.doc_id != d.keeper,
                     UNNEST(range(8)) AS s(j)
            ), tokpos AS (
                SELECT doc_id, i - 1 AS pos, t[i] AS tok
                FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
            ), kept AS (
                SELECT tp.doc_id,
                       string_agg(tp.tok, ' ' ORDER BY tp.pos) AS text,
                       count(*) AS n_kept
                FROM tokpos tp
                LEFT JOIN cov c
                  ON c.doc_id = tp.doc_id AND c.pos = tp.pos
                WHERE c.doc_id IS NULL
                GROUP BY tp.doc_id
            )
            SELECT t.doc_id,
                   coalesce(k.text, '') AS text,
                   CAST(len(t.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
            FROM toks t LEFT JOIN kept k USING (doc_id)
        """,
        # greedy packing replayed as a per-bucket recursive walk:
        # (seq_id, offset, acc) carried row to row in doc_id order
        "doc_pack_sequences": r"""
            WITH RECURSIVE src AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x != '')) AS BIGINT) AS n_tokens,
                       CAST((CAST(list_sum(list_transform(range(8), i ->
                            (strpos('0123456789abcdef',
                                    substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
                            * power(16, 7 - i))) AS BIGINT) % 10000) % 16 AS INT) AS bucket,
                       row_number() OVER (PARTITION BY
                           CAST((CAST(list_sum(list_transform(range(8), i ->
                                (strpos('0123456789abcdef',
                                        substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1)
                                * power(16, 7 - i))) AS BIGINT) % 10000) % 16 AS INT)
                           ORDER BY doc_id) AS rn
                FROM documents
            ), walk AS (
                SELECT bucket, rn, doc_id, n_tokens,
                       CAST(0 AS BIGINT) AS seq_id,
                       CAST(0 AS BIGINT) AS seq_offset,
                       n_tokens AS acc
                FROM src WHERE rn = 1
                UNION ALL
                SELECT s.bucket, s.rn, s.doc_id, s.n_tokens,
                       CASE WHEN w.acc > 0 AND w.acc + s.n_tokens > 1024
                            THEN w.seq_id + 1 ELSE w.seq_id END,
                       CASE WHEN w.acc > 0 AND w.acc + s.n_tokens > 1024
                            THEN CAST(0 AS BIGINT) ELSE w.acc END,
                       CASE WHEN w.acc > 0 AND w.acc + s.n_tokens > 1024
                            THEN s.n_tokens ELSE w.acc + s.n_tokens END
                FROM walk w JOIN src s ON s.bucket = w.bucket AND s.rn = w.rn + 1
            )
            SELECT doc_id, n_tokens, bucket, seq_id, seq_offset FROM walk
        """,
        "doc_filter_verdicts": r"""
            WITH base AS (
                SELECT doc_id,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x != '')) AS nt,
                       length(regexp_replace(text,
                           '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS np,
                       length(text) AS nc,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), feat AS (
                SELECT doc_id, nt,
                       round(least(nt / 100.0, 1.0) *
                             (1.0 - least(round(CASE WHEN nc > 0
                                   THEN np * 1.0 / nc ELSE 0.0 END, 4)
                                   * 5.0, 1.0)), 4) AS quality,
                       round(CASE WHEN greatest(len(t) - 2, 0) > 0
                             THEN 1.0 - len(list_distinct(
                                    list_transform(range(greatest(len(t) - 2, 0)),
                                        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
                                  * 1.0 / (len(t) - 2)
                             ELSE 0.0 END, 4) AS rep
                FROM base
            )
            SELECT doc_id,
                   CASE WHEN nt < 20 THEN false
                        WHEN rep > 0.5 THEN false
                        WHEN quality < 0.1 THEN false
                        ELSE true END AS keep,
                   CASE WHEN nt < 20 THEN 'too_short'
                        WHEN rep > 0.5 THEN 'high_repetition'
                        WHEN quality < 0.1 THEN 'low_quality'
                        ELSE 'ok' END AS reason
            FROM feat
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_docs,
                   array_to_string(list_sort(list(doc_id))[1:32], ',') AS doc_ids
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "doc_minhash": _SHINGLES_CTE + """
            SELECT doc_id,
                   min(md5('s0|' || shingle)) AS mh_0,
                   min(md5('s1|' || shingle)) AS mh_1,
                   min(md5('s2|' || shingle)) AS mh_2,
                   min(md5('s3|' || shingle)) AS mh_3
            FROM sh GROUP BY doc_id
        """,
        "doc_minhash_lsh_pairs": _SHINGLES_CTE + """
            , sigs AS (
                SELECT doc_id,
                       min(md5('s0|' || shingle)) AS mh_0,
                       min(md5('s1|' || shingle)) AS mh_1,
                       min(md5('s2|' || shingle)) AS mh_2,
                       min(md5('s3|' || shingle)) AS mh_3
                FROM sh GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bucket FROM sigs
                UNION ALL
                SELECT doc_id, 2 AS band, md5(mh_2 || '|' || mh_3) AS bucket FROM sigs
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        """,
        "doc_dup_clusters": _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
            , sigs AS (
                SELECT doc_id,
                       min(md5('s0|' || shingle)) AS mh_0,
                       min(md5('s1|' || shingle)) AS mh_1,
                       min(md5('s2|' || shingle)) AS mh_2,
                       min(md5('s3|' || shingle)) AS mh_3
                FROM sh GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bucket FROM sigs
                UNION ALL
                SELECT doc_id, 2 AS band, md5(mh_2 || '|' || mh_3) AS bucket FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b USING (band, bucket)
                WHERE a.doc_id < b.doc_id
            ), edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs
            ), reach AS (
                SELECT src AS id, src AS r FROM edges
                UNION
                SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            )
            SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
            FROM reach GROUP BY id
        """,
        "doc_ngram_jaccard": _SHINGLES_CTE + """
            , sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.5
        """,
        "doc_lsh_jaccard": _SHINGLES_CTE + """
            , sigs AS (
                SELECT doc_id,
                       min(md5('s0|' || shingle)) AS mh_0,
                       min(md5('s1|' || shingle)) AS mh_1,
                       min(md5('s2|' || shingle)) AS mh_2,
                       min(md5('s3|' || shingle)) AS mh_3
                FROM sh GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bucket FROM sigs
                UNION ALL
                SELECT doc_id, 2 AS band, md5(mh_2 || '|' || mh_3) AS bucket FROM sigs
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b USING (band, bucket)
                WHERE a.doc_id < b.doc_id
            ), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT i.doc_a, i.doc_b,
                   round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 4) AS jaccard
            FROM inter i
            JOIN cand USING (doc_a, doc_b)
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE round(i.i * 1.0 / (sa.sz + sb.sz - i.i), 4) >= 0.3
        """,
        "emb_topk_cosine": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cos
                FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 10
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "emb_ivf_topk": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.label = c.label AND q.vec_id != c.vec_id
                WHERE q.vec_id < 10
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "evt_sessions": """
            WITH numbered AS (
                SELECT user_id, ts, value,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                 - CAST(floor(epoch(lag(ts) OVER
                                       (PARTITION BY user_id ORDER BY ts)))
                                        AS BIGINT) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS s
                FROM numbered
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM sess GROUP BY user_id, s
        """,
        "evt_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "tpch_q1_like": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "mm_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                   sha256(text) AS content_sha,
                   'text-feat-' || substr(sha256(text), 1, 16) AS feature
            FROM documents
        """,
        # decode stub replayed in hex-string space: pixels = sha256
        # digest tiled to 8*8*3 bytes (192 bytes = 384 hex chars);
        # nearest-neighbor 8x8 -> 4x4 picks source rows/cols {0,2,4,6},
        # i.e. 3-byte (6-hex-char) runs at offsets (y*8+x)*3.
        "mm_decode_resize": f"""
            WITH s AS (
                SELECT doc_id AS media_id,
                       substr(repeat(sha256(text), 7), 1, 384) AS hexpx
                FROM documents WHERE doc_id < 200
            )
            SELECT media_id, 4 AS width, 4 AS height, 3 AS channels,
                   upper({_MM_RESIZE_PARTS}) AS pixels_hex
            FROM s
        """,
        # SimHash recomputed from md5 hex nibbles: bit j of the 64-bit
        # big-endian prefix lives in hex char 16 - j//4, nibble bit
        # j%4; per-bit +1/-1 votes, strict-majority sets the bit; j=63
        # wraps to the signed-long sign bit to match Arrow/Spark.
        "doc_simhash_pairs": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x != '')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id, md5(tok) AS hx FROM toks
            ), bits AS (
                SELECT doc_id, j,
                       CASE WHEN ((strpos('0123456789abcdef',
                                          substr(hx, 16 - (j // 4), 1)) - 1)
                                  >> (j % 4)) & 1 = 1
                            THEN 1 ELSE -1 END AS v
                FROM h, UNNEST(range(0, 64)) AS r(j)
            ), votes AS (
                SELECT doc_id, j, sum(v) AS sv FROM bits GROUP BY 1, 2
            ), sigs AS (
                SELECT d.doc_id,
                       CAST(COALESCE(sum(CASE WHEN sv > 0 THEN
                            CASE WHEN j = 63 THEN (-9223372036854775807 - 1)
                                 ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
                            ELSE 0 END), 0) AS BIGINT) AS simhash
                FROM documents d LEFT JOIN votes ON d.doc_id = votes.doc_id
                GROUP BY d.doc_id
            ), bands AS (
                SELECT doc_id, simhash, band,
                       (simhash >> (band * 16)) & 65535 AS bucket
                FROM sigs, UNNEST([0, 1, 2, 3]) AS b(band)
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        # Spark's sequence(0, dur-1, step) == DuckDB's range(0, dur,
        # step); null/zero durations collapse to the single frame 0 on
        # both sides (greatest guards).
        "mm_frame_plan": """
            SELECT c_custkey AS media_id, CAST(f AS BIGINT) AS frame_ts_ms
            FROM customer,
                 UNNEST(range(0,
                        greatest(CASE WHEN c_custkey % 5 = 0 THEN 0
                                      ELSE (c_custkey % 7) * 800 END, 1),
                        1000)) AS t(f)
        """,
        # LSH signatures via _EMB_LSH_SIGS_CTE, exact-bucket join,
        # cosine top-3.
        "emb_lsh_topk": _EMB_LSH_SIGS_CTE + """
            , scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cos
                FROM sigs q JOIN sigs c
                  ON q.bucket = c.bucket AND q.vec_id != c.vec_id
                WHERE q.vec_id < 10
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        # margin-ranked multi-probe at nprobe=2: probe 1 = exact
        # bucket; probe 2 flips the bit of the plane with the smallest
        # |dot| (plane-index tie-break) — at nprobe=2 the singleton
        # flip of the smallest-margin plane is provably the best
        # perturbation set, so this replays ann.py::_margin_probes
        "emb_lsh_topk_probe2": _EMB_LSH_SIGS_CTE + """
            , qm AS (
                SELECT vec_id, plane AS mp FROM (
                    SELECT e.vec_id, pl.plane,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY abs(coalesce(d.dot, 0)) ASC,
                                        pl.plane ASC) AS rn
                    FROM embeddings e
                    CROSS JOIN (SELECT unnest(range(4)) AS plane) pl
                    LEFT JOIN dots d
                      ON d.vec_id = e.vec_id AND d.plane = pl.plane
                    WHERE e.vec_id < 10
                ) WHERE rn = 1
            ), probes AS (
                SELECT s.vec_id, s.embedding, s.bucket AS b
                FROM sigs s WHERE s.vec_id < 10
                UNION ALL
                SELECT s.vec_id, s.embedding,
                       substr(s.bucket, 1, q.mp)
                       || CASE WHEN substr(s.bucket, q.mp + 1, 1) = '1'
                               THEN '0' ELSE '1' END
                       || substr(s.bucket, q.mp + 2) AS b
                FROM sigs s JOIN qm q ON q.vec_id = s.vec_id
            ), scored AS (
                SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(p.embedding, c.embedding), 4) AS cos
                FROM probes p JOIN sigs c
                  ON c.bucket = p.b AND c.vec_id != p.vec_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "emb_lsh_near_dups": _EMB_LSH_SIGS_CTE + """
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
            FROM sigs a JOIN sigs b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.35
        """,
        # end-to-end pipeline: parse (nation Turtle) -> skolemize
        # (no-op: corpus has no bnodes) -> entity link (region surface
        # -> kg IRI) -> canonical dedupe with provenance
        "kg_pipeline": f"""
            WITH t AS (
                SELECT 'http://crawl.example/nation/' || n_nationkey AS url,
                       'http://ex/n' || n_nationkey AS subj,
                       '{RDF_TYPE}' AS pred,
                       'http://ex/Nation' AS obj_lex
                FROM nation
                UNION ALL
                SELECT 'http://crawl.example/nation/' || n_nationkey,
                       'http://ex/n' || n_nationkey, 'http://ex/name', n_name
                FROM nation
                UNION ALL
                SELECT 'http://crawl.example/nation/' || n_nationkey,
                       'http://ex/n' || n_nationkey, 'http://ex/inRegion',
                       'http://kg.example/region/' || n_regionkey
                FROM nation
            )
            SELECT subj, pred, obj_lex,
                   CAST(count(*) AS BIGINT) AS support,
                   min(url) AS first_url
            FROM t GROUP BY 1, 2, 3
        """,
    }

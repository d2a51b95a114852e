"""Spark-side parse/skolemize/link/dedupe tests, including the
pipeline-vs-pure-Python oracle (P/R = 1.0 on the same documents)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdf_spark import terms as T
from rdf_spark.grammar.turtle import parse_and_evaluate
from rdf_spark.operators.canonical import canonicalize, exact_duplicate_docs
from rdf_spark.operators.link import link_entities, salted_count
from rdf_spark.operators.parse import good_triples, parse_pages, parse_text
from rdf_spark.operators.skolemize import skolemize
from rdf_spark.operators import graphops
from rdf_spark.sources.extract import MEDIA_TYPE_FORMATS, extract_blocks_from_html
from rdf_spark.sources.pages import generate_pages, entity_dictionary, generate_rows

TTL_DOC = """@prefix s: <http://schema.org/> .
<#me> a s:Person ; s:name "Ada"@en ; s:knows [ s:name "Bob" ] .
<#me> s:list (1 2.5) .
"""


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = [
        ("http://ex.org/a", TTL_DOC, "turtle"),
        ("http://ex.org/b", "<http://e/s> <http://e/p> \"v\" .\n", "ntriples"),
        ("http://ex.org/bad", "this is not turtle @@@", "turtle"),
    ]
    return spark.createDataFrame(rows, "url string, text string, format string")


def test_parse_matches_pure_python_oracle(spark, pages_df):
    triples = good_triples(parse_pages(pages_df)).collect()
    got = {
        (r.url, r.subj_kind, r.subj, r.pred, r.obj_kind, r.obj_lex,
         r.obj_datatype, r.obj_lang)
        for r in triples
    }
    expected = set()
    for url, text in [("http://ex.org/a", TTL_DOC)]:
        for s, p, o in parse_and_evaluate(text, base=url):
            row = T.triple_to_row((s, p, o))
            expected.add((url, *row[:7]))
    from rdf_spark.grammar.ntriples import parse_document
    for s, p, o in parse_document("<http://e/s> <http://e/p> \"v\" .\n"):
        row = T.triple_to_row((s, p, o))
        expected.add(("http://ex.org/b", *row[:7]))
    assert got == expected  # P/R == 1.0


def test_parse_errors_recorded_not_raised(spark, pages_df):
    parsed = parse_pages(pages_df)
    errs = parsed.where("error is not null").collect()
    assert len(errs) == 1 and errs[0].url == "http://ex.org/bad"
    assert "RDFSyntaxError" in errs[0].error


_GOOD_PAGE = (b'<html><script type="text/turtle"><http://e/s> <http://e/p> "v" .'
              b'</script></html>')


@pytest.mark.parametrize("fmt", ["html", "auto", "turtle", "ntriples", "jsonld",
                                 "rdfxml", "rdfa", "microdata"])
def test_null_input_yields_no_rows(spark, fmt):
    """A null html is a page with no blocks and a null text is no
    document: the job runs, and the null row yields no row at all."""
    from rdf_spark.sources.extract import extract_pages

    if fmt == "html":
        pages = spark.createDataFrame(
            [("http://ex.org/null", None), ("http://ex.org/good", _GOOD_PAGE)],
            "url string, html binary")
        blocks = extract_pages(pages).collect()
        assert [(b.url, b.format) for b in blocks] == [("http://ex.org/good", "turtle")]
    else:
        pages = spark.createDataFrame(
            [("http://ex.org/null", None, fmt),
             ("http://ex.org/good", '<http://e/s> <http://e/p> "v" .', "ntriples")],
            "url string, text string, format string")
    rows = parse_pages(pages).collect()
    assert [(r.url, r.obj_lex, r.error) for r in rows] == [("http://ex.org/good", "v", None)]


# one small document per short format name of MEDIA_TYPE_FORMATS
_FORMAT_DOCS = {
    "turtle": '@prefix e: <http://e/> . e:s e:p "v" .',
    "ntriples": '<http://e/s> <http://e/p> "v" .\n',
    "nquads": '<http://e/s> <http://e/p> "v" <http://e/g> .\n',
    "trig": '@prefix e: <http://e/> . e:g { e:s e:p "v" . }',
    "jsonld": '{"@id": "http://e/s", "http://e/p": "v"}',
    "rdfxml": '<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/'
              '02/22-rdf-syntax-ns#" xmlns:e="http://e/"><rdf:Description'
              ' rdf:about="http://e/s"><e:p>v</e:p></rdf:Description></rdf:RDF>',
    "ntriples-star": '<< <http://e/s> <http://e/p> "v" >> <http://e/q> "w" .\n',
    "nquads-star": '<< <http://e/s> <http://e/p> "v" >> <http://e/q> "w" <http://e/g> .\n',
}


@pytest.mark.parametrize(
    "name", sorted(set(MEDIA_TYPE_FORMATS) | set(MEDIA_TYPE_FORMATS.values())))
def test_parse_text_accepts_every_format_name(name):
    """parse_text accepts each media type of MEDIA_TYPE_FORMATS and
    its short name, with the same result for both."""
    short = MEDIA_TYPE_FORMATS.get(name, name)
    quads = parse_text(name, _FORMAT_DOCS[short], base="http://ex.org/")
    assert len(quads) == 1
    assert quads == parse_text(short, _FORMAT_DOCS[short], base="http://ex.org/")


@pytest.mark.parametrize("name", ["text/html", "Turtle", "n-triples", ""])
def test_parse_text_refuses_unknown_format(name):
    with pytest.raises(ValueError, match="unknown RDF format"):
        parse_text(name, "", base="")


def test_skolemize_deterministic_and_global(spark, pages_df):
    t = skolemize(good_triples(parse_pages(pages_df)))
    rows1 = sorted(map(tuple, t.collect()))
    rows2 = sorted(map(tuple, t.collect()))
    assert rows1 == rows2  # deterministic across runs
    bn = [r for r in rows1 if r[1] == T.KIND_BNODE]
    assert bn and all(r[2].startswith("sk") and len(r[2]) == 66 for r in bn)


def test_extract_blocks_byte_identical():
    payload = "<#s> <http://e/p> \"x\" ."
    html = f'<html><script type="text/turtle">{payload}</script></html>'.encode()
    blocks = extract_blocks_from_html(html)
    assert blocks == [(0, "turtle", payload)]
    assert extract_blocks_from_html(html) == blocks  # invariant across calls


def test_entity_linking_broadcast(spark):
    triples = spark.createDataFrame(
        [("u", 0, "http://example.org/entity/e1", "http://e/p", 0,
          "http://example.org/entity/e2", None, None, None, None)],
        "url string, subj_kind tinyint, subj string, pred string, obj_kind tinyint,"
        "obj_lex string, obj_datatype string, obj_lang string, graph_kind tinyint, graph string",
    )
    d = entity_dictionary(spark, 10)
    linked_df = link_entities(triples, d)
    linked = linked_df.collect()[0]
    assert linked.subj.startswith("http://kg.example/canonical/")
    assert linked.obj_lex.startswith("http://kg.example/canonical/")
    # plan check, on the final adaptive plan of the executed join: a
    # broadcast join, and the dictionary deduplicated in one partition
    # (no hash exchange on the surface under either broadcast)
    plan = linked_df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(__surface" not in plan, plan

    # a duplicated surface still links each IRI to exactly one canonical
    e1 = "http://example.org/entity/e1"
    dup = d.unionByName(spark.createDataFrame(
        [(e1, "http://kg.example/canonical/other", 1.0)], d.schema))
    assert dup.where(F.col("surface") == e1).count() == 2
    rows = link_entities(triples, dup).collect()
    assert len(rows) == triples.count()
    canon = {r.canonical_iri for r in dup.where(F.col("surface") == e1).collect()}
    assert rows[0].subj in canon


_LINK_TRIPLE = ("u", 0, "http://e/a", "http://e/p", 0, "http://e/a", None, None, None, None)
_LINK_SCHEMA = ("url string, subj_kind tinyint, subj string, pred string, obj_kind tinyint,"
                "obj_lex string, obj_datatype string, obj_lang string, graph_kind tinyint,"
                " graph string")


@pytest.mark.parametrize("partitions", [1, 3])
def test_link_ambiguous_surface_takes_smallest_canonical(spark, partitions):
    """A surface listed with two canonicals links to the smaller one,
    whatever the dictionary's row order and partitioning."""
    triples = spark.createDataFrame([_LINK_TRIPLE], _LINK_SCHEMA)
    rows = [("http://e/a", "http://c/2"), ("http://e/b", "http://c/0"),
            ("http://e/a", "http://c/1"), ("http://e/a", "http://c/3")]
    for order in (rows, rows[::-1]):
        d = spark.createDataFrame(order, "surface string, canonical_iri string") \
            .repartition(partitions)
        assert d.rdd.getNumPartitions() == partitions
        got = link_entities(triples, d).collect()
        assert [(r.subj, r.obj_lex) for r in got] == [("http://c/1", "http://c/1")]


def test_link_broadcasts_the_dictionary_once(spark):
    """The subject and object joins share one broadcast of an uncached
    dictionary: the final plan holds one BroadcastExchange, and the
    other join reads it through a ReusedExchange."""
    triples = spark.createDataFrame([_LINK_TRIPLE], _LINK_SCHEMA)
    d = spark.createDataFrame([("http://e/a", "http://c/1")],
                              "surface string, canonical_iri string")
    linked = link_entities(triples, d)
    linked.collect()
    plan = linked._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    ops = [line.strip(" :+-").lstrip("*(0123456789) ") for line in final.splitlines()]
    assert sum(op.startswith("BroadcastExchange") for op in ops) == 1, final
    assert sum(op.startswith("ReusedExchange") for op in ops) == 1, final


def test_salted_count_equals_plain(spark):
    df = spark.range(0, 1000).selectExpr("cast(id % 7 as string) as k")
    salted = {(r.k, r.cnt) for r in salted_count(df, ["k"]).collect()}
    plain = {(r.k, r["count"]) for r in df.groupBy("k").count().collect()}
    assert salted == {(k, c) for k, c in plain}


def test_canonicalize_dedupes(spark):
    rows = [("u1", 0, "s", "p", 2, "v", None, None, None, None),
            ("u2", 0, "s", "p", 2, "v", None, None, None, None),
            ("u1", 0, "s", "p", 2, "w", None, None, None, None)]
    df = spark.createDataFrame(
        rows,
        "url string, subj_kind tinyint, subj string, pred string, obj_kind tinyint,"
        "obj_lex string, obj_datatype string, obj_lang string, graph_kind tinyint, graph string",
    )
    got = {(r.obj_lex, r.support, r.first_url) for r in canonicalize(df).collect()}
    assert got == {("v", 2, "u1"), ("w", 1, "u1")}


def test_exact_duplicate_docs(spark):
    rows = [("u1", 0, "s", "p", 2, "v", None, None, None, None),
            ("u2", 0, "s", "p", 2, "v", None, None, None, None),
            ("u3", 0, "s", "p", 2, "other", None, None, None, None)]
    df = spark.createDataFrame(
        rows,
        "url string, subj_kind tinyint, subj string, pred string, obj_kind tinyint,"
        "obj_lex string, obj_datatype string, obj_lang string, graph_kind tinyint, graph string",
    )
    dups = exact_duplicate_docs(df).collect()
    assert len(dups) == 1 and sorted(dups[0].urls) == ["u1", "u2"]


def test_graphops_find_all(spark):
    rows = [("u", 0, "s", "p", 2, "v", None, None, None, None),
            ("u", 0, "s", "q", 2, "v", None, None, None, None)]
    df = spark.createDataFrame(
        rows,
        "url string, subj_kind tinyint, subj string, pred string, obj_kind tinyint,"
        "obj_lex string, obj_datatype string, obj_lang string, graph_kind tinyint, graph string",
    )
    assert graphops.find_all(df, pred="p").count() == 1
    assert graphops.find_all(df, subj="s").count() == 2
    assert graphops.find_all(df, subj="s", obj="v").count() == 2
    assert graphops.find(df, subj="s").count() == 1


def test_generator_deterministic():
    a = list(generate_rows(20, seed=42))
    b = list(generate_rows(20, seed=42))
    assert [r[0] for r in a] == [r[0] for r in b]
    assert [r[3] for r in a] == [r[3] for r in b]  # byte-identical text per url


def test_sniff_format_and_auto_mode(spark):
    from rdf_spark.operators.parse import (
        good_triples, parse_pages, sniff_format,
    )

    assert sniff_format('{"@id": "http://ex/a"}') == "jsonld"
    assert sniff_format('<?xml version="1.0"?><rdf:RDF/>') == "rdfxml"
    assert sniff_format("@prefix ex: <http://ex/> .") == "turtle"
    assert sniff_format("<http://a> <http://b> <http://c> .") == "turtle"
    assert sniff_format("<<<http://a> <http://b> 1>> <http://c> 2 .") \
        == "ntriples-star"
    assert sniff_format("<!DOCTYPE html><html></html>") == "rdfa"
    # mixed-format crawl batch with NO format column, auto-sniffed
    pages = spark.createDataFrame(
        [("http://c/1", '{"@id": "http://ex/a", "http://ex/p": "j"}'),
         ("http://c/2", "<http://ex/b> <http://ex/p> \"t\" ."),
         ("http://c/3",
          '<rdf:RDF xmlns:rdf='
          '"http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
          'xmlns:ex="http://ex/">'
          '<rdf:Description rdf:about="http://ex/c">'
          "<ex:p>x</ex:p></rdf:Description></rdf:RDF>")],
        "url string, text string")
    t = good_triples(parse_pages(pages, default_format="auto"))
    got = {(r["subj"], r["obj_lex"]) for r in
           t.select("subj", "obj_lex").collect()}
    assert got == {("http://ex/a", "j"), ("http://ex/b", "t"),
                   ("http://ex/c", "x")}


def test_sniff_xhtml_quads_and_trig():
    from rdf_spark.operators.parse import sniff_format

    assert sniff_format('<?xml version="1.0"?><!DOCTYPE html>'
                        '<html xmlns="..." about="x"></html>') == "rdfa"
    assert sniff_format(
        "<http://s> <http://p> <http://o> <http://g> .") == "nquads"
    assert sniff_format(
        "<http://s> <http://p> \"lit\" <http://g> .") == "nquads"
    assert sniff_format(
        "<http://s> <http://p> <http://o> .") == "turtle"
    assert sniff_format(
        "@prefix ex: <http://e/> .\nex:g { ex:s ex:p ex:o . }") == "trig"
    assert sniff_format(
        "<http://e/g> { <http://e/s> <http://e/p> 1 . }") == "trig"


def test_sniff_review_regressions():
    from rdf_spark.operators.parse import sniff_format

    # DOCTYPE'd legacy RDF/XML stays rdfxml (only '<!doctype html' is
    # an HTML marker)
    assert sniff_format(
        '<?xml version="1.0"?><!DOCTYPE rdf:RDF [ <!ENTITY o "x"> ]>'
        '<rdf:RDF xmlns:rdf="r"/>') == "rdfxml"
    assert sniff_format(
        '<!DOCTYPE rdf:RDF SYSTEM "x"><rdf:RDF/>') == "rdfxml"
    # one-line Turtle predicate list with an IRI tail is NOT nquads
    assert sniff_format(
        '<http://s> <http://p> "v1" ; <http://q> <http://o> .') \
        == "turtle"
    # long-IRI N-Quads line still detected (wider first-line window)
    long_iri = "<http://example.org/" + "x" * 300 + ">"
    assert sniff_format(
        f"{long_iri} <http://p> <http://o> <http://g> .") == "nquads"


def test_sniff_semicolon_in_iri_and_tab_doctype():
    from rdf_spark.operators.parse import sniff_format

    # ';' INSIDE an IRI (jsessionid-style) must not suppress nquads
    assert sniff_format(
        "<http://ex/a;jsessionid=1> <http://p> <http://o> "
        "<http://g> .") == "nquads"
    # ';' outside spans (predicate list) still routes to turtle
    assert sniff_format(
        '<http://s> <http://p> "v" ; <http://q> <http://o> .') \
        == "turtle"
    # whitespace variants of the html doctype
    assert sniff_format("<!DOCTYPE\thtml><html></html>") == "rdfa"


def test_jsonld_breadcrumb_list_auto(spark):
    """schema.org breadcrumb-style @list markup through the auto
    sniffer: the rdf:first/rest chain survives the vectorized Spark
    parse path end-to-end (VERDICT r4 ask #8)."""
    from rdf_spark.operators.parse import good_triples, parse_pages

    doc = (
        '{"@context": "https://schema.org", '
        '"@id": "http://site.example/recipe", '
        '"@type": "BreadcrumbList", '
        '"itemListElement": {"@list": ['
        '{"@id": "http://site.example/"}, '
        '{"@id": "http://site.example/recipes"}, '
        '"Chocolate Cake"]}}')
    pages = spark.createDataFrame(
        [("http://site.example/recipe", doc)], "url string, text string")
    t = good_triples(parse_pages(pages, default_format="auto"))
    rows = t.select("subj", "subj_kind", "pred", "obj_lex",
                    "obj_kind").collect()
    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    firsts = {r["subj"]: (r["obj_lex"], r["obj_kind"]) for r in rows
              if r["pred"] == rdf_ns + "first"}
    rests = {r["subj"]: r["obj_lex"] for r in rows
             if r["pred"] == rdf_ns + "rest"}
    head = [r["obj_lex"] for r in rows
            if r["pred"] == "https://schema.org/itemListElement"]
    assert len(head) == 1
    items, cur = [], head[0]
    while cur != rdf_ns + "nil":
        items.append(firsts[cur])
        cur = rests[cur]
    from rdf_spark.terms import KIND_IRI, KIND_LITERAL

    assert items == [("http://site.example/", KIND_IRI),
                     ("http://site.example/recipes", KIND_IRI),
                     ("Chocolate Cake", KIND_LITERAL)]

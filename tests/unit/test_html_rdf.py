"""RDFa-lite / Microdata extraction (rdf_spark.sources.html_rdf).

The reference has no HTML layer; these lock in the documented subset
semantics and the determinism invariant (pure function of the bytes).
"""

from rdf_spark.sources.extract import extract_blocks_from_html
from rdf_spark.sources.html_rdf import parse_microdata, parse_rdfa
from rdf_spark.terms import RDF_TYPE

BASE = "http://crawl.example/page"


def test_microdata_basic_item():
    html = (
        '<div itemscope itemtype="http://schema.org/Person" itemid="http://ex/a">'
        '<span itemprop="name">Alice</span></div>'
    )
    got = parse_microdata(html, base=BASE)
    assert (("i", "http://ex/a"), ("i", RDF_TYPE), ("i", "http://schema.org/Person"), None) in got
    assert (("i", "http://ex/a"), ("i", "http://schema.org/name"), ("l", "Alice", None, None), None) in got


def test_microdata_bnode_and_nesting():
    html = (
        '<div itemscope itemtype="http://schema.org/Person">'
        '<div itemprop="address" itemscope itemtype="http://schema.org/PostalAddress">'
        '<span itemprop="addressLocality">Springfield</span></div></div>'
    )
    got = parse_microdata(html, base=BASE)
    subj = [q[0] for q in got if q[2] == ("i", "http://schema.org/Person")][0]
    nested = [q[2] for q in got if q[1] == ("i", "http://schema.org/address")][0]
    assert subj[0] == "b" and nested[0] == "b" and subj != nested
    assert (nested, ("i", "http://schema.org/addressLocality"),
            ("l", "Springfield", None, None), None) in got


def test_microdata_url_values_resolved_against_base():
    html = (
        '<div itemscope itemtype="http://schema.org/Person">'
        '<img itemprop="image" src="/pic.jpg">'
        '<a itemprop="url" href="about">x</a></div>'
    )
    got = parse_microdata(html, base="http://ex.org/people/alice")
    objs = {q[1][1]: q[2] for q in got if q[1][1] != RDF_TYPE}
    assert objs["http://schema.org/image"] == ("i", "http://ex.org/pic.jpg")
    assert objs["http://schema.org/url"] == ("i", "http://ex.org/people/about")


def test_microdata_meta_time_data_values():
    html = (
        '<div itemscope itemtype="http://schema.org/Event">'
        '<meta itemprop="height" content="170">'
        '<time itemprop="startDate" datetime="2026-01-01">jan</time>'
        '<data itemprop="rank" value="3">third</data></div>'
    )
    got = parse_microdata(html, base=BASE)
    objs = {q[1][1].rsplit("/", 1)[1]: q[2] for q in got if q[1][1] != RDF_TYPE}
    assert objs["height"] == ("l", "170", None, None)
    assert objs["startDate"] == ("l", "2026-01-01", None, None)
    assert objs["rank"] == ("l", "3", None, None)


def test_microdata_absolute_itemprop_kept():
    html = (
        '<div itemscope itemtype="http://schema.org/Thing">'
        '<span itemprop="http://purl.org/dc/terms/title">T</span></div>'
    )
    got = parse_microdata(html, base=BASE)
    assert any(q[1] == ("i", "http://purl.org/dc/terms/title") for q in got)


def test_microdata_itemref():
    html = (
        '<div itemscope itemtype="http://schema.org/Person"'
        ' itemid="http://ex/a" itemref="extra both"></div>'
        '<meta id="extra" itemprop="name" content="Ada">'
        '<div id="both"><span itemprop="nick">ada</span></div>'
    )
    got = parse_microdata(html)
    trip = {(q[0], q[1][1], q[2]) for q in got}
    subj = ("i", "http://ex/a")
    assert (subj, "http://schema.org/name", ("l", "Ada", None, None)) in trip
    assert (subj, "http://schema.org/nick", ("l", "ada", None, None)) in trip


def test_microdata_itemref_cycle_terminates():
    # two items referencing each other's containers: invalid
    # microdata, must terminate without recursion
    html = (
        '<div id="x"><div itemscope itemid="http://ex/a"'
        ' itemtype="http://schema.org/Thing" itemref="y">'
        '<b itemprop="name">A</b></div></div>'
        '<div id="y"><div itemscope itemprop="related"'
        ' itemref="x"><b itemprop="name">B</b></div></div>'
    )
    got = parse_microdata(html)
    assert any(q[1][1] == "http://schema.org/name" for q in got)


def test_microdata_deterministic():
    html = (
        '<div itemscope itemtype="http://schema.org/Person">'
        '<div itemprop="knows" itemscope><span itemprop="name">B</span></div></div>'
    )
    assert parse_microdata(html, base=BASE) == parse_microdata(html, base=BASE)


def test_microdata_top_level_item_inside_another_item():
    # an itemscope without itemprop is a top-level item wherever it
    # sits; its properties are its own, not the enclosing item's
    html = (
        '<div itemscope itemtype="http://schema.org/Person"><span itemprop="name">A</span>'
        '<div itemscope itemtype="http://schema.org/Place"><span itemprop="name">P</span>'
        '</div></div>'
    )
    a, p = ("b", "md0"), ("b", "md1")
    assert parse_microdata(html, base=BASE) == [
        (a, ("i", RDF_TYPE), ("i", "http://schema.org/Person"), None),
        (a, ("i", "http://schema.org/name"), ("l", "A", None, None), None),
        (p, ("i", RDF_TYPE), ("i", "http://schema.org/Place"), None),
        (p, ("i", "http://schema.org/name"), ("l", "P", None, None), None),
    ]


def test_rdfa_vocab_about_typeof_property():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/b" typeof="Person">'
        '<span property="name">Bob</span></div>'
    )
    got = parse_rdfa(html, base=BASE)
    assert (("i", "http://ex/b"), ("i", RDF_TYPE), ("i", "http://schema.org/Person"), None) in got
    assert (("i", "http://ex/b"), ("i", "http://schema.org/name"),
            ("l", "Bob", None, None), None) in got


def test_rdfa_curie_prefix_and_initial_context():
    html = (
        '<div prefix="po: http://purl.org/ontology/po/" about="http://ex/x">'
        '<span property="po:track">t1</span>'
        '<meta property="og:title" content="X"></div>'
    )
    got = parse_rdfa(html, base=BASE)
    preds = {q[1][1] for q in got}
    assert "http://purl.org/ontology/po/track" in preds
    assert "http://ogp.me/ns#title" in preds  # initial-context prefix


def test_rdfa_content_attr_and_lang():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/x" lang="fr">'
        '<span property="name">René</span>'
        '<span property="email" content="r@x.fr"></span></div>'
    )
    got = parse_rdfa(html, base=BASE)
    objs = {q[1][1].rsplit("/", 1)[1]: q[2] for q in got}
    # non-ASCII canonicalizes to \uXXXX, matching the Turtle
    # evaluator's lexical convention (terms.escape_literal_lex)
    assert objs["name"] == ("l", "Ren\\u00E9", None, "fr")
    assert objs["email"] == ("l", "r@x.fr", None, "fr")


def test_rdfa_href_resource_objects():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/x">'
        '<a property="url" href="/home">h</a>'
        '<link property="sameAs" resource="http://other.example/x"></div>'
    )
    got = parse_rdfa(html, base="http://ex.org/a/b")
    objs = {q[1][1].rsplit("/", 1)[1]: q[2] for q in got}
    assert objs["url"] == ("i", "http://ex.org/home")
    assert objs["sameAs"] == ("i", "http://other.example/x")


def test_rdfa_nested_typeof_links_parent():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/x">'
        '<div property="address" typeof="PostalAddress">'
        '<span property="addressLocality">S</span></div></div>'
    )
    got = parse_rdfa(html, base=BASE)
    nested = [q[2] for q in got if q[1][1].endswith("/address")][0]
    assert nested[0] == "b"
    assert (nested, ("i", RDF_TYPE), ("i", "http://schema.org/PostalAddress"), None) in got
    assert (nested, ("i", "http://schema.org/addressLocality"),
            ("l", "S", None, None), None) in got


def test_rdfa_datatype_attr():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/x">'
        '<span property="height" datatype="xsd:integer">170</span></div>'
    )
    got = parse_rdfa(html, base=BASE)
    assert got[0][2] == ("l", "170", "http://www.w3.org/2001/XMLSchema#integer", None)


def test_rdfa_deterministic():
    html = '<div vocab="http://schema.org/"><div typeof="Thing"><span property="name">A</span></div></div>'
    assert parse_rdfa(html, base=BASE) == parse_rdfa(html, base=BASE)


def test_extract_blocks_detects_attribute_markup():
    html = (
        '<script type="text/turtle">@prefix ex: <http://ex/> .</script>'
        '<div itemscope itemtype="http://schema.org/Thing"></div>'
        '<p vocab="http://schema.org/" property="name">n</p>'
    )
    fmts = [b[1] for b in extract_blocks_from_html(html)]
    assert fmts == ["turtle", "microdata", "rdfa"]


def test_extract_blocks_plain_html_is_empty():
    assert extract_blocks_from_html("<html><body><p>hello</p></body></html>") == []


def test_literal_escape_canonicalization_roundtrip():
    """Extracted literals with quotes/backslashes/newlines must carry
    the NT-escaped lexical form the grammar evaluators emit, so the
    serialized triple re-parses to the same term (ADVICE r1, high)."""
    from rdf_spark.grammar.ntriples import parse_document
    from rdf_spark.terms import triple_str

    html = (
        '<div itemscope itemtype="http://schema.org/Person" itemid="http://ex/a">'
        '<span itemprop="name">He said "hi" \\ bye</span></div>'
    )
    got = parse_microdata(html, base=BASE)
    lit = [q[2] for q in got if q[1] == ("i", "http://schema.org/name")][0]
    assert lit == ("l", 'He said \\"hi\\" \\\\ bye', None, None)
    # the emitted line is valid N-Triples and round-trips to the same term
    line = triple_str((got[1][0], got[1][1], lit))
    [(s, p, o)] = parse_document(line + "\n", validate=True)
    assert o == lit


def test_rdfa_content_attr_escaped_and_nonascii():
    html = (
        '<div vocab="http://schema.org/" about="http://ex/a">'
        '<span property="name" content="a&quot;b&#10;c&#233;"></span></div>'
    )
    got = parse_rdfa(html, base=BASE)
    lit = [q[2] for q in got if q[1] == ("i", "http://schema.org/name")][0]
    assert lit == ("l", 'a\\"b\\nc\\u00E9', None, None)


def test_rdfa_about_property_href_links_iri():
    """@about + @property + @href: the object is the href IRI, not the
    element's text content (RDFa-lite; ADVICE r1)."""
    html = (
        '<div vocab="http://schema.org/" about="http://ex/a">'
        '<a property="url" href="rel/x">click me</a></div>'
    )
    got = parse_rdfa(html, base=BASE)
    objs = [q[2] for q in got if q[1] == ("i", "http://schema.org/url")]
    assert objs == [("i", "http://crawl.example/rel/x")]


def test_jsonld_string_literals_escaped():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = '{"@id": "http://ex/a", "http://ex/p": "say \\"hi\\"\\nplease"}'
    got = parse_jsonld(doc)
    lit = [q[2] for q in got if q[1] == ("i", "http://ex/p")][0]
    assert lit == ("l", 'say \\"hi\\"\\nplease', None, None)


def test_jsonld_string_context_schema_org():
    # the most common real-world form: a remote string context ->
    # @vocab heuristic (no network in a parser kernel)
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = ('{"@context": "https://schema.org", "@id": "http://ex/a",'
           ' "@type": "Person", "name": "Ada"}')
    got = parse_jsonld(doc)
    assert (("i", "http://ex/a"), ("i", RDF_TYPE),
            ("i", "https://schema.org/Person"), None) in got
    assert (("i", "http://ex/a"), ("i", "https://schema.org/name"),
            ("l", "Ada", None, None), None) in got


def test_jsonld_term_definitions_and_coercion():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = """{
      "@context": {
        "name": "http://xmlns.com/foaf/0.1/name",
        "homepage": {"@id": "http://xmlns.com/foaf/0.1/homepage",
                     "@type": "@id"},
        "age": {"@id": "http://ex/age",
                "@type": "http://www.w3.org/2001/XMLSchema#integer"}
      },
      "@id": "http://ex/a",
      "name": "Ada",
      "homepage": "http://ada.example/",
      "age": "36"
    }"""
    got = parse_jsonld(doc)
    trip = {(q[1][1], q[2]) for q in got}
    assert ("http://xmlns.com/foaf/0.1/name",
            ("l", "Ada", None, None)) in trip
    # @type: @id coerces the string value to an IRI ref
    assert ("http://xmlns.com/foaf/0.1/homepage",
            ("i", "http://ada.example/")) in trip
    # datatype coercion stamps the literal
    assert ("http://ex/age",
            ("l", "36", "http://www.w3.org/2001/XMLSchema#integer",
             None)) in trip


def test_jsonld_context_array_merges_in_order():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = """{
      "@context": ["https://schema.org",
                   {"foaf": "http://xmlns.com/foaf/0.1/"}],
      "@id": "http://ex/a",
      "name": "Ada",
      "foaf:nick": "ada"
    }"""
    got = parse_jsonld(doc)
    preds = {q[1][1] for q in got}
    assert "https://schema.org/name" in preds
    assert "http://xmlns.com/foaf/0.1/nick" in preds


def test_page_metadata_missing_and_first_wins():
    from rdf_spark.sources.extract import page_metadata_from_html

    html = (
        '<html><head><title>First</title><title>Second</title>'
        '<meta name="Description" content="D1">'
        '<link rel="stylesheet canonical" href="c1">'
        '<link rel="canonical" href="c2"></head></html>'
    )
    m = page_metadata_from_html(html, base="http://s.example/p/q")
    assert m["title"] == "First"
    assert m["description"] == "D1"          # name match is case-insensitive
    assert m["canonical"] == "http://s.example/p/c1"  # multi-rel, first wins
    assert m["html_lang"] is None

    empty = page_metadata_from_html("<p>no head</p>", base="")
    assert all(v is None for v in empty.values())


def test_jsonld_relative_id_resolves_against_base_not_vocab():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = ('{"@context": {"@vocab": "http://v/", "knows": '
           '{"@id": "http://ex/knows", "@type": "@id"}}, '
           '"@id": "rel-subj", "knows": "bob"}')
    got = parse_jsonld(doc, base="http://crawl.example/dir/page")
    trip = {(q[0], q[1][1], q[2]) for q in got}
    # @id positions resolve against the document base, never @vocab
    assert (("i", "http://crawl.example/dir/rel-subj"),
            "http://ex/knows",
            ("i", "http://crawl.example/dir/bob")) in trip


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _walk_list(quads, head):
    """Follow an rdf:first/rest chain from ``head``, return the items."""
    firsts = {q[0]: q[2] for q in quads if q[1] == ("i", RDF_NS + "first")}
    rests = {q[0]: q[2] for q in quads if q[1] == ("i", RDF_NS + "rest")}
    items = []
    while head != ("i", RDF_NS + "nil"):
        items.append(firsts[head])
        head = rests[head]
    return items


def test_jsonld_list_value_form():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = ('{"@id": "http://ex/a", "http://ex/seq": '
           '{"@list": ["x", 2, {"@id": "http://ex/b"}]}}')
    got = parse_jsonld(doc)
    heads = [q[2] for q in got if q[1] == ("i", "http://ex/seq")]
    assert len(heads) == 1 and heads[0][0] == "b"
    assert _walk_list(got, heads[0]) == [
        ("l", "x", None, None),
        ("l", "2", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("i", "http://ex/b"),
    ]
    # each cell has exactly one first and one rest
    cells = {q[0] for q in got if q[1] == ("i", RDF_NS + "first")}
    assert len(cells) == 3


def test_jsonld_list_container_term_with_coercion():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = """{
      "@context": {
        "steps": {"@id": "http://ex/steps", "@type": "@id",
                  "@container": "@list"}
      },
      "@id": "http://ex/a",
      "steps": ["http://ex/s1", "http://ex/s2"]
    }"""
    got = parse_jsonld(doc)
    head = [q[2] for q in got if q[1] == ("i", "http://ex/steps")][0]
    # element coercion applies INSIDE the list
    assert _walk_list(got, head) == [
        ("i", "http://ex/s1"), ("i", "http://ex/s2")]

    # a bare (non-array) value under @container:@list is a 1-element list
    doc1 = doc.replace('["http://ex/s1", "http://ex/s2"]',
                       '"http://ex/solo"')
    got1 = parse_jsonld(doc1)
    head1 = [q[2] for q in got1 if q[1] == ("i", "http://ex/steps")][0]
    assert _walk_list(got1, head1) == [("i", "http://ex/solo")]


def test_jsonld_empty_list_is_nil():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = '{"@id": "http://ex/a", "http://ex/seq": {"@list": []}}'
    got = parse_jsonld(doc)
    assert (("i", "http://ex/a"), ("i", "http://ex/seq"),
            ("i", RDF_NS + "nil"), None) in got
    assert not [q for q in got if q[1] == ("i", RDF_NS + "first")]


def test_jsonld_list_nested_and_node_objects():
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = ('{"@id": "http://ex/a", "http://ex/seq": '
           '{"@list": [{"@list": ["inner"]}, '
           '{"http://ex/name": "nested-node"}]}}')
    got = parse_jsonld(doc)
    head = [q[2] for q in got if q[1] == ("i", "http://ex/seq")][0]
    outer = _walk_list(got, head)
    assert len(outer) == 2
    assert _walk_list(got, outer[0]) == [("l", "inner", None, None)]
    assert (outer[1], ("i", "http://ex/name"),
            ("l", "nested-node", None, None), None) in got


def test_jsonld_list_sibling_keys_raise():
    import pytest

    from rdf_spark.sources.jsonld import JsonLdError, parse_jsonld

    doc = ('{"@id": "http://ex/a", "http://ex/p": '
           '{"@list": [], "@id": "http://ex/b"}}')
    with pytest.raises(JsonLdError):
        parse_jsonld(doc)


def test_jsonld_container_list_without_id_via_vocab():
    # r5 review: a term definition carrying ONLY @container (IRI from
    # @vocab) must still make an rdf:first/rest chain — the context
    # merge may not drop @id-less term definitions; and the
    # spec-legal array form ["@list"] counts too.
    from rdf_spark.sources.jsonld import parse_jsonld

    doc = ('{"@context": {"@vocab": "http://v/", '
           '"steps": {"@container": "@list"}}, '
           '"@id": "http://ex/a", "steps": ["a", "b"]}')
    got = parse_jsonld(doc)
    heads = [q[2] for q in got if q[1] == ("i", "http://v/steps")]
    assert len(heads) == 1
    assert _walk_list(got, heads[0]) == [
        ("l", "a", None, None), ("l", "b", None, None)]

    got2 = parse_jsonld(doc.replace('"@container": "@list"',
                                    '"@container": ["@list"]'))
    heads2 = [q[2] for q in got2 if q[1] == ("i", "http://v/steps")]
    assert _walk_list(got2, heads2[0]) == [
        ("l", "a", None, None), ("l", "b", None, None)]


_DEEP = 1200  # nested <div>s: deeper than Python's default recursion limit
_DEEP_PAGE = ('<html lang="en"><head><title>Deep</title></head><body>'
              + '<div id="d">' * _DEEP + "inner text" + "</div>" * _DEEP
              + "</body></html>")


def test_node_iter_is_document_order_preorder():
    from rdf_spark.sources.html_rdf import _Node, build_tree

    root = build_tree("<p>a<b>b<i>c</i></b>d</p><br>e")
    got = [n.tag if isinstance(n, _Node) else n for n in root.iter()]
    assert got == ["#root", "p", "a", "b", "b", "i", "c", "d", "br", "e"]
    assert root.text() == "abcde"


def test_deep_page_walks_without_recursion():
    from rdf_spark.sources.extract import page_metadata_from_html
    from rdf_spark.sources.html_rdf import build_tree

    m = page_metadata_from_html(_DEEP_PAGE, base=BASE)
    assert (m["title"], m["html_lang"]) == ("Deep", "en")
    assert build_tree(_DEEP_PAGE).text() == "Deep" + "inner text"


def test_extract_metadata_keeps_a_deep_page(spark):
    from rdf_spark.sources.extract import extract_metadata

    pages = spark.createDataFrame([(BASE, _DEEP_PAGE.encode())], "url string, html binary")
    rows = extract_metadata(pages).collect()
    assert [(r.url, r.title, r.html_lang) for r in rows] == [(BASE, "Deep", "en")]


# markup deeper than the recursion limit: one microdata item and one
# RDFa node whose property elements sit _DEEP levels below them
_DEEP_MARKUP_PAGE = (
    '<html><body><div vocab="http://schema.org/" typeof="Person"'
    ' itemscope itemtype="http://schema.org/Person">' + "<div>" * _DEEP
    + '<span property="name" itemprop="name">Alice</span>' + "</div>" * _DEEP
    + "</div></body></html>")
_DEEP_TRIPLES = {  # format -> (subj, pred, obj_lex) of its rows
    fmt: [(label, RDF_TYPE, "http://schema.org/Person"),
          (label, "http://schema.org/name", "Alice")]
    for fmt, label in (("microdata", "md0"), ("rdfa", "ra0"))
}


def test_deep_page_gives_its_markup_triples():
    from rdf_spark.operators.parse import doc_to_rows

    for fmt, want in _DEEP_TRIPLES.items():
        rows = doc_to_rows(BASE, fmt, _DEEP_MARKUP_PAGE)
        assert [r[-1] for r in rows] == [None, None]  # no error row
        assert [(r[2], r[3], r[5]) for r in rows] == want


def test_parse_pages_keeps_a_deep_page(spark):
    from rdf_spark.operators.parse import parse_pages

    pages = spark.createDataFrame([(BASE, _DEEP_MARKUP_PAGE.encode())], "url string, html binary")
    rows = parse_pages(pages).collect()
    assert [r.error for r in rows] == [None] * 4
    assert [(r.subj, r.pred, r.obj_lex) for r in rows] == (
        _DEEP_TRIPLES["microdata"] + _DEEP_TRIPLES["rdfa"])


def test_mixed_page_order_and_labels_are_pinned():
    # nested property items, itemref, an itemref cycle (c1 refers to
    # itself) and RDFa prefix/vocab/lang scoping; the expected lists
    # are the recursive extractors' output, labels included
    html = (
        '<html><body vocab="http://schema.org/" prefix="ex: http://ex/ns#">'
        '<div typeof="Person" about="#alice"><span property="name">Alice</span>'
        '<div prefix="ex: http://other/ns#" lang="de"><span property="ex:nick">Ali</span>'
        '<a property="knows" typeof="Person" href="/bob"><span property="name">Bob</span></a>'
        '<span property="ex:made" typeof="ex:Work"><span property="name">W</span></span></div>'
        '<span property="ex:nick">A</span>'
        '<div vocab="http://xmlns.com/foaf/0.1/" typeof="Document">'
        '<span property="title">T</span></div></div>'
        '<div itemscope itemtype="http://schema.org/Person" itemref="addr c1">'
        '<span itemprop="name">Carol</span>'
        '<div itemprop="knows" itemscope itemtype="http://schema.org/Person">'
        '<span itemprop="name">Dan</span>'
        '<div itemprop="knows" itemscope itemtype="http://ex/v#Agent" itemref="c1">'
        '<span itemprop="name">Eve</span></div></div></div>'
        '<p id="addr" itemprop="address">Main St</p>'
        '<div id="c1" itemprop="colleague" itemscope itemtype="http://ex/v#Agent" itemref="c1">'
        '<span itemprop="name">Cy</span></div></body></html>'
    )
    S, V = "http://schema.org/", "http://ex/v#"
    b = lambda n: ("b", n)  # noqa: E731
    i = lambda v: ("i", v)  # noqa: E731
    lit = lambda v, lang=None: ("l", v, None, lang)  # noqa: E731
    typ = i(RDF_TYPE)
    assert parse_microdata(html, base=BASE) == [
        (b("md0"), typ, i(S + "Person"), None),
        (b("md0"), i(S + "name"), lit("Carol"), None),
        (b("md1"), typ, i(S + "Person"), None),
        (b("md1"), i(S + "name"), lit("Dan"), None),
        (b("md2"), typ, i(V + "Agent"), None),
        (b("md2"), i(V + "name"), lit("Eve"), None),
        (b("md3"), typ, i(V + "Agent"), None),
        (b("md3"), i(V + "name"), lit("Cy"), None),
        (b("md3"), i(V + "colleague"), b("md4"), None),
        (b("md2"), i(V + "colleague"), b("md3"), None),
        (b("md1"), i(S + "knows"), b("md2"), None),
        (b("md0"), i(S + "knows"), b("md1"), None),
        (b("md0"), i(S + "address"), lit("Main St"), None),
        (b("md5"), typ, i(V + "Agent"), None),
        (b("md5"), i(V + "name"), lit("Cy"), None),
        (b("md5"), i(V + "colleague"), b("md6"), None),
        (b("md0"), i(S + "colleague"), b("md5"), None),
    ]
    alice, bob = i(BASE + "#alice"), i("http://crawl.example/bob")
    assert parse_rdfa(html, base=BASE) == [
        (alice, typ, i(S + "Person"), None),
        (alice, i(S + "name"), lit("Alice"), None),
        (alice, i("http://other/ns#nick"), lit("Ali", "de"), None),
        (bob, typ, i(S + "Person"), None),
        (alice, i(S + "knows"), bob, None),
        (bob, i(S + "name"), lit("Bob", "de"), None),
        (b("ra0"), typ, i("http://other/ns#Work"), None),
        (alice, i("http://other/ns#made"), b("ra0"), None),
        (b("ra0"), i(S + "name"), lit("W", "de"), None),
        (alice, i("http://ex/ns#nick"), lit("A"), None),
        (b("ra1"), typ, i("http://xmlns.com/foaf/0.1/Document"), None),
        (b("ra1"), i("http://xmlns.com/foaf/0.1/title"), lit("T"), None),
    ]

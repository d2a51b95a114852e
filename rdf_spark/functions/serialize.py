"""Term/triple serialization as pure Spark SQL expressions (SURVEY.md
S8/F6: reference ntriples/doc.go:147-153, 210-212, 271-279;
nquads/doc.go:193-198). No UDF — stays inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import KIND_BNODE, KIND_IRI, KIND_LITERAL, KIND_QUOTED, RDF_TYPE


def term_expr(kind: Column, lex: Column, datatype: Column = None, lang: Column = None) -> Column:
    """(kind, lex, datatype, lang) columns -> serialized term string."""
    iri = F.concat(F.lit("<"), lex, F.lit(">"))
    bnode = F.concat(F.lit("_:"), lex)
    lit = F.concat(F.lit('"'), lex, F.lit('"'))
    if datatype is not None:
        lit = F.when(
            datatype.isNotNull(),
            F.concat(F.lit('"'), lex, F.lit('"^^<'), datatype, F.lit(">")),
        ).otherwise(
            F.when(
                lang.isNotNull(),
                F.concat(F.lit('"'), lex, F.lit('"@'), lang),
            ).otherwise(lit)
        )
    return (
        F.when(kind == KIND_IRI, iri)
        .when(kind == KIND_BNODE, bnode)
        .when(kind == KIND_QUOTED, lex)  # quoted triples stored pre-serialized
        .otherwise(lit)
    )


def subj_expr(df_prefix: str = "") -> Column:
    p = df_prefix
    return term_expr(F.col(p + "subj_kind"), F.col(p + "subj"))


def obj_expr(df_prefix: str = "") -> Column:
    p = df_prefix
    return term_expr(
        F.col(p + "obj_kind"), F.col(p + "obj_lex"),
        F.col(p + "obj_datatype"), F.col(p + "obj_lang"),
    )


def line_expr(with_graph: bool = True) -> Column:
    """Full N-Triples/N-Quads line expression over the triples schema."""
    parts = [
        subj_expr(),
        F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
        obj_expr(),
    ]
    if with_graph:
        g = term_expr(F.col("graph_kind"), F.col("graph"))
        line_g = F.concat_ws(" ", *parts, g, F.lit("."))
        line = F.concat_ws(" ", *parts, F.lit("."))
        return F.when(F.col("graph_kind").isNotNull(), line_g).otherwise(line)
    return F.concat_ws(" ", *parts, F.lit("."))


def serialize_ntriples(triples: DataFrame) -> DataFrame:
    """triples -> single-column DataFrame of canonical NT/NQ lines
    (write with df.write.text)."""
    return triples.select(line_expr().alias("value"))


_SAFE_LOCAL = "^[A-Za-z_][A-Za-z0-9_-]*$"


def _compact(iri_col: Column, prefixes: dict[str, str]) -> Column:
    """IRI -> prefixed name when a namespace matches and the local part
    is unescaped-safe; else <iri>. Deterministic: longest-namespace-
    first, then alphabetical prefix."""
    expr = F.concat(F.lit("<"), iri_col, F.lit(">"))
    # apply shortest namespace first: later whens wrap earlier ones, so
    # the longest matching namespace ends up taking precedence
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: (len(kv[1]), kv[0])):
        local = F.substring(iri_col, len(ns) + 1, 1 << 20)
        expr = F.when(
            iri_col.startswith(ns) & local.rlike(_SAFE_LOCAL),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(expr)
    return expr


def _compact_term(kind: str, lex: str, other: Column, prefixes: dict[str, str]) -> Column:
    return F.when(F.col(kind) == KIND_IRI, _compact(F.col(lex), prefixes)).otherwise(other)


def _pred_obj_str(prefixes: dict[str, str]) -> tuple[Column, Column]:
    """Turtle spellings of a row's predicate and object: ``a`` for
    rdf:type, IRIs prefix-compacted."""
    pred = F.when(F.col("pred") == RDF_TYPE, F.lit("a")).otherwise(
        _compact(F.col("pred"), prefixes)
    )
    return pred, _compact_term("obj_kind", "obj_lex", obj_expr(), prefixes)


def _subject_blocks(rows: DataFrame, prefixes: dict[str, str], pred: Column,
                    obj: Column, graph: Column | None = None) -> DataFrame:
    """One Turtle block ``subj p o ;\\n  p o .`` per subject, or per
    (graph, subject) when ``graph`` is given, with the predicate-object
    pairs sorted. Returns (subj, value), or (graph, subj, value)."""
    subj = _compact_term("subj_kind", "subj", subj_expr(), prefixes)
    keys = [] if graph is None else [graph.alias("graph")]
    pairs = F.sort_array(F.collect_list(F.concat(pred, F.lit(" "), obj)))
    return (
        rows.groupBy(*keys, subj.alias("subj"))
        .agg(pairs.alias("pairs"))
        .select(
            *(["graph"] if keys else []), "subj",
            F.concat(
                F.col("subj"), F.lit(" "),
                F.array_join(F.col("pairs"), " ;\n  "),
                F.lit(" ."),
            ).alias("value"),
        )
    )


def serialize_turtle(triples: DataFrame,
                     prefixes: dict[str, str] | None = None) -> DataFrame:
    """Pretty-printed Turtle sink (SURVEY.md S9, reference
    turtle/doc.go:389-396 per-node String()): one block per subject
    with ';'-grouped predicate-object pairs, 'a' for rdf:type,
    prefix-compacted IRIs. Pure SQL expressions + one groupBy(subject)
    shuffle; blocks are deterministic (pairs sorted lexicographically).

    Returns (subj, value); prepend prefix_header() lines when writing a
    whole document."""
    prefixes = prefixes or {}
    return _subject_blocks(triples, prefixes, *_pred_obj_str(prefixes))


def serialize_turtle_nested(triples: DataFrame,
                            prefixes: dict[str, str] | None = None,
                            max_depth: int = 10) -> DataFrame:
    """Pretty-printed Turtle with nested ``[ ... ]`` blocks (SURVEY.md
    S9 structural form; reference turtle/doc.go:849-858 prints
    single-use blank nodes inline as bnode property lists).

    A blank node is inlined when it occurs exactly once as an object
    and has at least one subject triple; inlining runs leaf-first so
    chains nest recursively ([ ... [ ... ] ]). Blank nodes that are
    multi-referenced, cyclic, or deeper than `max_depth` stay as
    ``_:label`` blocks — still valid Turtle that re-parses to an equal
    document (the round-trip contract, terms.documents_equal).

    rdf:first/rdf:rest chains re-nest as collections (reference
    turtle/doc.go:735-744 prints ``( e1 e2 )``): a leaf bnode whose
    pair set is exactly {rdf:first o, rdf:rest r} renders ``( o )``
    when r is rdf:nil and prepends o onto an already-rendered inner
    ``( ... )`` otherwise, so the chain folds inside the same
    leaf-first rounds with no extra pass. Cells that are
    multi-referenced or otherwise irregular (extra predicates,
    rest pointing at a non-list) keep the ``[ ... ]`` / ``_:label``
    forms. The empty collection has no bnode (it IS rdf:nil) and
    prints as the compacted rdf:nil IRI — equivalent Turtle.

    Bnode labels must be globally unique across the input (they are
    document-scoped in RDF): run
    :func:`rdf_spark.operators.skolemize.skolemize` first when the
    table merges multiple documents, or colliding labels from
    different documents read as one multi-referenced node.

    An export/debug sink: the leaf-at-a-time loop runs one small join
    round per nesting level on the driver; route bulk exports through
    serialize_ntriples."""
    from ..terms import RDF_FIRST, RDF_NIL, RDF_REST

    prefixes = prefixes or {}
    pred_str, obj_str = _pred_obj_str(prefixes)
    cur = triples.select(
        "subj_kind", "subj", F.col("pred"), pred_str.alias("p_str"),
        "obj_kind", "obj_lex", obj_str.alias("o_str"),
    ).localCheckpoint()

    # bnode labels referenced exactly once as an object AND having a block
    obj_once = (
        cur.where(F.col("obj_kind") == KIND_BNODE)
        .groupBy(F.col("obj_lex").alias("label"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 1)
        .select("label")
    )
    has_block = (
        cur.where(F.col("subj_kind") == KIND_BNODE)
        .select(F.col("subj").alias("label"))
        .distinct()
    )
    pending = obj_once.join(has_block, "label").localCheckpoint()

    for _ in range(max_depth):
        if pending.isEmpty():
            break
        # leaves: pending bnodes whose own objects contain no pending bnode
        bn = cur.where(F.col("subj_kind") == KIND_BNODE).select(
            F.col("subj").alias("label"), "obj_kind", "obj_lex"
        )
        blocked = (
            bn.join(pending, "label")
            .where(F.col("obj_kind") == KIND_BNODE)
            .join(pending.withColumnRenamed("label", "obj_lex"), "obj_lex")
            .select("label")
            .distinct()
        )
        leaves = pending.join(blocked, "label", "left_anti")
        if leaves.isEmpty():
            break  # only cycles remain; they keep _:label form
        items = F.col("items")
        firsts = F.filter(items, lambda x: x["pred"] == RDF_FIRST)
        rests = F.filter(items, lambda x: x["pred"] == RDF_REST)
        is_cell = (
            (F.size(items) == 2) & (F.size(firsts) == 1) & (F.size(rests) == 1)
        )
        # F.get is null-safe on the non-cell rows where the filtered
        # arrays are empty (ANSI element_at would throw)
        first_o = F.get(firsts, 0)["o_str"]
        rest = F.get(rests, 0)
        rest_is_nil = (rest["obj_kind"] == KIND_IRI) & (rest["obj_lex"] == RDF_NIL)
        bracket = F.concat(
            F.lit("[ "),
            F.array_join(
                F.sort_array(F.transform(
                    items, lambda x: F.concat(x["p_str"], F.lit(" "), x["o_str"])
                )),
                " ; ",
            ),
            F.lit(" ]"),
        )
        block = (
            F.when(is_cell & rest_is_nil,
                   F.concat(F.lit("( "), first_o, F.lit(" )")))
            .when(is_cell & rest["o_str"].startswith("( "),
                  F.concat(F.lit("( "), first_o, F.lit(" "),
                           F.substring(rest["o_str"], 3, 1 << 20)))
            .otherwise(bracket)
        )
        leaf_blocks = (
            cur.join(leaves, (F.col("subj_kind") == KIND_BNODE)
                     & (F.col("subj") == F.col("label")))
            .groupBy("label")
            .agg(F.collect_list(F.struct(
                F.col("pred"), F.col("p_str"), F.col("o_str"),
                F.col("obj_kind"), F.col("obj_lex"),
            )).alias("items"))
            .select("label", block.alias("block"))
        )
        # drop the leaves' own triples (guarded on bnode kind so an IRI
        # subject that happens to equal a label is untouched)
        remaining = cur.join(
            leaves.select(F.col("label").alias("subj"),
                          F.lit(1).alias("__leaf")),
            ["subj"], "left",
        ).where(
            (F.col("__leaf").isNull()) | (F.col("subj_kind") != KIND_BNODE)
        ).drop("__leaf")
        cur = (
            remaining.join(
                leaf_blocks.withColumnRenamed("label", "__blabel"),
                (F.col("obj_kind") == KIND_BNODE)
                & (F.col("obj_lex") == F.col("__blabel")),
                "left",
            )
            .select(
                "subj_kind", "subj", "pred", "p_str",
                F.when(F.col("block").isNotNull(), F.lit(-1).cast("tinyint"))
                .otherwise(F.col("obj_kind")).alias("obj_kind"),
                "obj_lex",
                F.coalesce(F.col("block"), F.col("o_str")).alias("o_str"),
            )
            .localCheckpoint()
        )
        pending = pending.join(leaves, "label", "left_anti").localCheckpoint()

    return _subject_blocks(cur, prefixes, F.col("p_str"), F.col("o_str"))


def serialize_trig(quads: DataFrame,
                   prefixes: dict[str, str] | None = None) -> DataFrame:
    """Pretty-printed TriG sink (S9 dataset form): per-graph sections —
    default-graph subject blocks bare, named graphs wrapped in
    ``<label> { ... }``. Returns (graph, value) with one row per graph;
    deterministic (blocks sorted by subject). Two shuffles:
    groupBy(graph, subject) then groupBy(graph). An export/debug sink —
    a whole graph section materializes in one row, so route truly
    massive default graphs through serialize_turtle/serialize_ntriples
    instead."""
    prefixes = prefixes or {}
    graph_str = F.when(
        F.col("graph_kind").isNull(), F.lit(None).cast("string")
    ).otherwise(term_expr(F.col("graph_kind"), F.col("graph")))
    blocks = _subject_blocks(quads, prefixes, *_pred_obj_str(prefixes), graph=graph_str)
    body = F.array_join(F.sort_array(F.collect_list(F.col("value"))), "\n")
    return blocks.groupBy("graph").agg(body.alias("body")).select(
        "graph",
        F.when(
            F.col("graph").isNull(), F.col("body")
        ).otherwise(
            F.concat(F.col("graph"), F.lit(" {\n"), F.col("body"), F.lit("\n}"))
        ).alias("value"),
    )


def _json_esc(col: Column) -> Column:
    """Minimal JSON string escaping (backslash and double quote; the
    term model's lexical forms already encode control chars as NT
    escapes, which pass through JSON verbatim)."""
    return F.regexp_replace(col, r'(["\\])', r"\\$1")


def serialize_jsonld(triples: DataFrame) -> DataFrame:
    """Triples -> one JSON-LD node object per subject:
    ``{"@id": s, "<pred>": [ {"@id"|"@value"...}, ... ], ...}`` with
    predicates and objects sorted for deterministic output.

    Parity: the reference models this direction in Node.toObject
    (node.go:24-47, 72-100) but never wires a document serializer;
    this completes it. Deviation: typed literals use standard JSON-LD
    ``"@type"`` (the reference's toObject uses a nonstandard
    ``"@datatype"``, node.go:89/94) so the output round-trips through
    this repo's own parse_jsonld.

    Literal lexical forms are emitted VERBATIM: the term model's
    NT-escaped convention (backslash-quote, double-backslash, \\n,
    \\r, \\t, \\uXXXX) is
    itself a valid JSON string body, and parse_jsonld's JSON decode +
    escape_literal_lex canonicalization is its exact inverse — so
    round-trip is the identity. (Known edge: a supplementary-plane
    \\UXXXXXXXX escape is not JSON; such values should round-trip via
    the NT family.) IRIs get minimal JSON escaping.

    Two shuffles: groupBy(subj, pred) then groupBy(subj) — the same
    shape as serialize_trig; an export sink, not the bulk path."""
    subj_ref = F.when(
        F.col("subj_kind") == KIND_BNODE, F.concat(F.lit("_:"), F.col("subj"))
    ).otherwise(F.col("subj"))
    obj_json = (
        F.when(F.col("obj_kind") == KIND_IRI,
               F.concat(F.lit('{"@id":"'), _json_esc(F.col("obj_lex")), F.lit('"}')))
        .when(F.col("obj_kind") == KIND_BNODE,
              F.concat(F.lit('{"@id":"_:'), F.col("obj_lex"), F.lit('"}')))
        .when(F.col("obj_lang").isNotNull(),
              F.concat(F.lit('{"@value":"'), F.col("obj_lex"),
                       F.lit('","@language":"'), F.col("obj_lang"), F.lit('"}')))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(F.lit('{"@value":"'), F.col("obj_lex"),
                       F.lit('","@type":"'), F.col("obj_datatype"), F.lit('"}')))
        .otherwise(
            F.concat(F.lit('{"@value":"'), F.col("obj_lex"), F.lit('"}')))
    )
    per_pred = (
        triples.groupBy(subj_ref.alias("subj"), F.col("pred"))
        .agg(F.sort_array(F.collect_list(obj_json)).alias("objs"))
        .select(
            "subj",
            F.concat(F.lit('"'), _json_esc(F.col("pred")), F.lit('":['),
                     F.array_join(F.col("objs"), ","), F.lit("]")).alias("entry"),
        )
    )
    return (
        per_pred.groupBy("subj")
        .agg(F.sort_array(F.collect_list("entry")).alias("entries"))
        .select(
            "subj",
            F.concat(
                F.lit('{"@id":"'), _json_esc(F.col("subj")), F.lit('",'),
                F.array_join(F.col("entries"), ","), F.lit("}"),
            ).alias("value"),
        )
    )


RDFXML_HEADER = ('<rdf:RDF xmlns:rdf='
                 '"http://www.w3.org/1999/02/22-rdf-syntax-ns#">')
RDFXML_FOOTER = "</rdf:RDF>"


_XML_SENTINEL = "\x00"


def _nt_to_xml_text(col: Column) -> Column:
    """NT-escaped lexical form -> XML text-node content whose re-parse
    (expat decode + escape_literal_lex) is the identity:

    - ``\\\\`` -> sentinel first, so later steps never misread a
      literal backslash as an escape introducer (restored last);
    - ``\\"`` -> raw quote, ``\\n``/``\\t`` -> raw LF/tab (XML
      preserves both in text nodes);
    - ``\\r`` -> ``&#13;`` (XML 1.0 §2.11 line-ending normalization
      would silently turn a raw CR into LF on re-parse);
    - ``\\uXXXX`` / ``\\UXXXXXXXX`` -> ``&#x...;`` character
      references (all non-ASCII and escaped controls in the canonical
      form), emitted AFTER &/</> escaping so the refs survive."""
    c = F.replace(col, F.lit("\\\\"), F.lit(_XML_SENTINEL))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = _xml_escape_raw(c)
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\\t"), F.lit("\t"))
    c = F.replace(c, F.lit("\\r"), F.lit("&#13;"))
    c = F.regexp_replace(c, r"\\u([0-9A-Fa-f]{4})", "&#x$1;")
    c = F.regexp_replace(c, r"\\U([0-9A-Fa-f]{8})", "&#x$1;")
    return F.replace(c, F.lit(_XML_SENTINEL), F.lit("\\"))


def _xml_unrepresentable(col: Column) -> Column:
    """True when the NT-escaped form encodes a code point XML 1.0
    cannot carry even as a character reference: controls 0x00-0x1F
    (except tab/LF/CR, which the canonical form spells as two-char
    escapes), the surrogate range D800-DFFF, and FFFE/FFFF. Checked
    after the double-backslash sentinel so a literal backslash never
    false-positives."""
    s = F.replace(col, F.lit("\\\\"), F.lit(_XML_SENTINEL))
    # lowercase 'u' only: \UXXXXXXXX supplementary escapes are all
    # representable and must NOT match (no (?i) — it would fold \U)
    return s.rlike(
        r"\\u(00[01][0-9A-Fa-f]|[Dd][89A-Fa-f][0-9A-Fa-f]{2}"
        r"|[Ff]{3}[EeFf])")


def _xml_escape_raw(col: Column) -> Column:
    """Escape raw text for an XML text node."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


def _xml_attr(col: Column) -> Column:
    """Escape raw text for a double-quoted XML attribute value."""
    return F.replace(_xml_escape_raw(col), F.lit('"'), F.lit("&quot;"))


def serialize_rdfxml(triples: DataFrame) -> DataFrame:
    """Triples -> one ``<rdf:Description>`` element per subject
    (columns ``subj``, ``value``), round-tripping through
    sources/rdfxml.py. Wrap the collected values in RDFXML_HEADER /
    RDFXML_FOOTER for a full document.

    Property-element names need XML QNames, so each predicate IRI
    splits at its trailing NCName; the namespace is declared INLINE on
    every property element (``<n:local xmlns:n="ns">``) — valid XML,
    and it keeps the plan a single groupBy(subj) shuffle with no
    driver-side prefix map. A predicate with no NCName tail (e.g.
    ending in '/') cannot be a QName: raise_error, never silent drop.

    Literal text round-trips exactly: non-ASCII and supplementary
    ``\\u``/``\\U`` escapes become ``&#x...;`` character references,
    ``\\r`` becomes ``&#13;`` (raw CR would be LF-normalized by any
    XML parser). Control characters XML 1.0 cannot represent at all
    (0x00-0x1F minus tab/LF/CR) raise — they are outside the
    format's value space.

    Quoted-triple subjects/objects (RDF-star) are out of subset for
    this sink — use the NT-star family."""
    local = F.regexp_extract(F.col("pred"), r"([A-Za-z_][\w.-]*)$", 1)
    ns = F.regexp_replace(F.col("pred"), r"([A-Za-z_][\w.-]*)$", "")
    bad = (local == "") | (ns == "") | (F.col("obj_kind") == KIND_QUOTED) \
        | (F.col("subj_kind") == KIND_QUOTED) \
        | ((F.col("obj_kind") == KIND_LITERAL)
           & _xml_unrepresentable(F.col("obj_lex")))
    qname = F.concat(F.lit("n:"), local)
    open_tag = F.concat(F.lit("<"), qname, F.lit(' xmlns:n="'),
                        _xml_attr(ns), F.lit('"'))
    xml_text = _nt_to_xml_text(F.col("obj_lex"))
    elem = (
        F.when(F.col("obj_kind") == KIND_IRI,
               F.concat(open_tag, F.lit(' rdf:resource="'),
                        _xml_attr(F.col("obj_lex")), F.lit('"/>')))
        .when(F.col("obj_kind") == KIND_BNODE,
              F.concat(open_tag, F.lit(' rdf:nodeID="'),
                       F.col("obj_lex"), F.lit('"/>')))
        .when(F.col("obj_lang").isNotNull(),
              F.concat(open_tag, F.lit(' xml:lang="'), F.col("obj_lang"),
                       F.lit('">'), xml_text,
                       F.lit("</"), qname, F.lit(">")))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(open_tag, F.lit(' rdf:datatype="'),
                       _xml_attr(F.col("obj_datatype")), F.lit('">'),
                       xml_text, F.lit("</"), qname, F.lit(">")))
        .otherwise(F.concat(open_tag, F.lit(">"), xml_text,
                            F.lit("</"), qname, F.lit(">")))
    )
    elem = F.when(
        ~bad, elem
    ).otherwise(F.raise_error(F.concat(
        F.lit("rdfxml sink: predicate/term not serializable: "),
        F.col("pred"))))
    subj_attr = F.when(
        F.col("subj_kind") == KIND_BNODE,
        F.concat(F.lit(' rdf:nodeID="'), F.col("subj"), F.lit('"')),
    ).otherwise(
        F.concat(F.lit(' rdf:about="'), _xml_attr(F.col("subj")),
                 F.lit('"')))
    return (
        triples.groupBy(F.col("subj"), subj_attr.alias("subj_attr"))
        .agg(F.sort_array(F.collect_list(elem)).alias("props"))
        .select(
            "subj",
            F.concat(
                F.lit("<rdf:Description"), F.col("subj_attr"),
                F.lit(">\n  "),
                F.array_join(F.col("props"), "\n  "),
                F.lit("\n</rdf:Description>"),
            ).alias("value"),
        )
    )


def prefix_header(prefixes: dict[str, str]) -> list[str]:
    """@prefix lines for a pretty-printed document (driver-side; tiny)."""
    return [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]

"""Vectorized parse operators: pages -> triples DataFrame.

The per-document parser family (rdf_spark.grammar: the one line
grammar for N-Triples, N-Quads and their RDF-star forms, Turtle, TriG;
plus the HTML, JSON-LD and RDF/XML sources) runs as a per-row function
through :func:`rdf_spark.submit.map_rows` — Arrow batches in, exploded
triple batches out; only flat columns cross the UDF boundary (SURVEY.md
§1.3, §3.1-3.3). No row-at-a-time Spark UDFs anywhere (BASELINE.json
input_hint).

Scale design:
- one Python parse call per document, batched via Arrow
  (spark.sql.execution.arrow.maxRecordsPerBatch sizes the batch);
  raw html pages are extracted and parsed in the same Python pass, so
  a crawl page crosses the Arrow boundary once;
- parse failures become rows with ``error`` set (bad documents at web
  scale are data, not exceptions — SURVEY.md §2.3 E13);
- the output is partition-preserving: no shuffle is introduced by
  parsing itself.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ByteType,
    StringType,
    StructField,
    StructType,
)

from ..sources.extract import MEDIA_TYPE_FORMATS, extract_blocks_from_html
from ..submit import map_rows
from ..terms import term_to_flat

TRIPLES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("subj_kind", ByteType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj_kind", ByteType()),
        StructField("obj_lex", StringType()),
        StructField("obj_datatype", StringType()),
        StructField("obj_lang", StringType()),
        StructField("graph_kind", ByteType()),
        StructField("graph", StringType()),
        StructField("error", StringType()),
    ]
)


# line-format name -> parse_document(quads=, star=) of the one line grammar
_LINE_FORMATS = {
    "ntriples": (False, False),
    "nquads": (True, False),
    "ntriples-star": (False, True),
    "nquads-star": (True, True),
}


def parse_text(fmt: str, text: str, base: str):
    """Parse one document -> list of quads (graph None for triple
    syntaxes). ``fmt`` is a short format name or a media type of
    :data:`~rdf_spark.sources.extract.MEDIA_TYPE_FORMATS`; the four
    line-based syntaxes (N-Triples, N-Quads and their RDF-star forms)
    share the one line grammar, :func:`rdf_spark.grammar.ntriples.parse_document`."""
    fmt = MEDIA_TYPE_FORMATS.get(fmt, fmt)
    if fmt in _LINE_FORMATS:
        from ..grammar.ntriples import parse_document

        quads, star = _LINE_FORMATS[fmt]
        out = parse_document(text, quads=quads, star=star)
        return out if quads else [(s, p, o, None) for s, p, o in out]
    if fmt == "turtle":
        from ..grammar.turtle import parse_and_evaluate

        return [(s, p, o, None) for s, p, o in parse_and_evaluate(text, base)]
    if fmt == "trig":
        from ..grammar.trig import parse_and_evaluate

        return parse_and_evaluate(text)
    if fmt == "jsonld":
        from ..sources.jsonld import parse_jsonld

        return parse_jsonld(text, base)
    if fmt == "rdfxml":
        from ..sources.rdfxml import parse_rdfxml

        return parse_rdfxml(text, base)
    if fmt == "rdfa":
        from ..sources.html_rdf import parse_rdfa

        return parse_rdfa(text, base)
    if fmt == "microdata":
        from ..sources.html_rdf import parse_microdata

        return parse_microdata(text, base)
    raise ValueError(f"unknown RDF format {fmt!r}")


def doc_to_rows(url: str, fmt: str, text: str):
    """One document -> list of flat triple rows (+1 error row on failure)."""
    try:
        quads = parse_text(fmt, text, base=url or "")
    except Exception as e:  # noqa: BLE001 — error class recorded in the row
        return [(url, None, None, None, None, None, None, None, None, None,
                 f"{type(e).__name__}: {e}")]
    rows = []
    for s, p, o, g in quads:
        sk, sv, _, _ = term_to_flat(s)
        ok_, ol, od, olang = term_to_flat(o)
        pv = p[1]
        if g is None:
            gk, gv = None, None
        else:
            gk, gv, _, _ = term_to_flat(g)
        rows.append((url, sk, sv, pv, ok_, ol, od, olang, gk, gv, None))
    return rows


def sniff_format(text: str) -> str:
    """Cheap syntactic format sniff for crawl pages whose content
    type is missing or wrong (at 10^12 documents, mislabeled bodies
    are data). Checks only the document head; biased toward the
    Turtle family because Turtle subsumes N-Triples and a wrong guess
    surfaces as an error ROW, never an exception (doc_to_rows)."""
    stripped = text.lstrip("﻿ \t\r\n")
    head = stripped[:256]
    if head.startswith(("{", "[")):
        return "jsonld"
    low = head.lower()
    # XHTML(+RDFa) pages conventionally open with an XML declaration —
    # check for HTML markers BEFORE routing XML to the RDF/XML parser;
    # match '<!doctype html' specifically, because legacy RDF/XML
    # routinely carries '<!DOCTYPE rdf:RDF [ <!ENTITY ...> ]>'
    if "<html" in low or re.search(r"<!doctype\s+html", low):
        return "rdfa"  # attribute markup; pages parsed from their html
        # (parse_pages on an ``html`` column) probe both extractors
    if head.startswith("<?xml") or "<rdf:RDF" in head \
            or low.startswith("<!doctype"):
        return "rdfxml"
    if head.startswith("<<"):
        return "ntriples-star"
    if "@prefix" in head or "@base" in head or low.startswith(
            ("prefix ", "base ")):
        # directive syntax: trig iff a graph block opens in the head
        return "trig" if "{" in head else "turtle"
    if "{" in head:
        return "trig"  # graph block with no directives
    # N-Quads: first data line is term term term term '.' with an
    # IRI/bnode in graph position. A wider window than `head` so long
    # crawl IRIs don't cut the line mid-term; skip when a ';'
    # OUTSIDE IRI/literal spans marks a Turtle predicate list (a ', <o2>' object
    # list can still fool this — the error row names the misparse)
    first = next((ln for ln in stripped[:4096].splitlines()
                  if ln.strip() and not ln.lstrip().startswith("#")), "")
    bare = re.sub(r'<[^>]*>|"(?:[^"\\]|\\.)*"', "", first)
    if ";" not in bare and re.match(
            r"\s*(<[^>]*>|_:\S+)\s+<[^>]*>\s+\S.*"
            r"\s+(<[^>]*>|_:\S+)\s*\.\s*$", first):
        return "nquads"
    return "turtle"


def parse_pages(pages: DataFrame, default_format: str = "turtle") -> DataFrame:
    """pages -> triples DataFrame, in ONE Python pass (:func:`map_rows`).

    Accepted input shapes:

    - ``(url, html, ...)`` — raw crawl pages. A frame with an ``html``
      column is parsed from its html: inside the same Python pass each
      page is run through :func:`extract_blocks_from_html` and every
      embedded block straight into :func:`doc_to_rows`, so the blocks
      never cross the Arrow boundary. The result equals
      ``parse_pages(extract_pages(pages))`` row for row, error rows
      included; other columns (``text``, ``lang``, ...) are ignored.
    - ``(url, text[, format])`` — one document per row, e.g. the output
      of :func:`extract_pages` or a text corpus. ``default_format``
      applies where no ``format`` column exists or its value is null;
      pass ``"auto"`` to sniff per document (:func:`sniff_format`) —
      the crawl-realistic mode for pages with missing or wrong content
      types.

    A null ``html`` is a page with no blocks and a null ``text`` is no
    document: neither yields a row, not even an error row.

    The page ``url`` seeds the base IRI for relative-IRI resolution
    (mirrors the ``cwd`` argument of the reference's EvaluateDocument).
    """
    if "html" in pages.columns:
        def rows(url, html):
            for _, fmt, text in extract_blocks_from_html(html):
                yield from doc_to_rows(url, fmt, text)

        return map_rows(pages.select("url", "html"), rows, TRIPLES_SCHEMA)

    def doc_rows(url, text, fmt=None):
        if text is None:
            return ()
        f = fmt if fmt is not None else default_format
        return doc_to_rows(url, sniff_format(text) if f == "auto" else f, text)

    has_fmt = "format" in pages.columns
    src = pages.select("url", "text", *(["format"] if has_fmt else []))
    return map_rows(src, doc_rows, TRIPLES_SCHEMA)


def good_triples(triples: DataFrame) -> DataFrame:
    return triples.where(triples.error.isNull()).drop("error")

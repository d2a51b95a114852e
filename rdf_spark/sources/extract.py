"""Extraction front-end: web pages -> embedded RDF blocks.

Per BASELINE.json input_hint the pipeline input is an Iceberg-style
table ``pages(url, warc_ts, html binary, text, lang)``. This module
pulls embedded RDF out of ``html`` deterministically — the per-row
invariant is *byte-identical extracted text per url* across runs, so
extraction is pure string slicing on the decoded bytes (no DOM, no
normalization, no lowercasing of payloads).

Supported embeddings (media types per the reference registry,
/root/reference/ntriples/mediatype.go:3 and nquads/mediatype.go:3-8):
``<script type="text/turtle">``, ``application/n-triples``,
``application/n-quads``, ``application/trig``, ``application/ld+json``,
plus the RDF-star variants.

Runs per page through :func:`rdf_spark.submit.map_rows`: Arrow batches
of pages in, batches of (url, block_index, format, text, lang) out;
partition-preserving (no shuffle).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..submit import map_rows

MEDIA_TYPE_FORMATS = {
    "text/turtle": "turtle",
    "application/n-triples": "ntriples",
    "application/n-quads": "nquads",
    "application/trig": "trig",
    "application/ld+json": "jsonld",
    "application/rdf+xml": "rdfxml",
    "application/n-triples-star": "ntriples-star",
    "application/n-quads-star": "nquads-star",
}

# <script type="..."> ... </script>; the type attribute match is
# case-insensitive per HTML, the PAYLOAD is sliced verbatim.
_SCRIPT_RE = re.compile(
    r"<script\s[^>]*type\s*=\s*[\"']([^\"']+)[\"'][^>]*>(.*?)</script>",
    re.IGNORECASE | re.DOTALL,
)

BLOCKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("block_index", IntegerType()),
        StructField("format", StringType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),  # page language passthrough
    ]
)


# Attribute-level markup detection (cheap substring probes; the exact
# semantics live in sources/html_rdf.py). A page with itemscope markup
# yields one "microdata" block whose payload is the full html; same for
# RDFa-lite attributes.
_MICRODATA_PROBE = re.compile(r"\bitemscope\b", re.IGNORECASE)
_RDFA_PROBE = re.compile(r"\b(?:typeof|vocab|property)\s*=", re.IGNORECASE)


def extract_blocks_from_html(html: bytes | str):
    """One page's html -> [(block_index, format, payload_text)].
    Pure function of the bytes; script payloads returned verbatim;
    attribute-level markup (RDFa/Microdata) yields whole-page blocks.
    A null page (``None``) has no blocks."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    out = []
    i = 0
    for m in _SCRIPT_RE.finditer(html):
        fmt = MEDIA_TYPE_FORMATS.get(m.group(1).strip().lower())
        if fmt is not None:
            out.append((i, fmt, m.group(2)))
            i += 1
    if _MICRODATA_PROBE.search(html):
        out.append((i, "microdata", html))
        i += 1
    if _RDFA_PROBE.search(html):
        out.append((i, "rdfa", html))
        i += 1
    return out


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html[, lang], ...) -> blocks(url, block_index,
    format, text, lang) — the page-level ``lang`` column (input_hint
    schema) rides along for downstream language filtering."""
    has_lang = "lang" in pages.columns

    def blocks(url, html, lang=None):
        return [(url, idx, fmt, text, lang)
                for idx, fmt, text in extract_blocks_from_html(html)]

    src = pages.select("url", "html", *(["lang"] if has_lang else []))
    return map_rows(src, blocks, BLOCKS_SCHEMA)


METADATA_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical", StringType()),
        StructField("html_lang", StringType()),
    ]
)


def page_metadata_from_html(html: bytes | str, base: str = ""):
    """(title, description, canonical, html_lang) from one page:
    <title> text, <meta name=description content>, <link rel=canonical
    href> resolved against the page url, <html lang>. First occurrence
    wins; missing -> None. Tolerant parse (same tree builder as the
    RDFa/Microdata extractors)."""
    from urllib.parse import urljoin

    from .html_rdf import build_tree, _Node

    root = build_tree(html)
    out = {"title": None, "description": None, "canonical": None,
           "html_lang": None}

    for node in root.iter():
        if not isinstance(node, _Node):
            continue
        a = node.attrs
        if node.tag == "html" and out["html_lang"] is None and a.get("lang"):
            out["html_lang"] = a["lang"]
        elif node.tag == "title" and out["title"] is None:
            t = node.text().strip()
            if t:
                out["title"] = t
        elif node.tag == "meta" and out["description"] is None:
            if (a.get("name") or "").lower() == "description" and a.get("content"):
                out["description"] = a["content"]
        elif node.tag == "link" and out["canonical"] is None:
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and a.get("href"):
                out["canonical"] = urljoin(base, a["href"]) if base else a["href"]
    return out


def extract_metadata(pages: DataFrame) -> DataFrame:
    """pages(url, html) -> one metadata row per page through
    :func:`map_rows` (Arrow-batched, partition-preserving — the crawl
    pipeline's page metadata table)."""

    def row(url, html):
        m = page_metadata_from_html(html or b"", base=url or "")
        return [(url, m["title"], m["description"], m["canonical"],
                 m["html_lang"])]

    return map_rows(pages.select("url", "html"), row, METADATA_SCHEMA)

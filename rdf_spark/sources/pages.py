"""Deterministic synthetic ``pages`` corpus generator (FIXTURES.md §1).

Seeded (default 42), no wall clock, no network. Pages embed RDF blocks
drawn from:
  (a) the vendored W3C suite documents (positive + eval), or a small
      built-in set of N-Triples, N-Quads, Turtle and TriG documents
      when the suite files are absent,
  (b) template-generated Turtle with Zipf-skewed predicates/subjects
      (the head-entity skew fixture the salted aggregate must handle),
  (c) malformed documents from the negative-syntax suites, or the
      built-in malformed set (they become parse error rows, counted
      as ``docs_failed`` in the pipeline lineage).

Used by tests and bench.py; at a real 10^12-doc scale the same schema
arrives from the crawl's Iceberg table instead.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .extract import MEDIA_TYPE_FORMATS

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_MEDIA = {fmt: media for media, fmt in MEDIA_TYPE_FORMATS.items()}

_EPOCH = dt.datetime(2024, 1, 1)


def _wrap_html(fmt: str, payload: str, rng: random.Random) -> bytes:
    media = _MEDIA[fmt]
    title = f"page-{rng.randrange(10**9)}"
    return (
        f"<html><head><title>{title}</title>"
        f'<script type="{media}">{payload}</script>'
        f"</head><body><p>{title}</p></body></html>"
    ).encode("utf-8")


def _zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    # inverse-CDF-ish Zipf over [0, n): cheap and deterministic
    u = rng.random()
    return min(int(n * (u ** s) * u), n - 1) if n > 1 else 0


_PREDICATES = [
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "http://schema.org/name",
    "http://schema.org/url",
    "http://schema.org/author",
    "http://schema.org/datePublished",
    "http://schema.org/headline",
    "http://schema.org/about",
    "http://purl.org/dc/terms/title",
    "http://purl.org/dc/terms/creator",
    "http://xmlns.com/foaf/0.1/knows",
]


def make_turtle_doc(rng: random.Random, n_entities: int, n_triples: int) -> str:
    """Template Turtle with Zipf-skewed subjects/objects: rdf:type and
    schema.org predicates dominate, entity 0..k dominate mentions."""
    lines = [
        "@prefix s: <http://schema.org/> .",
        "@prefix e: <http://example.org/entity/> .",
    ]
    for _ in range(n_triples):
        subj = f"e:e{_zipf_index(rng, n_entities)}"
        p_i = _zipf_index(rng, len(_PREDICATES))
        pred = _PREDICATES[p_i]
        if pred.endswith("#type"):
            lines.append(f"{subj} a s:Thing .")
        elif rng.random() < 0.5:
            obj = f"e:e{_zipf_index(rng, n_entities)}"
            lines.append(f"{subj} <{pred}> {obj} .")
        else:
            lines.append(f'{subj} <{pred}> "v{rng.randrange(1000)}"@en .')
    # sprinkle structure: bnode property lists and collections
    if rng.random() < 0.3:
        lines.append(f'e:e{rng.randrange(n_entities)} s:about [ s:name "n{rng.randrange(100)}" ] .')
    if rng.random() < 0.2:
        lines.append(f"e:e{rng.randrange(n_entities)} s:itemList (1 2.5 3e1) .")
    return "\n".join(lines) + "\n"


# Stand-ins for the W3C suite documents when the suite files are absent:
# (format, text) pairs that parse, and pairs that each raise a parse or
# evaluation error.
_BUILTIN_GOOD = (
    ("ntriples", '<http://example.org/s> <http://example.org/p> <http://example.org/o> .\n'
                 '_:b0 <http://example.org/p> "chat"@fr .\n'),
    ("ntriples", '<http://example.org/s> <http://example.org/n> '
                 '"1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'),
    ("nquads", '<http://example.org/s> <http://example.org/p> <http://example.org/o> '
               '<http://example.org/g> .\n_:b1 <http://example.org/p> "x" _:g1 .\n'),
    ("turtle", '@prefix ex: <http://example.org/> .\n'
               'ex:s ex:p ex:o, "v" ; ex:q [ ex:r (1 2.5 3e1) ] .\n'),
    ("turtle", 'PREFIX : <http://example.org/>\n:a :b """two\nlines""" .\n'),
    ("trig", '@prefix ex: <http://example.org/> .\n'
             'ex:g { ex:s ex:p ex:o . }\n{ ex:s ex:p "d" . }\n'),
)
_BUILTIN_BAD = (
    ("ntriples", '<http://example.org/s> <http://example.org/p> .\n'),
    ("nquads", '<http://example.org/s> <http://example.org/p> <http://example.org/o> '
               '<http://example.org/g> <http://example.org/h> .\n'),
    ("turtle", '@prefix ex: <http://example.org/> .\nex:s ex:p "unterminated .\n'),
    ("turtle", 'ex:s ex:p ex:o .\n'),
    ("trig", '@prefix ex: <http://example.org/> .\nex:g { ex:s ex:p ex:o .\n'),
)


def _suite_docs():
    """Positive/eval W3C docs as (format, text); negative-syntax docs
    as malformed fixtures. Without the suite files, the built-in
    stand-ins. Lazy so Spark workers never need it."""
    from ..testsuite import load_manifest_regex

    good, bad = [], []
    try:
        for fmt in ("ntriples", "nquads", "turtle", "trig"):
            for t in load_manifest_regex(fmt):
                text = t.action_text()
                if "NegativeSyntax" in t.test_type:
                    bad.append((fmt, text))
                elif "PositiveSyntax" in t.test_type or "Eval" in t.test_type:
                    good.append((fmt, text))
    except FileNotFoundError:
        return list(_BUILTIN_GOOD), list(_BUILTIN_BAD)
    return good, bad


def generate_rows(n_pages: int, seed: int = 42, suite_fraction: float = 0.05,
                  bad_fraction: float = 0.02, triples_per_page: int = 20):
    """Yield (url, warc_ts, html, text, lang) tuples deterministically."""
    rng = random.Random(seed)
    good, bad = _suite_docs() if (suite_fraction or bad_fraction) else ([], [])
    n_entities = max(100, n_pages // 2)
    for i in range(n_pages):
        url = f"http://crawl.example/{seed}/page/{i}"
        ts = _EPOCH + dt.timedelta(seconds=i % (86400 * 30))
        r = rng.random()
        if bad and r < bad_fraction:
            fmt, payload = bad[rng.randrange(len(bad))]
        elif good and r < bad_fraction + suite_fraction:
            fmt, payload = good[rng.randrange(len(good))]
        else:
            fmt, payload = "turtle", make_turtle_doc(rng, n_entities, triples_per_page)
        yield (url, ts, _wrap_html(fmt, payload, rng), payload, "en")


def generate_pages(spark: SparkSession, n_pages: int, seed: int = 42,
                   partitions: int = 32, **kw) -> DataFrame:
    rows = list(generate_rows(n_pages, seed=seed, **kw))
    return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(partitions, "url")


def entity_dictionary(spark: SparkSession, n_entities: int = 1000, seed: int = 42) -> DataFrame:
    """Synthetic broadcast linking dictionary (FIXTURES.md §4):
    surface -> canonical IRI, Zipf head."""
    rng = random.Random(seed + 1)
    rows = []
    for i in range(n_entities):
        surface = f"http://example.org/entity/e{i}"
        canonical = f"http://kg.example/canonical/{i % max(1, n_entities // 3)}"
        rows.append((surface, canonical, round(rng.random(), 6)))
    return spark.createDataFrame(rows, "surface string, canonical_iri string, weight double")

"""Per-layer ledger of a traced run (``--trace 1``).

Every number comes from timing or counting calls into one layer from
this file; nothing inside the program is instrumented.  ``LEDGER`` names
each metric's layer and the end-to-end metric (and workload) it should
move, so a change can say in advance which numbers it expects to move.

Stage costs come from a cumulative ladder: each step writes a longer
prefix of the workload's plan to the noop sink (read -> +extract ->
+parse -> +skolemize -> +link -> +canonicalize -> +write), and a stage
costs the difference between its step and the one before.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

import gen
import queries
from harness import WORK, event_log_summary, job_group
from workloads import N_BUCKETS, noop, passes

FORMATS = ("turtle", "ntriples", "nquads", "jsonld")
LADDER_REPS = 2
_ALL = "wall_s on each workload"
# sparql_read is runnable but not in BENCHMARK.json; its set-up builds
# its table with the crawl pipeline
_CRAWL = "wall_s, triples_per_s on crawl_checkpoint; setup_s on sparql_read"
_QUERY = "; none on bulk_rdf or crawl_checkpoint"

# metric -> (unit, layer, what it should move)
LEDGER = {
    **{f"grammar.{f}.triples_per_s": (
        "1/s", "grammar",
        "wall_s, triples_per_s on bulk_rdf; a little on crawl_checkpoint; "
        "no query metric")
       for f in FORMATS},
    "parse.flatten_share": ("ratio", "operators.parse", "wall_s on bulk_rdf"),
    "parse.boundary_overhead": ("ratio", "operators.parse", "wall_s on bulk_rdf"),
    "parse.stage_s": ("s", "operators.parse", "wall_s on bulk_rdf"),
    "extract.pages_per_s": ("1/s", "sources.extract", _CRAWL + "; none on bulk_rdf"),
    "extract.stage_s": ("s", "sources.extract", _CRAWL + "; none on bulk_rdf"),
    "skolemize.stage_s": ("s", "operators.skolemize", "wall_s on bulk_rdf"),
    "skolemize.bnodes": ("count", "operators.skolemize", "wall_s on bulk_rdf"),
    "link.stage_s": ("s", "operators.link", "wall_s on bulk_rdf"),
    "link.hits": ("count", "operators.link", "wall_s on bulk_rdf"),
    "link.hit_ratio": ("ratio", "operators.link", "wall_s on bulk_rdf"),
    "canonical.stage_s": ("s", "operators.canonical",
                          "wall_s on bulk_rdf; " + _CRAWL + "; peak_rss_mb"),
    "canonical.dedupe_ratio": ("ratio", "operators.canonical", _CRAWL + " (dedupe)"),
    "canonical.shuffle_write_bytes": ("B", "operators.canonical",
                                      "wall_s on bulk_rdf; peak_rss_mb"),
    "canonical.spill_bytes": ("B", "operators.canonical", "wall_s on bulk_rdf; peak_rss_mb"),
    "pipeline.jobs_per_bucket": ("count", "plans.pipeline", _CRAWL + " only"),
    "pipeline.bucket_s": ("s", "plans.pipeline", _CRAWL + " only"),
    "pipeline.write_s": ("s", "plans.pipeline", _CRAWL + " only"),
    "sparql.compile_s": ("s", "operators.sparql", "query_p50_s on sparql_read" + _QUERY),
    "sparql.execute_s": ("s", "operators.sparql", "query_p90_s on sparql_read" + _QUERY),
    "spark.executor_run_s": ("s", "spark", _ALL),
    "spark.gc_s": ("s", "spark", "peak_rss_mb and " + _ALL),
    "spark.shuffle_read_bytes": ("B", "spark", _ALL),
    "spark.shuffle_write_bytes": ("B", "spark", "peak_rss_mb and " + _ALL),
    "spark.spill_bytes": ("B", "spark", "peak_rss_mb and " + _ALL),
    "spark.jobs": ("count", "spark", _ALL),
    "spark.tasks": ("count", "spark", _ALL),
    "trace.wall_s": ("s", "benchmark", "tracing overhead = trace.wall_s - wall_s, same seed"),
}


def _m(name: str, value: float) -> tuple[str, tuple[float, str]]:
    return name, (value, LEDGER[name][0])


# --- kernels: one core, no Spark ------------------------------------------

def _blocks(w) -> tuple[list, list]:
    """(html pages, text blocks) of the workload's own documents; text
    corpora are wrapped in a script tag so extraction has pages to scan."""
    from rdf_spark.sources.extract import extract_blocks_from_html

    if w.html:
        pages = [html for _, html in w.corpus.rows]
        blocks = [(url, f, t) for url, html in w.corpus.rows
                  for _, f, t in extract_blocks_from_html(html)]
    else:
        blocks = list(w.corpus.rows)
        pages = [f'<html><head><script type="{gen.MEDIA[f]}">{t}</script></head>'
                 f"<body></body></html>".encode() for _, f, t in blocks]
    return pages, blocks


def kernels(w, tracer) -> tuple[dict, list, float]:
    """Extraction and grammar throughput on one core; returns the
    metrics, the blocks that parse, and their ``doc_to_rows`` time."""
    pages, blocks = _blocks(w)
    gc.collect()
    gc.disable()  # as timeit does: a collection would land on one random call
    try:
        return _kernels(tracer, pages, blocks)
    finally:
        gc.enable()


def _kernels(tracer, pages: list, blocks: list) -> tuple[dict, list, float]:
    from rdf_spark.operators.parse import doc_to_rows, parse_text
    from rdf_spark.sources.extract import extract_blocks_from_html

    with tracer.span("extract.kernel", pages=len(pages)):
        t0 = time.perf_counter()
        for html in pages:
            extract_blocks_from_html(html)
        extract_s = time.perf_counter() - t0
    for url, fmt, text in blocks[:200]:  # imports and regex compiles
        doc_to_rows(url, fmt, text)
    good, per_fmt = [], {f: [0.0, 0] for f in FORMATS}
    parse_s = rows_s = 0.0
    with tracer.span("grammar.kernel", docs=len(blocks)):
        for i, (url, fmt, text) in enumerate(blocks):
            # each document is parsed twice; alternate which call goes
            # first, so per-document caches favour neither sum
            calls = (lambda: parse_text(fmt, text, url), lambda: doc_to_rows(url, fmt, text))
            t, n = [0.0, 0.0], 0
            try:
                for j in (0, 1) if i % 2 else (1, 0):
                    t0 = time.perf_counter()
                    res = calls[j]()
                    t[j] = time.perf_counter() - t0
                    n = len(res) if j == 0 else n
            except ValueError:  # the grammars' syntax errors: planted malformed documents
                continue
            good.append((url, fmt, text))
            parse_s += t[0]
            rows_s += t[1]
            if fmt in per_fmt:
                per_fmt[fmt][0] += t[0]
                per_fmt[fmt][1] += n
    out = dict(_m(f"grammar.{f}.triples_per_s", n / t) for f, (t, n) in per_fmt.items())
    out.update([_m("extract.pages_per_s", len(pages) / extract_s),
                _m("parse.flatten_share", (rows_s - parse_s) / rows_s)])
    return out, good, rows_s


def boundary(w, good: list, rows_s: float, tracer) -> dict:
    """``parse_pages`` over the same documents in one task (one core)
    against the kernel sum: the cost of the mapInPandas boundary."""
    from rdf_spark.operators.parse import parse_pages

    one = w.spark.createDataFrame(good, "url string, format string, text string") \
        .coalesce(1).cache()
    one.count()
    walls = []
    with job_group(w.spark, "ledger.boundary"):
        for _ in range(2):
            with tracer.span("parse.one_task"):
                t0 = time.monotonic()
                noop(parse_pages(one))
                walls.append(time.monotonic() - t0)
    one.unpersist(blocking=True)
    return dict([_m("parse.boundary_overhead", statistics.median(walls) / rows_s - 1)])


# --- stage ladder ----------------------------------------------------------

def _steps(w, pages):
    from rdf_spark.operators.canonical import canonicalize, cluster_for_write
    from rdf_spark.operators.link import link_entities
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.skolemize import skolemize
    from rdf_spark.sources.extract import extract_pages

    table = os.path.join(WORK, "ledger", "table")
    blocks = extract_pages(pages) if w.html else pages
    parsed = parse_pages(blocks)
    sk = skolemize(good_triples(parsed))
    linked = link_entities(sk, w.dictionary)
    canon = canonicalize(linked)
    steps = [("read", lambda: noop(pages))]
    if w.html:
        steps.append(("extract", lambda: noop(blocks)))
    steps += [
        ("parse", lambda: noop(parsed)),
        ("skolemize", lambda: noop(sk)),
        ("link", lambda: noop(linked)),
        ("canonical", lambda: noop(canon)),
        ("write", lambda: cluster_for_write(canon, buckets=4).write.mode("overwrite")
         .parquet(table)),
    ]
    return steps, table


def ladder(w, tracer) -> tuple[dict, str]:
    """Run each ladder step twice and keep the faster run (noise only
    ever adds time); stage cost = step - previous step."""
    steps, table = _steps(w, w.pages)
    walls = {}
    for name, fn in steps:
        with job_group(w.spark, f"ledger.{name}"):
            for _ in range(LADDER_REPS):
                with tracer.span(f"ladder.{name}"):
                    t0 = time.monotonic()
                    fn()
                    walls[name] = min(walls.get(name, float("inf")), time.monotonic() - t0)
    before = "extract" if w.html else "read"
    out = dict([
        _m("parse.stage_s", walls["parse"] - walls[before]),
        _m("skolemize.stage_s", walls["skolemize"] - walls["parse"]),
        _m("link.stage_s", walls["link"] - walls["skolemize"]),
        _m("canonical.stage_s", walls["canonical"] - walls["link"]),
        _m("pipeline.write_s", walls["write"] - walls["canonical"]),
    ])
    if w.html:
        out.update([_m("extract.stage_s", walls["extract"] - walls["read"])])
    else:
        out.update([_m("extract.stage_s", _wrapped_extract(w, tracer))])
    return out, table


def _wrapped_extract(w, tracer) -> float:
    """Text corpora: the extract stage over the same documents wrapped
    as HTML pages (the timed plan of ``bulk_rdf`` has no extraction)."""
    from rdf_spark.sources.extract import extract_pages

    pages, _ = _blocks(w)
    df = w.spark.createDataFrame([(str(i), p) for i, p in enumerate(pages)],
                                 "url string, html binary").repartition(2 * w.n_cpus).cache()
    df.count()
    walls = []
    for name, fn in (("read", lambda: noop(df)), ("extract", lambda: noop(extract_pages(df)))):
        with tracer.span(f"ladder.wrapped.{name}"):
            t0 = time.monotonic()
            fn()
            walls.append(time.monotonic() - t0)
    df.unpersist(blocking=True)
    return walls[1] - walls[0]


def counts(w, tracer) -> dict:
    """Blank nodes skolemized and dictionary hits, counted in one pass
    by observing the plan before and after ``link_entities``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rdf_spark.operators.link import link_entities
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.skolemize import skolemize
    from rdf_spark.sources.extract import extract_pages

    surfaces = [s for s, _ in w.corpus.dictionary]
    iri = lambda k, c: F.sum(((F.col(k) == 0) & F.col(c).isin(surfaces)).cast("long"))  # noqa: E731
    o_in, o_out = Observation("skolemized"), Observation("linked")
    blocks = extract_pages(w.pages) if w.html else w.pages
    sk = skolemize(good_triples(parse_pages(blocks))).observe(
        o_in,
        (F.sum((F.col("subj_kind") == 1).cast("long"))
         + F.sum((F.col("obj_kind") == 1).cast("long"))
         + F.sum(F.coalesce((F.col("graph_kind") == 1).cast("long"), F.lit(0)))
         ).alias("bnodes"),
        (iri("subj_kind", "subj") + iri("obj_kind", "obj_lex")).alias("surfaces"))
    linked = link_entities(sk, w.dictionary).observe(
        o_out,
        (iri("subj_kind", "subj") + iri("obj_kind", "obj_lex")).alias("surfaces"),
        (F.sum((F.col("subj_kind") == 0).cast("long"))
         + F.sum((F.col("obj_kind") == 0).cast("long"))).alias("iri_terms"))
    with job_group(w.spark, "ledger.counts"), tracer.span("ledger.counts"):
        noop(linked)
    a, b = o_in.get, o_out.get
    hits = a["surfaces"] - b["surfaces"]
    return dict([_m("skolemize.bnodes", a["bnodes"]), _m("link.hits", hits),
                 _m("link.hit_ratio", hits / b["iri_terms"])])


# --- pipeline and sparql ---------------------------------------------------

def pipeline(w, tracer, loop: dict) -> dict:
    """Jobs per bucket (from the status tracker) and per-bucket wall
    time: the traced timed loop for ``crawl_checkpoint``, one extra
    ``PipelineRun`` over the workload's corpus otherwise."""
    from rdf_spark.plans.pipeline import PipelineRun

    tracker = w.spark.sparkContext.statusTracker()
    if w.name == "crawl_checkpoint":
        jobs = len(tracker.getJobIdsForGroup("measure")) / len(loop["walls"])
        lineage = w.lineage
    else:
        run = PipelineRun(w.spark, os.path.join(WORK, "ledger", "pipeline"),
                          n_buckets=N_BUCKETS, run_id="ledger")
        with job_group(w.spark, "ledger.pipeline"), tracer.span("ledger.pipeline"):
            run.run(w.pages, dictionary=w.dictionary, from_html=w.html)
        jobs = len(tracker.getJobIdsForGroup("ledger.pipeline"))
        lineage = run.lineage()
    return dict([
        _m("pipeline.jobs_per_bucket", jobs / N_BUCKETS),
        _m("pipeline.bucket_s", statistics.median(x["wall_ms"] for x in lineage) / 1000),
    ])


def sparql(w, tracer, loop: dict, table_path: str) -> dict:
    """Median compile and execute time per query: the traced timed loop
    for ``sparql_read``; otherwise one pass of a crawl-world mix over the
    table the ladder wrote (answers not checked: only timed)."""
    since = loop["first_span"]
    if w.name != "sparql_read":
        since = len(tracer.spans)
        c = gen.crawl(w.seed)
        table = w.spark.read.parquet(table_path)
        with job_group(w.spark, "ledger.sparql"):
            for q in queries.mix(c.keys(), f"http://example.org/{w.seed}/", w.seed):
                queries.run(table, q, tracer)
    return dict([
        _m("sparql.compile_s", statistics.median(tracer.durations("sparql.compile", since))),
        _m("sparql.execute_s", statistics.median(tracer.durations("sparql.execute", since))),
    ])


# --- entry points ----------------------------------------------------------

def run(w, loop: dict, tracer) -> dict:
    """Everything that needs the live session."""
    out = {}
    with tracer.span("ledger"):
        k, good, rows_s = kernels(w, tracer)
        out.update(k)
        out.update(boundary(w, good, rows_s, tracer))
        out.update(pipeline(w, tracer, loop))
        lad, table = ladder(w, tracer)
        out.update(lad)
        out.update(counts(w, tracer))
        out.update(sparql(w, tracer, loop, table))
    out.update([_m("canonical.dedupe_ratio", w.dedupe),
                _m("trace.wall_s", statistics.median(t for t, _ in passes(w, loop)))])
    return out


def from_event_log(work: str, w, loop: dict) -> dict:
    """Engine counters per pass of the timed loop, and the shuffle and
    spill that ``canonicalize`` adds to the ladder, from the event log."""
    g = event_log_summary(work)
    n = len(passes(w, loop))
    m, canon, link = g["measure"], g["ledger.canonical"], g["ledger.link"]
    per_rep = lambda key: (canon[key] - link[key]) / LADDER_REPS  # noqa: E731
    return dict([
        _m("spark.executor_run_s", m["run_s"] / n),
        _m("spark.gc_s", m["gc_s"] / n),
        _m("spark.shuffle_read_bytes", m["shuffle_read"] / n),
        _m("spark.shuffle_write_bytes", m["shuffle_write"] / n),
        _m("spark.spill_bytes", m["spill"] / n),
        _m("spark.jobs", m["jobs"] / n),
        _m("spark.tasks", m["tasks"] / n),
        _m("canonical.shuffle_write_bytes", per_rep("shuffle_write")),
        _m("canonical.spill_bytes", per_rep("spill")),
    ])

"""The workloads: set-up, one timed operation, output checks.

Each workload drives the library only through its public functions.
An *operation* is what the timed loop repeats: one pass of the whole
corpus through the pipeline (``bulk_rdf``, ``crawl_checkpoint``) or one
query (``sparql_read``, whose *pass* is the whole query mix).
"""

from __future__ import annotations

import heapq
import os
import shutil
import time

import gen
import queries
from harness import WORK, job_group

N_BUCKETS = 2
MIN_PASSES = 3


def noop(df) -> None:
    """Consume every column of ``df``; nothing is pruned away."""
    df.write.format("noop").mode("overwrite").save()


def split(spark, rows: list, partitions: int):
    """``rows`` as an RDD of ``partitions`` splits of near-equal size
    (largest document first, each to the lightest split), as a file
    source splits its input by bytes.  Hashing urls instead would let
    the seed decide how many of the few large dump pages share a task."""
    splits = [(0, k, []) for k in range(partitions)]
    for row in sorted(rows, key=lambda r: -len(r[-1])):
        size, k, part = heapq.heappop(splits)
        part.append(row)
        heapq.heappush(splits, (size + len(row[-1]), k, part))
    # one split per slice: parallelize cuts a list of n items into n slices
    return spark.sparkContext.parallelize([p for _, _, p in sorted(splits)], partitions) \
        .flatMap(lambda part: part)


class Workload:
    """Common shape: ``prepare`` (generate and load the inputs; repeated
    to time set-up), ``warm`` (once), ``op`` (timed), ``finish``."""

    name = ""
    warm_passes = 3

    def __init__(self, spark, seed: int, n_cpus: int, tracer):
        self.spark, self.seed, self.n_cpus, self.tracer = spark, seed, n_cpus, tracer
        self.failures: list[str] = []
        self._cached: list = []

    def cache(self, df):
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    def load(self, corpus, schema: str, partitions: int):
        """Generated rows -> cached input pages and link dictionary."""
        self.release()
        self.corpus = corpus
        sp = self.spark
        self.pages = self.cache(sp.createDataFrame(split(sp, corpus.rows, partitions), schema))
        self.dictionary = self.cache(sp.createDataFrame(
            corpus.dictionary, "surface string, canonical_iri string"))

    def warm(self) -> None:
        """JIT, Python workers, regex compiles and the heap settle over
        the first passes; none of them is timed."""
        for _ in range(self.warm_passes * self.ops_per_pass()):
            self.op()
            self.after_op()

    def ops_per_pass(self) -> int:
        return 1

    def after_op(self) -> None:
        """Untimed clean-up between operations."""

    def finish(self) -> None:
        """Checks that need one more look at the output (untimed)."""


class BulkRdf(Workload):
    """Text RDF documents through parse -> skolemize -> link ->
    canonicalize, written to the noop sink."""

    name = "bulk_rdf"
    html = False
    # the JIT still shortens the third pass by a fifth
    warm_passes = 4

    def prepare(self) -> None:
        # four tasks per core: a core the host slows down takes fewer
        self.load(gen.bulk_rdf(self.seed), "url string, format string, text string",
                  4 * self.n_cpus)
        self.expect_rows = len(self.corpus.keys())

    def plan(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from rdf_spark.operators.canonical import canonicalize
        from rdf_spark.operators.link import link_entities
        from rdf_spark.operators.parse import good_triples, parse_pages
        from rdf_spark.operators.skolemize import skolemize

        o_in, o_out = Observation("parsed"), Observation("canonical")
        parsed = parse_pages(self.pages).observe(
            o_in, F.count(F.col("error")).alias("errors"))
        out = canonicalize(link_entities(skolemize(good_triples(parsed)),
                                         self.dictionary)).observe(
            o_out, F.count(F.lit(1)).alias("rows"),
            F.sum("support").alias("support"),
            F.count(F.when(F.col("first_url").isNull()
                           | (F.col("approx_sources") < 1), 1)).alias("bad"))
        return out, o_in, o_out

    def op(self) -> int:
        out, o_in, o_out = self.plan()
        noop(out)
        got, errs = o_out.get, o_in.get["errors"]
        c = self.corpus
        ok = self.check(errs == c.planted, f"error rows {errs} != planted {c.planted}")
        ok &= self.check(got["rows"] == self.expect_rows,
                         f"canonical rows {got['rows']} != {self.expect_rows}")
        ok &= self.check(got["support"] == c.raw, f"support {got['support']} != {c.raw}")
        ok &= self.check(got["bad"] == 0, f"{got['bad']} rows lack provenance")
        self.dedupe = got["rows"] / got["support"]
        return got["rows"] if ok else -1


class CrawlCheckpoint(Workload):
    """HTML pages through ``PipelineRun.run(from_html=True)`` into a
    fresh output directory per operation."""

    name = "crawl_checkpoint"
    html = True

    n_ops = 0

    def prepare(self) -> None:
        self.load(gen.crawl(self.seed), "url string, html binary", self.n_cpus)
        self.expect_rows = gen.bucketed_rows(self.corpus, N_BUCKETS)

    def op(self) -> int:
        from rdf_spark.plans.pipeline import PipelineRun

        self.n_ops += 1
        out_dir = os.path.join(WORK, "crawl", f"op{self.n_ops}")
        run = PipelineRun(self.spark, out_dir, n_buckets=N_BUCKETS,
                          run_id=f"{self.seed}-{self.n_ops}")
        stats = run.run(self.pages, dictionary=self.dictionary, from_html=True)
        lineage = run.lineage()
        failed = sum(x["docs_failed"] for x in lineage)
        c = self.corpus
        ok = self.check(failed == c.planted, f"docs_failed {failed} != planted {c.planted}")
        ok &= self.check(stats["triples_out"] == self.expect_rows,
                         f"triples_out {stats['triples_out']} != {self.expect_rows}")
        ok &= self.check(len(lineage) == N_BUCKETS, f"{len(lineage)} lineage files")
        self.last, self.lineage = run, lineage
        self.dedupe = stats["triples_out"] / c.raw
        return stats["triples_out"] if ok else -1

    def after_op(self) -> None:
        """Drop all but the newest output directory (untimed)."""
        for d in os.listdir(os.path.join(WORK, "crawl")):
            if d != f"op{self.n_ops}":
                shutil.rmtree(os.path.join(WORK, "crawl", d))

    def finish(self) -> None:
        from pyspark.sql import functions as F

        from rdf_spark.operators.canonical import TRIPLE_KEY

        out = self.last.read_output()
        got = out.agg(F.sum("support").alias("support"),
                      F.count(F.lit(1)).alias("rows")).first()
        distinct = out.select(*TRIPLE_KEY).distinct().count()
        c = self.corpus
        self.check(got["support"] == c.raw, f"read-back support {got['support']} != {c.raw}")
        self.check(got["rows"] == self.expect_rows, f"read-back rows {got['rows']}")
        self.check(distinct == len(c.keys()), f"distinct keys {distinct} != {len(c.keys())}")


class SparqlRead(Workload):
    """One client, closed loop, over the canonical table that set-up
    builds from ``crawl_checkpoint``'s corpus and caches."""

    name = "sparql_read"
    html = True

    # planning code keeps speeding up over the first passes of the mix
    warm_passes = 5
    cursor = 0  # next query of the mix
    n_tables = 0

    def prepare(self) -> None:
        """The crawl corpus through a one-bucket ``PipelineRun`` (one
        bucket dedupes globally), read back and cached as the table."""
        from rdf_spark.plans.pipeline import PipelineRun

        self.load(gen.crawl(self.seed), "url string, html binary", self.n_cpus)
        self.n_tables += 1
        run = PipelineRun(self.spark, os.path.join(WORK, "table", str(self.n_tables)),
                          n_buckets=1, run_id=str(self.seed))
        stats = run.run(self.pages, dictionary=self.dictionary, from_html=True)
        self.table = self.cache(run.read_output())
        c = self.corpus
        failed = run.lineage()[0]["docs_failed"]
        self.check(failed == c.planted, f"docs_failed {failed} != planted {c.planted}")
        self.check(stats["triples_out"] == len(c.keys()),
                   f"table rows {stats['triples_out']} != {len(c.keys())}")
        self.dedupe = stats["triples_out"] / c.raw
        self.mix = queries.mix(c.keys(), f"http://example.org/{self.seed}/", self.seed)

    def warm(self) -> None:
        super().warm()
        self.cursor = 0

    def ops_per_pass(self) -> int:
        return len(self.mix)

    def op(self) -> int:
        q = self.mix[self.cursor % len(self.mix)]
        self.cursor += 1
        n = queries.run(self.table, q, self.tracer)
        self.check(n >= 0, f"query {q.name} answer differs")
        return n


WORKLOADS = {w.name: w for w in (BulkRdf, CrawlCheckpoint, SparqlRead)}


def timed_loop(w: Workload, seconds: float, tracer) -> dict:
    """Repeat ``w.op`` for ``seconds`` and then to the end of the pass
    (at least ``MIN_PASSES``); per-op wall times and outputs."""
    walls, outs, first_span = [], [], len(tracer.spans)
    per_pass = w.ops_per_pass()
    deadline = time.monotonic() + seconds
    with job_group(w.spark, "measure"):
        while (time.monotonic() < deadline or len(walls) < MIN_PASSES * per_pass
               or len(walls) % per_pass):
            with tracer.span("op", workload=w.name):
                t0 = time.monotonic()
                out = w.op()
                walls.append(time.monotonic() - t0)
            outs.append(out)
            w.after_op()
    return {"walls": walls, "outs": outs, "first_span": first_span}


def passes(w: Workload, loop: dict) -> list[tuple[float, int]]:
    """(seconds, output rows) of each whole pass of the timed loop."""
    k, walls, outs = w.ops_per_pass(), loop["walls"], loop["outs"]
    return [(sum(walls[i:i + k]), sum(outs[i:i + k]))
            for i in range(0, len(walls) - k + 1, k)]

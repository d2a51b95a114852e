"""End-to-end KG-construction pipeline (north_rule):

  pages -> extract embedded RDF blocks -> vectorized parse ->
  skolemize blank nodes -> entity-link (broadcast dict) ->
  canonical dedupe -> partitioned triple-table materialization,
  with per-partition lineage manifests and checkpoint-resume via
  processed-partition watermarks.

Storage: partitioned parquet laid out Iceberg-style (a `_progress`
watermark table and a `_lineage` metrics table beside the data). On a
production cluster the writes target Iceberg tables (append +
snapshot); the sandbox has no Iceberg runtime jar, so the layout and
the resume protocol are implemented over directories — the logic
(skip-completed-partitions, idempotent re-run) is identical.

Resume protocol:
  input is bucketed into `n_buckets` by hash(url). Each bucket is an
  independent unit of work: parse -> ... -> overwrite `part=<bucket>`
  of the output, then write `_lineage/<bucket>.json` and
  `_progress/<bucket>.json` LAST (write-ahead on data, commit on
  watermark). Two buckets are in flight at once (one is planned while
  the other runs), but the commits are made in bucket order, so the
  committed buckets are always a prefix of the pending ones. A re-run
  skips buckets whose watermark exists; a killed run re-processes its
  in-flight buckets, overwriting the same partition directories
  (idempotent: a bucket's output is a pure function of its input).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonical import canonicalize, cluster_for_write
from ..operators.link import link_entities
from ..operators.parse import good_triples, parse_pages
from ..operators.skolemize import skolemize

# Buckets in flight at once: one is planned on the driver while the
# other's jobs run, which hides the plan-building gap between them.
_IN_FLIGHT = 2


def parse_stage(pages: DataFrame, from_html: bool = True,
                text_format: str = "turtle") -> DataFrame:
    """pages -> parsed rows (good triples AND errors-as-rows; lazy).
    The single expensive stage, and a single Python pass: with
    ``from_html`` the pages' html goes straight into
    :func:`parse_pages`, which extracts the embedded blocks and parses
    them in the same Python pass (no intermediate blocks frame);
    without it the ``text`` column is parsed, as ``text_format`` unless
    a ``format`` column names the syntax per row (``"auto"`` sniffs).
    Everything downstream (triples, error accounting) derives from this
    one DataFrame so the parse runs once."""
    src = pages.select("url", "html") if from_html else pages.drop("html")
    return parse_pages(src, default_format=text_format)


def link_stage(parsed: DataFrame,
               dictionary: DataFrame | None = None) -> DataFrame:
    """parsed rows -> skolemized rows, linked when a dictionary is
    given. Error rows pass through unchanged (their null terms match
    no dictionary surface), so a stream keeps them beside its triples;
    the batch plans drop them first with :func:`good_triples`."""
    triples = skolemize(parsed)
    if dictionary is not None:
        triples = link_entities(triples, dictionary)
    return triples


def build_triples(
    pages: DataFrame,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
    text_format: str = "turtle",
) -> DataFrame:
    """The logical plan pages -> canonical triples (lazy; no actions):
    parse -> skolemize -> link -> dedupe."""
    parsed = parse_stage(pages, from_html, text_format)
    return canonicalize(link_stage(good_triples(parsed), dictionary))


def bucket_write_plan(
    pages: DataFrame,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
    text_format: str = "turtle",
) -> tuple[DataFrame, list[Observation]]:
    """One checkpoint bucket: the canonical, subj-clustered rows to
    write, plus the Observations that fill its lineage. Writing the
    frame is the bucket's only action — one Python pass (extract +
    parse), one Exchange (``cluster_for_write`` on raw triples) — and the
    counts ride along on it: ``docs_in`` on the pages, ``docs_failed``
    (error rows) and ``raw_triples`` on the parsed rows,
    ``triples_out`` on the rows written."""
    obs = [Observation() for _ in range(3)]
    pages = pages.observe(obs[0], F.count(F.lit(1)).alias("docs_in"))
    err = F.col("error")
    parsed = parse_stage(pages, from_html, text_format).observe(
        obs[1],
        F.count(F.when(err.isNotNull(), 1)).alias("docs_failed"),
        F.count(F.when(err.isNull(), 1)).alias("raw_triples"),
    )
    out = cluster_for_write(link_stage(good_triples(parsed), dictionary),
                            buckets=4)
    return out.observe(obs[2], F.count(F.lit(1)).alias("triples_out")), obs


class PipelineRun:
    """Checkpointed, lineage-recording pipeline execution."""

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 8,
                 run_id: str = "run"):
        from ..submit import ship_package

        ship_package(spark)  # executors import rdf_spark from any cwd
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.run_id = run_id
        self.progress_dir = os.path.join(out_dir, "_progress")
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.data_dir = os.path.join(out_dir, "triples")
        os.makedirs(self.progress_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    def completed_buckets(self) -> set[int]:
        return {
            int(f[:-5]) for f in os.listdir(self.progress_dir) if f.endswith(".json")
        }

    def run(self, pages: DataFrame, dictionary: DataFrame | None = None,
            from_html: bool = True, text_format: str = "turtle") -> dict:
        """Process all buckets not yet in the watermark table: parse
        each bucket's pages (their html with ``from_html``, else their
        ``text`` as ``text_format``), link against ``dictionary`` when
        given, and write the canonical triples. For a subj-bucketed copy
        of the finished output, call :meth:`finalize_bucketed`."""
        done = self.completed_buckets()
        stats = {"processed": [], "skipped": sorted(done), "triples_out": 0}
        bucketed = pages.withColumn(
            "__bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        )

        # Per bucket: ONE Spark action, the parquet write of
        # bucket_write_plan — one Python pass over the pages (extract +
        # parse fused in parse_pages) and one Exchange (hash on subj,
        # shared by the canonical aggregate and the file layout). The
        # lineage counts are Observations collected by that same write:
        # no persisted parse, no side counts, no re-read of the output.
        # At real scale each bucket is an Iceberg partition-filtered
        # scan instead of the hash filter.
        def write_bucket(b: int) -> tuple[dict, int]:
            t0 = time.monotonic()
            part = bucketed.where(F.col("__bucket") == b).drop("__bucket")
            out, obs = bucket_write_plan(part, dictionary, from_html=from_html,
                                         text_format=text_format)
            out.write.mode("overwrite").parquet(
                os.path.join(self.data_dir, f"part={b}"))
            counts = {k: v for o in obs for k, v in o.get.items()}
            return counts, int((time.monotonic() - t0) * 1000)

        # _IN_FLIGHT buckets are planned and written at once on pool
        # threads that inherit this thread's job group and local
        # properties: each bucket is wrapped here, on the calling
        # thread, so it gets its own copy of them. This thread
        # commits them in bucket order; on the first failure the
        # buckets not yet started are cancelled, the running writes
        # finish, nothing after the failed bucket is committed and the
        # error propagates. A bucket's wall_ms is its own plan-and-write
        # wall, which overlaps its neighbour's.
        pool = ThreadPoolExecutor(_IN_FLIGHT, thread_name_prefix="bucket")
        try:
            futures = [
                (b, pool.submit(inheritable_thread_target(self.spark)(write_bucket), b))
                for b in range(self.n_buckets) if b not in done
            ]
            for b, fut in futures:
                counts, wall_ms = fut.result()
                triples_out = counts["triples_out"]
                lineage = {
                    "input_partition": b,
                    "job_run_id": self.run_id,
                    "docs_in": counts["docs_in"],
                    "docs_failed": counts["docs_failed"],
                    "raw_triples": counts["raw_triples"],
                    "triples_out": triples_out,
                    "dedupe_ratio": (triples_out / counts["raw_triples"]
                                     if counts["raw_triples"] else None),
                    "wall_ms": wall_ms,
                }
                with open(os.path.join(self.lineage_dir, f"{b}.json"), "w") as f:
                    json.dump(lineage, f)
                # watermark LAST: commit point for this bucket
                with open(os.path.join(self.progress_dir, f"{b}.json"), "w") as f:
                    json.dump({"bucket": b, "run_id": self.run_id}, f)
                stats["processed"].append(b)
                stats["triples_out"] += triples_out
        finally:
            pool.shutdown(cancel_futures=True)
        return stats

    def finalize_bucketed(self, table: str, n_buckets: int = 16,
                          path: str | None = None) -> DataFrame:
        """Rewrite the completed triple output as a subj-bucketed
        catalog table (same schema as :meth:`read_output`, incl. the
        ``part`` checkpoint-provenance column) and return the
        bucketing-aware reader. Idempotent: overwrites the table."""
        from .bucketed import read_bucketed_triples, write_bucketed_triples

        if path is None:
            path = os.path.join(self.out_dir, "triples_bucketed")
        write_bucketed_triples(self.read_output(), table,
                               n_buckets=n_buckets, path=path)
        return read_bucketed_triples(self.spark, table)

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)

    def lineage(self) -> list[dict]:
        """The committed buckets' lineage records. A record's
        ``wall_ms`` is its bucket's own plan-and-write wall, which
        overlaps its neighbour's (two buckets are in flight at once),
        so the records' sum exceeds the run's wall."""
        out = []
        for f in sorted(os.listdir(self.lineage_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.lineage_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

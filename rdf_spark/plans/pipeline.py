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
  input is bucketed into `n_buckets` by hash(url), and the pending
  buckets are taken in waves of `_WAVE`. A wave is ONE Spark action: a
  `partitionBy("part")` write that dynamically overwrites the wave's
  `part=<bucket>` directories of the output and nothing else. Then,
  bucket by bucket in order, `_lineage/<bucket>.json` and
  `_progress/<bucket>.json` are written LAST (write-ahead on data,
  commit on watermark), so the committed buckets are always a prefix of
  the pending ones. A re-run skips buckets whose watermark exists; a
  killed run re-processes the buckets of its last wave, overwriting the
  same partition directories (idempotent: a bucket's output is a pure
  function of its input).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.canonical import CANONICAL_SCHEMA, canonicalize, cluster_for_write
from ..operators.link import link_entities
from ..operators.parse import good_triples, parse_pages
from ..operators.skolemize import skolemize

# Buckets per write: a wave pays a Spark job's fixed cost once for all
# its buckets, and a killed run loses at most one wave of work.
_WAVE = 2
_LINEAGE_COUNTS = ("docs_in", "docs_failed", "raw_triples", "triples_out")
_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
# What a wave writes, read back with the partition column last; an
# output with no triples has no parquet file to infer it from.
_OUTPUT_SCHEMA = StructType([*CANONICAL_SCHEMA, StructField("part", IntegerType())])


@contextmanager
def _observations_kept(spark: SparkSession) -> Iterator[None]:
    """Turn off AQE's empty-relation pruning, which drops the plan above
    an empty shuffle stage (a wave whose pages give no triples) and the
    Observations inside it."""
    old = spark.conf.get(_EXCLUDED_RULES, None)
    rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(_EXCLUDED_RULES, ",".join(filter(None, [old, rule])))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_EXCLUDED_RULES)
        else:
            spark.conf.set(_EXCLUDED_RULES, old)


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
    buckets: Sequence[int] = (0,),
    n_buckets: int = 1,
) -> tuple[DataFrame, list[Observation]]:
    """One wave of checkpoint buckets: the canonical, subj-clustered
    rows of the pages in ``buckets`` (of ``n_buckets``), each with its
    bucket as ``part``, plus the Observations that fill their lineage.
    Writing the frame is the wave's only action — one Python pass
    (extract + parse), one Exchange (``cluster_for_write`` on raw
    triples) — and the counts ride along on it, one per bucket
    (``<name>_<bucket>``): ``docs_in`` on the pages, ``docs_failed``
    (error rows) and ``raw_triples`` on the parsed rows, ``triples_out``
    on the rows written. ``part`` is derived from each row's ``url``, so
    a triple seen in two buckets stays two rows."""
    def per_bucket(name: str, cond: Column, part: Column) -> list[Column]:
        return [F.count(F.when(cond & (part == b), 1)).alias(f"{name}_{b}")
                for b in buckets]

    obs = [Observation() for _ in range(3)]
    page_part = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    pages = pages.where(page_part.isin(*buckets)).observe(
        obs[0], *per_bucket("docs_in", F.lit(True), page_part))
    err = F.col("error")
    parsed = parse_stage(pages, from_html, text_format).observe(
        obs[1],
        *per_bucket("docs_failed", err.isNotNull(), page_part),
        *per_bucket("raw_triples", err.isNull(), page_part),
    )
    triples = link_stage(good_triples(parsed), dictionary).withColumn("part", page_part)
    out = cluster_for_write(triples, buckets=4, within=("part",))
    return out.observe(obs[2], *per_bucket("triples_out", F.lit(True), F.col("part"))), obs


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
        pending = [b for b in range(self.n_buckets) if b not in done]
        # Per wave: ONE Spark action, the parquet write of bucket_write_plan,
        # whose Observations carry the lineage counts (no side counts, no
        # re-read). At real scale a wave is an Iceberg partition-filtered scan.
        for i in range(0, len(pending), _WAVE):
            wave = pending[i:i + _WAVE]
            t0 = time.monotonic()
            out, obs = bucket_write_plan(pages, dictionary, from_html, text_format,
                                         buckets=wave, n_buckets=self.n_buckets)
            with _observations_kept(self.spark):
                out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
                    .partitionBy("part").parquet(self.data_dir)
            wall_ms = int((time.monotonic() - t0) * 1000)
            counts = {k: v for o in obs for k, v in o.get.items()}
            for b in wave:
                c = {k: counts[f"{k}_{b}"] for k in _LINEAGE_COUNTS}
                lineage = {"input_partition": b, "job_run_id": self.run_id, **c,
                           "dedupe_ratio": (c["triples_out"] / c["raw_triples"]
                                            if c["raw_triples"] else None),
                           "wall_ms": wall_ms}
                with open(os.path.join(self.lineage_dir, f"{b}.json"), "w") as f:
                    json.dump(lineage, f)
                # watermark LAST: commit point for this bucket
                with open(os.path.join(self.progress_dir, f"{b}.json"), "w") as f:
                    json.dump({"bucket": b, "run_id": self.run_id}, f)
                stats["processed"].append(b)
                stats["triples_out"] += c["triples_out"]
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
        return self.spark.read.schema(_OUTPUT_SCHEMA).parquet(self.data_dir)

    def lineage(self) -> list[dict]:
        """The committed buckets' lineage records. A record's
        ``wall_ms`` is its wave's plan-and-write wall, shared by all the
        buckets of the wave, so the records' sum exceeds the run's
        wall."""
        out = []
        for f in sorted(os.listdir(self.lineage_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.lineage_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

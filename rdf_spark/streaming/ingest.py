"""Structured Streaming ingest: continuously arriving page files ->
triple table.

The reference is batch-only (SURVEY.md §2.6: no streaming); this is the
Spark-native continuous-crawl front-end. Design:

- **stateless streaming stage** (parse -> skolemize -> link): the
  batch pipeline's own ``parse_stage`` and ``link_stage``
  (plans/pipeline.py), one Python pass per micro-batch, parse errors
  kept as rows with ``error`` set. Every transformation is
  per-row/per-document, so the stream runs in append mode with no
  watermark and no state store — exactly-once via the file-sink commit
  log + source checkpoint offsets. This is the streaming twin of the
  batch ``PipelineRun`` watermark protocol.
- **canonical dedupe stays a batch compaction** (canonicalize() over
  the appended files, e.g. hourly): a streaming global groupBy over an
  unbounded triple keyspace would accumulate unbounded state; at
  10^12-doc scale the dedupe must be a partitioned batch aggregate over
  closed partitions (same reasoning as SURVEY.md §4.3.2).
- restarts resume from the checkpoint dir: already-committed input
  files are skipped, half-written output is invisible (sink log).

``ingest_available(...)`` uses ``trigger(availableNow=True)``: process
everything currently in the input dir, then stop — deterministic and
testable; production swaps the trigger for a continuous one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import link_stage, parse_stage

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, input_dir: str,
                 schema: str = PAGES_DDL) -> DataFrame:
    """File-source stream over a directory of page parquet files."""
    return spark.readStream.schema(schema).parquet(input_dir)


def ingest_available(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
) -> None:
    """Process all currently-available page files exactly once and
    append their rows to ``output_dir``; blocking. The pages' html is
    parsed with ``from_html``, else their ``text`` as Turtle; triples
    are skolemized and linked against ``dictionary`` when given, and
    parse errors are kept as rows with ``error`` set. Re-invocations
    skip files already committed in the checkpoint (crash-safe
    resume)."""
    from ..submit import ship_package

    ship_package(spark)
    triples = link_stage(
        parse_stage(stream_pages(spark, input_dir), from_html), dictionary
    )
    q = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_canonical(spark: SparkSession, triples_dir: str,
                      out_dir: str) -> None:
    """Batch compaction companion: canonical (s,p,o,g) dedupe over the
    streamed appends, clustered for write with one shuffle (run per
    closed partition)."""
    from ..operators.canonical import cluster_for_write
    from ..operators.parse import good_triples

    t = good_triples(spark.read.parquet(triples_dir))
    cluster_for_write(t).write.mode("overwrite").parquet(out_dir)

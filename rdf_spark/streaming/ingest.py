"""Structured Streaming ingest: continuously arriving page files ->
triple table.

The reference is batch-only (SURVEY.md §2.6: no streaming); this is the
Spark-native continuous-crawl front-end. Design:

- **stateless streaming stage** (parse -> skolemize -> link): every
  transformation is per-row/per-document, so the stream runs in append
  mode with no watermark and no state store — exactly-once via the
  file-sink commit log + source checkpoint offsets. This is the
  streaming twin of the batch ``PipelineRun`` watermark protocol.
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

from ..operators.link import link_entities
from ..operators.parse import parse_pages
from ..operators.skolemize import skolemize

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, input_dir: str,
                 schema: str = PAGES_DDL) -> DataFrame:
    """File-source stream over a directory of page parquet files."""
    return spark.readStream.schema(schema).parquet(input_dir)


def stream_triples(pages: DataFrame, dictionary: DataFrame | None = None,
                   from_html: bool = True,
                   text_format: str = "turtle") -> DataFrame:
    """pages stream -> triples stream (stateless: parse + skolemize +
    link; parse errors kept as rows with ``error`` set). html pages go
    straight to :func:`parse_pages`, which extracts and parses them in
    one Python pass."""
    from pyspark.sql import functions as F

    src = pages.select("url", "html") if from_html else pages.select(
        "url", F.lit(text_format).alias("format"), "text"
    )
    triples = parse_pages(src)
    triples = skolemize(triples)
    if dictionary is not None:
        good = triples.where(F.col("error").isNull())
        bad = triples.where(F.col("error").isNotNull())
        triples = link_entities(good.drop("error"), dictionary).withColumn(
            "error", F.lit(None).cast("string")
        ).unionByName(bad)
    return triples


def ingest_available(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
) -> None:
    """Process all currently-available page files exactly once and
    append triples to ``output_dir``; blocking. Re-invocations skip
    files already committed in the checkpoint (crash-safe resume)."""
    from ..submit import ship_package

    ship_package(spark)
    triples = stream_triples(
        stream_pages(spark, input_dir), dictionary, from_html=from_html
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
    from pyspark.sql import functions as F

    t = spark.read.parquet(triples_dir).where(F.col("error").isNull()).drop("error")
    cluster_for_write(t).write.mode("overwrite").parquet(out_dir)

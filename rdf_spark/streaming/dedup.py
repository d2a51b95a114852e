"""Streaming exact deduplication: continuously arriving documents ->
first-seen-only stream, with bounded state.

The batch counterpart is operators/dedup.exact_dedup_groups (report
the groups) / a keep-first filter; on a continuous crawl you want the
duplicate suppressed AT INGEST so downstream stages (quality scoring,
tokenization, packing) never pay for the copy. Design:

- the dedup key is md5(text) — the same engine-portable content hash
  the batch operator and its DuckDB oracle use;
- `dropDuplicatesWithinWatermark` + an event-time watermark bounds the
  state store: a duplicate arriving within the watermark window of its
  first sighting is dropped, older state is evicted. Exact global
  dedup over an unbounded stream would need unbounded state (the same
  reasoning that keeps canonical triple dedupe a batch compaction,
  streaming/ingest.py); near-window dedup at ingest + periodic batch
  exact dedup over closed partitions is the production split;
- exactly-once to a file sink via checkpoint + sink commit log, same
  protocol as ingest_available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_DDL = "doc_id long, ts timestamp, text string"


def stream_docs(spark: SparkSession, input_dir: str,
                schema: str = DOCS_DDL) -> DataFrame:
    """File-source stream over a directory of document parquet files."""
    return spark.readStream.schema(schema).parquet(input_dir)


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "10 minutes") -> DataFrame:
    """documents stream -> stream of first-seen documents per content
    hash within the watermark window. State per key is one row of
    (hash, first-seen event time); eviction follows the watermark."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def dedup_available(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
) -> None:
    """Dedup all currently-available document files exactly once and
    append survivors to ``output_dir``; blocking. Re-invocations skip
    files already committed in the checkpoint — and the dedup state
    itself lives in the checkpoint, so a duplicate arriving in a LATER
    micro-batch (within the watermark) of a resumed run is still
    dropped."""
    out = dedup_stream(stream_docs(spark, input_dir), watermark=watermark)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

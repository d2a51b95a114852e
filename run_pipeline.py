#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline
(BASELINE.json north_rule: "runs end-to-end via spark-submit
--py-files ... at N and 4N executors").

Usage:
    python -c "from rdf_spark.submit import build_zip; print(build_zip())"
    spark-submit --py-files /tmp/rdf_spark.zip run_pipeline.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/out_dir \\
        [--dictionary /path/to/dict_parquet] \\
        [--buckets 64] [--text-format turtle] [--run-id run1]

The input is a pages table (url, warc_ts, html, text, lang) — html
binary is used when --from-html (default), else `text` is parsed with
--text-format (a `format` column overrides it per row; `auto` sniffs).
Each bucket goes through PipelineRun: parse -> skolemize -> link ->
canonical dedupe (per bucket). Buckets are written two at a time, each
pair as one partitioned parquet write. Output layout:
<out>/triples/part=N parquet + <out>/_progress watermarks +
<out>/_lineage manifests; documents that fail to parse are counted per
bucket as `docs_failed` in the lineage. Re-running with the same
--output resumes: completed buckets are skipped, and a killed run
redoes at most the two buckets it was writing.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--dictionary", default=None,
                    help="parquet with (surface, canonical_iri)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--from-html", action=argparse.BooleanOptionalAction,
                    default=True)
    ap.add_argument("--text-format", default="turtle")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("rdf-spark-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from rdf_spark.plans.pipeline import PipelineRun

    pages = spark.read.parquet(args.input)
    dictionary = (
        spark.read.parquet(args.dictionary) if args.dictionary else None
    )
    run = PipelineRun(spark, args.output, n_buckets=args.buckets,
                      run_id=args.run_id)
    stats = run.run(pages, dictionary=dictionary, from_html=args.from_html,
                    text_format=args.text_format)
    print(json.dumps({
        "processed_buckets": stats["processed"],
        "skipped_buckets": stats["skipped"],
        "triples_out": stats["triples_out"],
        "lineage": run.lineage(),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

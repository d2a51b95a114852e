"""Structured Streaming ingest (rdf_spark.streaming.ingest):
exactly-once file-source -> triple-sink, resume from checkpoint,
parity with the batch pipeline."""

import os

import pytest

from pyspark.sql import functions as F

from rdf_spark.streaming.ingest import compact_canonical, ingest_available

TTL_DOC = """@prefix ex: <http://ex/> .
ex:s{i} a ex:Thing ;
  ex:name "thing {i}" ;
  ex:near [ ex:label "b{i}" ] .
"""


def _pages(spark, n, start=0):
    rows = [
        (f"http://crawl.example/{i}", TTL_DOC.replace("{i}", str(i)))
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, "url string, text string")


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "out", "ckpt", "canon")}


def test_stream_equals_batch(spark, dirs):
    from rdf_spark.operators.parse import good_triples, parse_pages
    from rdf_spark.operators.skolemize import skolemize

    _pages(spark, 20).write.parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    streamed = spark.read.parquet(dirs["out"]).where(F.col("error").isNull())
    batch = skolemize(good_triples(parse_pages(
        _pages(spark, 20).select("url", F.lit("turtle").alias("format"), "text")
    )))
    cols = ["url", "subj", "pred", "obj_lex"]
    a = sorted(map(tuple, streamed.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b and len(a) == 20 * 4  # type+name+2 bnode triples per doc


def test_incremental_resume_processes_only_new_files(spark, dirs):
    _pages(spark, 5).write.parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    n1 = spark.read.parquet(dirs["out"]).count()
    # append more input files; re-invoke with the SAME checkpoint
    _pages(spark, 3, start=100).write.mode("append").parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    out = spark.read.parquet(dirs["out"])
    assert out.count() == n1 + 3 * 4
    # no duplicates: each (url, subj, pred, obj) exactly once
    assert out.groupBy("url", "subj", "pred", "obj_lex").count().where(
        F.col("count") > 1
    ).count() == 0


def test_rerun_with_no_new_input_is_noop(spark, dirs):
    _pages(spark, 4).write.parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    n1 = spark.read.parquet(dirs["out"]).count()
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    assert spark.read.parquet(dirs["out"]).count() == n1


def test_compact_canonical_dedupes_stream_output(spark, dirs):
    _pages(spark, 6).write.parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    compact_canonical(spark, dirs["out"], dirs["canon"])
    canon = spark.read.parquet(dirs["canon"])
    assert canon.count() == 6 * 4
    assert "support" in canon.columns
    assert canon.agg(F.max("support")).first()[0] == 1


def test_stream_bad_documents_become_error_rows(spark, dirs):
    good = _pages(spark, 2)
    bad = spark.createDataFrame(
        [("http://crawl.example/bad", "@prefix broken %%%")],
        "url string, text string",
    )
    good.unionByName(bad).write.parquet(dirs["in"])
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"], from_html=False)
    out = spark.read.parquet(dirs["out"])
    errs = out.where(F.col("error").isNotNull())
    assert errs.count() == 1
    assert errs.first()["url"] == "http://crawl.example/bad"


LINK_DOC = """@prefix e: <http://example.org/entity/> .
@prefix s: <http://schema.org/> .
e:e{i} s:knows e:e{j} ; s:name "n{i}" ; s:about [ s:mentions e:e{j} ] .
"""


def test_stream_with_dictionary_links_and_keeps_errors(spark, dirs):
    """With a dictionary the stream is the batch parse_stage ->
    link_stage chain: dictionary IRIs rewritten, the error row kept,
    and one Python pass over the documents."""
    from collections import Counter

    from rdf_spark.plans.pipeline import link_stage, parse_stage
    from rdf_spark.sources.pages import entity_dictionary
    from rdf_spark.terms import KIND_IRI

    rows = [(f"http://crawl.example/{i}",
             LINK_DOC.replace("{i}", str(i)).replace("{j}", str(i + 1)))
            for i in range(6)]
    rows.append(("http://crawl.example/bad", "@prefix broken %%%"))
    batch = spark.createDataFrame(rows, "url string, text string")
    batch.write.parquet(dirs["in"])
    d = entity_dictionary(spark, 30)
    ingest_available(spark, dirs["in"], dirs["out"], dirs["ckpt"],
                     dictionary=d, from_html=False)
    out = spark.read.parquet(dirs["out"])

    good = out.where(F.col("error").isNull())
    iris = [r.subj for r in good.collect()] + [
        r.obj_lex for r in good.where(F.col("obj_kind") == KIND_IRI).collect()]
    assert not any(i.startswith("http://example.org/entity/") for i in iris)
    # 3 subjects and 2 objects per document are dictionary surfaces
    assert sum(i.startswith("http://kg.example/canonical/") for i in iris) == 6 * 5
    errs = out.where(F.col("error").isNotNull()).collect()
    assert [r.url for r in errs] == ["http://crawl.example/bad"]

    expected = link_stage(parse_stage(batch, from_html=False), d)
    assert Counter(map(tuple, out.collect())) == \
        Counter(map(tuple, expected.select(*out.columns).collect()))
    plan = expected._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan

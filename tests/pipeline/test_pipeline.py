"""End-to-end pipeline tests: extraction -> triples, checkpoint-resume
(kill between partitions, re-run, byte-equal output), idempotence,
lineage (SURVEY.md §5.2)."""

import datetime as dt
import os
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rdf_spark.operators.canonical import canonicalize, cluster_for_write
from rdf_spark.operators.parse import good_triples, parse_pages
from rdf_spark.plans.pipeline import PipelineRun, bucket_write_plan, build_triples
from rdf_spark.sources.extract import extract_pages
from rdf_spark.sources.pages import (
    PAGES_SCHEMA,
    entity_dictionary,
    generate_pages,
    generate_rows,
)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 60, seed=42, partitions=4).cache()


def _normalized(df):
    """The rows as a multiset (nulls and ints may share a column, so
    the rows cannot be sorted)."""
    return Counter(tuple(r) for r in df.collect())


def test_end_to_end_html_extraction(spark, pages):
    out = build_triples(pages, from_html=True)
    rows = out.collect()
    assert len(rows) > 100
    assert all(r.support >= 1 for r in rows)


def test_resume_skips_completed_and_output_identical(spark, pages, tmp_path,
                                                     monkeypatch):
    d = entity_dictionary(spark, 50)
    full = PipelineRun(spark, str(tmp_path / "full"), n_buckets=4, run_id="full")
    full.run(pages, d)
    assert sorted(full.completed_buckets()) == [0, 1, 2, 3]

    # crash inside bucket 2: its data is written, its lineage and
    # watermark are not
    import rdf_spark.plans.pipeline as pl

    def crash_in_bucket_2(path, *a, **k):
        if path.endswith(os.path.join("_lineage", "2.json")):
            raise RuntimeError("injected failure in bucket 2")
        return open(path, *a, **k)

    crash = PipelineRun(spark, str(tmp_path / "crash"), n_buckets=4, run_id="r1")
    with monkeypatch.context() as m:
        m.setattr(pl, "open", crash_in_bucket_2, raising=False)
        with pytest.raises(RuntimeError, match="injected failure"):
            crash.run(pages, d)
    assert crash.completed_buckets() == {0, 1}
    assert os.path.isdir(os.path.join(crash.data_dir, "part=2"))

    resumed = PipelineRun(spark, str(tmp_path / "crash"), n_buckets=4, run_id="r2")
    stats = resumed.run(pages, d)
    assert stats["skipped"] == [0, 1]        # watermark hit-rate 100%
    assert stats["processed"] == [2, 3]

    # byte-equal final output vs the uninterrupted run
    assert _normalized(resumed.read_output()) == _normalized(full.read_output())


def test_rerun_is_idempotent_noop(spark, pages, tmp_path):
    p = PipelineRun(spark, str(tmp_path / "o"), n_buckets=2, run_id="a")
    p.run(pages)
    first = _normalized(p.read_output())
    stats = p.run(pages)  # everything watermarked -> no work
    assert stats["processed"] == [] and stats["skipped"] == [0, 1]
    assert _normalized(p.read_output()) == first


def test_bucket_loop_parses_once_per_bucket(spark, pages, tmp_path, monkeypatch):
    """Plan regression: the bucket loop must build exactly one parse
    plan per wave of buckets (the triples written and the observed error
    and raw-triple counts of all the wave's buckets derive from the one
    parsed DataFrame of the wave's single write — a second parse_pages
    call doubles the dominant cost at scale). Two buckets are one
    wave."""
    import rdf_spark.plans.pipeline as pl

    calls = []
    real = pl.parse_pages

    def counting(df, *a, **k):
        calls.append(1)
        return real(df, *a, **k)

    monkeypatch.setattr(pl, "parse_pages", counting)
    p = PipelineRun(spark, str(tmp_path / "once"), n_buckets=2, run_id="a")
    p.run(pages)
    assert len(calls) == 1


def test_lineage_recorded(spark, tmp_path):
    noisy = generate_pages(spark, 40, seed=7, partitions=4, bad_fraction=0.3)
    p = PipelineRun(spark, str(tmp_path / "l"), n_buckets=2, run_id="a")
    p.run(noisy)
    lineage = p.lineage()
    assert len(lineage) == 2
    assert sum(x["docs_in"] for x in lineage) == 40
    assert all(x["triples_out"] > 0 for x in lineage)
    assert sum(x["docs_failed"] for x in lineage) >= 1  # malformed fixtures


def test_bucketed_table_finalize_star_join(spark, pages, tmp_path):
    """After all checkpoint buckets complete, finalize_bucketed
    materializes a subj-bucketed catalog table; a BGP star self-join
    over the pipeline's OWN output must then plan with zero Exchange
    (the co-located-join lever on the flagship output)."""
    table = "t_pipeline_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    p = PipelineRun(spark, str(tmp_path / "b"), n_buckets=2, run_id="b")
    try:
        stats = p.run(pages)
        assert stats["processed"] == [0, 1]
        t = p.finalize_bucketed(table, n_buckets=4)
        # same rows as the plain checkpoint output
        assert _normalized(t) == _normalized(p.read_output())
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            a = t.alias("a")
            b = t.alias("b")
            j = a.join(b, F.col("a.subj") == F.col("b.subj")).select(
                F.col("a.pred"), F.col("b.pred"))
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# Hand-built crawl pages covering every extraction path: Turtle, JSON-LD
# and N-Quads script blocks, microdata, RDFa, malformed blocks (alone
# and beside a good block) and a page with no RDF at all.
_MIXED_HTML = [
    '<html><head><script type="text/turtle">@prefix s: <http://schema.org/> .'
    ' <#me> s:name "Ada"@en ; s:knows [ s:name "Bob" ] .</script></head></html>',
    '<html><script type="application/ld+json">{"@context": "http://schema.org/",'
    ' "@id": "http://example.org/entity/e1", "@type": "Person", "name": "Eve"}'
    '</script></html>',
    '<html><script type="application/n-quads"><http://example.org/entity/e2>'
    ' <http://schema.org/name> "Q" <http://g.example/1> .\n_:b <http://schema.org/age>'
    ' "3"^^<http://www.w3.org/2001/XMLSchema#integer> .</script></html>',
    '<html><body><div itemscope itemtype="http://schema.org/Product">'
    '<span itemprop="name">Widget</span><a itemprop="url" href="/w">w</a>'
    '</div></body></html>',
    '<html><body><div vocab="http://schema.org/" typeof="Person" resource="#p">'
    '<span property="name">Rdfa Person</span></div></body></html>',
    '<html><script type="text/turtle">@prefix s: <http://schema.org/> . <#x> s:name'
    ' "unterminated .</script></html>',
    '<html><script type="application/ld+json">{"@id": </script>'
    '<script type="text/turtle"><http://example.org/entity/e3>'
    ' <http://schema.org/name> "ok" .</script></html>',
    '<html><script type="application/n-quads"><a> <b> </script></html>',
    '<html><body><p>no embedded RDF</p></body></html>',
]


@pytest.fixture(scope="module")
def mixed_pages(spark):
    """Generated Turtle pages plus the hand-built ones, cached."""
    ts = dt.datetime(2024, 1, 1)
    rows = list(generate_rows(40, seed=7, suite_fraction=0, bad_fraction=0))
    rows += [(f"http://mixed.example/page/{i}", ts, html.encode(), None, "en")
             for i, html in enumerate(_MIXED_HTML)]
    return spark.createDataFrame(rows, PAGES_SCHEMA).cache()


def test_fused_html_parse_equals_extract_then_parse(spark, mixed_pages):
    """parse_pages on html pages (extract + parse in one Python pass)
    returns exactly the rows of the two-pass extract_pages -> parse_pages
    composition, error rows included."""
    fused = parse_pages(mixed_pages)
    chained = parse_pages(extract_pages(mixed_pages))
    assert fused.exceptAll(chained).count() == 0
    assert chained.exceptAll(fused).count() == 0
    errors = fused.where(F.col("error").isNotNull())
    assert errors.count() == 3
    formats = {r.format for r in extract_pages(mixed_pages).select("format")
               .distinct().collect()}
    assert formats >= {"turtle", "jsonld", "nquads", "microdata", "rdfa"}
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def _triples_side_exchanges(plan: str) -> list[str]:
    """Exchange lines of a plan tree string, skipping every subtree
    under a BroadcastExchange (the dictionary side of the link joins)."""
    out, skip_below = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        if "BroadcastExchange" in line:
            skip_below = depth
        elif "Exchange " in line:
            out.append(line.strip(" :+-"))
    return out


def test_bucket_write_has_one_subject_exchange(spark, mixed_pages):
    """The bucket write plan shuffles the triples once: the subj hash
    partitioning of cluster_for_write on raw triples also serves the
    canonical aggregate. Its partitions hold the same rows as the
    two-exchange cluster_for_write(canonicalize(...)) composition."""
    out, _ = bucket_write_plan(mixed_pages, entity_dictionary(spark, 50))
    exchanges = _triples_side_exchanges(
        out._jdf.queryExecution().executedPlan().toString())
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith("Exchange hashpartitioning(subj#"), exchanges

    triples = good_triples(parse_pages(mixed_pages))
    part = F.spark_partition_id().alias("p")
    one = cluster_for_write(triples, 4).select("*", part)
    two = cluster_for_write(canonicalize(triples), 4).select("*", part)
    assert one.exceptAll(two).count() == 0
    assert two.exceptAll(one).count() == 0


def test_bucket_is_one_action_with_observed_lineage(spark, mixed_pages, tmp_path,
                                                    monkeypatch):
    """Each bucket's lineage comes from Observations on its one write:
    no count(), collect() or read-back runs inside PipelineRun.run, and
    the observed counts equal an independent recount."""
    run = PipelineRun(spark, str(tmp_path / "one"), n_buckets=2, run_id="a")
    df_cls, session_cls = type(mixed_pages), type(spark)

    def refuse(*_a, **_k):
        raise AssertionError("side action inside PipelineRun.run")

    with monkeypatch.context() as m:
        m.setattr(df_cls, "count", refuse)
        m.setattr(df_cls, "collect", refuse)
        m.setattr(session_cls, "read", property(refuse))
        stats = run.run(mixed_pages, entity_dictionary(spark, 50))
    assert stats["processed"] == [0, 1]

    bucket = F.pmod(F.xxhash64("url"), F.lit(2))
    for x in run.lineage():
        b = x["input_partition"]
        part = mixed_pages.where(bucket == b)
        parsed = parse_pages(extract_pages(part))
        written = spark.read.parquet(os.path.join(run.data_dir, f"part={b}"))
        assert x["docs_in"] == part.count()
        assert x["docs_failed"] == parsed.where(F.col("error").isNotNull()).count()
        assert x["raw_triples"] == parsed.where(F.col("error").isNull()).count()
        assert x["triples_out"] == written.count()
        assert x["dedupe_ratio"] == x["triples_out"] / x["raw_triples"]
    lineage = run.lineage()
    assert sum(x["docs_in"] for x in lineage) == 40 + len(_MIXED_HTML)
    assert sum(x["docs_failed"] for x in lineage) == 3
    assert stats["triples_out"] == sum(x["triples_out"] for x in lineage)


def test_failed_bucket_commits_prefix_and_resumes(spark, pages, tmp_path,
                                                  monkeypatch):
    """A write that raises in the second wave (buckets {2} of 3, {2,3}
    of 4) propagates and leaves only the first wave {0,1} committed and
    written (no lineage after the failure), and a resumed run finishes
    the rest with the output and lineage of an uninterrupted run."""
    from pyspark.sql import DataFrameWriter

    real = DataFrameWriter.parquet
    strip = lambda xs: [{k: v for k, v in x.items() if k not in ("wall_ms", "job_run_id")}
                        for x in xs]  # noqa: E731
    for n in (3, 4):
        full = PipelineRun(spark, str(tmp_path / f"full{n}"), n_buckets=n, run_id="full")
        full.run(pages)

        writes = []

        def fail_second_wave(self, path, *a, **k):
            writes.append(path)
            if len(writes) == 2:
                raise RuntimeError("injected write failure in the second wave")
            return real(self, path, *a, **k)

        crash = PipelineRun(spark, str(tmp_path / f"crash{n}"), n_buckets=n, run_id="r1")
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", fail_second_wave)
            with pytest.raises(RuntimeError, match="injected write failure"):
                crash.run(pages)
        assert crash.completed_buckets() == {0, 1}
        assert [x["input_partition"] for x in crash.lineage()] == [0, 1]
        assert sorted(d for d in os.listdir(crash.data_dir) if d.startswith("part=")) \
            == ["part=0", "part=1"]

        resumed = PipelineRun(spark, str(tmp_path / f"crash{n}"), n_buckets=n, run_id="r2")
        stats = resumed.run(pages)
        assert stats["skipped"] == [0, 1]
        assert stats["processed"] == list(range(2, n))
        # each wave's write leaves the other waves' buckets in place
        out = resumed.read_output()
        assert out.count() == sum(x["triples_out"] for x in resumed.lineage())
        assert _normalized(out) == _normalized(full.read_output())
        assert strip(resumed.lineage()) == strip(full.lineage())


def test_bucket_jobs_run_under_callers_job_group(spark, pages, tmp_path):
    """The pool threads inherit the caller's local properties: every
    job the run starts is counted under the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    try:
        first = probe("before")
        sc.setJobGroup("g", "pipeline run under a job group")
        PipelineRun(spark, str(tmp_path / "g"), n_buckets=2, run_id="g").run(pages)
        last = probe("after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    started = set(range(first + 1, last))
    in_group = set(tracker.getJobIdsForGroup("g"))
    assert started and in_group == started


def test_run_leaves_no_threads_behind(spark, pages, tmp_path):
    """The bucket pool lives for one run() call: three runs leave the
    interpreter with the threads it started with."""
    start = threading.active_count()
    for i in range(3):
        PipelineRun(spark, str(tmp_path / f"t{i}"), n_buckets=2, run_id="t").run(pages)
    assert threading.active_count() == start


def test_empty_bucket_is_committed_with_zero_lineage(spark, tmp_path):
    """More buckets than pages: a bucket no page hashes to still gets a
    lineage file with zero counts and a watermark, and the output holds
    exactly the rows of the other buckets."""
    few = generate_pages(spark, 3, seed=5, partitions=1, bad_fraction=0)
    bucket = F.pmod(F.xxhash64("url"), F.lit(8))
    used = {r.b for r in few.select(bucket.alias("b")).collect()}
    assert len(used) < 8
    run = PipelineRun(spark, str(tmp_path / "sparse"), n_buckets=8, run_id="a")
    assert run.run(few)["processed"] == list(range(8))
    assert run.completed_buckets() == set(range(8))
    lineage = {x["input_partition"]: x for x in run.lineage()}
    assert sorted(lineage) == list(range(8))
    for b in set(range(8)) - used:
        x = lineage[b]
        assert (x["docs_in"], x["docs_failed"], x["raw_triples"], x["triples_out"]) \
            == (0, 0, 0, 0)
        assert x["dedupe_ratio"] is None
    # each used bucket's output is its pages' canonical triples
    expected = None
    for b in sorted(used):
        rows = build_triples(few.where(bucket == b)).withColumn("part", F.lit(b))
        expected = rows if expected is None else expected.unionByName(rows)
    out = run.read_output()
    assert out.columns == expected.columns
    assert _normalized(out) == _normalized(expected)
    assert out.count() == sum(x["triples_out"] for x in lineage.values())


def test_wave_without_triples_keeps_its_lineage(spark, tmp_path):
    """Pages that all fail to parse give a wave no triples to shuffle;
    its buckets' lineage still counts their pages and failures."""
    bad = generate_pages(spark, 4, seed=5, partitions=2, bad_fraction=1.0,
                         suite_fraction=0)
    run = PipelineRun(spark, str(tmp_path / "bad"), n_buckets=2, run_id="a")
    assert run.run(bad) == {"processed": [0, 1], "skipped": [], "triples_out": 0}
    lineage = run.lineage()
    assert sum(x["docs_in"] for x in lineage) == 4
    assert all(x["docs_failed"] == x["docs_in"] for x in lineage)
    assert all(x["raw_triples"] == x["triples_out"] == 0 for x in lineage)
    # no parquet file was written, and the output still reads: 0 rows
    out = run.read_output()
    assert out.count() == 0 and "part" == out.columns[-1]


def test_read_output_reads_with_the_written_schema(spark, pages, tmp_path):
    """read_output's declared schema is the one parquet infers from a
    run's files: same columns, types and rows."""
    run = PipelineRun(spark, str(tmp_path / "full"), n_buckets=2, run_id="a")
    run.run(pages)
    inferred = spark.read.parquet(run.data_dir)
    out = run.read_output()
    assert out.schema == inferred.schema
    assert _normalized(out) == _normalized(inferred)


def test_more_buckets_start_no_more_jobs(spark, pages, tmp_path):
    """A wave is one write: two buckets start no more Spark jobs than
    one bucket over the same pages."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(n):
        group = f"wave-jobs-{n}"
        sc.setJobGroup(group, group)
        try:
            PipelineRun(spark, str(tmp_path / group), n_buckets=n, run_id="j").run(pages)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    one, two = jobs(1), jobs(2)
    assert 0 < two <= one, (one, two)

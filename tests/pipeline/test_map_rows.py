"""submit.map_rows: the one Arrow boundary for per-row Python bodies."""

import zipfile
from collections import Counter
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType,
)

from rdf_spark.operators.parse import TRIPLES_SCHEMA, parse_pages
from rdf_spark.submit import _MAX_ROWS, _run_rows, map_rows

OUT = StructType([
    StructField("k", LongType()),
    StructField("tag", StringType()),
    StructField("i", LongType()),
])


@contextmanager
def _batches_of(spark, n):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_map_rows_fans_out_per_row_over_small_batches(spark):
    def rows(k, s, n, b):
        # k % 3 picks 0, 1 or 3 output tuples; every null is None, never
        # NaN, and binary arrives as bytes
        assert s is None or isinstance(s, str), repr(s)
        assert n is None or type(n) is int, repr(n)
        assert b is None or type(b) is bytes, repr(b)
        tag = f"{s}|{n!r}|{b!r}"
        return [(k, tag, i) for i in range((0, 1, 3)[k % 3])]

    # one partition in batches of 2: the first batch yields no rows
    inp = [(0, "a", 1, b"x"), (3, "b", None, None), (1, None, None, b""),
           (2, "c", 7, b"\x00y"), (4, "d", None, b"z"), (5, None, 2**40, None)]
    with _batches_of(spark, 2):
        df = spark.createDataFrame(inp, "k long, s string, n long, b binary")
        out = map_rows(df.coalesce(1), rows, OUT)
        assert out.schema == OUT
        got = Counter(tuple(r) for r in out.collect())
    assert got == Counter(t for row in inp for t in rows(*row))
    assert got[(5, "None|1099511627776|None", 2)] == 1
    assert got[(1, "None|None|b''", 0)] == 1


def test_run_rows_bounds_output_batches():
    # no Spark: one input row fanning out to 2.5 x _MAX_ROWS rows is
    # converted in slices; an input batch with no output rows gives an
    # empty batch of the schema
    schema = to_arrow_schema(OUT)
    n = _MAX_ROWS * 5 // 2

    def rows(k, s):
        return [(k, s, i) for i in range(n if k == 1 else 0)]

    inp = [pa.RecordBatch.from_pydict({"k": [0, 1], "s": ["a", None]}),
           pa.RecordBatch.from_pydict({"k": [2], "s": ["b"]})]
    out = list(_run_rows(rows, schema, inp))
    assert [b.num_rows for b in out] == [_MAX_ROWS, _MAX_ROWS, n - 2 * _MAX_ROWS, 0]
    assert all(b.schema == schema for b in out)
    got = [r for b in out for r in zip(*(c.to_pylist() for c in b.columns))]
    assert got == [(1, None, i) for i in range(n)]


def test_parse_pages_batch_of_only_malformed_documents(spark):
    # the first Arrow batch holds only malformed documents, so each of
    # its output rows is an error row with every tinyint column null
    docs = [("http://ex/bad1", "<a> <b> ."), ("http://ex/bad2", "<a> <b"),
            ("http://ex/good", '<http://ex/s> <http://ex/p> "v" .')]
    with _batches_of(spark, 2):
        pages = spark.createDataFrame(docs, "url string, text string").coalesce(1)
        rows = parse_pages(pages, default_format="ntriples").collect()
    kinds = [f.name for f in TRIPLES_SCHEMA if f.name.endswith("_kind")]
    bad = sorted((r for r in rows if r.error is not None), key=lambda r: r.url)
    assert [r.url for r in bad] == ["http://ex/bad1", "http://ex/bad2"]
    assert all(r[k] is None for r in bad for k in kinds)
    good = [r for r in rows if r.error is None]
    assert [(r.url, r.obj_lex) for r in good] == [("http://ex/good", "v")]
    assert good[0].subj_kind is not None and good[0].obj_kind is not None


WORKER = StructType([
    StructField("k", LongType()),
    StructField("pid", LongType()),
    StructField("zip_importers", ArrayType(StringType())),
    StructField("path_jars", ArrayType(StringType())),
    StructField("env_jars", ArrayType(StringType())),
])


def test_map_rows_prunes_worker_zip_importers(spark):
    # Every task's importlib.invalidate_caches() re-reads the directory
    # of each cached zipimporter; map_rows drops the sub-package and jar
    # importers first, and the pruned state holds in the next job too.
    def worker_state(k):
        import os
        import sys
        import zipimport

        importers = sorted(
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
            and (".zip/" in p or p.endswith(".jar")))
        path_jars = [p for p in sys.path if p.endswith(".jar")]
        env_jars = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                    if p.endswith(".jar")]
        return [(k, os.getpid(), importers, path_jars, env_jars)]

    df = spark.range(0, 16, 1, 4)
    jobs = [map_rows(df, worker_state, WORKER).collect() for _ in range(2)]
    env_jars = set()
    for rows in jobs:
        assert sorted(r.k for r in rows) == list(range(16))
        left = [(r.pid, r.zip_importers, r.path_jars) for r in rows
                if r.zip_importers or r.path_jars]
        assert not left
        env_jars.update(j for r in rows for j in r.env_jars)
    # dropping a jar from the path is safe only while it holds no Python
    for jar in env_jars:
        with zipfile.ZipFile(jar) as zf:
            assert not [n for n in zf.namelist() if n.endswith(".py")], jar

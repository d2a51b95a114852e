"""submit.map_rows: the one Arrow boundary for per-row Python bodies."""

import zipfile
from collections import Counter

from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType,
)

from rdf_spark.submit import map_rows

OUT = StructType([
    StructField("k", LongType()),
    StructField("tag", StringType()),
    StructField("i", LongType()),
])


def test_map_rows_fans_out_per_row_over_small_batches(spark):
    def rows(k, s):
        # k % 3 picks 0, 1 or 3 output tuples; a null string is None
        assert s is None or isinstance(s, str), repr(s)
        tag = "null" if s is None else s
        return [(k, tag, i) for i in range((0, 1, 3)[k % 3])]

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "2")
    try:
        # one partition in batches of 2: the first batch yields no rows
        inp = [(0, "a"), (3, "b"), (1, None), (2, "c"), (4, "d"), (5, None)]
        df = spark.createDataFrame(inp, "k long, s string").coalesce(1)
        out = map_rows(df, rows, OUT)
        assert out.schema == OUT
        got = Counter(tuple(r) for r in out.collect())
        assert got == Counter(t for k, s in inp for t in rows(k, s))
        assert got[(5, "null", 2)] == 1
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


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

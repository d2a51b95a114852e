"""submit.map_rows: the one Arrow boundary for per-row Python bodies."""

from collections import Counter

from pyspark.sql.types import LongType, StringType, StructField, StructType

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

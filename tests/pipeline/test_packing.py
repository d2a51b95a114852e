"""Token-budget sequence packing (curation.pack_sequences)."""

import pytest
from pyspark.sql import functions as F

from rdf_spark.operators.curation import pack_sequences


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 90 + 10).cast("int"))).alias("text"),
    )


def test_budget_respected_and_complete(spark):
    out = pack_sequences(_docs(spark), max_tokens=128, buckets=8).cache()
    assert out.count() == 200  # every doc packed exactly once
    sums = out.groupBy("bucket", "seq_id").agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    # multi-doc sequences respect the budget; singletons may exceed it
    # only when the doc itself is longer than the budget (none here)
    assert sums.where(F.col("tot") > 128).count() == 0


def test_offsets_are_running_token_sums(spark):
    out = pack_sequences(_docs(spark, 50), max_tokens=200, buckets=4).collect()
    by_seq = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["seq_id"], r["doc_id"])):
        key = (r["bucket"], r["seq_id"])
        expected = by_seq.get(key, 0)
        assert r["seq_offset"] == expected
        by_seq[key] = expected + r["n_tokens"]


def test_deterministic_across_runs_and_layouts(spark):
    a = sorted(tuple(r) for r in
               pack_sequences(_docs(spark), max_tokens=128, buckets=8).collect())
    b = sorted(tuple(r) for r in
               pack_sequences(_docs(spark).repartition(13), max_tokens=128,
                              buckets=8).collect())
    assert a == b


def test_oversized_doc_gets_own_sequence(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(["t"] * 500)), (2, "a b"), (3, "c d")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           pack_sequences(docs, max_tokens=100, buckets=1).collect()}
    assert out[1]["n_tokens"] == 500  # kept, alone in its sequence
    seq_of_1 = out[1]["seq_id"]
    others = {out[2]["seq_id"], out[3]["seq_id"]}
    assert all(s != seq_of_1 or out[1]["seq_offset"] == 0 for s in others) or True
    # the oversized doc never shares a sequence with a doc packed after it
    same_seq = [d for d, r in out.items()
                if r["seq_id"] == seq_of_1 and d != 1 and r["seq_offset"] > 0]
    assert same_seq == []


def test_bucket_of_one_document(spark):
    # an int doc_id is read as the declared long
    docs = spark.createDataFrame([(7, "a b c"), (8, "d e")], "doc_id int, text string")
    out = sorted(tuple(r) for r in pack_sequences(docs, max_tokens=4, buckets=64).collect())
    assert [r[0] for r in out] == [7, 8] and out[0][2] != out[1][2]  # one document per bucket
    assert [(r[0], r[1], r[3], r[4]) for r in out] == [(7, 3, 0, 0), (8, 2, 0, 0)]


def test_non_integral_ids_are_refused(spark):
    docs = spark.createDataFrame([(7.2, "a b"), (7.8, "c")], "doc_id double, text string")
    with pytest.raises(TypeError, match="integral .doc_id., not DoubleType"):
        pack_sequences(docs)


def test_null_text_packs_as_zero_tokens(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, None)], "doc_id long, text string")
    out = sorted(tuple(r) for r in pack_sequences(docs, max_tokens=4, buckets=1).collect())
    assert [(r[0], r[1], r[3], r[4]) for r in out] == [(1, 2, 0, 0), (2, 0, 0, 2)]

"""Cosine candidate search shared by dedup.py and ann.py: zero vectors
never break a job or match, and embedding_near_dups agrees with an
all-pairs Python cosine."""

import math

import numpy as np
import pytest

from rdf_spark.operators.ann import brute_force_topk, ivf_topk, lsh_topk
from rdf_spark.operators.dedup import embedding_near_dups, embedding_near_dups_lsh

SCHEMA = "vec_id long, label string, embedding array<double>"

SEARCHES = {
    "brute_force_topk": lambda e: brute_force_topk(e, e, k=1),
    "ivf_topk": lambda e: ivf_topk(e, e, k=1),
    "lsh_topk": lambda e: lsh_topk(e, e, k=1, planes=4),
    "embedding_near_dups": lambda e: embedding_near_dups(
        e.drop("label"), threshold=0.9, allow_brute_force=True),
    "embedding_near_dups_label": lambda e: embedding_near_dups(e, threshold=0.9),
    "embedding_near_dups_lsh": lambda e: embedding_near_dups_lsh(
        e, threshold=0.9, planes=4),
}


@pytest.mark.parametrize("name", sorted(SEARCHES))
def test_zero_vector_is_never_a_match(spark, name):
    """A zero vector has no cosine: it must neither abort the job
    (DIVIDE_BY_ZERO under ANSI mode) nor appear in any output row, and
    the near-parallel pair beside it is still found. Vectors 1 and 2
    lie on the positive side of all four md5 hyperplanes, so they share
    the zero vector's all-ones LSH bucket."""
    emb = spark.createDataFrame([
        (0, "x", [0.0, 0.0, 0.0, 0.0]),
        (1, "x", [-4.0, 0.0, -4.0, -4.0]),
        (2, "x", [-4.0, 0.1, -4.0, -4.1]),
        (3, "x", [4.0, -1.0, 0.5, -2.0]),
    ], SCHEMA)
    rows = [tuple(r)[:2] for r in SEARCHES[name](emb).collect()]
    assert all(0 not in r for r in rows), rows
    assert (1, 2) in rows, rows


def _cos(a, b):
    # same summation order as ann._dot: left to right from 0.0
    dot = lambda x, y: sum((p * q for p, q in zip(x, y)), 0.0)  # noqa: E731
    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))


def test_embedding_near_dups_matches_all_pairs_cosine(spark):
    """Planted near-duplicates inside two labels plus one near-duplicate
    pair across labels: the label path finds exactly the in-label
    pairs, the brute-force path every pair, both equal to a Python
    all-pairs cosine rounded to 4 dp."""
    rng = np.random.RandomState(3)
    dim, threshold = 8, 0.95
    vecs = {}
    for label in ("a", "b"):
        for _ in range(6):
            vecs[len(vecs)] = (label, rng.randn(dim))
        for src in (len(vecs) - 6, len(vecs) - 5):  # two planted near-dups
            vecs[len(vecs)] = (label, vecs[src][1] + 0.01 * rng.randn(dim))
    cross = (0, len(vecs))                          # label a -> twin in b
    vecs[len(vecs)] = ("b", vecs[0][1] + 0.01 * rng.randn(dim))
    rows = [(i, lab, [float(x) for x in v]) for i, (lab, v) in vecs.items()]
    emb = spark.createDataFrame(rows, SCHEMA)

    def expected(same_label):
        out = set()
        for i, (la, va) in vecs.items():
            for j, (lb, vb) in vecs.items():
                if i < j and (la == lb or not same_label):
                    c = round(_cos(va, vb), 4)
                    if c >= threshold:
                        out.add((i, j, c))
        return out

    def got(df):
        return {(r["doc_a"], r["doc_b"], r["cos"]) for r in df.collect()}

    by_label = got(embedding_near_dups(emb, threshold=threshold))
    assert by_label == expected(True)
    assert len(by_label) >= 4                       # the planted pairs
    assert cross not in {(a, b) for a, b, _ in by_label}

    brute = got(embedding_near_dups(emb.drop("label"), threshold=threshold,
                                    allow_brute_force=True))
    assert brute == expected(False)
    assert cross in {(a, b) for a, b, _ in brute}

    with pytest.raises(ValueError, match="allow_brute_force"):
        embedding_near_dups(emb.drop("label"), threshold=threshold)

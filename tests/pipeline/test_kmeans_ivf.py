"""Deterministic k-means + IVF ANN (operators/ann.py)."""

import pytest

from pyspark.sql import functions as F

from rdf_spark.operators.ann import (
    brute_force_topk,
    ivf_kmeans_topk,
    kmeans_fit,
    kmeans_transform,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_fit_deterministic(emb):
    a = kmeans_fit(emb, k=4, iters=3)
    b = kmeans_fit(emb, k=4, iters=3)
    assert a == b and len(a) == 4 and len(a[0]) == 64


def test_fit_collects_at_most_k_by_dim_rows_per_round(spark, monkeypatch):
    """The driver ceiling of kmeans_fit: over a corpus with n >> k x dim,
    every collect (the k-row init, then one per Lloyd round) brings at
    most k x dim rows to the driver."""
    import numpy as np

    k, dim, n, iters = 3, 4, 3000, 3
    rng = np.random.RandomState(5)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cls = type(corpus)
    collect = cls.collect
    sizes = []

    def counting_collect(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting_collect)
    kmeans_fit(corpus, k=k, iters=iters)
    assert n > 100 * k * dim
    assert len(sizes) == iters + 1, sizes
    assert all(0 < s <= k * dim for s in sizes), sizes


def test_transform_covers_all_rows(emb):
    cents = kmeans_fit(emb, k=4, iters=2)
    a = kmeans_transform(emb, cents)
    assert a.count() == emb.count()
    sizes = {r["centroid"]: r["count"] for r in a.groupBy("centroid").count().collect()}
    assert set(sizes) <= {0, 1, 2, 3} and sum(sizes.values()) == emb.count()
    assert min(sizes.values()) > 0  # no empty clusters on this data


def test_ivf_recall_vs_brute_force(emb):
    q = emb.where(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}
    iv = {(r["query_id"], r["neighbor_id"])
          for r in ivf_kmeans_topk(emb, q, k=3, nlist=4, iters=2).collect()}
    assert len(iv) > 0
    recall = len(bf & iv) / len(bf)
    assert recall >= 0.6, recall  # nprobe=1 coarse search


def test_ivf_recall_monotone_in_nprobe(emb):
    """Probing more coarse clusters only adds candidates (the corpus is
    single-assigned, so probed clusters are disjoint): recall vs brute
    force must be monotone in nprobe, and nprobe == nlist is the
    exhaustive search — recall exactly 1.0."""
    q = emb.where(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}

    def recall(nprobe):
        iv = {(r["query_id"], r["neighbor_id"])
              for r in ivf_kmeans_topk(emb, q, k=3, nlist=4, iters=2,
                                       nprobe=nprobe).collect()}
        return len(bf & iv) / len(bf)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 == 1.0, r4


def test_large_nlist_no_plan_blowup(emb):
    """The broadcast-argmin assignment keeps plan size O(1) in k:
    nlist=256 must build a tiny plan (the literal-inlining formulation
    grew one Catalyst struct per centroid) and still agree with a
    driver-side numpy argmin on every row."""
    import numpy as np

    cents = kmeans_fit(emb, k=256, iters=1)
    out = kmeans_transform(emb, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000, len(plan)

    C = np.asarray(cents)
    rows = out.select("vec_id", "embedding", "centroid").collect()
    for r in rows[:200]:
        x = np.asarray(r["embedding"], dtype=np.float64)
        d2 = ((x[None, :] - C) ** 2).sum(axis=1)
        assert int(np.round(d2, 9).argmin()) == r["centroid"]


def test_lsh_topk_construction_is_lazy(spark, emb):
    """Building the LSH plan must trigger no Spark job (the old code
    ran a driver-side .first() to discover the embedding dim)."""
    from rdf_spark.operators.ann import lsh_topk

    sc = spark.sparkContext
    sc.setJobGroup("lsh-construct", "laziness check")
    try:
        df = lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=3, planes=4)
        assert sc.statusTracker().getJobIdsForGroup("lsh-construct") == []
    finally:
        sc.setJobGroup(None, None)
    assert df.count() >= 0  # and the plan still executes


def test_lsh_multiprobe_recall_monotone(emb):
    """Multi-probe LSH only ADDS candidate buckets (probe signatures
    are distinct, corpus single-bucketed): recall vs brute force is
    monotone in nprobe, and nprobe=1 is the plain bucketed search."""
    from rdf_spark.operators.ann import lsh_topk

    q = emb.where(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}

    def recall(nprobe):
        got = {(r["query_id"], r["neighbor_id"])
               for r in lsh_topk(emb, q, k=3, planes=4,
                                 nprobe=nprobe).collect()}
        return len(bf & got) / len(bf)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5, (r1, r3, r5)
    assert r5 > r1 or r1 == 1.0, (r1, r5)  # probing must help here


def test_lsh_margin_probes_dominate_plane_order(spark):
    """Margin-ranked multi-probe on a clustered fixture: the first
    extra probes cross the hyperplanes the query is closest to, which
    is where a jittered twin most likely landed. Recall is monotone in
    nprobe (the probe list for a smaller nprobe is a prefix of a larger
    one) and saturates: 4 boundary-ranked probes find every twin."""
    import numpy as np

    from rdf_spark.operators.ann import lsh_topk

    rng = np.random.RandomState(7)
    dim, npairs = 16, 60
    base = rng.randn(npairs, dim)
    twin = base + 0.12 * rng.randn(npairs, dim)
    rows = []
    for i in range(npairs):
        rows.append((2 * i, [float(x) for x in base[i]]))
        rows.append((2 * i + 1, [float(x) for x in twin[i]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") % 2 == 0)

    def recall(nprobe):
        got = lsh_topk(emb, q, k=1, planes=8, nprobe=nprobe)
        return got.where(
            F.col("neighbor_id") == F.col("query_id") + 1).count() / npairs

    grid = (1, 2, 4, 6)
    margin = [recall(n) for n in grid]
    # monotone in nprobe (prefix property of the probe list)
    assert margin == sorted(margin), margin
    assert margin[2] == 1.0, margin


def test_lsh_margin_probe_tie_break_is_plane_order(spark):
    """A degenerate query (zero vector: every margin ties at 0) must
    probe the exact bucket plus the single plane-0 flip at nprobe=2 —
    fewest flips, lowest plane — not whichever multi-bit flip sorts
    lexicographically smallest. This is the tie semantics a SQL
    replay (argmin by |dot| then plane ASC) produces."""
    from rdf_spark.operators.ann import _margin_probes

    q = spark.createDataFrame([(0, [0.0, 0.0])],
                              "vec_id long, embedding array<double>")
    buckets = [r["bucket"] for r in
               _margin_probes(q, planes=4, nprobe=2,
                              id_col="vec_id", vec_col="embedding").collect()]
    # zero dots -> all signs 1 (0.0 >= 0): exact '1111', then flip
    # plane 0 -> '0111'
    assert buckets == ["1111", "0111"], buckets


def test_lsh_signature_empty_vector_defined(spark):
    """An empty embedding must produce a defined all-zero signature,
    not a null from the descending [0, -1] auto-sequence."""
    from rdf_spark.operators.ann import lsh_signature

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [])], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["sig"] for r in df.select(
        "vec_id", lsh_signature(F.col("embedding"), 4).alias("sig")).collect()}
    assert got[2] == "0000"
    assert got[1] is not None and len(got[1]) == 4


def test_ivf_exact_within_cluster(emb):
    """Within the query's own cluster the IVF result IS the exact
    top-k: verify one query against a manual within-cluster ranking."""
    cents = kmeans_fit(emb, k=4, iters=2)
    a = kmeans_transform(emb, cents)
    q = a.where(F.col("vec_id") == 0)
    qc = q.first()["centroid"]
    got = [r["neighbor_id"] for r in
           ivf_kmeans_topk(emb, emb.where(F.col("vec_id") == 0),
                           k=3, nlist=4, iters=2).collect()]
    cluster = a.where((F.col("centroid") == qc) & (F.col("vec_id") != 0))
    want = [r["neighbor_id"] for r in
            brute_force_topk(cluster, q, k=3).collect()]
    assert got == want


@pytest.mark.parametrize("bad", [[0.0, 1.0, 2.0], None])
def test_transform_refuses_ragged_or_null_vectors(spark, bad):
    """A batch's vectors are read as one B x dim matrix: a vector not
    of the centroids' size, or a null one, fails the job rather than
    being misread."""
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, bad)],
                               "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-null and of the centroids' size"):
        kmeans_transform(df, [[1.0, 0.0], [0.0, 1.0]]).collect()

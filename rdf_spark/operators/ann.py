"""Approximate-nearest-neighbor search over an embedding column.

- brute-force cosine top-k: the correctness baseline. All math stays
  JVM-side (zip_with + aggregate on array<double>); the only shuffle is
  the final per-query top-k.
- IVF-style partitioned top-k: restrict the search to the query's
  coarse cluster (the pre-assigned `label` column, or a k-means
  assignment in ivf_kmeans_topk). Cuts the candidate set by the number
  of partitions — the 100 TB scale path.
- LSH (random-hyperplane) bucketed top-k: deterministic hyperplanes
  derived from md5 of (plane, dim) so results are reproducible across
  engines and retries; candidates = the probed signature buckets.

All three rank through ``_rank_topk`` and score with ``cosine``, the
one cosine expression (shared with the embedding near-dup operators in
dedup.py): norms are computed once per row, not per pair, and a zero
vector has no cosine, so it is never anyone's neighbor.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..submit import _prune_zip_importers


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, na: Column, b: Column, nb: Column) -> Column:
    """Cosine of vectors ``a`` and ``b`` given their precomputed norms
    ``na`` and ``nb``. Null when either norm is zero: a zero vector has
    no direction, and the guard keeps the division from raising
    DIVIDE_BY_ZERO under ANSI mode."""
    return F.when(na * nb > 0, _dot(a, b) / (na * nb))


def _rank_topk(q: DataFrame, c: DataFrame, k: int,
               on: str | None = None) -> DataFrame:
    """Top-``k`` cosine neighbors per query: (query_id, neighbor_id, cos,
    rank). ``q`` is (query_id, qv, ...), ``c`` is (neighbor_id, cv, ...);
    candidates are the equi-join on ``on``, or every corpus row when
    ``on`` is None. Norms are computed once per side row. Cosine is
    rounded to 4dp BEFORE ranking with a neighbor-id tie-break, so the
    result set is engine-reproducible. A null cosine (a zero vector)
    sorts last and is dropped with the rank filter: a filter below the
    window would be pushed into the join and evaluate the dot product
    twice per pair."""
    q = q.withColumn("qn", _norm(F.col("qv")))
    c = c.withColumn("cn", _norm(F.col("cv")))
    pairs = q.join(c, on) if on else q.crossJoin(c)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("qn"),
                                          F.col("cv"), F.col("cn")), 4))
        .withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") <= k) & F.col("cos").isNotNull())
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k over every corpus vector: (query_id,
    neighbor_id, cos, rank), ranked by ``_rank_topk``."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _rank_topk(q, c, k)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: candidates restricted to the query's coarse
    partition (equi-join on the partition column replaces the cross
    join — shuffle on a low-cardinality key instead of |Q| x |C|).

    Pre-assigned labels carry no geometry, so there is no nprobe here:
    multi-cluster probing needs centroid distances — use
    ivf_kmeans_topk(nprobe=...) for the tunable-recall form (it feeds
    this same join with an exploded query-side assignment)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col(partition_col).alias("part"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col(partition_col).alias("part"),
    )
    return _rank_topk(q, c, k, on="part")


def _hyperplane_dot(vec: Column, plane: int) -> Column:
    """dot(vec, w_plane) against deterministic pseudo-random hyperplane
    weights w[plane][j] = (md5_int(plane|j) mod 2001 - 1000) / 1000 in
    [-1, 1]. Same construction is reproducible in any engine with md5.
    The weight vector length follows size(vec) per row — no driver-side
    action is needed to discover the dimensionality. Null for empty
    embeddings (an unguarded sequence(0, size-1) would auto-step DOWN
    to [0, -1] and poison the weights with a bogus 2-element vector)."""
    weights = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(vec) - 1, F.lit(0))),
        lambda j: (
            F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(str(plane)), j.cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000
        ).cast("double") / 1000.0,
    )
    return F.when(F.size(vec) > 0, _dot(vec, weights))


def _hyperplane_sign(vec: Column, plane: int) -> Column:
    """1 if the vector lies on/above the plane, else 0; empty
    embeddings get a defined 0 sign."""
    return F.coalesce((_hyperplane_dot(vec, plane) >= 0).cast("int"), F.lit(0))


def lsh_signature(vec: Column, planes: int) -> Column:
    parts = [_hyperplane_sign(vec, p).cast("string") for p in range(planes)]
    return F.concat_ws("", *parts)


# Margin-ranked multi-probe draws perturbation sets from the subsets
# of this many smallest-|margin| planes (pool size 2^bits - 1); 6 keeps
# the probe-generation expression bounded (63 flip terms) while
# covering every useful nprobe (64 probes of an 8-plane table is a
# quarter of the whole signature space).
_MAX_PROBE_BITS = 6


def _margin_probes(queries: DataFrame, planes: int, nprobe: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv, bucket) with one row per margin-ranked probe.

    Per query row: compute the per-plane dots once, sort planes by
    |margin| ascending, score every nonempty subset of the
    min(planes, 6, nprobe - 1) boundary-closest planes by its summed
    margin, sort the (score, flipped-signature) structs, and explode
    the first ``nprobe``. The exact bucket carries score -1 so it
    always probes first. A probe that flips the j-th closest plane
    ranks behind the exact bucket and the j single flips of closer
    planes, so only the nprobe - 1 closest planes can reach the first
    nprobe probes: the smaller pool gives the same probes as the
    6-plane one, and nprobe=1 is the exact bucket alone. All
    expressions — the subset pool is a compile-time constant, only its
    per-row ORDER is data-dependent."""
    nbits = min(planes, _MAX_PROBE_BITS, nprobe - 1)
    dots = F.array(*[_hyperplane_dot(F.col(vec_col), p) for p in range(planes)])
    q0 = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        dots.alias("__dots"),
    ).withColumn(
        "__signs",
        F.transform(F.col("__dots"),
                    lambda d: F.coalesce((d >= 0).cast("int"), F.lit(0))),
    ).withColumn(
        # (|margin|, plane) ascending: position 1 = closest boundary
        "__mg",
        F.array_sort(F.array(*[
            F.struct(
                F.coalesce(F.abs(F.element_at(F.col("__dots"), p + 1)),
                           F.lit(0.0)).alias("m"),
                F.lit(p).alias("p"),
            )
            for p in range(planes)
        ])),
    )
    flip_sig = lambda flips: F.array_join(  # noqa: E731
        F.transform(
            F.col("__signs"),
            lambda s, j: F.when(F.array_contains(flips, j), 1 - s)
            .otherwise(s).cast("string"),
        ),
        "",
    )
    # struct sort keys: (score, n_flipped_bits, sorted flip planes,
    # bucket). The bit-count and plane-array keys make margin TIES
    # deterministic in the natural direction — fewest flips first,
    # then lowest plane index — so a degenerate query (all margins
    # equal, e.g. a zero/empty vector) probes the single plane-0 flip
    # at nprobe=2, exactly what a SQL replay (argmin by |dot|, plane
    # ASC) produces; bucket-string order alone would allow a multi-bit
    # flip to win the tie.
    candidates = [
        F.struct(F.lit(-1.0).alias("s"), F.lit(0).alias("k"),
                 F.array().cast("array<int>").alias("p"),
                 F.array_join(F.col("__signs").cast("array<string>"), "")
                 .alias("b"))
    ]
    for mask in range(1, 2 ** nbits):
        idxs = [i for i in range(nbits) if mask >> i & 1]
        score = F.element_at(F.col("__mg"), idxs[0] + 1)["m"]
        for i in idxs[1:]:
            score = score + F.element_at(F.col("__mg"), i + 1)["m"]
        flips = F.array(*[F.element_at(F.col("__mg"), i + 1)["p"] for i in idxs])
        candidates.append(F.struct(
            score.alias("s"), F.lit(len(idxs)).alias("k"),
            F.array_sort(flips).alias("p"), flip_sig(flips).alias("b"),
        ))
    probes = F.transform(
        F.slice(F.array_sort(F.array(*candidates)), 1, nprobe),
        lambda st: st["b"],
    )
    return q0.select("query_id", "qv", F.explode(probes).alias("bucket"))


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH ANN: equi-join on the signature bucket;
    recall trades off with `planes` (more planes -> smaller buckets)
    and with ``nprobe`` (multi-probe: each query also searches nearby
    buckets — the standard recall knob without re-hashing the corpus;
    candidate volume grows linearly with probes).

    Multi-probe in the Lv et al. (VLDB'07) sense, via
    ``_margin_probes``: probe signatures are perturbation sets ranked
    per query by the summed |dot(v, w_plane)| margin of the flipped
    planes, so the first extra probes cross the hyperplanes the query
    is CLOSEST to — where a true neighbor most likely landed on the
    other side. The exact bucket always probes first, so nprobe=1 is
    the plain bucketed search. Multi-bit probes are allowed; the
    probes are the best perturbation sets among the subsets of the
    ``min(planes, 6)`` smallest-margin planes (nprobe capped at
    ``2**min(planes, 6)``), in one per-row order that does not depend
    on nprobe, so the probe list for a smaller nprobe is a prefix of a
    larger one — recall is monotone in nprobe (up to exact margin
    ties).

    The corpus stays single-bucketed and probe signatures are distinct
    (distinct plane subsets flip distinct positions), so no duplicate
    (query, neighbor) candidates arise. Fully lazy — no driver action
    at construction time; probe generation is pure whole-stage-codegen
    expressions (sort of a ≤64-element struct array per query row)."""
    nprobe = max(1, min(nprobe, 2 ** min(planes, _MAX_PROBE_BITS)))
    q = _margin_probes(queries, planes, nprobe, id_col, vec_col)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    return _rank_topk(q, c, k, on="bucket")


def _broadcast_centroids(df: DataFrame, centroids: list[list[float]]):
    """Ship the k x dim centroid matrix once per executor. Callers
    that loop (kmeans_fit) must unpersist the returned broadcast after
    each use or every Lloyd round leaks an executor-side copy."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    return df.sparkSession.sparkContext.broadcast(C)


def _centroid_d2_udf(bc, n: int):
    """Arrow UDF: top-``n`` nearest-centroid indices per row
    (squared-euclidean, distances rounded to 9dp for engine-stable
    ties, stable index ordering). One (batch x k) GEMM per Arrow batch;
    plan size and codegen are O(1) in k. (The literal-inlining
    alternative builds one Catalyst struct per centroid and blows up
    whole-stage codegen at the nlist≈4k-64k a 100 TB IVF index
    needs.) No shuffle, no join."""
    import numpy as np

    @F.arrow_udf("array<int>")
    def top_centroids(v: pa.Array) -> pa.Array:
        _prune_zip_importers()
        cm = bc.value
        dim = cm.shape[1]
        if v.null_count or (np.diff(v.offsets.to_numpy()) != dim).any():
            raise ValueError("vectors must be non-null and of the centroids' size")
        # B x dim straight from the Arrow value buffer (0 x dim for an empty batch)
        X = np.asarray(v.flatten(), dtype=np.float64).reshape(-1, dim)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 (B x k, one GEMM)
        d2 = np.round(
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ cm.T)
            + (cm * cm).sum(axis=1)[None, :],
            9,
        )
        nn = min(n, d2.shape[1])
        idx = np.argsort(d2, axis=1, kind="stable")[:, :nn].astype("int32")
        offsets = np.arange(0, idx.size + 1, nn, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, idx.ravel())

    return top_centroids


def _assign_nearest(df: DataFrame, centroids: list[list[float]],
                    vec_col: str, out_col: str = "centroid",
                    bc=None) -> DataFrame:
    """Add `out_col` = index of the nearest centroid (squared-euclidean
    argmin, first-index tie-break). ``bc`` is owned as in
    :func:`_assign_topn`."""
    if bc is None:
        bc = _broadcast_centroids(df, centroids)
    udf = _centroid_d2_udf(bc, 1)
    return df.withColumn(out_col, udf(F.col(vec_col))[0])


def _assign_topn(df: DataFrame, centroids: list[list[float]],
                 vec_col: str, n: int, out_col: str = "centroid",
                 bc=None) -> DataFrame:
    """Explode each row into its top-``n`` nearest centroids (the IVF
    nprobe expansion for the QUERY side: n rows per query, joined
    against the corpus's single-centroid assignment).

    Broadcast ownership: when ``bc`` is None a new centroid broadcast
    is created and the returned DataFrame's UDF closure owns it for
    the DataFrame's lifetime — it is reclaimed by Spark's
    ContextCleaner once the DataFrame is garbage-collected, NOT at
    action completion. Callers that build many assignments in one
    session (or loop) should pass their own ``bc`` and unpersist it
    after the query executes (kmeans_fit does exactly this per Lloyd
    round)."""
    if bc is None:
        bc = _broadcast_centroids(df, centroids)
    udf = _centroid_d2_udf(bc, n)
    return df.withColumn(out_col, F.explode(udf(F.col(vec_col))))


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd k-means over an embedding column, pure
    DataFrame ops: init = the k vectors with the smallest ids (no RNG —
    reproducible across runs/engines), then `iters` rounds of
    assign (broadcast numpy argmin, see _assign_nearest) + recompute
    (posexplode -> per-(cluster,dim) mean). Assign/mean work is
    distributed; the driver only ever holds k*dim floats — O(1) in
    corpus size. Returns the learned centroids.

    Driver ceiling: each Lloyd round collects the k x dim
    ``(centroid, dim, mean)`` rows to the driver, about 350 bytes of
    Python objects per row (measured: 1M rows held 348 MB and took
    12.6 s to collect on a 4-CPU box). k=1024 at dim=768 (0.8M rows,
    ~0.3 GB a round) fits a default driver; k=4096 at dim=768 (3.1M
    rows, ~1.1 GB and ~40 s a round) is about the limit; the
    16k-64k-list indexes of a 100 TB corpus (12-50M rows, 4-17 GB a
    round) do not fit — fit those on a corpus sample."""
    init_rows = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in init_rows]
    for _ in range(iters):
        bc = _broadcast_centroids(emb, centroids)
        try:
            assigned = _assign_nearest(emb, centroids, vec_col, bc=bc)
            means = (
                assigned.select("centroid",
                                F.posexplode(F.col(vec_col)).alias("dim", "val"))
                .groupBy("centroid", "dim")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
        finally:
            # collect() has executed the round; free the executor copy
            # before the next round's broadcast
            bc.unpersist()
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(r["centroid"], {})[r["dim"]] = r["m"]
        centroids = [
            [acc[c][d] for d in sorted(acc[c])] if c in acc else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def kmeans_transform(df: DataFrame, centroids: list[list[float]],
                     vec_col: str = "embedding") -> DataFrame:
    """Add a `centroid` column: nearest learned centroid per row."""
    return _assign_nearest(df, centroids, vec_col)


def ivf_kmeans_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nlist: int = 8,
    iters: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVF: learn coarse centroids with deterministic k-means,
    assign the corpus to its single nearest centroid, expand each QUERY
    to its ``nprobe`` nearest centroids (the standard recall knob for
    boundary queries — explode, then the same equi-join), and rank the
    union of the probed clusters' candidates. The 100 TB path: the
    index build is one corpus pass per Lloyd round; the query join
    shuffles on a k-ary key instead of |Q| x |C|, and candidate volume
    scales linearly with nprobe. Each corpus vector lives in exactly
    one cluster, so probing n clusters never produces duplicate
    (query, neighbor) rows and recall is monotone in nprobe."""
    cents = kmeans_fit(emb, k=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
    return ivf_topk(
        kmeans_transform(emb, cents, vec_col),
        _assign_topn(queries, cents, vec_col, nprobe),
        k=k, id_col=id_col, vec_col=vec_col, partition_col="centroid",
    )

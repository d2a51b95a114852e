"""Document deduplication operators for training-data pipelines:

- exact (hash groupBy) — one shuffle on a 32-char key, not the text;
- MinHash + LSH banding — shingle -> K minhashes -> B bands -> bucket
  join; candidate generation never compares all pairs: cost is
  O(sum of bucket sizes squared) with tiny buckets at scale;
- n-gram Jaccard (exact verification of candidate pairs);
- SimHash (a per-document kernel through ``submit.map_rows``);
- embedding-cosine near-duplicates.

MinHash-LSH, SimHash and both embedding near-dup paths form their
candidate pairs through one bucket kernel, ``_bucket_pairs``, which
also holds the ``max_bucket`` guard for oversized buckets.

MinHash here is hash-function-portable: h_i(shingle) = md5(seed_i ||
shingle), minimum taken lexicographically over hex digests. That keeps
the operator exactly reproducible in any engine with md5 (the DuckDB
oracle in __spark_entry__ runs the identical computation).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..submit import map_rows

_SIMHASH_SCHEMA = StructType([StructField("doc_id", LongType()),
                              StructField("simhash", LongType())])


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_ids: int | None = 32,
                       salts: int | None = None) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs,
    doc_ids) where doc_ids holds at most ``max_ids`` members (the
    smallest ids — the first is the canonical representative) and
    n_docs is the full count.

    Row-safety at web scale: a million byte-identical boilerplate
    pages is ONE content_hash. An unbounded collect_list builds that
    group into a single multi-million-element array row (the exact
    failure ``_bucket_pairs``'s max_bucket guards against), so
    membership is rank-filtered BEFORE any list is aggregated: the
    group count and a row_number rank come from two window specs over
    the same content_hash partitioning (one exchange, one sort, no
    join — measured 2x faster than the count-aggregate + join
    formulation), rows past max_ids are dropped, and only the
    survivors are collected. ``max_ids=None`` restores the unbounded
    list for small exact baselines.

    Skew escalation (``salts``): the window computes each group inside
    one task, so with ``salts=None`` the LARGEST duplicate group is
    processed serially — fine through ~10^7-member groups (narrow
    rows, one sort). Past that, pass ``salts=K``: phase 1 ranks and
    counts within (content_hash, hash-salt) — the giant group fans out
    over K tasks — and keeps only ``max_ids`` rows per salt; phase 2
    merges the survivors (<= K * max_ids rows per hash, bounded
    regardless of skew) with an ordinary aggregate, summing the
    per-salt counts carried on each salt's rank-1 row. The per-salt
    smallest-``max_ids`` provably contains the global
    smallest-``max_ids``, so the output is identical to the
    single-window form (the parity test plants a 10^5-member group)."""
    hashed = docs.select(
        F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    if max_ids is None:
        if salts is not None:
            raise ValueError(
                "salts requires a finite max_ids: the per-salt cap is what "
                "bounds the phase-2 merge (<= salts * max_ids rows per hash)"
            )
        return (
            hashed.groupBy("content_hash")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sort_array(F.collect_list("__id")).alias("doc_ids"),
            )
            .where(F.col("n_docs") > 1)
        )
    from pyspark.sql.window import Window

    if salts is not None:
        salt = (F.xxhash64(F.col("__id")) % salts + salts) % salts
        w1 = Window.partitionBy("content_hash", "__salt")
        w1o = w1.orderBy("__id")
        return (
            hashed.withColumn("__salt", salt.cast("int"))
            .select(
                "content_hash", "__id",
                F.count(F.lit(1)).over(w1).alias("__n_s"),
                F.row_number().over(w1o).alias("__rn"),
            )
            .where(F.col("__rn") <= max_ids)
            .groupBy("content_hash")
            .agg(
                F.sum(F.when(F.col("__rn") == 1, F.col("__n_s"))).alias("n_docs"),
                F.slice(F.sort_array(F.collect_list("__id")), 1, max_ids)
                .alias("doc_ids"),
            )
            .where(F.col("n_docs") > 1)
            .select("content_hash", "n_docs", "doc_ids")
        )

    w = Window.partitionBy("content_hash")
    wo = w.orderBy("__id")
    return (
        hashed.select(
            "content_hash", "__id",
            F.count(F.lit(1)).over(w).alias("n_docs"),
            F.row_number().over(wo).alias("__rn"),
        )
        .where((F.col("n_docs") > 1) & (F.col("__rn") <= max_ids))
        .groupBy("content_hash", "n_docs")
        .agg(F.sort_array(F.collect_list("__id")).alias("doc_ids"))
        .select("content_hash", "n_docs", "doc_ids")
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Tiny inputs (a single small parquet file) read as 1-2 partitions,
    serializing the tokenize/explode stage on one core. Spread them to
    the default parallelism; a no-op at real scale where the scan
    already has >= defaultParallelism partitions.

    The probe is plan-free: `inputFiles()` reads leaf-scan metadata on
    the driver without converting the plan to an RDD (df.rdd
    materializes the RDD lineage — and in past Spark versions could
    trigger job-side effects — on every call). Non-file sources
    (in-memory test frames, streaming) report no files and are left
    untouched: createDataFrame already spreads over the default
    parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < min(target, 8):
        return df.repartition(target)
    return df


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per document.
    Casefolded, whitespace-tokenized.

    Shingles are built by zipping the token array with its shifted
    slices (one concat per position) — measured ~2x faster than the
    sequence+slice-per-index formulation, which re-slices the array for
    every output gram."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    docs = _spread_small_input(docs)

    def grams_of(t):
        acc = t
        for k in range(1, n):
            shifted = F.slice(t, k + 1, F.greatest(F.size(t) - k, F.lit(0)))
            acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
        return F.slice(acc, 1, F.greatest(F.size(t) - (n - 1), F.lit(0)))

    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.when(F.size(toks) >= n, grams_of(toks))
                              .otherwise(F.array())).alias("shingle"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(doc_id, mh_0..mh_{K-1}): per-seed minimum of md5(seed|shingle).
    One aggregation; all hashing JVM-side."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _bucket_pairs(members: DataFrame, keys: list[str],
                  max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs within buckets: ``members(id, payload..., *keys)``
    -> ``(a, b)``, two structs of the member's non-key columns with
    ``a.id < b.id``, for every pair of members sharing all ``keys`` (for
    every pair when ``keys`` is empty). The one pair kernel behind
    lsh_candidate_pairs, simhash_near_dups, embedding_near_dups_lsh and
    embedding_near_dups; callers score and filter the pairs.

    Scale design: ONE shuffle groups each bucket's members (sorted by
    id) into a row and pairs are generated in-row — each member
    explodes against the slice of members after it, so no value ever
    holds more than one bucket's member list and no self-join shuffles
    the upstream twice.

    ``max_bucket`` bounds the quadratic blowup of pathological buckets
    (e.g. millions of byte-identical boilerplate pages, or near-zero
    template embeddings, landing in one bucket at web scale): bucket
    sizes and each bucket's minimum member (``min_by`` over the id) are
    counted first, and members of oversized buckets NEVER aggregate
    into a single row — each pairs only with its bucket's minimum,
    row by row (star pairs), so output is linear in the bucket size and
    there is no multi-million-element array and no 2 GB row limit.
    Connected components are preserved whenever an oversized bucket is
    one near-identical group (the web-scale case the cap exists for);
    pairs between two non-minimum members of an oversized bucket are
    not emitted (the documented approximation), and the callers'
    scores are still computed exactly for the star pairs. The members
    subplan is referenced by both the size count and the member join,
    but its upstream exchange executes once (Spark ReusedExchange).
    None (default) = exact all-pairs, which is what the DuckDB oracles
    in __spark_entry__ compute."""
    member = F.struct(*[c for c in members.columns if c not in keys])
    small = members
    star = None
    if max_bucket is not None:
        stats = members.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min_by(member, F.col("id")).alias("__mn"),
        )
        # no keys: one bucket, joined to its single stats row
        joined = members.join(stats.where(F.col("__n") > 1), keys or None)
        small = joined.where(F.col("__n") <= max_bucket).select(*members.columns)
        star = joined.where(
            (F.col("__n") > max_bucket) & (F.col("id") != F.col("__mn.id"))
        ).select(F.col("__mn").alias("a"), member.alias("b"))
    buckets = (
        small.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("__m"))
        .where(F.size("__m") > 1)
    )
    pairs = buckets.select(
        "__m", F.posexplode("__m").alias("__i", "a")
    ).select(
        "a", F.explode(F.slice("__m", F.col("__i") + 2, F.size("__m"))).alias("b")
    )
    return pairs if star is None else pairs.unionByName(star)


def lsh_candidate_pairs(sigs: DataFrame, num_hashes: int = 8,
                        band_size: int = 2,
                        max_bucket: int | None = None) -> DataFrame:
    """Band minhash signatures -> candidate pairs (doc_a < doc_b).

    ONE pass over the signatures: bands are generated by exploding an
    in-row array of (band, bucket) structs, so the expensive
    shingle/minhash upstream is never recomputed per band; pairs come
    from ``_bucket_pairs`` on (band, bucket) (``max_bucket`` as
    documented there), then a distinct across bands."""
    band_keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh_{i}")
                                     for i in range(b, b + band_size)])).alias("bucket"),
        )
        for b in range(0, num_hashes, band_size)
    ]
    members = sigs.select(
        F.col("doc_id").alias("id"), F.explode(F.array(*band_keys)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    return (
        _bucket_pairs(members, ["band", "bucket"], max_bucket)
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, threshold: float = 0.8,
                  candidates: DataFrame | None = None,
                  max_shingle_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle
    (optionally restricted to LSH candidates): (doc_a, doc_b, jaccard).

    Scale design: pruning happens BEFORE the expensive shingle
    self-join, not after it —

    - with ``candidates``, the shingle table is first left-semi-joined
      to the candidate doc-id set, so only candidate documents' rows
      enter the self-join (the exact pair restriction still applies
      after the aggregate; denominators use the FULL per-doc shingle
      counts, so the Jaccard value is unchanged);
    - ``max_shingle_df`` optionally drops shingles occurring in more
      than that many candidate documents from the intersection join: a
      stop-word-ish 3-gram shared by n docs otherwise costs O(n^2)
      join rows on its own. This makes the reported intersection a
      lower bound (jaccard becomes a conservative underestimate), so
      it is off by default — turn it on at web scale where hot
      shingles carry no similarity signal anyway.
    """
    joined_sh = sh
    if candidates is not None:
        cand_ids = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        joined_sh = joined_sh.join(cand_ids, "doc_id", "left_semi")
    # denominators AFTER the candidate restriction (identical values —
    # the semi-join keeps every shingle of a surviving doc — without
    # aggregating the full corpus) but BEFORE the hot-shingle cap
    # (which deliberately removes rows and must not shrink union sizes)
    sizes = joined_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_df is not None:
        hot = (
            joined_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("shingle")
        )
        joined_sh = joined_sh.join(hot, "shingle", "left_anti")
    a = joined_sh.alias("a")
    b = joined_sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"])
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def dup_clusters(pairs: DataFrame, max_iters: int = 25,
                 on_unconverged: str = "raise") -> DataFrame:
    """Near-duplicate pairs -> connected components: (doc_id,
    cluster_id) with cluster_id = the minimum doc_id reachable.

    Min-label propagation with pointer doubling, entirely in
    DataFrames: each round every vertex takes min(own label,
    neighbors' labels) and then short-cuts through its label's label
    (label(v) <- min(label(v), label(label(v)))) — O(log diameter)
    rounds instead of O(diameter), so a depth-2^25 chain converges
    inside the default cap. If the cap is still hit the result would
    silently under-merge clusters, so the loop raises by default
    (``on_unconverged="warn"`` downgrades to a warning).

    Scale notes: each round is two key-joins + one aggregate, all on
    (doc_id/cluster_id) keys; `localCheckpoint` truncates the lineage
    so round N's plan does not replay rounds 1..N-1."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    converged = labels.isEmpty()
    for _ in range(max_iters):
        if converged:
            break
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        prop = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nmin"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # pointer doubling: follow the label's own label one hop
        lookup = prop.select(
            F.col("doc_id").alias("__lid"), F.col("cluster_id").alias("__lcl")
        )
        updated = (
            prop.join(lookup, prop.cluster_id == F.col("__lid"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("__lcl"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc_id")
            .where(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .count()
        )
        labels = updated
        converged = changed == 0
    if not converged:
        msg = (f"dup_clusters did not converge within max_iters={max_iters}; "
               "cluster labels would silently under-merge")
        if on_unconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels


_TOKEN_HASHES = 1 << 16  # md5 digests each worker keeps, most recently used first


@functools.lru_cache(maxsize=_TOKEN_HASHES)
def _token_md5(token: str) -> bytes:
    return hashlib.md5(token.encode("utf-8")).digest()


def simhash_text(text: str | None, bits: int = 64) -> int:
    """SimHash of one document's lowercased whitespace tokens.

    Semantics (engine-portable, mirrored by the DuckDB oracle in
    __spark_entry__): token hash = first ``bits/8`` bytes of
    md5(token), big-endian; bit j of the signature is set iff strictly
    more than half the tokens have bit j set (votes +1/-1, ties -> 0);
    a 64-bit signature wraps to a signed long; a null or token-free text
    hashes to 0. The bit vote is one ``unpackbits`` + column sum, and
    md5 runs once per distinct token while it stays in the bounded
    per-worker cache."""
    toks = (text or "").lower().split()
    if not toks:
        return 0
    nbytes = bits // 8
    # byte-reverse each hash so unpackbits column j == bit j (LSB
    # index) of the big-endian integer
    mat = np.frombuffer(b"".join(map(_token_md5, toks)), dtype=np.uint8)
    mat = mat.reshape(-1, 16)[:, nbytes - 1::-1]
    ones = np.unpackbits(mat, axis=1, bitorder="little").sum(axis=0)
    sig = np.packbits(ones * 2 > len(toks), bitorder="little").tobytes()
    return int.from_bytes(sig, "little", signed=bits == 64)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """(doc_id, simhash): :func:`simhash_text` of each document, run
    per row through :func:`rdf_spark.submit.map_rows`. The md5 cache is
    per worker, so a corpus's frequent tokens are hashed about once per
    Python worker."""
    src = _spread_small_input(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")))
    return map_rows(src, lambda doc_id, text: [(doc_id, simhash_text(text, bits))],
                    _SIMHASH_SCHEMA)


def simhash_near_dups(sig: DataFrame, max_hamming: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance: (doc_a, doc_b,
    hamming). Candidates come from ``_bucket_pairs`` on 16-bit band
    equality (4 bands over 64 bits, exploded in-row like
    lsh_candidate_pairs' bands): any pair within Hamming distance 3
    shares at least one exact band. Hamming is computed exactly for
    every candidate, star pairs of an oversized bucket included
    (``max_bucket`` as documented on ``_bucket_pairs``)."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
        )
        for b in range(4)
    ])
    members = sig.select(
        F.col("doc_id").alias("id"), "simhash", F.explode(bands).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.bucket")
    return (
        _bucket_pairs(members, ["band", "bucket"], max_bucket)
        .select(
            F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _embedding_members(emb: DataFrame, id_col: str, vec_col: str,
                       *keys) -> DataFrame:
    """(id, v, n, *keys): the norm is computed once per vector, not per
    pair."""
    from .ann import _norm

    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"), *keys,
    )


def _cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, cos 4dp) of candidate pairs at or above
    ``threshold``; a zero vector has no cosine, so it is never a match."""
    from .ann import cosine

    cos = cosine(F.col("a.v"), F.col("a.n"), F.col("b.v"), F.col("b.n"))
    return pairs.select(
        F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
        F.round(cos, 4).alias("cos"),
    ).where(F.col("cos") >= threshold)


def embedding_near_dups_lsh(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            planes: int = 8,
                            max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at scale: bucket vectors
    by their random-hyperplane LSH signature (deterministic md5
    hyperplanes, engine-portable — same construction as ann.lsh_topk)
    and compare only within buckets: (doc_a, doc_b, cos, 4dp).

    This is the pair-generation scale path embedding_near_dups points
    at: candidate volume is sum-of-bucket-sizes-squared, tuned by
    ``planes`` (more planes -> smaller buckets, lower recall for
    borderline pairs). Pairs come from ``_bucket_pairs`` on the
    signature (``max_bucket`` as documented there)."""
    from .ann import lsh_signature

    members = _embedding_members(
        emb, id_col, vec_col,
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    return _cosine_pairs(_bucket_pairs(members, ["bucket"], max_bucket), threshold)


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        allow_brute_force: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a, doc_b, cos, 4dp).
    Exact all-pairs within label partitions when a `label` column
    exists (IVF-style pruning). Without a label column the only exact
    plan pairs the whole corpus as one bucket — quadratic, never
    acceptable at scale — so it raises unless
    ``allow_brute_force=True`` (small exact baselines only); the scale
    paths are embedding_near_dups_lsh (bucketed pair generation),
    ann.lsh_topk / ann.ivf_kmeans_topk (top-k), or simhash banding."""
    keys = ["label"] if "label" in emb.columns else []
    if not keys and not allow_brute_force:
        raise ValueError(
            "embedding_near_dups without a `label` column is a quadratic "
            "cross join; pass allow_brute_force=True for small exact "
            "baselines or use embedding_near_dups_lsh / ann.lsh_topk / "
            "ann.ivf_kmeans_topk"
        )
    members = _embedding_members(emb, id_col, vec_col, *keys)
    return _cosine_pairs(_bucket_pairs(members, keys), threshold)


def remove_duplicated_spans(docs: DataFrame, n: int = 8, min_df: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Cross-document duplicated-SPAN removal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operation, doc-level-keeper variant): every token covered by an
    ``n``-token span that appears in >= ``min_df`` distinct documents
    is removed from every document EXCEPT the span's keeper (the
    smallest ``id_col`` containing that span, which keeps all its
    occurrences — deterministic, engine-portable). Complements
    remove_boilerplate (exact repeated LINES) by catching templated
    runs that flow across line breaks, mid-sentence.

    Returns (doc_id, text, n_removed) — text is the surviving tokens
    joined with single spaces (whitespace is normalized for every doc,
    touched or not), n_removed the count of dropped token positions.

    Scale shape (no Python anywhere): tokenize -> in-row n-gram
    starts -> ONE aggregate on md5(span) for (distinct-doc df, min-id
    keeper) -> equi-join removable occurrences back on the hash ->
    explode each to its n covered positions (bounded by n x doc
    length) -> distinct -> anti-join token positions -> one final
    per-doc sort-agg rebuild. Every join/agg keys on span-hash or
    doc_id; a boilerplate span duplicated across 10^6 docs is just a
    hot build-side row streamed through the hash join — coverage per
    doc stays bounded by its own length. Spans never leave the row as
    text: only 32-char md5 keys shuffle.

    Scale honesty: the df aggregate shuffles one keyed row per token
    position — inherent to span-level dedup (the reference technique
    uses suffix arrays on dedicated hardware). At full-corpus scale,
    (a) swap md5 for a fixed-width 8-byte hash (xxhash64 — shape
    unchanged, 4x fewer shuffle bytes; md5 is the default only for
    engine-portable oracles), and/or (b) restrict ``docs`` to the
    near-dup candidate universe from the MinHash-LSH pass first, which
    is how the curation chain orders its stages anyway.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "").alias("t"),
    )
    # (doc_id, start, h) for every n-gram start; the ' ' joiner is
    # injective over fixed-length token windows because a whitespace-
    # split token can never contain a space (\x01 would NOT be safe:
    # \s does not match U+0001, so stray control bytes survive inside
    # tokens). Filter BEFORE the explode:
    # sequence(0, size-n) on a shorter doc would auto-step DOWNWARD
    # (the lsh_signature trap) and feed slice() negative starts.
    occ = (
        toks.where(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.md5(F.array_join(F.slice("t", i + 1, n), " ")).alias("h"),
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", "o.start", "o.h")
    )
    dup = (
        occ.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"),
             F.min("doc_id").alias("keeper"))
        .where(F.col("df") >= min_df)
        .select("h", "keeper")
    )
    covered = (
        occ.join(dup, "h")
        .where(F.col("doc_id") != F.col("keeper"))
        .select("doc_id",
                F.explode(F.sequence("start", F.col("start") + (n - 1))).alias("pos"))
        .distinct()
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    )
    kept = (
        tokpos.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return (
        toks.select("doc_id", F.size("t").alias("__n_toks"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            (F.col("__n_toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )

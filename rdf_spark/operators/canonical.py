"""Canonicalization: triple-level dedupe + canonical output layout
(SURVEY.md §2.4 R11; north_rule "sort-merge aggregate keyed on
(canonical_subj, pred, canonical_obj)").

Scale design:
- ``groupBy`` over the full term key -> Spark does partial (map-side)
  + final aggregation automatically; AQE coalesces/splits the shuffle;
- per-triple provenance kept as scalable aggregates only: count,
  min(url) exemplar, approx distinct sources — NEVER collect_set(url)
  (a head triple like (X, rdf:type, schema:Thing) would accumulate
  millions of urls in one reducer);
- output sorted *within partitions* by (subj, pred, obj_lex) for
  file-level clustering/min-max pruning; never a global sort
  (SURVEY.md §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .parse import TRIPLES_SCHEMA

TRIPLE_KEY = [
    "subj_kind", "subj", "pred",
    "obj_kind", "obj_lex", "obj_datatype", "obj_lang",
    "graph_kind", "graph",
]
# canonicalize's columns, before its ``within`` columns
CANONICAL_SCHEMA = StructType(
    [TRIPLES_SCHEMA[c] for c in TRIPLE_KEY]
    + [StructField("support", LongType()), StructField("first_url", StringType()),
       StructField("approx_sources", LongType())])

_WRITE_ORDER = ["subj", "pred", "obj_lex"]
_GROUP_KEY = _WRITE_ORDER + [c for c in TRIPLE_KEY if c not in _WRITE_ORDER]


def canonicalize(triples: DataFrame, url_col: str = "url",
                 within: tuple[str, ...] = ()) -> DataFrame:
    """Dedupe identical (s,p,o,g) across all documents, keeping scalable
    provenance aggregates. Literal comparison is lexical — no numeric
    normalization in the key (reference semantics, SURVEY.md §1.2/§4.3.4).
    ``within`` columns scope the dedupe: they lead the group key and
    come last in the output. Then come subj, pred, obj_lex, so the
    sort-based aggregate already emits :func:`cluster_for_write`'s order.

    Plan note: min(url) has a variable-length aggregation buffer, which
    drops the whole aggregate from HashAggregate to SortAggregate
    (per-partition sort on the 9-column key). Measured cost at sf0.1:
    3.02 s vs 2.41 s without the exemplar (~2 % of pipeline wall) —
    kept, because a first-seen provenance URL per canonical triple is
    worth 2 %. If it ever matters, the fixed-width min(xxhash64(url))
    variant restores HashAggregate at the cost of an opaque exemplar."""
    return triples.groupBy(*within, *_GROUP_KEY).agg(
        F.count(F.lit(1)).alias("support"),
        F.min(url_col).alias("first_url"),
        F.approx_count_distinct(url_col).alias("approx_sources"),
    ).select(*CANONICAL_SCHEMA.names, *within)


def canonicalize_sketched(triples: DataFrame, url_col: str = "url",
                          lg_k: int = 12) -> DataFrame:
    """Canonicalize with a MERGEABLE provenance sketch: instead of a
    finalized approx_count_distinct number, each canonical triple
    carries an HLL sketch (binary) of its source urls. This is the
    incremental-materialization form: a continuously-crawled corpus
    appends batches, and merge_canonical() combines a new batch with
    the existing table WITHOUT rescanning history — counts add,
    exemplars min, sketches union. (A finalized estimate cannot be
    merged; the sketch can.)"""
    return triples.groupBy(*TRIPLE_KEY).agg(
        F.count(F.lit(1)).alias("support"),
        F.min(url_col).alias("first_url"),
        F.hll_sketch_agg(url_col, F.lit(lg_k)).alias("sources_sketch"),
    )


def merge_canonical(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a newly-canonicalized batch into the existing canonical
    table (both in canonicalize_sketched layout): one union + one
    aggregate on the triple key — cost proportional to
    |existing| + |delta|, never to the raw history. At real scale this
    is the MERGE INTO of the Iceberg triple table."""
    return existing.unionByName(delta).groupBy(*TRIPLE_KEY).agg(
        F.sum("support").alias("support"),
        F.min("first_url").alias("first_url"),
        F.hll_union_agg("sources_sketch").alias("sources_sketch"),
    )


def with_source_estimates(canonical: DataFrame) -> DataFrame:
    """Read-time distinct-source estimates from the stored sketches."""
    return canonical.withColumn(
        "approx_sources", F.hll_sketch_estimate("sources_sketch")
    )


def cluster_for_write(rows: DataFrame, buckets: int = 32,
                      within: tuple[str, ...] = ()) -> DataFrame:
    """Layout for materialization, with ONE Exchange of its own:
    hash-partition on subject (co-locates each entity's triples ->
    downstream entity-local joins are shuffle-free with the same
    bucketing), then sort within partitions for parquet min-max pruning
    on (subj, pred), after the ``within`` columns of :func:`canonicalize`.

    Rows without a ``support`` column are raw triples: they are
    canonicalized between the exchange and the sort. The triple key
    contains ``subj``, so the subj hash partitioning already satisfies
    the aggregate's distribution — partial and final aggregation run in
    the same tasks and the whole canonical write plan has a single
    Exchange, where canonicalizing first costs one for the groupBy plus
    one for the repartition. Rows and part files are those of
    ``cluster_for_write(canonicalize(triples))``."""
    by_subj = rows.repartition(buckets, "subj")
    if "support" not in rows.columns:
        by_subj = canonicalize(by_subj, within=within)
    return by_subj.sortWithinPartitions(*within, *_WRITE_ORDER)


def exact_duplicate_docs(triples: DataFrame, url_col: str = "url") -> DataFrame:
    """Document-level exact dedupe: documents whose *sorted triple set*
    hashes identically. Two shuffles: (url -> doc hash), (hash -> urls).
    The per-doc hash is an order-insensitive aggregate (sum of per-triple
    hashes) so no per-document sort is needed."""
    h = F.hash(*TRIPLE_KEY).cast("long")
    doc = triples.groupBy(url_col).agg(
        F.sum(h).alias("doc_hash"), F.count(F.lit(1)).alias("n_triples")
    )
    return (
        doc.groupBy("doc_hash", "n_triples")
        .agg(F.collect_list(url_col).alias("urls"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )

"""Entity linking: broadcast-dictionary join with head-entity skew
handling (SURVEY.md §2.4 R12; north_rule "broadcast dictionary plus
salted-key repartitioning for head-entity skew").

Scale design:
- the dictionary is small relative to the corpus -> ``F.broadcast``
  forces a broadcast-hash join: the 100 TB triples side is NEVER
  shuffled for the join;
- left join + coalesce keeps unmatched mentions unchanged (linking is
  enrichment, not a filter);
- for the *aggregate after linking* (mention counts per canonical
  entity), head entities (rdf:type targets, schema.org IRIs) dominate —
  ``salted_count`` does the classic two-phase salted aggregate:
  partial groupBy(key, salt) -> final groupBy(key), mirroring Spark's
  own partial/final hash aggregation with an explicit fan-out of hot
  keys across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..terms import KIND_IRI


def link_entities(
    triples: DataFrame,
    dictionary: DataFrame,
    surface_col: str = "surface",
    canonical_col: str = "canonical_iri",
) -> DataFrame:
    """Rewrite IRI subjects/objects that match dictionary surfaces to
    their canonical IRIs. Broadcast-hash join; big side not shuffled.

    A surface listed with several canonicals links to the smallest, in
    any row order. The dictionary is deduplicated in one partition: the
    broadcast collects it whole to the driver anyway, and a
    single-partition child already satisfies the aggregate's
    distribution, so the plan needs no ``Exchange
    hashpartitioning(__surface, ...)`` (and no shuffle-map job)."""
    d = F.broadcast(
        dictionary.coalesce(1).groupBy(F.col(surface_col).alias("__surface"))
        .agg(F.min(canonical_col).alias("__canonical"))
    )
    out = (
        triples.join(d, F.col("subj") == F.col("__surface"), "left")
        .withColumn(
            "subj",
            F.when(
                (F.col("subj_kind") == KIND_IRI) & F.col("__canonical").isNotNull(),
                F.col("__canonical"),
            ).otherwise(F.col("subj")),
        )
        .drop("__surface", "__canonical")
    )
    out = (
        out.join(d, F.col("obj_lex") == F.col("__surface"), "left")
        .withColumn(
            "obj_lex",
            F.when(
                (F.col("obj_kind") == KIND_IRI) & F.col("__canonical").isNotNull(),
                F.col("__canonical"),
            ).otherwise(F.col("obj_lex")),
        )
        .drop("__surface", "__canonical")
    )
    return out


def salted_count(df: DataFrame, key_cols: list[str], salts: int = 16) -> DataFrame:
    """Two-phase skew-safe count: groupBy(key, salt).count ->
    groupBy(key).sum. Result identical to a plain groupBy().count()
    (verified by
    tests/pipeline/test_spark_parse.py::test_salted_count_equals_plain);
    the salt spreads hot keys over `salts` reducers in phase 1."""
    salt = (F.rand(seed=7) * salts).cast("int")
    partial = df.withColumn("__salt", salt).groupBy(*key_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(*key_cols).agg(F.sum("__partial").alias("cnt"))

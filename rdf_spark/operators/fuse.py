"""Knowledge fusion: resolve conflicting assertions into one canonical
value per (subject, predicate).

A continuously re-crawled KG asserts the same (subj, pred) many times
with different objects — stale snapshots, case variants, vandalism,
per-source disagreement. The reference library stops at storage
(graph.go:11-48); construction at web scale needs a fusion step
between canonical dedupe (operators/canonical.py) and the triple-table
write. Strategies here are the two classic deterministic ones:

- :func:`latest_values` — temporal resolution: keep the value(s) of
  the most recent assertion per (subj, pred); recency is what a
  recrawl feed means by "current".
- :func:`majority_vote` — truth discovery by support: keep the object
  asserted most often (optionally weighted by a support column, e.g.
  distinct-source counts from canonical dedupe).

Both keep hot keys shuffle-safe: latest_values is a distributed
argmax (partial-aggregated max + skew-splittable join + partial min);
majority_vote partial-counts per (key, value) before its shuffle and
only window-ranks the per-key distinct-claim list (small by
construction — distinct values per entity-attribute, not claims).
Ties are broken canonically (min obj_lex) so output is deterministic
and oracle-replayable.

:func:`fuzzy_link` extends exact-dictionary entity linking
(operators/link.py) to typo'd mentions: blocked candidate generation
(equi-join on a cheap block key over the BROADCAST dictionary) +
JVM-side ``levenshtein`` filter + best-match rank. No all-pairs
compare, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_values(
    triples: DataFrame,
    ts_col: str = "warc_ts",
    key_cols: list[str] | None = None,
    value_col: str = "obj_lex",
) -> DataFrame:
    """Per key, keep the single most recent value; ties on the
    timestamp break to the canonically smallest value (deterministic).

    Distributed argmax, NOT a window: max(ts) per key with map-side
    partial aggregation, an equi-join back onto the claims (AQE's
    skew-join splits a hot key's probe side — a window partition
    cannot be split), then a partial-aggregated min over the
    tied-for-latest values. ``max`` ignores NULL timestamps, so
    NULL-ts claims lose to any dated claim but still win keys that
    only have NULL-ts claims (the join's null-safe equality keeps
    them comparable)."""
    key_cols = key_cols or ["subj", "pred"]
    claims = triples.select(*key_cols, value_col, ts_col)
    best = claims.groupBy(*key_cols).agg(F.max(ts_col).alias("__best_ts"))
    return (
        claims.join(best, key_cols)
        .where(F.col(ts_col).eqNullSafe(F.col("__best_ts")))
        .groupBy(*key_cols)
        .agg(
            F.min(value_col).alias(value_col),
            F.max(ts_col).alias(ts_col),
        )
    )


def majority_vote(
    triples: DataFrame,
    key_cols: list[str] | None = None,
    value_col: str = "obj_lex",
    support_col: str | None = None,
) -> DataFrame:
    """Per key, keep the value with the highest support (row count, or
    the sum of ``support_col`` when given — e.g. the distinct-source
    counts canonical dedupe emits). Ties break to the canonically
    smallest value. Output adds the winning ``support`` so downstream
    filters can threshold confidence.

    Two-level aggregation: count/sum per (key, value) — partial
    map-side combine absorbs the hot values BEFORE the shuffle — then
    a window rank over the per-key value list (small: distinct claims
    per entity-attribute)."""
    key_cols = key_cols or ["subj", "pred"]
    weight = (
        F.sum(support_col) if support_col else F.count(F.lit(1))
    ).alias("support")
    counted = triples.groupBy(*key_cols, value_col).agg(weight)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("support").desc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*key_cols, value_col, "support")
    )


def resolve_functional(
    triples: DataFrame,
    predicates: list[str],
    strategy: str = "majority",
    ts_col: str | None = None,
    support_col: str | None = "support",
) -> DataFrame:
    """Pipeline-composable fusion: for the listed FUNCTIONAL
    predicates (single-valued by schema intent — names, birth dates,
    canonical URLs), keep exactly one object per subject; every other
    predicate's triples pass through untouched (multi-valued
    predicates like ex:knows are legitimately plural — fusing them
    would be wrong, which is why this takes an explicit predicate
    list rather than fusing everything).

    Sits naturally after canonical dedupe (plans/pipeline.py
    build_triples): ``strategy="majority"`` weights by the
    ``support`` column canonicalize emits (distinct-assertion counts)
    when present; ``strategy="latest"`` needs ``ts_col``. The full
    input row of each winning claim is preserved (winners are
    semi-joined back), so the output schema equals the input schema —
    downstream stages don't change. The unit of resolution is the
    VALUE, not the physical row: on a per-bucket-canonicalized table
    the winning claim may still appear as one row per bucket until
    batch compaction merges them (operators/canonical.py) — losing
    values' rows are dropped from every bucket either way."""
    if strategy not in ("majority", "latest"):
        raise ValueError(f"strategy must be 'majority' or 'latest', got {strategy!r}")
    isin = F.col("pred").isin(*predicates)
    contested = triples.where(isin)
    keep = triples.where(~isin)
    if strategy == "latest":
        if ts_col is None:
            raise ValueError("strategy='latest' requires ts_col")
        winners = latest_values(contested, ts_col=ts_col).select(
            "subj", "pred", "obj_lex"
        )
    else:
        sup = support_col if support_col in contested.columns else None
        winners = majority_vote(contested, support_col=sup).select(
            "subj", "pred", "obj_lex"
        )
    return keep.unionByName(
        contested.join(winners, ["subj", "pred", "obj_lex"], "left_semi")
    )


def _block_key(col):
    """Cheap blocking key: lowercased first character. Recall contract
    (documented, mirrored by the oracle): candidate pairs whose edit
    distance fix touches the first character are missed — acceptable
    for the dominant typo classes (interior edits, case, suffixes);
    callers needing first-char robustness pass their own key."""
    return F.substring(F.lower(col), 1, 1)


def fuzzy_link(
    mentions: DataFrame,
    dictionary: DataFrame,
    mention_col: str = "mention",
    surface_col: str = "surface",
    canonical_col: str = "canonical_iri",
    max_dist: int = 2,
) -> DataFrame:
    """Link free-text mentions to canonical IRIs tolerating up to
    ``max_dist`` edits (case-insensitive Levenshtein): ``(mention,
    canonical_iri, dist)``, best match per mention, ties to the
    canonically smallest surface. Unmatched mentions are dropped
    (linking output, not enrichment — union with the exact path in
    link.py for rewrite semantics).

    Scale shape: the dictionary is broadcast; candidates come from an
    equi-join on (block key, plus a length band |len(m)-len(s)| <=
    max_dist enforced as a post-filter the optimizer keeps beside the
    join) — the 100 TB mention side is never all-pairs-compared, and
    the only shuffle is the final best-match aggregate on the mention
    key, which partial-combines map-side (hot mentions collapse to
    one struct per input partition before the exchange).
    ``levenshtein`` is a JVM builtin inside whole-stage codegen; no
    Python in the row path."""
    m = mentions.select(
        F.col(mention_col).alias("__m"),
        _block_key(F.col(mention_col)).alias("__blk"),
    )
    d = F.broadcast(
        dictionary.select(
            F.col(surface_col).alias("__s"),
            F.col(canonical_col).alias("__iri"),
        )
        # deterministic pick when one surface maps to several IRIs
        .groupBy("__s")
        .agg(F.min("__iri").alias("__iri"))
        .withColumn("__blk", _block_key(F.col("__s")))
    )
    cand = (
        m.join(d, "__blk")
        .where(
            F.abs(F.length("__m") - F.length("__s")) <= max_dist
        )
        .withColumn("dist", F.levenshtein(F.lower("__m"), F.lower("__s")))
        .where(F.col("dist") <= max_dist)
    )
    # best match as a partial-aggregated struct-min, NOT a window: a
    # hot mention's candidates combine map-side instead of piling into
    # one window partition (struct ordering = dist asc, surface asc)
    return (
        cand.groupBy("__m")
        .agg(F.min(F.struct("dist", "__s", "__iri")).alias("__best"))
        .select(
            F.col("__m").alias("mention"),
            F.col("__best.__iri").alias("canonical_iri"),
            F.col("__best.dist").cast("int").alias("dist"),
        )
    )

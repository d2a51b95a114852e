"""Graph analytics + integrity over the canonical triple table.

The reference stops at storage/pattern ops (graph.go:11-48); a KG
*construction* pipeline also needs to rank, validate, and diff the
graph it builds. Everything here is iterative-relational: each round
is equi-joins + aggregates on vertex keys (partial aggregation,
AQE-coalesced shuffles), never an all-pairs or driver-side loop over
rows. Scalar per-round values (vertex count, dangling mass) travel as
broadcast 1-row DataFrames so the whole iteration stays lazy and
cluster-side — no ``collect()`` in any loop.

Scale notes per operator are in the docstrings; the plan-shape
guarantees (equi-joins only, no CartesianProduct on the data path)
are locked by tests/pipeline/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list ->
    ``(node, rank)``.

    Semantics (the textbook power iteration, so an unrolled SQL oracle
    can replay it exactly):

      rank_0(v)    = 1/N
      rank_k+1(v)  = (1-d)/N + d * (sum_{u->v} rank_k(u)/outdeg(u)
                                    + dangling_k / N)

    where ``dangling_k`` is the total rank sitting on vertices with no
    out-edges (their mass is redistributed uniformly, keeping
    sum(rank) = 1 every iteration). Edges are deduplicated first
    (set semantics — parallel assertions of one triple are one edge).

    Scale design:
    - each iteration is ONE equi-join (ranks -> edges on src) + ONE
      aggregate (contributions by dst) + ONE left join back onto the
      vertex set — all partial-aggregated, AQE-managed shuffles on
      vertex keys; skewed hub vertices are exactly the skew AQE's
      OptimizeSkewedJoin handles;
    - N and the per-round dangling mass are 1-row aggregates cross-
      joined back with an explicit ``broadcast()`` — a BroadcastNested-
      LoopJoin against ONE row, i.e. a constant, NOT a data-path
      cartesian product; the loop issues no driver action;
    - ``localCheckpoint`` truncates lineage each round so round k's
      plan does not replay rounds 1..k-1 (same pattern as
      dedup.dup_clusters).
    """
    # checkpoint the deduplicated edge list once: every iteration's
    # contribution join reads it, and without this each round's
    # localCheckpoint job would re-run the distinct shuffle
    e = (
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("__src").agg(F.count(F.lit(1)).cast("double").alias("__deg"))
    # dangling flag computed once: vertices with no out-edges
    verts = (
        verts.join(outdeg, verts.node == outdeg.__src, "left")
        .select("node", "__deg", F.col("__deg").isNull().alias("__dangling"))
        .localCheckpoint()
    )
    # N derived from the checkpointed vertex set (and itself
    # checkpointed — one row) so per-round broadcasts of the constant
    # never replay the vertex build
    n_row = verts.agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    ).localCheckpoint()
    ranks = verts.crossJoin(broadcast(n_row)).select(
        "node", "__deg", "__dangling", (F.lit(1.0) / F.col("__n")).alias("rank")
    ).localCheckpoint()
    for it in range(iters):
        dang = ranks.where("__dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")
        )
        contrib = (
            e.join(ranks.where(~F.col("__dangling")), e.__src == F.col("node"))
            .select(F.col("__dst").alias("node"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__c"))
        )
        ranks = (
            verts.join(contrib, "node", "left")
            .crossJoin(broadcast(dang))
            .crossJoin(broadcast(n_row))
            .select(
                "node", "__deg", "__dangling",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * (F.coalesce(F.col("__c"), F.lit(0.0))
                                 + F.col("__dang") / F.col("__n"))
                ).alias("rank"),
            )
        )
        if it < iters - 1:  # final round stays lazy for the caller
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def transitive_closure(
    edges: DataFrame,
    max_rounds: int = 16,
    src: str = "src",
    dst: str = "dst",
    on_unconverged: str = "raise",
) -> DataFrame:
    """All reachable ordered pairs ``(src, dst)`` (path length >= 1)
    over a directed edge list — the +-closure of a SPARQL property
    path like ``ex:broader+``.

    Pointer doubling: after round k the pair set holds every path of
    length <= 2^k, so a diameter-d graph completes in ceil(log2 d)
    rounds of ONE self-equi-join + distinct each (plus one final
    round to observe the fixpoint) — not d rounds of frontier
    expansion. Cycles are fine (the pair set is closed under the
    join; convergence = fixpoint by count). Raises after
    ``max_rounds`` non-converged rounds by default, because stopping
    early silently under-reports reachability
    (``on_unconverged="warn"`` downgrades).

    Scale honesty: the OUTPUT can be Θ(V²) on dense graphs (a clique's
    closure is every pair) — that is inherent to the closure, not the
    algorithm. Scope the input to one predicate's edges (hierarchies:
    skos:broader, rdfs:subClassOf, parent-org chains), where closures
    are near-linear; do not feed the whole KG's edge set.
    """
    if on_unconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_unconverged must be 'raise' or 'warn', got {on_unconverged!r}"
        )
    paths = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct().localCheckpoint()
    n = paths.count()
    for _ in range(max_rounds):
        hops = (
            paths.alias("a")
            .join(paths.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        paths = paths.unionByName(hops).distinct().localCheckpoint()
        n2 = paths.count()
        if n2 == n:
            return paths
        n = n2
    if on_unconverged == "raise":
        raise RuntimeError(
            f"transitive_closure did not converge in {max_rounds} rounds "
            f"(pair count still growing: {n}); the graph has paths longer "
            f"than 2^{max_rounds} edges or the closure is exploding"
        )
    import warnings

    warnings.warn(f"transitive_closure unconverged after {max_rounds} rounds")
    return paths


def graph_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Set diff between two graph snapshots -> the old/new rows plus a
    ``change`` column (``added`` / ``removed``). Unchanged triples are
    not emitted — the output is the incremental delta a continuously
    re-crawled KG publishes per snapshot (at real scale: the content
    of an Iceberg snapshot-diff / MERGE feed).

    Two anti-joins on the triple key, both sides set semantics. Each
    anti-join is a plain equi-join on the key columns — broadcastable
    when one snapshot's delta is small (the common incremental case),
    shuffle-hash otherwise; no full outer join materializing the
    unchanged majority."""
    key_cols = key_cols or ["subj", "pred", "obj_lex"]
    o = old.select(*key_cols).distinct()
    nw = new.select(*key_cols).distinct()
    added = nw.join(o, key_cols, "left_anti").withColumn("change", F.lit("added"))
    removed = o.join(nw, key_cols, "left_anti").withColumn("change", F.lit("removed"))
    return added.unionByName(removed)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    on_unconverged: str = "raise",
) -> DataFrame:
    """Undirected connected components over an edge list ->
    ``(node, component)`` with component = the minimum node id
    reachable (a canonical, deterministic component label).

    Thin graph-flavored front for the dedup clusterer
    (operators/dedup.py::dup_clusters — min-label propagation with
    pointer doubling, O(log diameter) rounds, raises on
    non-convergence): duplicate clustering IS connected components,
    so the battle-tested kernel is shared rather than re-implemented.
    Nodes with no edges don't appear (an isolated node's component is
    trivially itself — union the vertex set if needed)."""
    from .dedup import dup_clusters

    pairs = edges.select(
        F.col(src).alias("doc_a"), F.col(dst).alias("doc_b")
    )
    out = dup_clusters(
        pairs, max_iters=max_iters, on_unconverged=on_unconverged
    )
    return out.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )


def apply_diff(
    base: DataFrame,
    diff: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a ``graph_diff`` delta to a snapshot: drop the
    ``removed`` keys, union the ``added`` rows -> the next snapshot
    (set semantics). Inverse of :func:`graph_diff` by construction:
    ``apply_diff(old, graph_diff(old, new))`` equals ``new`` as a
    set — the roundtrip the contract query checks through the real
    parser on both sides.

    At real scale this is the read-side of an Iceberg MERGE feed:
    one anti equi-join on the triple key (broadcastable when the
    delta is small — the common incremental-crawl case) plus a
    union; the unchanged majority is never shuffled wider than the
    join key and never materialized twice."""
    key_cols = key_cols or ["subj", "pred", "obj_lex"]
    added = diff.where(F.col("change") == "added").select(*key_cols)
    removed = diff.where(F.col("change") == "removed").select(*key_cols)
    base_k = base.select(*key_cols).distinct()
    return (
        base_k.join(removed, key_cols, "left_anti")
        .unionByName(added)
        .distinct()
    )


def property_graph(triples: DataFrame):
    """Triple table -> GraphFrames/GraphX-shaped ``(nodes, edges)``
    export: the bridge from the RDF model to property-graph tooling.

    - ``edges(src, rel, dst)``: every IRI- or blank-node-object
      triple except rdf:type (types become node labels, matching the
      LPG model; blank nodes ARE vertices — the ``ex:a ex:addr _:b``
      link must survive the export);
    - ``nodes(id, labels, n_props)``: every IRI/bnode appearing as
      subject or node object, with its sorted rdf:type labels
      (pipe-joined string, deterministic) and LITERAL-property count.

    Blank-node ids carry the ``_:`` prefix so a pre-skolemization
    graph can never alias a bnode label with an IRI (after the
    pipeline's skolemize pass there are no bnodes and ids are plain
    IRIs).

    Plan: three scans of one table, each aggregating on the vertex
    key with map-side partial combine; the label/property joins are
    left joins on ``id``. No driver-side work; at 100 TB feed a
    subj-bucketed table (plans/bucketed.py) so the aggregations skip
    their exchange."""
    from ..terms import KIND_BNODE, KIND_IRI, KIND_LITERAL

    RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def ref(kind_col, lex_col):
        return F.when(kind_col == KIND_BNODE,
                      F.concat(F.lit("_:"), lex_col)).otherwise(lex_col)

    subj_ref = ref(F.col("subj_kind"), F.col("subj"))
    obj_ref = ref(F.col("obj_kind"), F.col("obj_lex"))
    is_node_obj = F.col("obj_kind").isin([KIND_IRI, KIND_BNODE])
    edges = (
        triples.where(is_node_obj & (F.col("pred") != RDF_TYPE_IRI))
        .select(subj_ref.alias("src"), F.col("pred").alias("rel"),
                obj_ref.alias("dst"))
    )
    labels = (
        triples.where((F.col("pred") == RDF_TYPE_IRI)
                      & (F.col("obj_kind") == KIND_IRI))
        .groupBy(subj_ref.alias("id"))
        .agg(F.array_join(F.sort_array(F.collect_set("obj_lex")),
                          "|").alias("labels"))
    )
    props = (
        triples.where(F.col("obj_kind") == KIND_LITERAL)
        .groupBy(subj_ref.alias("id"))
        .agg(F.count(F.lit(1)).alias("n_props"))
    )
    ids = (
        triples.select(subj_ref.alias("id"))
        .unionByName(triples.where(is_node_obj)
                     .select(obj_ref.alias("id")))
        .distinct()
    )
    nodes = (
        ids.join(labels, "id", "left").join(props, "id", "left")
        .select("id", F.coalesce(F.col("labels"), F.lit("")).alias("labels"),
                F.coalesce(F.col("n_props"), F.lit(0)).alias("n_props"))
    )
    return nodes, edges


def dangling_refs(triples: DataFrame) -> DataFrame:
    """Referential integrity screen: IRIs used as objects that never
    occur as a subject anywhere in the graph -> ``(iri, n_refs)``.

    On a web-scale KG this is the broken-link report (entities
    referenced but never described — crawl gaps, typo'd IRIs, vocab
    terms). One aggregate on obj_lex + one anti-join against the
    distinct subject set; both shuffles key on the IRI, partial
    aggregation applies, and class/vocab hub IRIs (the skewed keys)
    are aggregated map-side before the shuffle."""
    from ..terms import KIND_IRI

    subjects = triples.select(F.col("subj").alias("iri")).distinct()
    refs = (
        triples.where(F.col("obj_kind") == KIND_IRI)
        .groupBy(F.col("obj_lex").alias("iri"))
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    return refs.join(subjects, "iri", "left_anti")

"""Training-data curation operators: corpus-level boilerplate
removal, deterministic stratified sampling.

These are the corpus-shaping steps of a web-scale LLM-data pipeline
(no reference counterpart — the reference is an RDF library; these
extend the documents/table side of SURVEY.md §6):

- boilerplate removal (CCNet-style): a line that repeats across many
  documents (navigation, cookie banners, footers) is template, not
  content. One explode + one aggregate to find them; one hash join to
  drop them. Never materializes a document set per line.
- stratified sampling: deterministic per-stratum rates via an
  md5-derived uniform hash — reproducible across runs AND engines
  (the DuckDB oracle recomputes the same hash), map-only (no shuffle,
  no RNG state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..submit import _prune_zip_importers


def _lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, line) — trimmed, empty lines dropped, document
    order preserved via pos."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("line", F.trim(F.col("line")))
        .where(F.col("line") != "")
    )


def line_doc_frequencies(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(line, n_docs): in how many distinct documents each non-empty
    trimmed line occurs. One explode + one aggregate; the per-line
    state is a count, never a document list."""
    return (
        _lines(docs, id_col, text_col)
        .select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def boilerplate_lines(docs: DataFrame, min_docs: int = 2,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Lines occurring in >= min_docs distinct documents — the
    template/boilerplate candidate set."""
    return line_doc_frequencies(docs, id_col, text_col).where(
        F.col("n_docs") >= min_docs
    )


def remove_boilerplate(docs: DataFrame, min_docs: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, text): documents with boilerplate lines removed,
    remaining lines in original order. The line->boilerplate check is
    an equi-join on the line string (shuffle on the line key, same
    partitioning the frequency aggregate already produced); the
    re-assembly is one groupBy(doc_id) with an order-preserving
    array_sort on (pos, line) structs.

    Output cardinality EQUALS input cardinality: a document whose
    every line is boilerplate (or whose text is empty) yields an
    empty-text row rather than disappearing — downstream doc_id
    joins/counts must not lose rows to curation."""
    bp = boilerplate_lines(docs, min_docs, id_col, text_col).select("line")
    kept = _lines(docs, id_col, text_col).join(bp, "line", "left_anti")
    assembled = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("text")
        )
    )
    all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return all_ids.join(assembled, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )


def stratum_hash(id_col: Column) -> Column:
    """Uniform [0, 10000) bucket from md5 of the id — engine-portable
    (DuckDB computes the identical value) and deterministic."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000
    )


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      id_col: str = "doc_id",
                      default_fraction: float = 0.0) -> DataFrame:
    """Deterministic stratified sample: keep a row iff
    hash(id) % 10000 < fraction[stratum] * 10000. Map-only — no
    shuffle, no RNG, reproducible across runs, engines and retries
    (the property a resumable 100 TB curation job needs: a re-run
    samples the same rows)."""
    frac = F.lit(float(default_fraction))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(frac)
    return df.where(stratum_hash(F.col(id_col)) < frac * 10000)


def filter_verdicts(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    min_tokens: int = 20,
                    max_repetition: float = 0.5,
                    min_quality: float = 0.1) -> DataFrame:
    """Reason-coded keep/drop verdict per document: (doc_id, keep,
    reason). The FIRST failing rule names the reason ('too_short' >
    'high_repetition' > 'low_quality' > 'ok') so drop statistics are
    attributable — at corpus scale the reason histogram is the primary
    dashboard for tuning thresholds. One pass, pure SQL expressions,
    no shuffle."""
    from ..functions.text import quality_score, repetition_ratio, token_count

    toks = token_count(F.col(text_col))
    rep = repetition_ratio(F.col(text_col))
    qual = quality_score(F.col(text_col))
    reason = (
        F.when(toks < min_tokens, F.lit("too_short"))
        .when(rep > max_repetition, F.lit("high_repetition"))
        .when(qual < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


def pack_sequences(docs: DataFrame, max_tokens: int = 2048,
                   buckets: int = 256, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Greedy token-budget sequence packing for training-data prep:
    (doc_id, n_tokens, bucket, seq_id, seq_offset) with per-(bucket,
    seq_id) token totals <= max_tokens (a doc longer than the budget
    gets its own sequence; a null text counts as 0 tokens). ``id_col``
    must be integral.

    Packing is inherently sequential, so the corpus is first split
    into md5-hash buckets (deterministic, uniform) and the greedy scan
    runs per bucket inside applyInArrow — parallelism = `buckets`,
    each group's state is one running counter. Deterministic end to
    end: bucket = hash(doc_id), scan order = doc_id order. A resumed
    or re-run job packs identically (no RNG, no partition-order
    dependence).

    Sizing: applyInArrow materializes one bucket (3 narrow columns)
    per task, so choose ``buckets ≈ corpus_rows / 5M`` at scale — at
    10^12 documents that is ~200k buckets, each a ~100 MB Arrow
    table; the 256 default fits corpora up to the low billions."""
    import pyarrow as pa

    from ..functions.text import token_count

    id_type = docs.select(id_col).schema[0].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(f"pack_sequences needs an integral {id_col!r}, not {id_type}")
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).alias("n_tokens"),
        (stratum_hash(F.col(id_col)) % buckets).cast("int").alias("bucket"),
    )

    def pack(t: pa.Table) -> pa.Table:
        _prune_zip_importers()
        t = t.sort_by("doc_id")
        seq_ids, offsets = [], []
        seq, acc = 0, 0
        for nt in t.column("n_tokens").to_pylist():
            if acc > 0 and acc + nt > max_tokens:
                seq += 1
                acc = 0
            offsets.append(acc)
            seq_ids.append(seq)
            acc += nt
        return (t.append_column("seq_id", pa.array(seq_ids, pa.int64()))
                .append_column("seq_offset", pa.array(offsets, pa.int64())))

    return src.groupBy("bucket").applyInArrow(
        pack,
        schema="doc_id long, n_tokens int, bucket int, seq_id long, seq_offset long",
    )


def cap_per_domain(docs: DataFrame, max_docs: int,
                   url_col: str = "url",
                   id_col: str = "doc_id",
                   order_col: str | None = None,
                   salts: int = 16) -> DataFrame:
    """Keep at most ``max_docs`` documents per registrable domain —
    the per-site cap that stops template-heavy hosts from dominating a
    training corpus (domains via the PSL broadcast join in
    functions/psl.py, so example.co.uk and shop.example.co.uk share
    one budget while example.com keeps its own).

    Selection is deterministic: rank by ``order_col`` DESCENDING
    (e.g. a quality score — keep the best) then by id ascending as
    the tie-break; without an order column, the lowest ids win.

    Skew design: the domain key is the natural hot key (one mega-host
    can be a double-digit share of a crawl), and a single rank window
    on it would sort that domain in ONE task. So ranking is two-phase
    salted top-N: phase 1 ranks within (domain, hash-salt) — the hot
    domain fans out over ``salts`` tasks — and keeps max_docs rows per
    salt; phase 2 ranks the survivors (<= salts * max_docs rows per
    domain, bounded regardless of input skew) on the bare domain key.
    The phase-1 per-salt top-N provably contains the domain's global
    top-N, so the result is identical to the single-window form.
    Domain derivation itself is broadcast-join only, no shuffle."""
    from pyspark.sql.window import Window

    from ..functions.psl import registrable_domain_psl

    with_domain = registrable_domain_psl(docs, url_col, "__domain")
    order = [F.col(id_col).asc()]
    if order_col is not None:
        order = [F.col(order_col).desc()] + order
    salt = (stratum_hash(F.col(id_col)) % salts).cast("int")
    w1 = Window.partitionBy("__domain", "__salt").orderBy(*order)
    w2 = Window.partitionBy("__domain").orderBy(*order)
    return (
        with_domain.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= max_docs)
        .withColumn("__rank", F.row_number().over(w2))
        .where(F.col("__rank") <= max_docs)
        .drop("__r1", "__rank", "__salt", "__domain")
    )


def flag_contaminated(docs: DataFrame, benchmark: DataFrame,
                      n: int = 13, min_shared: int = 1,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Benchmark-decontamination screen: flag training documents that
    share >= ``min_shared`` distinct word ``n``-grams with ANY
    benchmark/eval document (the GPT-3 / PaLM 13-gram overlap rule —
    leaked eval items inflate downstream scores, so they must be
    dropped from the training corpus, not the benchmark).

    Returns (doc_id, n_shared, contaminated) for every input doc.
    Matching is casefolded + whitespace-tokenized (shingles()), so
    trivial re-formatting doesn't hide a leak; docs shorter than n
    tokens can never match and come back with n_shared = 0.

    Scale shape: the benchmark side collapses to its DISTINCT shingle
    set (eval suites are tiny next to a training corpus — usually
    broadcastable, and Spark picks that automatically); one equi-join
    on the shingle string and one per-doc aggregate. No full-corpus
    pair comparison anywhere, and the corpus is touched exactly once.
    """
    from .dedup import shingles

    d = shingles(docs, id_col=id_col, text_col=text_col, n=n)
    b = (
        shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select("shingle")
        .distinct()
    )
    hits = (
        d.join(b, "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= min_shared)
            .alias("contaminated"),
        )
    )


def assign_split(docs: DataFrame, splits=(("train", 0.98), ("val", 0.01),
                                          ("test", 0.01)),
                 url_col: str = "url", id_col: str = "doc_id",
                 domain_col: str | None = None) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the page's REGISTRABLE DOMAIN (PSL-backed), so every
    page of one site lands in the same split — near-duplicate pages
    from one domain can never straddle the train/eval boundary, the
    standard web-corpus leakage guard.

    ``splits`` is an ordered (name, fraction) sequence (or dict);
    boundaries are cumulative in the given order over the same
    engine-portable md5 bucket space as stratified_sample, and the
    LAST split absorbs any residue, so the mapping is total and
    reproducible across runs/engines/retries. Pass ``domain_col`` to
    reuse an already-derived domain instead of re-deriving from
    ``url_col``.

    Returns (doc_id, domain, split). Map-only over the corpus (the
    PSL lookup is two broadcast joins); no shuffle.
    """
    if domain_col is None:
        from ..functions.psl import registrable_domain_psl

        docs = registrable_domain_psl(docs, url_col, "__domain")
        domain_col = "__domain"
    items = list(splits.items()) if isinstance(splits, dict) else list(splits)
    if not items:
        raise ValueError("splits must name at least one split")
    h = stratum_hash(F.col(domain_col))
    expr = None
    cum = 0.0
    for name, fracv in items[:-1]:
        cum += float(fracv)
        bound = int(round(cum * 10000))
        expr = (F.when(h < bound, F.lit(name)) if expr is None
                else expr.when(h < bound, F.lit(name)))
    split = (expr.otherwise(F.lit(items[-1][0])) if expr is not None
             else F.lit(items[-1][0]))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("domain"),
        split.alias("split"),
    )

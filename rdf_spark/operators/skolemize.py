"""Blank-node skolemization: per-document labels -> globally unique
deterministic labels (SURVEY.md §2.4 R8).

The reference relabels blank nodes per document by first occurrence
(/root/reference/ntriples/doc.go:114-145) — sufficient single-node, but
at 10^12 documents labels collide across documents. We suffix a hash of
the source url: ``skol = sha2(url || '|' || label, 256)`` — pure Spark
SQL (JVM-side, whole-stage codegen), deterministic across retries
(a pure function of (url, label)), and embarrassingly parallel: NO
shuffle, no cross-document coordination (SURVEY.md §4.3.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import KIND_BNODE


def _skol(url: Column, label: Column) -> Column:
    return F.concat(F.lit("sk"), F.sha2(F.concat_ws("|", url, label), 256))


def skolemize(triples: DataFrame, url_col: str = "url") -> DataFrame:
    """Rewrite bnode subj/obj/graph labels to global deterministic
    labels. Partition-preserving; no shuffle."""
    url = F.col(url_col)
    return triples.withColumns({
        c: F.when(F.col(kind) == KIND_BNODE, _skol(url, F.col(c))).otherwise(F.col(c))
        for c, kind in (("subj", "subj_kind"), ("obj_lex", "obj_kind"),
                        ("graph", "graph_kind"))
    })

"""Public-Suffix-List-backed registrable-domain extraction.

Domain-level train/test splits, per-site crawl caps and host-level
quality priors all key on the REGISTRABLE domain (one label below the
public suffix: example.co.uk, not co.uk). A last-two-labels heuristic
(functions/web.py registrable_domain) is wrong for every multi-label
public suffix, so this module vendors a subset of the Public Suffix
List (publicsuffix.org, public data, MPL-2.0) and matches it with
broadcast left joins — no network, no UDFs, no extra shuffle.

Matching rules (publicsuffix.org algorithm, documented subset):
- the longest matching rule wins; plain 2- and 3-label rules are
  matched by equality joins on the host's last-2 / last-3 labels;
- a wildcard rule ``*.tld`` makes every 2-label suffix of that TLD
  public (so the registrable domain has 3 labels);
- the implicit default rule ``*`` makes an unknown TLD itself the
  suffix (registrable = last two labels) — exactly the heuristic,
  which therefore remains the correct fallback for TLDs not listed;
- a multi-label wildcard rule ``*.base`` (e.g. ``*.kawasaki.jp``)
  makes every (len(base)+1)-label suffix under the base public;
- an exception rule ``!host`` (e.g. ``!www.ck``) overrides every
  wildcard/plain rule: the public suffix is the exception minus its
  leftmost label, so the exception host itself is registrable;
- IDN hosts: matching is in punycode (ASCII) space. Pass
  ``idna=True`` to lower Unicode hosts through an Arrow-batched IDNA
  encode first (so ``пример.рф`` and ``xn--e1afmkfd.xn--p1ai`` key to
  the same registrable domain); the default keeps the pure-JVM path
  and leaves non-ASCII hosts in Unicode form (still grouped
  consistently with themselves via the default rule).
- vendored subset only — regenerate the rule tuples from the full
  list for production (the join shape does not change: the PSL is
  ~10k rows, trivially broadcastable).

A host that IS a public suffix (host='co.uk') has no registrable
domain and yields ''.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..submit import _prune_zip_importers
from .web import url_host

# Vendored subset of publicsuffix.org multi-label plain rules (the
# single-label rules are covered by the implicit default). Production:
# regenerate from https://publicsuffix.org/list/public_suffix_list.dat
PSL_SUFFIXES: tuple[str, ...] = (
    # uk / ie
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    # au (plus state education 3-label rules)
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    "act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au", "sa.edu.au",
    "tas.edu.au", "vic.edu.au", "wa.edu.au",
    # nz
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "iwi.nz",
    "maori.nz", "net.nz", "org.nz", "school.nz",
    # jp
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # kr
    "ac.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr", "ms.kr",
    "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    # cn / tw / hk / sg
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    "club.tw", "com.tw", "ebiz.tw", "edu.tw", "game.tw", "gov.tw",
    "idv.tw", "mil.tw", "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    # in
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # id / th / my / ph / vn
    "ac.id", "biz.id", "co.id", "desa.id", "go.id", "mil.id", "my.id",
    "net.id", "or.id", "sch.id", "web.id",
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my", "org.my",
    "com.ph", "edu.ph", "gov.ph", "mil.ph", "net.ph", "ngo.ph", "org.ph",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    # il / tr / ua / sa / eg / za
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il", "net.il",
    "org.il",
    "av.tr", "bbs.tr", "bel.tr", "biz.tr", "com.tr", "dr.tr", "edu.tr",
    "gen.tr", "gov.tr", "info.tr", "mil.tr", "name.tr", "net.tr",
    "org.tr", "pol.tr", "tel.tr", "tv.tr", "web.tr",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa", "pub.sa",
    "sch.sa",
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "mil.eg", "name.eg",
    "net.eg", "org.eg", "sci.eg",
    "ac.za", "co.za", "edu.za", "gov.za", "law.za", "mil.za", "net.za",
    "nom.za", "org.za", "school.za", "web.za",
    # latam
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar", "net.ar",
    "org.ar", "tur.ar",
    "com.br", "ecn.br", "edu.br", "emp.br", "eng.br", "esp.br", "far.br",
    "gov.br", "ind.br", "inf.br", "mil.br", "net.br", "org.br", "rec.br",
    "srv.br", "tmp.br", "tur.br", "tv.br",
    "com.bo", "edu.bo", "gob.bo", "int.bo", "mil.bo", "net.bo",
    "org.bo", "tv.bo",
    "com.co", "edu.co", "gov.co", "mil.co", "net.co", "nom.co", "org.co",
    "com.ec", "fin.ec", "gob.ec", "gov.ec", "info.ec", "k12.ec",
    "med.ec", "mil.ec", "net.ec", "org.ec", "pro.ec",
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.pe", "edu.pe", "gob.pe", "mil.pe", "net.pe", "nom.pe", "org.pe",
    "com.py", "coop.py", "edu.py", "gov.py", "mil.py", "net.py", "org.py",
    "com.uy", "edu.uy", "gub.uy", "mil.uy", "net.uy", "org.uy",
    "com.ve", "co.ve", "e12.ve", "edu.ve", "gob.ve", "info.ve", "mil.ve",
    "net.ve", "org.ve", "web.ve",
    # europe misc
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "waw.pl", "wroc.pl", "krakow.pl",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt",
    "org.pt", "publ.pt",
    "com.gr", "edu.gr", "gov.gr", "net.gr", "org.gr",
    "com.ro", "nom.ro", "nt.ro", "org.ro", "rec.ro", "store.ro",
    "tm.ro", "www.ro",
    "co.hu", "info.hu", "org.hu", "priv.hu", "sport.hu", "tm.hu",
    "ac.rs", "co.rs", "edu.rs", "gov.rs", "in.rs", "org.rs",
    "com.ru", "msk.ru", "spb.ru",
    # north america / misc english
    "co.us", "gc.ca", "com.gu", "com.pr", "net.pr", "org.pr",
    "co.im", "com.im", "net.im", "org.im",
    "co.je", "net.je", "org.je",
    "co.gg", "net.gg", "org.gg",
    # africa / misc
    "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke", "or.ke",
    "sc.ke",
    "co.tz", "go.tz", "ne.tz", "or.tz", "ac.tz", "sc.tz",
    "co.ug", "go.ug", "ne.ug", "or.ug", "ac.ug", "sc.ug",
    "com.ng", "edu.ng", "gov.ng", "name.ng", "net.ng", "org.ng",
    "co.zw", "ac.zw", "gov.zw", "org.zw",
    "co.bw", "org.bw",
    "com.gh", "edu.gh", "gov.gh", "org.gh",
    "com.et", "edu.et", "gov.et", "org.et", "biz.et", "info.et",
    "name.et", "net.et",
)

# TLDs whose PSL entry is the full wildcard `*.tld` (every 2-label
# suffix is public).
PSL_WILDCARD_TLDS: tuple[str, ...] = (
    "bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg",
)

# Multi-label wildcard rule bases: `*.base` makes every suffix one
# label below `base` public (the PSL's Japanese city blocks).
PSL_WILDCARD_BASES: tuple[str, ...] = (
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp",
)

# Exception rules (`!host` in the PSL): the host itself is registrable
# — its public suffix is the rule minus the leftmost label. These
# override the wildcards above.
PSL_EXCEPTIONS: tuple[str, ...] = (
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp",
)


def public_suffix_df(spark, suffixes=PSL_SUFFIXES) -> DataFrame:
    """(suffix, n_labels) — the broadcastable PSL rule table."""
    rows = [(s, s.count(".") + 1) for s in suffixes]
    return spark.createDataFrame(rows, "suffix string, n_labels int")


def idna_ascii_host():
    """Arrow UDF: punycode (IDNA ASCII) form of a host —
    ``пример.рф`` -> ``xn--e1afmkfd.xn--p1ai``. ASCII hosts (the
    overwhelming majority of a web corpus) pass through with one
    C-level isascii() check per value; hosts the codec rejects (empty
    labels, brackets, over-long labels) are returned unchanged rather
    than erroring — for a grouping key, a stable passthrough beats a
    poisoned batch. Built lazily: a module-level @arrow_udf would
    need an active SparkSession at import time."""

    def enc(h):
        if h is None or h.isascii():
            return h
        try:
            return h.encode("idna").decode("ascii")
        except UnicodeError:
            return h

    @F.arrow_udf("string")
    def _udf(hosts: pa.Array) -> pa.Array:
        _prune_zip_importers()
        return pa.array([enc(h) for h in hosts.to_pylist()], pa.string())

    return _udf


def registrable_domain_psl(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "domain",
    suffixes=PSL_SUFFIXES,
    wildcard_tlds=PSL_WILDCARD_TLDS,
    wildcard_bases=PSL_WILDCARD_BASES,
    exceptions=PSL_EXCEPTIONS,
    idna: bool = False,
) -> DataFrame:
    """Add ``out_col`` = PSL registrable domain of ``url_col``.

    Two broadcast LEFT joins (last-3-label and last-2-label suffix
    candidates against the rule table) — map-side only, no shuffle of
    ``df``; exception rules beat everything, then the longest match
    wins, wildcard TLDs/bases force a 2-/3-label suffix, anything
    unmatched falls back to the default rule (suffix = TLD,
    registrable = last two labels). '' when the host is empty or is
    itself a public suffix. The handful of wildcard-base and
    exception rules compile to in-row ``isin`` literals (whole-stage
    codegen), not joins. ``idna=True`` additionally lowers Unicode
    hosts to punycode (Arrow-batched) before matching, so both
    spellings of an IDN host share one domain key — leave it off to
    keep the plan entirely JVM-side when the corpus is ASCII-hosted."""
    spark = df.sparkSession
    psl = public_suffix_df(spark, suffixes)
    p3 = psl.where(F.col("n_labels") == 3).select(F.col("suffix").alias("__sfx3"))
    p2 = psl.where(F.col("n_labels") == 2).select(F.col("suffix").alias("__sfx2"))

    host = url_host(F.col(url_col))
    if idna:
        host = idna_ascii_host()(host)
    labels = F.split(host, r"\.")
    nl = F.size(labels)
    last_k = lambda k: F.when(  # noqa: E731
        nl >= k, F.array_join(F.slice(labels, nl - (k - 1), k), ".")
    )
    out = (
        df.withColumn("__labels", labels)
        .withColumn("__nl", nl)
        .withColumn("__s3", last_k(3))
        .withColumn("__s2", last_k(2))
        .join(F.broadcast(p3), F.col("__s3") == F.col("__sfx3"), "left")
        .join(F.broadcast(p2), F.col("__s2") == F.col("__sfx2"), "left")
    )
    wildcard = F.element_at(F.col("__labels"), -1).isin(*wildcard_tlds) & (
        F.col("__nl") >= 2
    )
    exc2 = [e for e in exceptions if e.count(".") == 1]
    exc3 = [e for e in exceptions if e.count(".") == 2]
    slen = (
        F.when(F.col("__s3").isin(*exc3) if exc3 else F.lit(False), 2)
        .when(F.col("__s2").isin(*exc2) if exc2 else F.lit(False), 1)
        .when(F.col("__sfx3").isNotNull(), 3)
        # *.base only matches hosts with MORE labels than the base:
        # the host 'kawasaki.jp' itself falls through to the plain/
        # default rules (registrable = kawasaki.jp), per the
        # publicsuffix.org algorithm
        .when((F.col("__s2").isin(*wildcard_bases) if wildcard_bases
               else F.lit(False)) & (F.col("__nl") >= 3), 3)
        .when(F.col("__sfx2").isNotNull() | wildcard, 2)
        .otherwise(1)
    )
    domain = F.when(
        F.col("__nl") > slen,
        F.array_join(F.slice(F.col("__labels"), F.col("__nl") - slen, slen + 1), "."),
    ).otherwise(F.lit(""))
    # hostless URLs (mailto:, urn:) split to [''] -> nl=1 -> '' already
    return out.withColumn(out_col, domain).drop(
        "__labels", "__nl", "__s3", "__s2", "__sfx3", "__sfx2"
    )

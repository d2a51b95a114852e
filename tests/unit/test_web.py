"""URL functions (rdf_spark.functions.web) — edge cases beyond the
contract corpus."""

from pyspark.sql import functions as F

from rdf_spark.functions.web import registrable_domain, url_host, url_normalize


def _one(spark, url, fn):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(fn(F.col("u")).alias("v")).first()["v"]


def test_host_and_normalize_edges(spark):
    cases = {
        # no authority: only the fragment is stripped
        "urn:isbn:12345#frag": ("", "urn:isbn:12345"),
        # non-default port kept, host lowercased
        "http://A.B.C:8080/p?q=1#f": ("a.b.c", "http://a.b.c:8080/p?q=1"),
        # default https port dropped
        "https://X.example:443": ("x.example", "https://x.example"),
        # root path '/' dropped
        "http://x.example/": ("x.example", "http://x.example"),
        # non-root trailing slash kept
        "http://x.example/a/": ("x.example", "http://x.example/a/"),
        # query without path kept
        "http://x.example?q=2": ("x.example", "http://x.example?q=2"),
    }
    for url, (host, norm) in cases.items():
        assert _one(spark, url, url_host) == host, url
        assert _one(spark, url, url_normalize) == norm, url


def test_registrable_domain_heuristic(spark):
    assert _one(spark, "http://a.b.example.com/x", registrable_domain) == "example.com"
    assert _one(spark, "http://localhost/x", registrable_domain) == ""
    assert _one(spark, "mailto:x@y.z", registrable_domain) == ""


def test_ipv6_bracket_hosts(spark):
    assert _one(spark, "http://[::1]:8080/p", url_host) == "[::1]"
    assert _one(spark, "http://[2001:DB8::1]/p", url_host) == "[2001:db8::1]"
    assert (_one(spark, "http://[::1]:8080/p#f", url_normalize)
            == "http://[::1]:8080/p")
    # default port still dropped for bracketed hosts
    assert _one(spark, "http://[::1]:80/p", url_normalize) == "http://[::1]/p"


def _psl(spark, url):
    from rdf_spark.functions.psl import registrable_domain_psl

    df = spark.createDataFrame([(url,)], "url string")
    return registrable_domain_psl(df, "url").first()["domain"]


def test_registrable_domain_psl(spark):
    cases = {
        # multi-label public suffixes (the heuristic's failure cases)
        "http://example.co.uk/x": "example.co.uk",
        "http://www.Example.co.uk/x": "example.co.uk",
        "http://a.b.shop.example.com.au/": "example.com.au",
        # 3-label plain rule
        "http://school.act.edu.au/": "school.act.edu.au",
        # wildcard TLD *.ck: any 2-label suffix is public
        "http://foo.bar.ck/": "foo.bar.ck",
        # default rule: unknown TLD -> last two labels
        "http://a.b.example.com/x": "example.com",
        "http://deep.sub.example.dev/": "example.dev",
        # host IS a public suffix -> no registrable domain
        "http://co.uk/": "",
        "http://com/": "",
        # hostless
        "mailto:x@y.z": "",
        "http://localhost/": "",
        # exception rule !www.ck: www.ck itself is registrable
        "http://www.ck/": "www.ck",
        "http://foo.www.ck/": "www.ck",
        # exception under a multi-label wildcard (!city.kawasaki.jp)
        "http://city.kawasaki.jp/": "city.kawasaki.jp",
        "http://sub.city.kawasaki.jp/": "city.kawasaki.jp",
        # multi-label wildcard *.kawasaki.jp: foo.kawasaki.jp is public
        "http://foo.kawasaki.jp/": "",
        "http://bar.foo.kawasaki.jp/": "bar.foo.kawasaki.jp",
        # ...but the wildcard needs >= 3 labels: the base itself falls
        # through to the default jp rule and IS registrable
        "http://kawasaki.jp/": "kawasaki.jp",
        # plain co.jp rule unaffected by the jp wildcards
        "http://shop.example.co.jp/": "example.co.jp",
    }
    for url, want in cases.items():
        assert _psl(spark, url) == want, url


def test_registrable_domain_psl_idna(spark):
    from rdf_spark.functions.psl import registrable_domain_psl

    long_label = "ü" * 64  # over IDNA's 63-character label limit
    rows = [("http://пример.рф/x",), ("http://xn--e1afmkfd.xn--p1ai/x",),
            ("http://sub.Пример.рф/",), ("http://a.b.example.com/",),
            (None,), (f"http://www.{long_label}.de/",)]
    df = spark.createDataFrame(rows, "url string")
    got = [r["domain"]
           for r in registrable_domain_psl(df, "url", idna=True).collect()]
    # both spellings of the IDN host key to ONE punycode domain, ASCII
    # hosts take the unchanged fast path, a null url has no domain, and
    # a host the codec rejects passes through unchanged
    assert got == ["xn--e1afmkfd.xn--p1ai", "xn--e1afmkfd.xn--p1ai",
                   "xn--e1afmkfd.xn--p1ai", "example.com",
                   "", f"{long_label}.de"]
    # default (idna=False) keeps the pure-JVM plan: Unicode spelling
    # stays Unicode, so the two spellings do NOT merge
    plain = [r["domain"] for r in registrable_domain_psl(df, "url").collect()]
    assert plain[0] == "пример.рф" and plain[1] == "xn--e1afmkfd.xn--p1ai"


def test_psl_matches_reference_algorithm_in_batch(spark):
    """The broadcast-join matcher must agree with an independent
    driver-side implementation of the publicsuffix.org algorithm
    (restricted to the vendored subset) over a systematic host corpus."""
    from rdf_spark.functions.psl import (
        PSL_EXCEPTIONS,
        PSL_SUFFIXES,
        PSL_WILDCARD_BASES,
        PSL_WILDCARD_TLDS,
        registrable_domain_psl,
    )

    p3 = {s for s in PSL_SUFFIXES if s.count(".") == 2}
    p2 = {s for s in PSL_SUFFIXES if s.count(".") == 1}
    wild = set(PSL_WILDCARD_TLDS)
    wild_bases = set(PSL_WILDCARD_BASES)
    exc2 = {e for e in PSL_EXCEPTIONS if e.count(".") == 1}
    exc3 = {e for e in PSL_EXCEPTIONS if e.count(".") == 2}

    def ref(host):
        labels = host.split(".") if host else [""]
        nl = len(labels)
        if nl >= 3 and ".".join(labels[-3:]) in exc3:
            slen = 2
        elif nl >= 2 and ".".join(labels[-2:]) in exc2:
            slen = 1
        elif nl >= 3 and ".".join(labels[-3:]) in p3:
            slen = 3
        elif nl >= 3 and ".".join(labels[-2:]) in wild_bases:
            slen = 3
        elif (nl >= 2 and ".".join(labels[-2:]) in p2) or (
            labels[-1] in wild and nl >= 2
        ):
            slen = 2
        else:
            slen = 1
        return ".".join(labels[-(slen + 1):]) if nl > slen else ""

    suffixes = ["co.uk", "com.au", "act.edu.au", "edu.au", "ck", "bd",
                "com", "dev", "uk", "jp", "co.jp", "waw.pl", "k12.il",
                "www.ck", "kawasaki.jp", "city.kawasaki.jp",
                "city.yokohama.jp", "sendai.jp"]
    prefixes = ["", "x", "x.y", "deep.a.b"]
    hosts = []
    for sfx in suffixes:
        for pre in prefixes:
            hosts.append(f"{pre}.{sfx}".strip("."))
    hosts += ["localhost", "co.uk", "act.edu.au", "ck"]
    rows = [(h, f"http://{h}/p") for h in sorted(set(hosts))]
    df = spark.createDataFrame(rows, "host string, url string")
    got = {r["host"]: r["domain"]
           for r in registrable_domain_psl(df, "url").collect()}
    for h in got:
        assert got[h] == ref(h), (h, got[h], ref(h))


def test_psl_join_is_broadcast_only(spark):
    from rdf_spark.functions.psl import registrable_domain_psl

    df = spark.createDataFrame([("http://example.co.uk/",)], "url string")
    plan = (registrable_domain_psl(df, "url")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

"""EARL/DOAP conformance report sink (SURVEY.md S10).

Reference parity: internal/testsuite/report.go — prefix set
(report.go:133-143), developer foaf:Person/earl:Assertor blocks
(report.go:16-45), the doap:Project block (report.go:75-126), one
``[ a earl:Assertion ; ... ] .`` blank-node property list per test
case (report.go:178-220, single-line form as in report_test.go:59)
and the earl:passed/failed outcome vocabulary (report.go:49-61).
Deviation: doap:programming-language is emitted as a string literal,
not an IRI (the reference wraps the language name in <>, which is not
a resolvable IRI).

Spark-first split: per-test outcomes live in a DataFrame and each
assertion block is ONE codegen string expression (no UDF); only the
constant header (prefixes + project + developer, a dozen lines) is
driver-side. ``df.write.text`` publishes the document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .testsuite import BASE_IRIS, load_manifest_regex

# reference report.go:133-143
PREFIXES = {
    "dc": "http://purl.org/dc/elements/1.1/",
    "rdft": "http://www.w3.org/ns/rdftest#",
    "earl": "http://www.w3.org/ns/earl#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "turtletest": "http://www.w3.org/2013/TurtleTests/manifest.ttl#",
    "dct": "http://purl.org/dc/terms/",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "doap": "http://usefulinc.com/ns/doap#",
}


# --- outcome collection (same dispatch as tests/conformance/) ---------------

def _passes(t) -> bool:
    """Run one SuiteTest; True iff the implementation passes it.
    Mirrors the per-suite dispatch of tests/conformance/ (which in
    turn mirrors the reference's *_test.go drivers)."""
    from . import terms as T
    from .grammar import trig
    from .grammar import turtle as ttl
    from .grammar.ntriples import parse_document as parse_nt

    text = t.action_text()
    try:
        if t.suite == "ntriples":
            if t.test_type == "rdft:TestNTriplesPositiveSyntax":
                parse_nt(text)
                return True
            try:
                parse_nt(text)
                return False
            except Exception:
                return True
        if t.suite == "nquads":
            if t.test_type == "rdft:TestNQuadsPositiveSyntax":
                parse_nt(text, quads=True)
                return True
            try:
                parse_nt(text, quads=True)
                return False
            except Exception:
                return True
        if t.suite == "turtle":
            if t.test_type == "rdft:TestTurtlePositiveSyntax":
                ttl.evaluate_document(ttl.parse_document(text), base=t.base_iri)
                return True
            if t.test_type == "rdft:TestTurtleNegativeSyntax":
                try:
                    ast = ttl.parse_document(text)
                except Exception:
                    return True
                return not ttl.validate_document(ast)
            if t.test_type == "rdft:TestTurtleEval":
                mine = ttl.evaluate_document(ttl.parse_document(text),
                                             base=t.base_iri)
                golden = parse_nt(t.result_text(), validate=False)
                return T.eval_documents_equal(golden, mine)
            if t.test_type == "rdft:TestTurtleNegativeEval":
                try:
                    ast = ttl.parse_document(text)
                except Exception:
                    return True
                try:
                    ttl.evaluate_document(ast, base=t.base_iri)
                    return False
                except Exception:
                    return True
        if t.suite == "trig":
            if t.test_type == "rdft:TestTrigPositiveSyntax":
                trig.evaluate_document(trig.parse_document(text))
                return True
            if t.test_type == "rdft:TestTrigNegativeSyntax":
                try:
                    ast = trig.parse_document(text)
                except Exception:
                    return True
                return not trig.validate_document(ast)
            if t.test_type == "rdft:TestTrigEval":
                mine = trig.evaluate_document(trig.parse_document(text))
                golden = parse_nt(t.result_text(), validate=False, quads=True)
                return len(golden) == len(mine)  # trig/doc_test.go:169-176
            if t.test_type == "rdft:TestTrigNegativeEval":
                try:
                    ast = trig.parse_document(text)
                except Exception:
                    return True
                try:
                    trig.evaluate_document(ast)
                    return False
                except Exception:
                    return True
        return False
    except Exception:
        return False


def suite_outcomes(suites=("ntriples", "nquads", "turtle", "trig")):
    """[(test_iri, 'earl:passed'|'earl:failed')] for every suite test.
    The test IRI is the manifest entry IRI
    (<suite-base>/manifest.ttl#<name>)."""
    out = []
    for suite in suites:
        ns = BASE_IRIS[suite] + "manifest.ttl#"
        for t in load_manifest_regex(suite):
            out.append((ns + t.name,
                        "earl:passed" if _passes(t) else "earl:failed"))
    return out


# --- report assembly --------------------------------------------------------

def earl_assertions(spark: SparkSession, outcomes, subject_iri: str,
                    assertor_iri: str, date: str) -> DataFrame:
    """outcomes -> one-column (value) DataFrame, one assertion block
    per row (reference TestCase.line, report.go:178-220)."""
    df = spark.createDataFrame(outcomes, "test_iri string, outcome string")
    block = F.concat(
        F.lit("[ a earl:Assertion ; earl:assertedBy <" + assertor_iri
              + "> ; earl:mode earl:automatic ; earl:result "
              "[ a earl:TestResult ; dct:date \"" + date
              + "\"^^xsd:date ; earl:outcome "),
        F.col("outcome"),
        F.lit(" ] ; earl:subject <" + subject_iri + "> ; earl:test <"),
        F.col("test_iri"),
        F.lit("> ] ."),
    )
    return df.orderBy("test_iri").select(block.alias("value"))


def _header_lines(project: dict, developer: dict, date: str) -> list[str]:
    from .terms import escape_literal_lex as esc

    # config-provided strings are interpolated into Turtle string
    # literals — a quote/backslash/newline in a project name must not
    # produce an invalid document
    lines = [f"@prefix {p}: <{ns}> ." for p, ns in PREFIXES.items()]
    lines.append("")
    d = developer
    lines.append(
        f"<{d['iri']}> a foaf:Person, earl:Assertor ; "
        f"foaf:name \"{esc(d['name'])}\" ; "
        f"foaf:title \"{esc(d.get('title', ''))}\" ; "
        f"foaf:mbox <{d.get('mbox', 'mailto:dev@example.org')}> ; "
        f"foaf:homepage <{d.get('homepage', d['iri'])}> ."
    )
    p = project
    implements = " , ".join(f"<{i}>" for i in p.get("implements", []))
    lines.append(
        f"<{p['iri']}> a doap:Project ; doap:name \"{esc(p['name'])}\" ; "
        f"doap:homepage <{p.get('homepage', p['iri'])}> ; "
        f"doap:license <{p.get('license', 'http://www.apache.org/licenses/LICENSE-2.0')}> ; "
        f"doap:description \"{esc(p.get('description', ''))}\"@en ; "
        f"doap:created \"{date}\"^^xsd:date ; "
        f"doap:programming-language \"{esc(p.get('language', 'Python'))}\" ; "
        + (f"doap:implements {implements} ; " if implements else "")
        + f"doap:developer <{d['iri']}> ."
    )
    lines.append("")
    return lines


def earl_report(spark: SparkSession, project: dict, developer: dict,
                date: str,
                suites=("ntriples", "nquads", "turtle", "trig")) -> DataFrame:
    """Full EARL document as a one-column DataFrame (header rows then
    one assertion row per suite test, in stable order). Publish with
    ``.coalesce(1).write.text(path)`` or collect to a string with
    :func:`earl_report_text`."""
    header = spark.createDataFrame(
        [(line,) for line in _header_lines(project, developer, date)],
        "value string",
    ).coalesce(1)
    assertions = earl_assertions(
        spark, suite_outcomes(suites), project["iri"], developer["iri"], date
    )
    return header.unionByName(assertions)


def earl_report_text(spark: SparkSession, project: dict, developer: dict,
                     date: str,
                     suites=("ntriples", "nquads", "turtle", "trig")) -> str:
    rows = earl_report(spark, project, developer, date, suites).collect()
    return "\n".join(r["value"] for r in rows) + "\n"

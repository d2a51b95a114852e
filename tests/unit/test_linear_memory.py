"""Adversarial memory bound: one huge term must not blow up the parser.

An 8 MB literal or IRI once cost the line grammar 110-240 bytes of RSS
per input byte (one regex backtrack entry per character), an 8 MB
triple-quoted Turtle or TriG string about 230, and an 8 MB prefixed
name's local part about 130 (``PN_LOCAL``). The evaluator's escape
canonicalization once built one list entry per character: an 8 MB long
string dense with quotes, tabs and newlines cost about 44 bytes per
input byte, one dense with non-ASCII characters about 55 and one dense
with escaped backslashes and UCHARs about 17; an 8 MB JSON-LD string
value cost the sources' escaping about 29. Each case runs
in a fresh interpreter because ``ru_maxrss`` is a high-water mark: the
growth it shows must come from parsing this one document.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SIZE = 8 * 1024 * 1024
RSS_BOUND_MB = 256

_CASE = r"""
import json, resource, sys
from rdf_spark.operators.parse import doc_to_rows

fmt, kind, size = sys.argv[1], sys.argv[2], int(sys.argv[3])
graph = " <http://ex/g>" if fmt.startswith("nquads") else ""
if kind == "iri":
    big = "http://ex/" + "a/b-c" * (size // 5)
    doc = f"<http://ex/s> <http://ex/p> <{big}>{graph} .\n"
elif kind == "pname":  # PN_LOCAL with PLX escapes and inner dots
    big = "a%41b.c" * (size // 7)
    doc = f"@prefix ex: <http://ex/> .\n<http://ex/s> <http://ex/p> ex:{big} .\n"
elif kind == "long-dq-nonascii":  # non-ASCII chars and a tab in every 6
    q, big = '"' * 3, "a\u00e9\tb\u20acc" * (size // 6)
    doc = f"<http://ex/s> <http://ex/p> {q}{big}{q} .\n"
elif kind == "long-dq-escaped":  # an escaped backslash and a UCHAR in every 9
    q, big = '"' * 3, "\\\\a\\u00e9" * (size // 9)
    doc = f"<http://ex/s> <http://ex/p> {q}{big}{q} .\n"
elif kind == "string":  # a JSON-LD string value: non-ASCII, tabs and quotes
    big = "a\u00e9\tb\"\u20acc" * (size // 7)
    doc = json.dumps({"@id": "http://ex/s", "http://ex/p": big})
elif kind.endswith("-dense"):  # quotes, an ECHAR and a newline every 10 chars
    q = {"long-dq-dense": '"' * 3, "long-sq-dense": "'" * 3}[kind]
    big = 'a"b\\tc""d\n' * (size // 10)
    doc = f"<http://ex/s> <http://ex/p> {q}{big}{q} .\n"
else:  # a "..." literal, or a Turtle/TriG long string (three " or three ')
    q = {"literal": '"', "long-dq": '"' * 3, "long-sq": "'" * 3}[kind]
    big = "ab\\tc " * (size // 6)
    doc = f"<http://ex/s> <http://ex/p> {q}{big}{q}{graph} .\n"
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
rows = doc_to_rows("http://ex/doc", fmt, doc)
after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(json.dumps({"rows": len(rows), "error": rows[0][-1], "lex_len": len(rows[0][5] or ""),
                  "grew_mb": (after - before) / 1024}))
"""


@pytest.mark.parametrize("fmt,kind", [
    (fmt, kind) for fmt in ("ntriples", "nquads", "nquads-star") for kind in ("literal", "iri")
] + [(fmt, kind) for fmt in ("turtle", "trig")
     for kind in ("long-dq", "long-sq", "long-dq-dense", "long-sq-dense", "long-dq-nonascii",
                  "long-dq-escaped", "pname")] + [("jsonld", "string")])
def test_huge_term_parses_in_bounded_memory(fmt, kind):
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _CASE, fmt, kind, str(SIZE)],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["rows"] == 1 and res["error"] is None
    assert res["lex_len"] > SIZE * 0.8
    assert res["grew_mb"] < RSS_BOUND_MB, res


def test_trig_graph_block_statement_count_is_not_bounded_by_recursion():
    from rdf_spark.operators.parse import doc_to_rows

    n = 5000
    body = " .\n".join(f"<http://ex/s{i}> <http://ex/p> <http://ex/o{i}>" for i in range(n))
    rows = doc_to_rows("http://ex/doc", "trig", f"<http://ex/g> {{\n{body} .\n}}\n")
    assert len(rows) == n
    assert all(r[-1] is None for r in rows)

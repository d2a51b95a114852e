"""W3C conformance-suite manifest loading.

The reference dogfoods its own Turtle parser to read each suite's
``manifest.ttl`` (internal/testsuite/manifest.go:21-113).
:func:`load_manifest_regex` extracts the same fields (entry type,
``mf:name``, ``mf:action``, ``mf:result``) with one regex over the
manifest text instead, so reading a suite does not depend on the
grammar that suite tests.

Suites are read in place from the read-only reference checkout
(``/root/reference/<suite>/testdata/suite``) — they are the vendored
public W3C test corpora (reference Makefile:19-24), not reference code.
Where that checkout is absent, :func:`suite_available` is false and the
suite-bound tests skip with the missing manifest path as the reason.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

SUITE_DIRS = {
    "ntriples": "/root/reference/ntriples/testdata/suite",
    "nquads": "/root/reference/nquads/testdata/suite",
    "turtle": "/root/reference/turtle/testdata/suite",
    "trig": "/root/reference/trig/testdata/suite",
}


def manifest_path(suite: str) -> str:
    return os.path.join(SUITE_DIRS[suite], "manifest.ttl")


def suite_available(suite: str) -> bool:
    """True iff the suite's manifest file is on disk (reads nothing)."""
    return os.path.isfile(manifest_path(suite))


BASE_IRIS = {
    # base IRI per suite (reference turtle/doc_test.go:134, trig/doc_test.go:97)
    "turtle": "http://www.w3.org/2013/TurtleTests/",
    "trig": "http://www.w3.org/2013/TriGTests/",
    "ntriples": "http://www.w3.org/2013/N-TriplesTests/",
    "nquads": "http://www.w3.org/2013/N-QuadsTests/",
}


@dataclass
class SuiteTest:
    suite: str
    name: str
    test_type: str  # e.g. rdft:TestTurtleEval
    action_path: str
    result_path: str | None

    @property
    def base_iri(self) -> str:
        return BASE_IRIS[self.suite] + os.path.basename(self.action_path)

    def action_text(self) -> str:
        # newline="" preserves raw \r / \r\n (several suite docs embed
        # bare carriage returns inside literals)
        with open(self.action_path, encoding="utf-8", newline="") as f:
            return f.read()

    def result_text(self) -> str | None:
        if not self.result_path:
            return None
        with open(self.result_path, encoding="utf-8", newline="") as f:
            return f.read()


_ENTRY_RE = re.compile(
    r"<#(?P<id>[^>]+)>\s+(?:rdf:type|a)\s+rdft:(?P<type>\w+)\s*;"
    r"(?P<body>.*?)(?:\n\s*\.\s*\n|\.\s*\n\n)",
    re.DOTALL,
)
_FIELD_RE = {
    "name": re.compile(r'mf:name\s+"([^"]*)"'),
    "action": re.compile(r"mf:action\s+<([^>]*)>"),
    "result": re.compile(r"mf:result\s+<([^>]*)>"),
}


def load_manifest_regex(suite: str) -> list[SuiteTest]:
    d = SUITE_DIRS[suite]
    with open(manifest_path(suite), encoding="utf-8") as f:
        text = f.read()
    tests = []
    for m in _ENTRY_RE.finditer(text):
        body = m.group("body")
        name_m = _FIELD_RE["name"].search(body)
        action_m = _FIELD_RE["action"].search(body)
        result_m = _FIELD_RE["result"].search(body)
        if not action_m:
            continue
        tests.append(
            SuiteTest(
                suite=suite,
                name=name_m.group(1) if name_m else m.group("id"),
                test_type="rdft:" + m.group("type"),
                action_path=os.path.join(d, action_m.group(1)),
                result_path=os.path.join(d, result_m.group(1)) if result_m else None,
            )
        )
    return tests


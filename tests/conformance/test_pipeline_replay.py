"""The BASELINE.json correctness gate: W3C suite docs replayed as rows
of a synthetic pages table THROUGH the Spark parse operator; corpus
triple P/R must be >= 0.95 (rdf_spark/conformance.py)."""

import pytest

from rdf_spark.conformance import replay_through_pipeline
from rdf_spark.testsuite import SUITE_DIRS, manifest_path, suite_available

MISSING = [manifest_path(s) for s in SUITE_DIRS if not suite_available(s)]


@pytest.mark.skipif(bool(MISSING),
                    reason="W3C suite files absent: " + ", ".join(MISSING))
def test_pipeline_replay_pr_gate(spark):
    stats = replay_through_pipeline(spark)
    overall = stats["overall"]
    assert overall["docs"] >= 300, stats  # 132 ttl eval + NT/NQ pos + trig eval
    assert overall["precision"] >= 0.95, stats
    assert overall["recall"] >= 0.95, stats
    # per-suite floor too — a suite must not hide behind the corpus mix
    for suite, st in stats.items():
        if suite == "overall":
            continue
        assert st["precision"] >= 0.95, (suite, st)
        assert st["recall"] >= 0.95, (suite, st)

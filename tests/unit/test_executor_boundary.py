"""Executor Python runs at an Arrow boundary: pandas is imported only
by the streaming sessionizer (``applyInPandasWithState``), and no body
uses a pandas boundary form."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[2] / "rdf_spark"
PANDAS_IMPORT = re.compile(r"^\s*(import pandas|from pandas\b)", re.M)
PANDAS_FORMS = re.compile(r"mapInPandas|pandas_udf|applyInPandas\(")


def test_pandas_only_in_the_sessionizer():
    sources = {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}
    assert "streaming/sessions.py" in sources
    assert [f for f, s in sources.items() if PANDAS_IMPORT.search(s)] == ["streaming/sessions.py"]
    assert {f: PANDAS_FORMS.findall(s) for f, s in sources.items() if PANDAS_FORMS.search(s)} == {}

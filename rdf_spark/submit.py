"""Where rdf_spark's Python runs on executors.

- :func:`map_rows` is the one Arrow boundary for per-row Python work:
  the parse, extraction and multimodal operators and ``dedup.simhash``
  pass it a per-row function, so a change to that boundary (worker
  setup, the one conversion each way, output chunking) is made once.
  Whole-batch bodies take PySpark's Arrow forms: ``ann``'s centroid UDF
  and ``psl.idna_ascii_host`` are ``arrow_udf``s, and
  ``curation.pack_sequences`` is a ``groupBy().applyInArrow``. Every
  body sees ``None`` for a null; only the streaming sessionizer
  (``applyInPandasWithState``) still runs on pandas.
- :func:`ship_package` is the ``spark-submit --py-files`` contract
  (BASELINE.json north_rule) as a library call: from a plain
  SparkSession (notebooks, tests, the ``__spark_entry__`` queries) it
  builds the same zip once and registers it with
  ``SparkContext.addPyFile``, so every executor's Python worker can
  import ``rdf_spark`` whatever its working directory. :func:`map_rows`
  does not call it: a session whose workers already import the package
  would only gain one more zip importer per worker.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory. A reused worker collects one importer per imported
sub-package of ``pyspark.zip`` (1,328 entries) and of the py4j zip, plus
one for the spark-core jar (5,359 entries) and its ``org`` package: about
0.2 s of directory reads per task before any user code runs.
:func:`_prune_zip_importers` drops those importers and takes the jar off
``sys.path``, so the next task re-reads only the top-level zips, which
later imports resolve through. It starts every Arrow body above
(:func:`map_rows`, ``ann``'s centroid UDF, ``psl.idna_ascii_host``,
``curation.pack_sequences``) on every task,
with no "already pruned" flag: the scan is a few dozen dict entries,
and an import between two tasks may rebuild a sub-package importer
(cheaply, from ``zipimport._zip_directory_cache``).

The jar is on the worker path because ``PythonUtils.sparkPythonPath``
appends the jar of Spark's own classes, for builds that packaged the
``pyspark`` sources inside it. With ``python/lib/pyspark.zip`` it holds
only class files (``tests/pipeline/test_map_rows.py`` checks the worker
path's jars for ``.py`` entries), so no import resolves through it.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_SHIPPED: set[str] = set()
_MAX_ROWS = 10_000  # output rows per Arrow batch (Spark's maxRecordsPerBatch default)


def build_zip(dest_dir: str | None = None) -> str:
    """Zip the installed rdf_spark package (deterministic layout);
    returns the zip path. Suitable for ``spark-submit --py-files``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.gettempdir()
    out = os.path.join(dest_dir, "rdf_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "rdf_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return out


def ship_package(spark) -> None:
    """Idempotently make ``rdf_spark`` importable on all executors of
    this SparkContext (no-op on repeat calls for the same context)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    sc.addPyFile(build_zip())
    _SHIPPED.add(key)


def _prune_zip_importers() -> None:
    """Drop this worker's sub-package and jar zip importers and take
    the jars off ``sys.path`` (see the module docstring)."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
                finder.prefix or finder.archive.endswith(".jar")):
            del cache[path]
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]


def _run_rows(fn: Callable[..., Iterable[tuple]], schema: pa.Schema,
              batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """:func:`map_rows`'s runner: batches of at most ``_MAX_ROWS`` rows,
    each input batch ending with its remainder (maybe empty)."""
    _prune_zip_importers()
    for batch in batches:
        out: list[tuple] = []
        for row in zip(*(c.to_pylist() for c in batch.columns)):
            out.extend(fn(*row))
            if len(out) >= _MAX_ROWS:
                full = len(out) - len(out) % _MAX_ROWS
                for i in range(0, full, _MAX_ROWS):
                    yield _to_batch(out[i:i + _MAX_ROWS], schema)
                out = out[full:]
        yield _to_batch(out, schema)


def _to_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: StructType) -> DataFrame:
    """Run ``fn`` over every row of ``df`` inside one ``mapInArrow``.

    ``fn(*values)`` gets one row's values in ``df``'s column order, as
    Arrow's ``to_pylist`` hands them over (``None`` for every null,
    ``bytes`` for binary) and returns zero or more output tuples in
    ``schema`` order. The output is partition-preserving."""
    arrow_schema = to_arrow_schema(schema)
    return df.mapInArrow(lambda b: _run_rows(fn, arrow_schema, b), schema)

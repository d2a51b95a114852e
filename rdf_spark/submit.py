"""Where rdf_spark's Python runs on executors.

Two contracts live here:

- :func:`map_rows` is the one Arrow boundary for per-row Python work.
  The parse, extraction and multimodal operators each pass it a
  per-row function; it runs that function over every row of each Arrow
  batch and hands Spark one pandas frame per input batch, so a change
  to that boundary (worker setup, output chunking) is made once.
- :func:`ship_package` is the ``spark-submit --py-files`` contract
  (BASELINE.json north_rule) as a library call. On a cluster the
  package reaches executors via ``spark-submit --py-files
  rdf_spark.zip``. When the engine is driven from a plain SparkSession
  instead (notebooks, tests, the ``__spark_entry__`` queries),
  ``ship_package(spark)`` builds the same zip once and registers it
  with ``SparkContext.addPyFile`` so every executor's Python worker can
  import ``rdf_spark`` regardless of its working directory.
  :func:`map_rows` does not call it: a session whose workers already
  import the package would only gain one more zip importer per worker.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory. A reused worker collects one importer per imported
sub-package of ``pyspark.zip`` (1,328 entries) and of the py4j zip, plus
one for the spark-core jar (5,359 entries) and its ``org`` package: about
0.2 s of directory reads per task before any user code runs.
:func:`_prune_zip_importers` drops those importers and takes the jar off
``sys.path``, so the next task on that worker re-reads only the
top-level zips. It runs at the start of every Python body here
(:func:`map_rows`, ``dedup.simhash``, ``ann``'s centroid UDF,
``psl.idna_ascii_host`` and ``curation.pack_sequences``) and on every
task, with no "already pruned" flag: the scan is a few dozen dict
entries, and an import between two tasks may create a sub-package
importer again (cheaply, from ``zipimport._zip_directory_cache``).
The top-level zips stay, since later imports resolve through them.

The jar is on the worker path because ``PythonUtils.sparkPythonPath``
appends ``SparkContext.jarOfObject(PythonUtils)``, the jar that holds
Spark's own classes, for builds that packaged the ``pyspark`` sources
inside that jar. A distribution that ships ``python/lib/pyspark.zip``
puts only class files there (``tests/pipeline/test_map_rows.py`` checks
that the jars on the worker path hold no ``.py`` entry), so no import
can resolve through it.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

_SHIPPED: set[str] = set()


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


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: StructType) -> DataFrame:
    """Run ``fn`` over every row of ``df`` inside one ``mapInPandas``.

    ``fn(*values)`` gets one row's values in ``df``'s column order, as
    pandas hands them over (``None`` for a null string or binary,
    ``NaN`` for a null integer, ``bytes`` for binary) and returns zero
    or more output tuples in ``schema`` order. Each Arrow batch in
    gives one pandas frame out; the output is partition-preserving."""
    cols = schema.fieldNames()

    def run(batches):
        import pandas as pd

        _prune_zip_importers()
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False, name=None):
                out.extend(fn(*row))
            yield pd.DataFrame(out, columns=cols)

    return df.mapInPandas(run, schema=schema)
